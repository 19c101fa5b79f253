"""Naming conventions, CDC operation codes, and column definitions.

Parity target: ``pysparkvault/raw/DataVaultShared.py:41-257`` in the
reference — configurable ``$__`` column prefix, ``HUB__``/``LNK__``/``SAT__``/
``REF__``/``PIT__`` table prefixes, and the CDC operation code dialect
(snapshot=0, delete=1, create=2, before_update=3, update=4).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import types as T


class Operation:
    """CDC operation codes (reference: DataVaultShared.py:41-48)."""

    SNAPSHOT = 0
    DELETE = 1
    CREATE = 2
    BEFORE_UPDATE = 3
    UPDATE = 4

    #: string → code map used by CDC feeds that encode ops as text
    #: (reference: features/steps/raw_vault.py:200-212)
    NAMES = {
        "snapshot": SNAPSHOT,
        "delete": DELETE,
        "create": CREATE,
        "before_update": BEFORE_UPDATE,
        "update": UPDATE,
    }

    #: ops that feed hubs & attribute satellites (RawVault.py:923-926)
    HUB_SAT_OPS = (CREATE, UPDATE, SNAPSHOT)
    #: ops that feed effectivity satellites (RawVault.py:963-978)
    EFFECTIVITY_OPS = (CREATE, DELETE, SNAPSHOT)


#: Open-interval sentinel for PIT / historized tables
#: (reference: BusinessVault.py:98-101 uses datetime.max).
#: We use a whole-second max so the value round-trips identically through
#: parquet (microsecond), Spark and SQL engines.
END_OF_TIME = datetime(9999, 12, 31, 23, 59, 59)


@dataclass(frozen=True)
class DataVaultConventions:
    """Column/table naming dialect (reference: DataVaultShared.py:51-257)."""

    column_prefix: str = "$__"
    hub_prefix: str = "HUB__"
    link_prefix: str = "LNK__"
    ref_prefix: str = "REF__"
    sat_prefix: str = "SAT__"
    pit_prefix: str = "PIT__"
    effectivity_infix: str = "EFFECTIVITY_"
    #: source-system table prefixes stripped when deriving vault names
    #: (reference: DataVaultShared.py:239-246, Curated.py:100-111)
    source_prefixes: tuple[str, ...] = ("CC_", "CCX_", "CCTL_", "ALG_")

    # ---- column names -----------------------------------------------------
    def hkey(self) -> str:
        return self.column_prefix + "HKEY"

    def hdiff(self) -> str:
        return self.column_prefix + "HDIFF"

    def load_date(self) -> str:
        return self.column_prefix + "LOAD_DATE"

    def load_end_date(self) -> str:
        return self.column_prefix + "LOAD_END_DATE"

    def record_source(self) -> str:
        return self.column_prefix + "RECORD_SOURCE"

    def operation(self) -> str:
        return self.column_prefix + "OPERATION"

    def deleted(self) -> str:
        return self.column_prefix + "DELETED"

    def group(self) -> str:
        return self.column_prefix + "GROUP"

    def hkey_of(self, name: str) -> str:
        """Foreign-hkey column inside a link, e.g. ``$__HKEY_MOVIES``."""
        return f"{self.column_prefix}HKEY_{self.strip_source_prefix(name).upper()}"

    # ---- table names ------------------------------------------------------
    def strip_source_prefix(self, name: str) -> str:
        up = name.upper()
        for p in self.source_prefixes:
            if up.startswith(p):
                return name[len(p):]
        return name

    def hub_name(self, source: str) -> str:
        return self.hub_prefix + self.strip_source_prefix(source).upper()

    def link_name(self, name: str) -> str:
        return self.link_prefix + self.strip_source_prefix(name).upper()

    def sat_name(self, source: str) -> str:
        return self.sat_prefix + self.strip_source_prefix(source).upper()

    def effectivity_sat_name(self, source: str) -> str:
        return (
            self.sat_prefix
            + self.effectivity_infix
            + self.strip_source_prefix(source).upper()
        )

    def ref_name(self, source: str) -> str:
        return self.ref_prefix + self.strip_source_prefix(source).upper()

    def pit_name(self, source: str) -> str:
        return self.pit_prefix + self.strip_source_prefix(source).upper()

    def is_vault_column(self, col: str) -> bool:
        return col.startswith(self.column_prefix)


@dataclass(frozen=True)
class ColumnDefinition:
    """Declared column (reference: DataVaultShared.py:260-270)."""

    name: str
    type: T.DataType
    nullable: bool = True
    comment: str | None = None

    def to_field(self) -> T.StructField:
        meta = {"comment": self.comment} if self.comment else None
        return T.StructField(self.name, self.type, self.nullable, metadata=meta)


def to_struct_type(columns: list[ColumnDefinition]) -> T.StructType:
    return T.StructType([c.to_field() for c in columns])


@dataclass(frozen=True)
class LinkedHubDefinition:
    """One member of an N-ary link (reference: RawVault.py load_multilink).

    ``name``: hub source name; ``foreign_key``: the staged column holding the
    business key that resolves to this hub; ``hkey_column``: name of the
    resulting foreign-hkey column inside the link table (defaults to
    ``$__HKEY_<NAME>``).
    """

    name: str
    foreign_key: str
    hkey_column: str | None = None


@dataclass
class VaultConfig:
    """Where a vault lives and how it keys rows (reference: RawVault.py:23-47).

    No layout knobs: every vault table is unbucketed parquet, and Spark and
    AQE choose the partitioning (see ``sources/catalog.py``). The
    reference's fixed ``partition_size=5`` buckets are deliberately not
    ported.
    """

    staging_base_path: str = ""
    staging_prepared_database: str = "staging_prepared"
    raw_database: str = "raw_vault"
    curated_database: str = "curated"
    #: 'md5' for hash parity with the reference; 'xxhash64' as the cheap
    #: scale option (8-byte keys instead of 32-char strings).
    hash_function: str = "md5"
    #: record-source literal stamped on staged rows
    record_source: str = "source"
