"""Declarative vault: schema JSON + mapping YAML → auto create + load.

The reference's aspirational "v3" generation: its BDD steps import
``RawVaultNew``/``Metadata``/``Schema``/``DataVaultSchemaMapping`` modules
that do not exist in the repo (features/steps/raw_vault.py:20-23); the spec
survives as ``features/imdb-schema.json:1-137`` (tables, columns, types,
primaryKey, foreignKeys) and ``features/imdb-mapping.yaml:1-51`` (hubs with
business_keys, links with source_foreign_key, satellites with hub+private).
This module implements that contract on top of the table-backed ``RawVault``.

Semantics:

- Every hub gets its satellites and an effectivity satellite; satellite
  attributes default to "all source columns minus the hub business keys".
- A link whose ``source_table`` itself backs a hub and that names one
  target is a 2-ary FK link with delete detection (reference
  ``load_link``). Every other link is an N-ary multilink: from a pure
  association table (composite primary key, no hub), or from a hub-backed
  table with several targets, which lists the source hub first (its FK is
  the hub's single business-key column).
- FK targets resolve through a ``(key, hkey)`` mapping: the *staged* target
  table of the same batch unioned with the hub (or, when the FK column is
  not a hub business key, the hub's satellite) for rows staged in earlier
  batches — the reference's dual resolution (RawVault.py:523-534). The
  raw-vault kernel applies the FK rule to it (one row per key, left join,
  null for a null or unmatched FK). This makes non-identity business keys
  work: e.g. the imdb mapping keys HUB__MOVIES on (NAME, YEAR) while
  castings reference movies by ID.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from datetime import datetime
from functools import partial, reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_playground_spark.conventions import (
    ColumnDefinition,
    DataVaultConventions,
    LinkedHubDefinition,
    VaultConfig,
)
from pyspark_playground_spark.operators import raw_vault as rv
from pyspark_playground_spark.operators.vault import RawVault, _run_concurrently

#: source type name → Spark type (reference: features/steps/raw_vault.py:215-240)
TYPE_MAP: dict[str, T.DataType] = {
    "date": T.TimestampType(),
    "datetime": T.TimestampType(),
    "time": T.TimestampType(),
    "timestamp": T.TimestampType(),
    "integer": T.IntegerType(),
    "int": T.IntegerType(),
    "numeric": T.LongType(),
    "bigint": T.LongType(),
    "double": T.DoubleType(),
    "float": T.DoubleType(),
    "text": T.StringType(),
    "varchar": T.StringType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "bool": T.BooleanType(),
}


def map_type(name: str) -> T.DataType:
    return TYPE_MAP.get(name.lower(), T.StringType())


def _read_spec(text_or_path: str | Path) -> str:
    """Accept a file path or the spec text itself."""
    s = str(text_or_path)
    if "\n" not in s and len(s) < 4096:
        p = Path(s)
        if p.exists():
            return p.read_text()
    return s


# ---------------------------------------------------------------------------
# schema model (features/imdb-schema.json)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class ForeignKey:
    column: str
    foreign_table: str
    foreign_column: str


@dataclass(frozen=True)
class SourceTable:
    name: str
    columns: dict[str, str]  # column name → declared type name
    primary_key: tuple[str, ...]
    foreign_keys: tuple[ForeignKey, ...] = ()

    def column_defs(self, names: list[str]) -> list[ColumnDefinition]:
        return [ColumnDefinition(n, map_type(self.columns.get(n, "text"))) for n in names]


@dataclass(frozen=True)
class SourceSchema:
    name: str
    tables: dict[str, SourceTable]

    @classmethod
    def from_dict(cls, d: dict) -> "SourceSchema":
        tables = {}
        for t in d.get("tables", []):
            fks = tuple(
                ForeignKey(
                    fk["column"],
                    fk["foreignColumn"]["table"],
                    fk["foreignColumn"]["column"],
                )
                for fk in t.get("foreignKeys", [])
            )
            tables[t["name"]] = SourceTable(
                name=t["name"],
                columns={c["name"]: c.get("type", "text") for c in t.get("columns", [])},
                primary_key=tuple(t.get("primaryKey", [])),
                foreign_keys=fks,
            )
        return cls(name=d.get("name", "source"), tables=tables)

    @classmethod
    def from_json(cls, text_or_path: str | Path) -> "SourceSchema":
        return cls.from_dict(json.loads(_read_spec(text_or_path)))


# ---------------------------------------------------------------------------
# mapping model (features/imdb-mapping.yaml)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class LinkMember:
    """One ``to:`` entry of a link mapping."""

    source_column: str
    target_table: str
    target_column: str
    raw_column: str | None = None


@dataclass(frozen=True)
class HubMapping:
    name: str
    source_table: str
    business_keys: tuple[str, ...]


@dataclass(frozen=True)
class LinkMapping:
    name: str
    source_table: str
    members: tuple[LinkMember, ...]


@dataclass(frozen=True)
class SatelliteMapping:
    name: str
    hub: str
    source_table: str
    private: bool = False
    attributes: tuple[str, ...] = ()  # empty → all non-business-key columns


@dataclass(frozen=True)
class VaultMapping:
    hubs: tuple[HubMapping, ...] = ()
    links: tuple[LinkMapping, ...] = ()
    satellites: tuple[SatelliteMapping, ...] = ()

    @classmethod
    def from_dict(cls, d: dict) -> "VaultMapping":
        hubs = tuple(
            HubMapping(h["name"], h["source_table"], tuple(h["business_keys"]))
            for h in d.get("hubs", [])
        )
        links = []
        for li in d.get("links", []):
            members = tuple(
                LinkMember(
                    source_column=m["source_column"],
                    target_table=m["source_foreign_key"]["table"],
                    target_column=m["source_foreign_key"]["column"],
                    raw_column=m.get("raw_column"),
                )
                for m in li.get("to", [])
            )
            links.append(LinkMapping(li["name"], li["source_table"], members))
        sats = tuple(
            SatelliteMapping(
                s["name"], s["hub"], s["source_table"],
                private=bool(s.get("private", False)),
                attributes=tuple(s.get("attributes", [])),
            )
            for s in d.get("satellites", [])
        )
        return cls(hubs=hubs, links=tuple(links), satellites=sats)

    @classmethod
    def from_yaml(cls, text_or_path: str | Path) -> "VaultMapping":
        import yaml

        return cls.from_dict(yaml.safe_load(_read_spec(text_or_path)))


# ---------------------------------------------------------------------------
# engine
# ---------------------------------------------------------------------------

@dataclass
class DeclarativeVault:
    """Auto-create and auto-load a raw vault from schema + mapping."""

    spark: SparkSession
    schema: SourceSchema
    mapping: VaultMapping
    config: VaultConfig = field(default_factory=VaultConfig)
    conv: DataVaultConventions = field(default_factory=DataVaultConventions)
    load_date_column: str = "LOAD_DATE"
    operation_column: str | None = "OPERATION"

    def __post_init__(self) -> None:
        self.vault = RawVault(self.spark, self.config, self.conv)
        self._hub_by_table = {h.source_table: h for h in self.mapping.hubs}

    # ---- naming -----------------------------------------------------------
    def _entity(self, mapped_name: str, source_table: str) -> str:
        """Vault entity name: strip a HUB__/LNK__/SAT__ prefix if the mapping
        spells it out, else derive from the source table."""
        for prefix in (self.conv.hub_prefix, self.conv.link_prefix, self.conv.sat_prefix):
            if mapped_name.upper().startswith(prefix):
                return mapped_name[len(prefix):]
        return self.conv.strip_source_prefix(source_table)

    def _sat_attributes(self, sat: SatelliteMapping) -> list[str]:
        if sat.attributes:
            return list(sat.attributes)
        table = self.schema.tables[sat.source_table]
        hub = next(h for h in self.mapping.hubs if h.name == sat.hub)
        skip = set(hub.business_keys) | {self.load_date_column, self.operation_column}
        return [c for c in table.columns if c not in skip]

    # ---- DDL --------------------------------------------------------------
    def create_tables(self) -> list[str]:
        """Idempotent DDL for every mapped hub, link, satellite (+ their
        effectivity satellites). Returns created table names."""
        self.vault.initialize_database()
        created: list[str] = []
        for hub in self.mapping.hubs:
            table = self.schema.tables[hub.source_table]
            created.append(
                self.vault.create_hub(
                    self._entity(hub.name, hub.source_table),
                    table.column_defs(list(hub.business_keys)),
                )
            )
        for sat in self.mapping.satellites:
            table = self.schema.tables[sat.source_table]
            created.append(
                self.vault.create_satellite(
                    self._entity(sat.name, sat.source_table),
                    table.column_defs(self._sat_attributes(sat)),
                )
            )
        for link in self.mapping.links:
            members = [
                m.hkey_column or self.conv.hkey_of(m.name) for m in self._link_members(link)
            ]
            created.append(
                self.vault.create_link(self._entity(link.name, link.source_table), members)
            )
        return created

    def _link_members(self, link: LinkMapping) -> list[LinkedHubDefinition]:
        """Link members in link-table column order: the source hub first when
        the source table backs one (its FK is its business key), then the
        targets. A 2-ary link reads the source hkey from the staged frame
        instead; a multilink hashes the source hub's FK like any member."""
        targets = [LinkedHubDefinition(m.target_table, m.source_column) for m in link.members]
        hub = self._hub_by_table.get(link.source_table)
        if hub is None:
            return targets
        if len(link.members) > 1 and len(hub.business_keys) > 1:
            raise ValueError(
                f"link {link.name}: source hub {hub.name} has a multi-column business "
                f"key {list(hub.business_keys)}; a multilink needs a single-column FK"
            )
        return [LinkedHubDefinition(link.source_table, hub.business_keys[0]), *targets]

    # ---- load -------------------------------------------------------------
    def stage_batch(self, batch: dict[str, DataFrame]) -> dict[str, DataFrame]:
        """Normalize a CDC batch: rename envelope columns, stamp
        ``config.record_source``, compute HKEYs (hub business keys, else the
        source PK)."""
        staged = {}
        for name, df in batch.items():
            hub = self._hub_by_table.get(name)
            hkeys = list(hub.business_keys) if hub else list(
                self.schema.tables[name].primary_key
            )
            staged[name] = rv.prepare_staging(
                df,
                load_date_column=self.load_date_column,
                operation_column=(
                    self.operation_column
                    if self.operation_column and self.operation_column in df.columns
                    else None
                ),
                record_source=self.config.record_source,
                hkey_columns=hkeys,
                conv=self.conv,
                hash_function=self.config.hash_function,
            )
        return staged

    def _resolution(
        self, staged: dict[str, DataFrame], member: LinkMember
    ) -> DataFrame:
        """FK → target-hub-hkey mapping: staged target rows of this batch,
        plus hub or satellite rows for earlier batches (RawVault.py:523-534).
        Keys may repeat; the raw-vault kernel keeps one row per key."""
        sources: list[DataFrame] = []
        if member.target_table in staged:
            sources.append(staged[member.target_table])
        hub_map = self._hub_by_table.get(member.target_table)
        if hub_map is not None:
            entity = self._entity(hub_map.name, member.target_table)
            hub_df = self.vault.spark.table(
                f"{self.config.raw_database}.{self.conv.hub_name(entity)}"
            )
            if member.target_column in hub_df.columns:
                sources.append(hub_df)
            else:
                sat = next(
                    (s for s in self.mapping.satellites if s.hub == hub_map.name), None
                )
                if sat is not None:
                    sat_df = self.vault.spark.table(
                        f"{self.config.raw_database}."
                        f"{self.conv.sat_name(self._entity(sat.name, sat.source_table))}"
                    )
                    if member.target_column in sat_df.columns:
                        sources.append(sat_df)
        if not sources:
            raise ValueError(
                f"cannot resolve FK {member.source_column} → "
                f"{member.target_table}.{member.target_column}: column not staged, "
                "not a hub business key, and not a satellite attribute"
            )
        return reduce(DataFrame.unionByName, [
            df.select(
                F.col(member.target_column).cast("string").alias("__key"),
                F.col(self.conv.hkey()).alias("__hkey"),
            )
            for df in sources
        ])

    def load_batch(
        self,
        batch: dict[str, DataFrame],
        *,
        load_ts: datetime | None = None,
    ) -> None:
        """Stage + load one CDC batch through every mapped hub/satellite/link.

        The table appends run from driver threads in two waves with a
        barrier between them. Two appends overlap only when neither one's
        input plan reads the table the other appends to.

        1. Hub wave: every hub's hub, effectivity-satellite and attribute-
           satellite appends (``RawVault.load_hub``).
        2. Link wave: every 2-ary link and N-ary multilink load. It starts
           after the hub wave has finished, because FK resolution
           (``_resolution``) reads the hub tables and satellites. Inside
           ``RawVault.load_link`` the link and link-effectivity appends stay
           sequential (the effectivity plan reads the link table).

        If an append fails, the other appends of its wave still run to the
        end, the next wave does not start, and the first failure is raised.
        As with one append after another, a failed batch may leave some
        tables appended; the anti-join dedup makes loading the same batch
        again safe.
        """
        staged = self.stage_batch(batch)
        if not staged:
            return
        session = next(iter(staged.values())).sparkSession

        sats_by_hub: dict[str, list[SatelliteMapping]] = {}
        for sat in self.mapping.satellites:
            sats_by_hub.setdefault(sat.hub, []).append(sat)

        _run_concurrently(session, [
            partial(
                self.vault.load_hub,
                staged[hub.source_table],
                self._entity(hub.name, hub.source_table),
                list(hub.business_keys),
                satellites={
                    self._entity(s.name, s.source_table): self._sat_attributes(s)
                    for s in sats_by_hub.get(hub.name, [])
                },
                load_ts=load_ts,
            )
            for hub in self.mapping.hubs
            if hub.source_table in staged
        ])
        _run_concurrently(session, [
            partial(self._load_link, staged, link, load_ts)
            for link in self.mapping.links
            if link.source_table in staged
        ])

    def _load_link(
        self, staged: dict[str, DataFrame], link: LinkMapping, load_ts: datetime | None
    ) -> None:
        entity = self._entity(link.name, link.source_table)
        if link.source_table in self._hub_by_table and len(link.members) == 1:
            m = link.members[0]
            self.vault.load_link(
                staged[link.source_table],
                entity,
                from_name=link.source_table,
                to_name=m.target_table,
                fk_column=m.source_column,
                to_resolution=self._resolution(staged, m),
                load_ts=load_ts,
            )
        else:
            resolutions = {
                m.target_table: self._resolution(staged, m) for m in link.members
            }
            self.vault.load_multilink(
                staged[link.source_table],
                entity,
                self._link_members(link),
                load_ts=load_ts,
                resolutions=resolutions,
            )
