"""Table-backed RawVault engine: the reference's public API surface.

Mirrors ``pysparkvault/raw/RawVault.py``'s class API (SURVEY.md §2.11) —
``create_hub/link/satellite/...`` DDL plus ``stage_table`` and the
``load_*`` methods — implemented on top of the pure kernels in
``operators/raw_vault.py`` and the catalog sinks in ``sources/catalog.py``.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from pyspark_playground_spark.conventions import (
    ColumnDefinition,
    DataVaultConventions,
    LinkedHubDefinition,
    VaultConfig,
)
from pyspark_playground_spark.operators import raw_vault as rv
from pyspark_playground_spark.sources import catalog


def _run_concurrently(session: SparkSession, writes: Sequence[Callable[[], None]]) -> None:
    """Run independent table writes from driver threads; re-raise the first failure.

    The pool holds one thread per write, capped at the driver's CPU count.
    Each write runs under ``inheritable_thread_target(session)``, so its
    jobs keep the caller's job group, tags, description and scheduler pool.
    Every write runs to the end even if another fails; then the first
    failure in list order propagates. Callers only pass writes of which none
    reads a table another appends to, so no two share a table directory.
    """
    if not writes:
        return
    workers = min(len(writes), os.cpu_count() or 1)
    with ThreadPoolExecutor(workers, thread_name_prefix="vault-write") as pool:
        futures = [pool.submit(inheritable_thread_target(session)(w)) for w in writes]
    for f in futures:
        f.result()


def _effectivity_or_none(
    spark: SparkSession, config: VaultConfig, conv: DataVaultConventions, name: str
) -> DataFrame | None:
    """``name``'s effectivity satellite, or None when the catalog has no such table."""
    table = f"{config.raw_database}.{conv.effectivity_sat_name(name)}"
    return spark.table(table) if spark.catalog.tableExists(table) else None


class RawVault:
    """Insert-only raw vault over catalog tables (reference RawVault.py:53-1075)."""

    def __init__(
        self,
        spark: SparkSession,
        config: VaultConfig | None = None,
        conv: DataVaultConventions | None = None,
    ) -> None:
        self.spark = spark
        self.config = config or VaultConfig()
        self.conv = conv or DataVaultConventions()

    # ---- DDL (reference RawVault.py:64-192) -------------------------------
    def initialize_database(self) -> None:
        catalog.create_database(self.spark, self.config.staging_prepared_database)
        catalog.create_database(self.spark, self.config.raw_database)

    def _hash_type(self) -> T.DataType:
        """HKEY/HDIFF storage type: 32-char string for md5 (reference
        dialect), 8-byte long for xxhash64 (the scale option — 4× smaller
        join/shuffle keys)."""
        return T.LongType() if self.config.hash_function == "xxhash64" else T.StringType()

    def _system_cols(self) -> list[ColumnDefinition]:
        c = self.conv
        return [
            ColumnDefinition(c.hkey(), self._hash_type(), False),
            ColumnDefinition(c.load_date(), T.TimestampType(), False),
            ColumnDefinition(c.record_source(), T.StringType(), False),
        ]

    def create_hub(self, name: str, business_key_columns: Sequence[ColumnDefinition]) -> str:
        table = self.conv.hub_name(name)
        catalog.create_table(
            self.spark,
            self.config.raw_database,
            table,
            self._system_cols() + list(business_key_columns),
        )
        self.create_effectivity_satellite(name)
        return table

    def create_link(self, name: str, member_hkey_columns: Sequence[str]) -> str:
        c = self.conv
        table = c.link_name(name)
        cols = self._system_cols()[:1] + [
            ColumnDefinition(col, self._hash_type(), True) for col in member_hkey_columns
        ] + self._system_cols()[1:]
        catalog.create_table(self.spark, self.config.raw_database, table, cols)
        self.create_effectivity_satellite(name)
        return table

    def create_satellite(self, name: str, attributes: Sequence[ColumnDefinition]) -> str:
        c = self.conv
        table = c.sat_name(name)
        cols = [
            ColumnDefinition(c.hkey(), self._hash_type(), False),
            ColumnDefinition(c.hdiff(), self._hash_type(), False),
            ColumnDefinition(c.load_date(), T.TimestampType(), False),
        ] + list(attributes)
        catalog.create_table(self.spark, self.config.raw_database, table, cols)
        return table

    def create_effectivity_satellite(self, name: str) -> str:
        c = self.conv
        table = c.effectivity_sat_name(name)
        cols = [
            ColumnDefinition(c.hkey(), self._hash_type(), False),
            ColumnDefinition(c.hdiff(), self._hash_type(), False),
            ColumnDefinition(c.deleted(), T.BooleanType(), False),
            ColumnDefinition(c.load_date(), T.TimestampType(), False),
        ]
        catalog.create_table(self.spark, self.config.raw_database, table, cols)
        return table

    def create_reference_table(
        self, name: str, id_column: ColumnDefinition, attributes: Sequence[ColumnDefinition]
    ) -> str:
        c = self.conv
        table = c.ref_name(name)
        cols = [
            ColumnDefinition(c.hdiff(), self._hash_type(), False),
            ColumnDefinition(c.load_date(), T.TimestampType(), False),
            id_column,
        ] + list(attributes)
        catalog.create_table(self.spark, self.config.raw_database, table, cols)
        return table

    def create_code_reference_table(
        self, name: str, id_column: ColumnDefinition, attributes: Sequence[ColumnDefinition]
    ) -> str:
        c = self.conv
        table = c.ref_name(name)
        cols = [
            ColumnDefinition(c.group(), T.StringType(), False),
            ColumnDefinition(c.hdiff(), self._hash_type(), False),
            ColumnDefinition(c.load_date(), T.TimestampType(), False),
            id_column,
        ] + list(attributes)
        catalog.create_table(self.spark, self.config.raw_database, table, cols)
        return table

    # ---- staging (reference RawVault.py:996-1043) -------------------------
    def stage_table(
        self,
        name: str,
        source_path: str,
        *,
        load_date_column: str,
        operation_column: str | None,
        hkey_columns: Sequence[str] = (),
        snapshot_override_column: str | None = None,
        timestamp_pattern: str | None = None,
    ) -> DataFrame:
        df = self.spark.read.parquet(source_path)
        staged = rv.prepare_staging(
            df,
            load_date_column=load_date_column,
            operation_column=operation_column,
            record_source=self.config.record_source,
            hkey_columns=hkey_columns,
            snapshot_override_column=snapshot_override_column,
            timestamp_pattern=timestamp_pattern,
            conv=self.conv,
            hash_function=self.config.hash_function,
        )
        catalog.write_table(
            staged, self.config.staging_prepared_database, name, mode="overwrite"
        )
        return self.spark.table(f"{self.config.staging_prepared_database}.{name}")

    # ---- loads ------------------------------------------------------------
    def _raw(self, table: str) -> DataFrame:
        return self.spark.table(f"{self.config.raw_database}.{table}")

    def refresh_tables(self) -> None:
        """Invalidate cached file listings of all raw-vault tables
        (reference S11, ``REFRESH TABLE`` after writes, Sample.py:132).

        Required when another session writes the tables — e.g. the cloned
        micro-batch session inside a Structured Streaming ``foreachBatch`` —
        so the next batch's anti-joins see the appended files.
        """
        for t in self.spark.catalog.listTables(self.config.raw_database):
            # listTables also returns session temp views (database=None);
            # qualifying those with the database breaks resolution
            if t.database == self.config.raw_database:
                self.spark.catalog.refreshTable(f"{t.database}.{t.name}")

    def _append(self, df: DataFrame, table: str) -> None:
        catalog.write_table(df, self.config.raw_database, table, mode="append")

    def load_hub(
        self,
        staged: DataFrame,
        name: str,
        business_key_columns: Sequence[str],
        *,
        satellites: dict[str, Sequence[str]] | None = None,
        load_ts: datetime | None = None,
    ) -> None:
        """Hub append + effectivity satellite + attribute satellites
        (reference RawVault.py:194-260 fan-out).

        The appends run concurrently (``_run_concurrently``): each plan reads
        the staged frame and only the table it appends to, so none reads
        another's output. ``DeclarativeVault.load_batch`` runs all hubs'
        fan-outs as one wave and starts the link wave only after it, because
        link FK resolution reads hubs and satellites. ``load_link`` keeps its
        two appends sequential (its effectivity plan reads the link table)."""
        c = self.conv
        hub_table = c.hub_name(name)
        eff_table = c.effectivity_sat_name(name)

        def load_hub_rows() -> None:
            new_hubs = rv.hub_rows(
                staged, business_key_columns,
                existing=self._raw(hub_table), load_ts=load_ts,
                record_source=self.config.record_source,
                conv=c, hash_function=self.config.hash_function,
            )
            self._append(new_hubs, hub_table)

        def load_effectivity() -> None:
            new_eff = rv.effectivity_rows(
                staged, existing=self._raw(eff_table),
                conv=c, hash_function=self.config.hash_function,
            )
            self._append(new_eff, eff_table)

        def load_satellite(sat_name: str, attrs: Sequence[str]) -> None:
            sat_table = c.sat_name(sat_name)
            new_sat = rv.satellite_rows(
                staged, attrs, existing=self._raw(sat_table),
                conv=c, hash_function=self.config.hash_function,
            )
            self._append(new_sat, sat_table)

        _run_concurrently(
            staged.sparkSession,
            [load_hub_rows, load_effectivity]
            + [partial(load_satellite, n, a) for n, a in (satellites or {}).items()],
        )

    def load_link(
        self,
        staged_from: DataFrame,
        name: str,
        *,
        from_name: str,
        to_name: str,
        fk_column: str,
        to_resolution: DataFrame | None = None,
        load_ts: datetime | None = None,
    ) -> None:
        """2-ary FK link append, then its effectivity-satellite append.

        The two writes stay sequential: the effectivity plan reads the link
        table (``existing_link``), and the link append refreshes that
        table's file index, so running them together would race."""
        c = self.conv
        link_table = c.link_name(name)
        eff_table = c.effectivity_sat_name(name)
        caches: list[DataFrame] = []
        new_links, new_eff = rv.link_rows(
            staged_from,
            from_name=from_name, to_name=to_name, fk_column=fk_column,
            to_resolution=to_resolution,
            existing_link=self._raw(link_table),
            existing_effectivity=self._raw(eff_table),
            load_ts=load_ts, record_source=self.config.record_source,
            conv=c, hash_function=self.config.hash_function,
            cache_registry=caches,
        )
        try:
            self._append(new_links, link_table)
            self._append(new_eff, eff_table)
        finally:
            # release the kernel's internal cache — a streaming foreachBatch
            # session drives one load per micro-batch, and unreleased caches
            # would accumulate until executor storage eviction
            for df in caches:
                df.unpersist()

    def load_multilink(
        self,
        staged: DataFrame,
        name: str,
        members: Sequence[LinkedHubDefinition],
        *,
        load_ts: datetime | None = None,
        resolutions: dict[str, DataFrame] | None = None,
    ) -> None:
        """N-ary link append plus its effectivity satellite, run concurrently:
        the link plan reads only the link table and the effectivity plan only
        the effectivity table, so neither reads the other's output
        (``load_link`` cannot do this: its effectivity plan reads the link
        table, so it runs after the link append). In
        ``DeclarativeVault.load_batch`` this is part of the link wave, which
        starts after every hub append is done because member resolution
        reads hubs and satellites."""
        c = self.conv
        link_table = c.link_name(name)
        eff_table = c.effectivity_sat_name(name)
        new_links, new_eff = rv.multilink_rows(
            staged, members,
            existing_link=self._raw(link_table),
            existing_effectivity=self._raw(eff_table),
            load_ts=load_ts, record_source=self.config.record_source,
            conv=c, hash_function=self.config.hash_function,
            resolutions=resolutions,
        )
        _run_concurrently(staged.sparkSession, [
            partial(self._append, new_links, link_table),
            partial(self._append, new_eff, eff_table),
        ])

    def create_point_in_time_table_for_single_satellite(
        self, pit_name: str, satellite_name: str
    ) -> str:
        """Derive and overwrite ``PIT__{pit_name}`` from a satellite and its
        effectivity satellite (reference BusinessVault.py:35-104, here via
        the lead-window kernel)."""
        from pyspark_playground_spark.operators import business_vault as bv

        c = self.conv
        sat = self._raw(c.sat_name(satellite_name))
        eff = _effectivity_or_none(self.spark, self.config, c, satellite_name)
        table = c.pit_name(pit_name)
        pit = bv.pit_rows(sat, eff, conv=c)
        catalog.write_table(pit, self.config.raw_database, table, mode="overwrite")
        self.spark.catalog.refreshTable(f"{self.config.raw_database}.{table}")
        return table

    def update_point_in_time_table_for_batch(
        self, pit_name: str, satellite_name: str, touched_hkeys
    ) -> str:
        """Incremental PIT refresh for one batch's touched hkeys
        (business_vault.pit_rows_incremental): the interval recompute is
        O(batch) instead of the reference's full-table recompute, though the
        PIT table is still rewritten in full. ``touched_hkeys`` is any
        1-column DataFrame of hkeys (e.g.
        ``staged.select(conv.hkey()).distinct()``)."""
        from pyspark_playground_spark.operators import business_vault as bv

        c = self.conv
        table = c.pit_name(pit_name)
        full_name = f"{self.config.raw_database}.{table}"
        if not self.spark.catalog.tableExists(full_name):
            return self.create_point_in_time_table_for_single_satellite(
                pit_name, satellite_name
            )
        sat = self._raw(c.sat_name(satellite_name))
        eff = _effectivity_or_none(self.spark, self.config, c, satellite_name)
        new_pit = bv.pit_rows_incremental(
            self._raw(table), sat, eff, touched_hkeys, conv=c
        ).localCheckpoint(eager=True)
        catalog.write_table(new_pit, self.config.raw_database, table, mode="overwrite")
        self.spark.catalog.refreshTable(full_name)
        return table

    def create_active_code_reference_table(
        self, ref_name: str, active_name: str
    ) -> str:
        """Latest version per (group, id) of a code-reference table,
        overwritten as its own table (reference BusinessVault.py:107-128)."""
        from pyspark_playground_spark.operators import business_vault as bv

        ref = self._raw(self.conv.ref_name(ref_name))
        active = bv.active_code_reference_rows(ref, conv=self.conv)
        table = self.conv.ref_name(active_name)
        catalog.write_table(active, self.config.raw_database, table, mode="overwrite")
        self.spark.catalog.refreshTable(f"{self.config.raw_database}.{table}")
        return table

    def load_references(
        self, staged: DataFrame, name: str, id_column: str, attributes: Sequence[str]
    ) -> None:
        c = self.conv
        table = c.ref_name(name)
        new_refs = rv.reference_rows(
            staged, id_column, attributes, existing=self._raw(table),
            conv=c, hash_function=self.config.hash_function,
        )
        self._append(new_refs, table)

    def load_code_references(
        self, staged: DataFrame, name: str, group: str, id_column: str, attributes: Sequence[str]
    ) -> None:
        c = self.conv
        table = c.ref_name(name)
        new_refs = rv.code_reference_rows(
            staged, group, id_column, attributes, existing=self._raw(table),
            conv=c, hash_function=self.config.hash_function,
        )
        self._append(new_refs, table)

    # ---- staged-table / multi-table convenience variants ------------------
    def _staged(self, staging_table_name: str) -> DataFrame:
        return self.spark.table(
            f"{self.config.staging_prepared_database}.{staging_table_name}"
        )

    def load_hub_from_prepared_staging_table(
        self,
        staging_table_name: str,
        hub_name: str,
        business_key_columns: Sequence[str],
        *,
        satellites: dict[str, Sequence[str]] | None = None,
        load_ts: datetime | None = None,
    ) -> None:
        """Reference RawVault.py:194-206: read the prepared staging table and
        run the hub fan-out."""
        self.load_hub(
            self._staged(staging_table_name), hub_name, business_key_columns,
            satellites=satellites, load_ts=load_ts,
        )

    def load_hub_from_source_table(
        self,
        source_table_name: str,
        hub_name: str,
        business_key_columns: Sequence[str],
        *,
        load_date_column: str,
        operation_column: str | None,
        satellites: dict[str, Sequence[str]] | None = None,
        load_ts: datetime | None = None,
        **stage_kwargs,
    ) -> None:
        """Stage-then-load in one call (reference RawVault.py:208-219):
        reads ``{staging_base_path}/{source_table_name}.parquet``."""
        staged = self.stage_table(
            source_table_name,
            f"{self.config.staging_base_path}/{source_table_name}.parquet",
            load_date_column=load_date_column,
            operation_column=operation_column,
            hkey_columns=business_key_columns,
            **stage_kwargs,
        )
        self.load_hub(
            staged, hub_name, business_key_columns,
            satellites=satellites, load_ts=load_ts,
        )

    def load_link_from_source_table(
        self,
        source_table_name: str,
        name: str,
        *,
        from_name: str,
        to_name: str,
        fk_column: str,
        hkey_columns: Sequence[str],
        load_date_column: str,
        operation_column: str | None,
        to_resolution: DataFrame | None = None,
        load_ts: datetime | None = None,
        **stage_kwargs,
    ) -> None:
        """Stage-then-load for a 2-ary FK link (reference
        RawVault.py:462-478): ``hkey_columns`` is the staged table's own
        business key (the from-hub hkey)."""
        staged = self.stage_table(
            source_table_name,
            f"{self.config.staging_base_path}/{source_table_name}.parquet",
            load_date_column=load_date_column,
            operation_column=operation_column,
            hkey_columns=hkey_columns,
            **stage_kwargs,
        )
        self.load_link(
            staged, name,
            from_name=from_name, to_name=to_name, fk_column=fk_column,
            to_resolution=to_resolution, load_ts=load_ts,
        )

    def load_link_from_prepared_staging_table(
        self,
        staging_table_name: str,
        name: str,
        *,
        from_name: str,
        to_name: str,
        fk_column: str,
        to_resolution: DataFrame | None = None,
        load_ts: datetime | None = None,
    ) -> None:
        """2-ary FK link from the prepared staging table (reference
        ``load_link_for_linked_source_tables_from_prepared_staging_tables``,
        RawVault.py:262-281)."""
        self.load_link(
            self._staged(staging_table_name), name,
            from_name=from_name, to_name=to_name, fk_column=fk_column,
            to_resolution=to_resolution, load_ts=load_ts,
        )

    def load_multilink_from_prepared_staging_table(
        self,
        staging_table_name: str,
        name: str,
        members: Sequence[LinkedHubDefinition],
        *,
        load_ts: datetime | None = None,
        resolutions: dict[str, DataFrame] | None = None,
    ) -> None:
        """N-ary link from a staged association table (reference
        ``load_link_from_prepared_stage_table``, RawVault.py:634-645)."""
        self.load_multilink(
            self._staged(staging_table_name), name, members,
            load_ts=load_ts, resolutions=resolutions,
        )

    def load_multilink_from_source_table(
        self,
        source_table_name: str,
        name: str,
        members: Sequence[LinkedHubDefinition],
        *,
        load_date_column: str,
        operation_column: str | None,
        load_ts: datetime | None = None,
        resolutions: dict[str, DataFrame] | None = None,
        **stage_kwargs,
    ) -> None:
        """Stage-then-load for an N-ary association link (reference
        ``load_link_from_source_table``, RawVault.py:647-658 — which routes
        to load_multilink; the staged hkey is the member FK columns)."""
        staged = self.stage_table(
            source_table_name,
            f"{self.config.staging_base_path}/{source_table_name}.parquet",
            load_date_column=load_date_column,
            operation_column=operation_column,
            hkey_columns=[m.foreign_key for m in members],
            **stage_kwargs,
        )
        self.load_multilink(staged, name, members, load_ts=load_ts, resolutions=resolutions)

    def load_references_from_table(
        self, staging_table_name: str, name: str, id_column: str, attributes: Sequence[str]
    ) -> None:
        """Reference RawVault.py:710-722."""
        self.load_references(self._staged(staging_table_name), name, id_column, attributes)

    def load_references_from_tables(
        self,
        staging_table_names: Sequence[str],
        name: str,
        id_column: str,
        attributes: Sequence[str],
    ) -> None:
        """Many staged tables into one REF table, one append write. The
        existing side is read once and reused by every anti-join (the
        reference ships this shape for code refs, RawVault.py:805-858; the
        plain-REF loop is symmetric). An empty list writes nothing."""
        if not staging_table_names:
            return
        c = self.conv
        table = c.ref_name(name)
        existing = self._raw(table)
        parts = [
            rv.reference_rows(
                self._staged(t), id_column, attributes, existing=existing,
                conv=c, hash_function=self.config.hash_function,
            )
            for t in staging_table_names
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        self._append(out, table)

    def load_code_references_from_table(
        self, staging_table_name: str, name: str, id_column: str, attributes: Sequence[str]
    ) -> None:
        """Reference RawVault.py:772-784: the staging table's (lowercased)
        name becomes the ``$__GROUP`` value."""
        self.load_code_references(
            self._staged(staging_table_name), name,
            staging_table_name.lower(), id_column, attributes,
        )

    def load_code_references_from_tables(
        self,
        staging_table_names: Sequence[str],
        name: str,
        id_column: str,
        attributes: Sequence[str],
    ) -> None:
        """Many staged source tables into one shared code-ref table
        (reference RawVault.py:805-858): group := lower(table name), the
        existing side read once, one append write for the whole batch —
        at production breadth (the reference driver loads ~160 typelists
        this way) that is 1 write job instead of N. An empty list writes
        nothing."""
        if not staging_table_names:
            return
        c = self.conv
        table = c.ref_name(name)
        existing = self._raw(table)
        parts = [
            rv.code_reference_rows(
                self._staged(t), t.lower(), id_column, attributes,
                existing=existing,
                conv=c, hash_function=self.config.hash_function,
            )
            for t in staging_table_names
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        self._append(out, table)


class BusinessVault:
    """Table-backed business-vault reads (reference BusinessVault.py:24-341).

    Thin catalog wrapper over the kernels in ``operators/business_vault.py``:
    resolves hub/sat/PIT/link table names through the conventions, reads them
    from the raw database, delegates the temporal logic.
    """

    def __init__(
        self,
        spark: SparkSession,
        config: VaultConfig | None = None,
        conv: DataVaultConventions | None = None,
    ) -> None:
        self.spark = spark
        self.config = config or VaultConfig()
        self.conv = conv or DataVaultConventions()

    def _raw(self, table: str) -> DataFrame:
        return self.spark.table(f"{self.config.raw_database}.{table}")

    def read_data_from_hub_sat_and_pit(
        self,
        hub_name: str,
        sat_name: str,
        pit_name: str,
        attributes: Sequence[str],
        include_hkey: bool = False,
    ) -> DataFrame:
        """Reference BusinessVault.py:136-172 (table names are raw, as in
        the reference — pass ``conv.hub_name(...)`` etc. or plain names)."""
        from pyspark_playground_spark.operators import business_vault as bv

        return bv.read_data_from_hub_sat_and_pit(
            self._raw(hub_name),
            self._raw(sat_name),
            self._raw(pit_name),
            list(attributes),
            include_hkey=include_hkey,
            conv=self.conv,
        )

    def read_data_from_hub(
        self, name: str, attributes: Sequence[str], include_hkey: bool = False
    ) -> DataFrame:
        """Reference BusinessVault.py:174-188: build the PIT on the fly from
        the entity's satellite + effectivity satellite."""
        from pyspark_playground_spark.operators import business_vault as bv

        c = self.conv
        return bv.read_data_from_hub(
            self._raw(c.hub_name(name)),
            self._raw(c.sat_name(name)),
            _effectivity_or_none(self.spark, self.config, c, name),
            list(attributes),
            include_hkey=include_hkey,
            conv=c,
        )

    def join_linked_hubs(
        self,
        from_name: str,
        to_name: str,
        link_name: str,
        from_attributes: Sequence[str],
        to_attributes: Sequence[str],
        *,
        how: str = "inner",
    ) -> DataFrame:
        """Reference BusinessVault.py:251-277: link-mediated temporal join of
        two hub read views."""
        from pyspark_playground_spark.operators import business_vault as bv

        c = self.conv
        from_df = self.read_data_from_hub(from_name, from_attributes, include_hkey=True)
        to_df = self.read_data_from_hub(to_name, to_attributes, include_hkey=True)
        link = self._raw(c.link_name(link_name))
        return bv.join_linked_dataframes(
            from_df,
            link,
            to_df,
            from_hkey_column=c.hkey_of(from_name),
            to_hkey_column=c.hkey_of(to_name),
            how=how,
            conv=c,
        )


class Curated:
    """Table-backed curated layer (reference Curated.py:72-317): raw read
    views → enriched, renamed, denormalized tables in the curated database."""

    def __init__(
        self,
        spark: SparkSession,
        config: VaultConfig | None = None,
        conv: DataVaultConventions | None = None,
    ) -> None:
        self.spark = spark
        self.config = config or VaultConfig()
        self.conv = conv or DataVaultConventions()
        self.business_vault = BusinessVault(spark, self.config, self.conv)

    def initialize_database(self) -> None:
        catalog.create_database(self.spark, self.config.curated_database)

    def get_entity_name_from_source_table_name(self, source_table: str) -> str:
        """Strip source-system prefixes (reference Curated.py:100-111)."""
        return self.conv.strip_source_prefix(source_table).lower()

    def map_source_table_to_curated(
        self,
        source_table: str,
        attributes: Sequence[str],
        fields: Sequence,
        *,
        active_code_ref_table: str | None = None,
        users: DataFrame | None = None,
        target_table: str | None = None,
    ) -> DataFrame:
        """Read the entity's historized view, enrich + rename via
        ``map_to_curated`` (Curated.py:196-271), overwrite the curated table.
        Returns the curated DataFrame."""
        from pyspark_playground_spark.operators import curated as cu

        entity = self.get_entity_name_from_source_table_name(source_table)
        view = self.business_vault.read_data_from_hub(entity, list(attributes))
        acr = (
            self.spark.table(
                f"{self.config.raw_database}.{self.conv.ref_name(active_code_ref_table)}"
            )
            if active_code_ref_table
            else None
        )
        out = cu.map_to_curated(
            view, list(fields), active_code_ref=acr, users=users, conv=self.conv
        )
        table = target_table or entity
        catalog.write_table(out, self.config.curated_database, table, mode="overwrite")
        self.spark.catalog.refreshTable(f"{self.config.curated_database}.{table}")
        return self.spark.table(f"{self.config.curated_database}.{table}")
