"""Production-shape catalog breadth: the reference's notebook driver loads
~49 staged tables / 41 hubs / 44 links in one run (SURVEY.md §0,
pysparkvault/notebooks/load_raw.py). This exercises the declarative layer at
that catalog shape: 20 hub tables + 10 FK links created and loaded in one
batch, then counts + spot semantics verified."""

from __future__ import annotations

import json
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from pyspark_playground_spark.conventions import DataVaultConventions, VaultConfig
from pyspark_playground_spark.plans.declarative import (
    DeclarativeVault,
    SourceSchema,
    VaultMapping,
)

C = DataVaultConventions()
N_ENTITIES = 20
N_LINKS = 10
ROWS_PER_TABLE = 50


def _spec(n_entities: int = N_ENTITIES, n_links: int = N_LINKS):
    tables = []
    hubs, links, sats = [], [], []
    for i in range(n_entities):
        name = f"ent{i:02d}"
        cols = [{"name": "ID", "type": "text"},
                {"name": "VAL", "type": "integer"}]
        fks = []
        if i < n_links:  # ent00.. reference their successor entity
            cols.append({"name": "REF_ID", "type": "text"})
            fks.append({"column": "REF_ID",
                        "foreignColumn": {"table": f"ent{i+1:02d}", "column": "ID"}})
        tables.append({"name": name, "columns": cols, "primaryKey": ["ID"],
                       "foreignKeys": fks})
        hubs.append({"name": f"HUB__{name.upper()}", "source_table": name,
                     "business_keys": ["ID"]})
        sats.append({"name": f"SAT__{name.upper()}", "hub": f"HUB__{name.upper()}",
                     "source_table": name})
        if i < n_links:
            links.append({
                "name": f"LNK__{name.upper()}_REF",
                "source_table": name,
                "to": [{"source_column": "REF_ID",
                        "source_foreign_key": {"table": f"ent{i+1:02d}", "column": "ID"}}],
            })
    schema = SourceSchema.from_dict({"name": "wide", "tables": tables})
    mapping = VaultMapping.from_dict({"hubs": hubs, "links": links, "satellites": sats})
    return schema, mapping


def _run_wide_catalog(spark, n_entities: int, n_links: int, prefix: str):
    spark.sql(f"DROP DATABASE IF EXISTS {prefix}_stg CASCADE")
    spark.sql(f"DROP DATABASE IF EXISTS {prefix}_raw CASCADE")
    schema, mapping = _spec(n_entities, n_links)
    dv = DeclarativeVault(
        spark, schema, mapping,
        VaultConfig(staging_prepared_database=f"{prefix}_stg",
                    raw_database=f"{prefix}_raw",
                    record_source="wide"),
    )
    created = dv.create_tables()
    assert len(created) == n_entities * 2 + n_links
    # one physical layout: vault tables are created unbucketed
    for table in created:
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {prefix}_raw.{table}").collect()
        assert "Num Buckets" not in {r["col_name"] for r in rows}, table

    t0 = datetime(2026, 6, 1)
    batch = {}
    for i in range(n_entities):
        name = f"ent{i:02d}"
        if i < n_links:
            rows = [("create", t0, f"{name}-k{j}", j, f"ent{i+1:02d}-k{j}")
                    for j in range(ROWS_PER_TABLE)]
            batch[name] = spark.createDataFrame(
                rows, "OPERATION string, LOAD_DATE timestamp, ID string, VAL int, REF_ID string")
        else:
            rows = [("create", t0, f"{name}-k{j}", j) for j in range(ROWS_PER_TABLE)]
            batch[name] = spark.createDataFrame(
                rows, "OPERATION string, LOAD_DATE timestamp, ID string, VAL int")
    dv.load_batch(batch, load_ts=datetime(2026, 7, 1))

    # every hub/sat/link populated with the expected cardinality
    for i in range(n_entities):
        nm = f"ENT{i:02d}"
        assert spark.table(f"{prefix}_raw.HUB__{nm}").count() == ROWS_PER_TABLE, nm
        assert spark.table(f"{prefix}_raw.SAT__{nm}").count() == ROWS_PER_TABLE, nm
    for i in range(n_links):
        lnk = spark.table(f"{prefix}_raw.LNK__ENT{i:02d}_REF")
        assert lnk.count() == ROWS_PER_TABLE
        # spot-check one resolved member: FK resolved through staged target
        assert lnk.filter(F.col(C.hkey_of(f"ent{i+1:02d}")).isNull()).count() == 0


@pytest.mark.heavy
def test_wide_catalog_single_batch_load(spark):
    """Full reference-scale breadth (20 hubs / 10 links) — opt-in
    (`pytest -m heavy`, r12 suite-wall fix); the default-path
    ``test_catalog_batch_load_breadth_small`` exercises the identical
    declarative batch-load code over the same spec shape."""
    _run_wide_catalog(spark, N_ENTITIES, N_LINKS, "wide")


def test_catalog_batch_load_breadth_small(spark):
    """Default-path slice of the wide-catalog load: 4 hub tables +
    2 FK links in one declarative batch — the same code paths
    (create_tables, FK resolution through staged targets, per-table
    load loop) at a wall that fits the suite budget."""
    _run_wide_catalog(spark, 4, 2, "wide_s")
