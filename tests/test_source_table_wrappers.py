"""Staged-source convenience wrappers + multi-table reference loaders
(reference RawVault.py:194-219, 462-478, 710-784, 805-911): stage-then-load
in one call, and many source tables feeding one shared (code-)reference
table with a single append write."""

from __future__ import annotations

import tempfile
from datetime import datetime

import pytest
from pyspark.sql import types as T

from pyspark_playground_spark.conventions import (
    ColumnDefinition,
    DataVaultConventions,
    VaultConfig,
)
from pyspark_playground_spark.operators.vault import RawVault

C = DataVaultConventions()
T1, T2 = datetime(2026, 7, 1), datetime(2026, 7, 2)


@pytest.fixture(scope="module")
def raw(spark):
    spark.sql("DROP DATABASE IF EXISTS stw_stg CASCADE")
    spark.sql("DROP DATABASE IF EXISTS stw_raw CASCADE")
    base = tempfile.mkdtemp(prefix="stw-src-")
    config = VaultConfig(
        staging_base_path=base,
        staging_prepared_database="stw_stg",
        raw_database="stw_raw",
        record_source="stw",
    )
    # source parquet files, reference layout: {base}/{table}.parquet
    movies = spark.createDataFrame(
        [
            ("create", T1, "m1", "Alpha", "d1"),
            ("create", T1, "m2", "Beta", "d2"),
            ("update", T2, "m1", "Alpha!", "d2"),
        ],
        "OPERATION string, LOAD_DATE timestamp, PublicID string, NAME string, DIRECTOR_ID string",
    )
    movies.write.mode("overwrite").parquet(f"{base}/movies.parquet")
    for name, rows in {
        "cctl_genre": [(T1, "g1", "Drama"), (T1, "g2", "Comedy")],
        "cctl_rating": [(T1, "r1", "PG"), (T1, "r2", "R"), (T2, "r1", "PG-13")],
    }.items():
        spark.createDataFrame(
            rows, f"`{C.load_date()}` timestamp, ID string, NAME string"
        ).write.mode("overwrite").parquet(f"{base}/{name}.parquet")

    v = RawVault(spark, config)
    v.initialize_database()
    v.create_hub("movies", [ColumnDefinition("PublicID", T.StringType(), False)])
    v.create_hub("directors", [ColumnDefinition("DIRECTOR_ID", T.StringType(), False)])
    v.create_link("movies_directors", [C.hkey_of("movies"), C.hkey_of("directors")])
    v.create_satellite("movies", [ColumnDefinition("NAME", T.StringType())])
    v.create_code_reference_table(
        "typelists", ColumnDefinition("ID", T.StringType(), False),
        [ColumnDefinition("NAME", T.StringType())],
    )
    v.create_reference_table(
        "lookups", ColumnDefinition("ID", T.StringType(), False),
        [ColumnDefinition("NAME", T.StringType())],
    )
    return v


def test_load_hub_from_source_table(raw, spark):
    raw.load_hub_from_source_table(
        "movies", "movies", ["PublicID"],
        load_date_column="LOAD_DATE", operation_column="OPERATION",
        satellites={"movies": ["NAME"]}, load_ts=T2,
    )
    hub = spark.table(f"stw_raw.{C.hub_name('movies')}")
    assert hub.count() == 2
    sat = spark.table(f"stw_raw.{C.sat_name('movies')}")
    assert sat.count() == 3  # m1@T1, m2@T1, m1@T2


def test_load_link_from_source_table(raw, spark):
    raw.load_link_from_source_table(
        "movies", "movies_directors",
        from_name="movies", to_name="directors", fk_column="DIRECTOR_ID",
        hkey_columns=["PublicID"],
        load_date_column="LOAD_DATE", operation_column="OPERATION",
        load_ts=T2,
    )
    link = spark.table(f"stw_raw.{C.link_name('movies_directors')}")
    # m1→d1, m2→d2, m1→d2 (re-pointed at T2)
    assert link.count() == 3
    eff = spark.table(f"stw_raw.{C.effectivity_sat_name('movies_directors')}")
    assert eff.filter(eff[C.deleted()]).count() >= 1  # m1→d1 closed


def test_load_multilink_from_source_table(raw, spark):
    from pyspark_playground_spark.conventions import LinkedHubDefinition

    base = raw.config.staging_base_path
    spark.createDataFrame(
        [
            ("create", T1, "m1", "a1"),
            ("create", T1, "m2", "a2"),
            ("create", T2, "m1", "a2"),
        ],
        "OPERATION string, LOAD_DATE timestamp, MOVIE_ID string, ACTOR_ID string",
    ).write.mode("overwrite").parquet(f"{base}/castings.parquet")
    members = [
        LinkedHubDefinition("movies", "MOVIE_ID"),
        LinkedHubDefinition("actors", "ACTOR_ID"),
    ]
    raw.create_link("castings", [C.hkey_of("movies"), C.hkey_of("actors")])
    raw.load_multilink_from_source_table(
        "castings", "castings", members,
        load_date_column="LOAD_DATE", operation_column="OPERATION", load_ts=T2,
    )
    link = spark.table(f"stw_raw.{C.link_name('castings')}")
    assert link.count() == 3
    # staged-table variant is idempotent over the same batch
    raw.load_multilink_from_prepared_staging_table(
        "castings", "castings", members, load_ts=T2
    )
    assert spark.table(f"stw_raw.{C.link_name('castings')}").count() == 3


def test_load_link_from_prepared_staging_table(raw, spark):
    # 'movies' staging table was written by test_load_hub_from_source_table;
    # reuse it for the staged 2-ary variant (idempotent vs the source run)
    raw.load_link_from_prepared_staging_table(
        "movies", "movies_directors",
        from_name="movies", to_name="directors", fk_column="DIRECTOR_ID",
        load_ts=T2,
    )
    link = spark.table(f"stw_raw.{C.link_name('movies_directors')}")
    assert link.count() == 3


def test_load_code_references_from_tables(raw, spark):
    """≥2 source tables into one shared code-ref table, group per table."""
    for t in ("cctl_genre", "cctl_rating"):
        raw.stage_table(t, f"{raw.config.staging_base_path}/{t}.parquet",
                        load_date_column=C.load_date(), operation_column=None)
    raw.load_code_references_from_tables(
        ["cctl_genre", "cctl_rating"], "typelists", "ID", ["NAME"]
    )
    ref = spark.table(f"stw_raw.{C.ref_name('typelists')}")
    assert ref.count() == 5
    groups = {r[0] for r in ref.select(C.group()).distinct().collect()}
    assert groups == {"cctl_genre", "cctl_rating"}
    # idempotent: re-running the multi-table load appends nothing
    raw.load_code_references_from_tables(
        ["cctl_genre", "cctl_rating"], "typelists", "ID", ["NAME"]
    )
    assert spark.table(f"stw_raw.{C.ref_name('typelists')}").count() == 5


def test_load_references_from_tables(raw, spark):
    raw.load_references_from_tables(["cctl_genre", "cctl_rating"], "lookups", "ID", ["NAME"])
    ref = spark.table(f"stw_raw.{C.ref_name('lookups')}")
    # no group column: 2 + 3 versions, keyed on (ID, LOAD_DATE)
    assert ref.count() == 5
    raw.load_references_from_table("cctl_genre", "lookups", "ID", ["NAME"])
    assert spark.table(f"stw_raw.{C.ref_name('lookups')}").count() == 5


@pytest.mark.parametrize(
    "create, load",
    [
        ("create_reference_table", "load_references_from_tables"),
        ("create_code_reference_table", "load_code_references_from_tables"),
    ],
)
def test_multi_table_reference_loads_write_nothing_for_empty_list(
    raw, spark, monkeypatch, create, load
):
    """No staging tables means no write (not an IndexError on the empty
    list of per-table parts)."""
    name = f"empty_{create}"
    getattr(raw, create)(
        name, ColumnDefinition("ID", T.StringType(), False),
        [ColumnDefinition("NAME", T.StringType())],
    )
    appended = []
    monkeypatch.setattr(
        RawVault, "_append", lambda self, df, table: appended.append(table)
    )
    getattr(raw, load)([], name, "ID", ["NAME"])
    assert appended == []
    assert spark.table(f"stw_raw.{C.ref_name(name)}").count() == 0
