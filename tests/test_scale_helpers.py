"""Scale helpers: salted joins/aggregates, xxhash64 vault."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_playground_spark.conventions import ColumnDefinition, VaultConfig
from pyspark_playground_spark.operators import raw_vault as rv
from pyspark_playground_spark.operators import skew
from pyspark_playground_spark.operators.vault import RawVault


def test_salted_join_matches_plain_join(spark):
    # heavily skewed: key 'hot' holds 90% of rows
    large = spark.createDataFrame(
        [("hot", i) for i in range(900)] + [(f"k{i}", i) for i in range(100)],
        "k string, v int",
    )
    small = spark.createDataFrame(
        [("hot", "H"), ("k1", "A"), ("k2", "B"), ("missing", "X")],
        "k string, label string",
    )
    for how in ("inner", "left"):
        plain = large.join(small, ["k"], how)
        salted = skew.salted_join(large, small, ["k"], buckets=8, how=how)
        assert salted.count() == plain.count()
        assert (
            salted.groupBy("k").count().orderBy("k").collect()
            == plain.groupBy("k").count().orderBy("k").collect()
        )
    with pytest.raises(ValueError):
        skew.salted_join(large, small, ["k"], how="right")


def test_hot_key_salted_join_matches_plain_join(spark):
    """Partial salting is row-identical to the plain join; only the hot key
    fans out on the small side."""
    large = spark.createDataFrame(
        [("hot", i) for i in range(900)] + [(f"k{i}", i) for i in range(100)],
        "k string, v int",
    )
    small = spark.createDataFrame(
        [("hot", "H"), ("k1", "A"), ("k2", "B"), ("missing", "X")],
        "k string, label string",
    )
    for how in ("inner", "left"):
        plain = large.join(small, ["k"], how)
        salted = skew.hot_key_salted_join(
            large, small, ["k"], buckets=8, threshold=500, how=how
        )
        assert sorted(map(tuple, salted.collect())) == sorted(
            map(tuple, plain.collect())
        )
    # explicit hot_keys path (the precomputed / sampled route)
    hot = spark.createDataFrame([("hot",)], "k string")
    salted = skew.hot_key_salted_join(
        large, small, ["k"], buckets=8, hot_keys=hot
    )
    assert salted.count() == large.join(small, ["k"]).count()
    with pytest.raises(ValueError):
        skew.hot_key_salted_join(large, small, ["k"], how="full")


def test_salted_aggregate_matches_plain(spark):
    df = spark.createDataFrame(
        [("hot", i, float(i)) for i in range(1000)] + [("cold", 1, 2.0)],
        "k string, n int, x double",
    )
    got = {
        r["k"]: (r["sum_n"], r["count_x"])
        for r in skew.salted_aggregate(
            df, ["k"], {"n": "sum", "x": "count"}, buckets=4
        ).collect()
    }
    assert got["hot"] == (sum(range(1000)), 1000)
    assert got["cold"] == (1, 1)


def test_xxhash64_vault_end_to_end(spark):
    """The scale hash option: long hkeys through DDL, load, and anti-join."""
    spark.sql("DROP DATABASE IF EXISTS xx_stg CASCADE")
    spark.sql("DROP DATABASE IF EXISTS xx_raw CASCADE")
    config = VaultConfig(
        staging_prepared_database="xx_stg",
        raw_database="xx_raw",
        record_source="x",
        hash_function="xxhash64",
    )
    v = RawVault(spark, config)
    v.initialize_database()
    v.create_hub("things", [ColumnDefinition("ID", T.StringType(), False)])
    v.create_satellite("things", [ColumnDefinition("NAME", T.StringType())])

    batch = spark.createDataFrame(
        [("create", datetime(2026, 8, 1), "x1", "one")],
        "OPERATION string, LOAD_DATE timestamp, ID string, NAME string",
    )
    staged = rv.prepare_staging(
        batch, load_date_column="LOAD_DATE", operation_column="OPERATION",
        record_source="x", hkey_columns=["ID"], hash_function="xxhash64",
    )
    v.load_hub(staged, "things", ["ID"], satellites={"things": ["NAME"]},
               load_ts=datetime(2026, 9, 1))
    hub = spark.table("xx_raw.HUB__THINGS")
    assert dict(hub.dtypes)["$__HKEY"] == "bigint"
    assert hub.count() == 1
    # idempotent reload with long keys
    v.load_hub(staged, "things", ["ID"], satellites={"things": ["NAME"]},
               load_ts=datetime(2026, 9, 2))
    assert spark.table("xx_raw.HUB__THINGS").count() == 1
    assert spark.table("xx_raw.SAT__THINGS").count() == 1


def test_join_size_report_is_exact_cardinality(spark):
    """est_rows equals the actual inner-join row count."""
    left = spark.createDataFrame(
        [("a",)] * 10 + [("b",)] * 3 + [("only_left",)], "k string"
    )
    right = spark.createDataFrame(
        [("a",)] * 7 + [("b",)] * 2 + [("only_right",)], "k string"
    )
    row = skew.join_size_report(left, right, ["k"]).collect()[0]
    actual = left.join(right, ["k"]).count()
    assert row["est_rows"] == actual == 10 * 7 + 3 * 2
    assert row["max_cell"] == 70 and row["n_join_keys"] == 2
    assert row["top_cells"].split(",")[0] == "a:70"


def test_join_size_report_null_keys_and_separator_collisions(spark):
    """NULL keys never match an equi-join so they must not be counted, and
    a '|' inside a value must not merge distinct multi-column keys."""
    left = spark.createDataFrame(
        [("a|b", "x"), ("a", "b|x"), (None, "z"), ("k", None), ("k", "v")],
        "k1 string, k2 string",
    )
    right = spark.createDataFrame(
        [("a|b", "x"), ("a", "b|x"), (None, "z"), ("k", "v"), ("k", "v")],
        "k1 string, k2 string",
    )
    row = skew.join_size_report(left, right, ["k1", "k2"]).collect()[0]
    actual = left.join(right, ["k1", "k2"]).count()
    assert row["est_rows"] == actual == 4
    assert row["n_join_keys"] == 3


def test_codegen_cache_sized_for_the_engine_query_mix(spark):
    """The engine's session default for the whole-stage-codegen class
    cache must cover the full query mix: at Spark's 100-entry default
    the PQ recall pipeline alone (~91 codegen units) thrashes the
    cache, so EVERY re-execution re-runs Janino + JIT on identical
    generated source (measured r11: 24 recompiled units and 6-16 s of
    JIT-compiler time per repeat, with 3-5x nondeterministic wall
    spikes bleeding into neighboring queries in a long-lived driver).
    Raising it is pure driver metaspace, no plan or result change."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 5000
