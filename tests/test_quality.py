"""Vault integrity checks."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from pyspark_playground_spark.conventions import DataVaultConventions
from pyspark_playground_spark.operators import quality as q

C = DataVaultConventions()
T1 = datetime(2026, 1, 1)


def test_integrity_report_clean_and_broken(spark):
    hub = spark.createDataFrame(
        [("h1", T1, "src", "k1"), ("h2", T1, "src", "k2")],
        f"`{C.hkey()}` string, `{C.load_date()}` timestamp, "
        f"`{C.record_source()}` string, ID string",
    )
    sat_ok = spark.createDataFrame(
        [("h1", "d1", T1, 1)],
        f"`{C.hkey()}` string, `{C.hdiff()}` string, `{C.load_date()}` timestamp, V int",
    )
    link = spark.createDataFrame(
        [("l1", "h1", "h2", T1), ("l2", "h1", "zzz", T1)],
        f"`{C.hkey()}` string, A string, B string, `{C.load_date()}` timestamp",
    )
    report = q.integrity_report(
        hubs={"HUB__X": hub},
        links={"LNK__X": (link, {"A": hub, "B": hub})},
        satellites={"SAT__X": (sat_ok, hub)},
    )
    by = {(r.check, r.table): r for r in report}
    assert by[("unique_hkey", "HUB__X")].ok
    assert by[("unique_version_key", "SAT__X")].ok
    assert by[("orphans", "SAT__X")].ok
    # l2 points at a hub that doesn't exist
    assert by[("dangling_members", "LNK__X")].violations == 1

    # break it: orphan satellite + duplicate hub key
    sat_orphan = sat_ok.union(
        spark.createDataFrame([("ghost", "d2", T1, 2)], sat_ok.schema)
    )
    hub_dup = hub.union(hub.limit(1))
    report2 = q.integrity_report(
        hubs={"HUB__X": hub_dup}, satellites={"SAT__X": (sat_orphan, hub)}
    )
    by2 = {(r.check, r.table): r for r in report2}
    assert by2[("unique_hkey", "HUB__X")].violations == 1
    assert by2[("orphans", "SAT__X")].violations == 1


def test_robust_outliers_flags_and_degenerate_group(spark):
    from pyspark_playground_spark.operators import quality as ql
    rows = ([("a", float(v)) for v in [10, 11, 12, 13, 14, 1000]]
            + [("b", 5.0), ("b", 5.0), ("b", 5.0)])  # MAD = 0 group
    df = spark.createDataFrame(rows, "g string, v double")
    out = {(r["g"], r["v"]): (r["robust_z"], r["is_outlier"])
           for r in ql.robust_outliers(df, "v", "g").collect()}
    assert out[("a", 1000.0)][1] is True
    assert all(not flag for (g, v), (_, flag) in out.items() if v != 1000.0)
    # degenerate group: no NaN/div-by-zero, null z, false flag
    assert out[("b", 5.0)] == (None, False)


def test_winsorize_clips_both_tails(spark):
    from pyspark_playground_spark.operators.quality import winsorize

    rows = [(i, "a", v) for i, v in enumerate([0, 10, 10, 10, 10, 10, 10, 10, 10, 1000])]
    df = spark.createDataFrame(rows, ["id", "grp", "v"])
    out = {r.id: r.v_clipped for r in winsorize(df, "v", "grp").collect()}
    # p5/p95 of [0,10×8,1000] pull both extremes toward 10
    assert out[0] > 0 and out[9] < 1000
    assert out[1] == 10.0  # interior values untouched


def test_skew_report_stats_and_hot_keys(spark):
    from pyspark_playground_spark.operators.skew import skew_report

    rows = [("hot",)] * 90 + [("b",)] * 6 + [("c",)] * 4
    df = spark.createDataFrame(rows, ["k"])
    r = skew_report(df, "k", top_k=2).collect()[0]
    assert r.n_rows == 100 and r.n_keys == 3
    assert r.max_count == 90
    assert r.top_hot_keys == "hot:90,b:6"
    assert r.avg_count_x100 == 100 * 100 // 3


def test_observed_write_metrics_and_gates(spark, tmp_path):
    """Metrics ride the write job (no second scan); gates raise on breach."""
    df = spark.createDataFrame(
        [(1, None), (2, "x"), (3, "y")], "id int, v string"
    )
    out = str(tmp_path / "obs_out")
    got = q.observed_write(
        df,
        lambda d: d.write.mode("overwrite").parquet(out),
        metrics={
            "n_rows": F.count(F.lit(1)),
            "null_v": F.count(F.when(F.col("v").isNull(), 1)),
        },
        gates={"n_rows": (1, 1e9)},
    )
    assert got["n_rows"] == 3 and got["null_v"] == 1
    assert spark.read.parquet(out).count() == 3

    with pytest.raises(ValueError, match="null_v"):
        q.observed_write(
            df,
            lambda d: d.write.mode("overwrite").parquet(out),
            metrics={"null_v": F.count(F.when(F.col("v").isNull(), 1))},
            gates={"null_v": (0, 0)},
        )


def test_table_diff_classes(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, None, 40.0)],
        "id int, s string, x double",
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "CHANGED", 30.0), (4, None, 40.0), (5, "e", 50.0)],
        "id int, s string, x double",
    )
    got = {r["diff_class"]: r["n_rows"] for r in q.table_diff(old, new, ["id"]).collect()}
    # 1 removed, 5 added, 3 changed, 2 and 4 unchanged (null-safe compare)
    assert got == {"removed": 1, "added": 1, "changed": 1, "unchanged": 2}


def test_table_diff_duplicate_keys_no_fanout(spark):
    """Duplicate keys are compared as multisets per key — no join fan-out
    inflating the counts, and a multiplicity change alone reads as
    'changed'."""
    old = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "id int, v string")
    new = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "B"), (3, "c")], "id int, v string"
    )
    got = {
        r["diff_class"]: r["n_rows"]
        for r in q.table_diff(old, new, ["id"]).collect()
    }
    assert got == {"unchanged": 1, "changed": 1, "added": 1}
    dropped_dup = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    got2 = {
        r["diff_class"]: r["n_rows"]
        for r in q.table_diff(old, dropped_dup, ["id"]).collect()
    }
    assert got2 == {"changed": 1, "unchanged": 1}


def test_check_expectations_counts_and_single_pass(spark):
    from pyspark_playground_spark.operators.quality import check_expectations

    df = spark.createDataFrame(
        [(1, "a", "en", 10), (2, None, "en", 10), (2, "b", "xx", -5),
         (3, "c", None, 2_000_000)],
        "id int, text string, lang string, n int",
    )
    rules = [
        {"type": "not_null", "column": "text"},          # 1 null
        {"type": "unique", "columns": ["id"]},           # id=2 twice -> 1
        {"type": "range", "column": "n", "min": 0, "max": 1000},  # -5, 2e6
        {"type": "accepted_values", "column": "lang",
         "values": ["en", "de"]},                        # 'xx' (NULL skipped)
        {"type": "regex_match", "column": "text",
         "pattern": "[ab]"},                             # 'c' fails
        {"type": "row_count_between", "min": 10},        # 4 rows -> 6 short
    ]
    out = {r["rule_id"]: r for r in check_expectations(df, rules).collect()}
    assert len(out) == 6
    assert out[0]["n_violations"] == 1 and not out[0]["passed"]
    assert out[1]["n_violations"] == 1 and out[1]["rule_type"] == "unique"
    assert out[2]["n_violations"] == 2
    assert out[3]["n_violations"] == 1
    assert out[4]["n_violations"] == 1
    assert out[5]["n_violations"] == 6
    assert all(r["n_rows"] == 4 for r in out.values())

    # all-green contract passes every rule
    ok = check_expectations(
        spark.createDataFrame([(1, "a")], "id int, text string"),
        [{"type": "not_null", "column": "text"},
         {"type": "unique", "columns": ["id"]}],
    ).collect()
    assert all(r["passed"] for r in ok)

    import pytest as _p

    with _p.raises(ValueError, match="unknown expectation"):
        check_expectations(df, [{"type": "nope"}]).collect()
