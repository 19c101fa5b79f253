"""Streaming extensions: CDC file stream → foreachBatch → same vault state
as batch loading; mergeable summaries and windowed monitors, stream ==
batch."""

from __future__ import annotations

import shutil
import tempfile
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_playground_spark.conventions import DataVaultConventions, VaultConfig
from pyspark_playground_spark.plans.declarative import (
    DeclarativeVault,
    SourceSchema,
    VaultMapping,
)
from pyspark_playground_spark.streaming import cdc as st

C = DataVaultConventions()

CDC_SCHEMA = T.StructType(
    [
        T.StructField("OPERATION", T.StringType()),
        T.StructField("LOAD_DATE", T.TimestampType()),
        T.StructField("ID", T.StringType()),
        T.StructField("NAME", T.StringType()),
        T.StructField("SCORE", T.DoubleType()),
    ]
)

SCHEMA_JSON = """
{"name": "stream", "tables": [
  {"name": "things",
   "columns": [{"name": "ID", "type": "text"}, {"name": "NAME", "type": "text"},
               {"name": "SCORE", "type": "double"}],
   "primaryKey": ["ID"], "foreignKeys": []}
]}
"""
MAPPING_YAML = """
hubs:
  - {name: HUB__THINGS, source_table: things, business_keys: [ID]}
links: []
satellites:
  - {name: SAT__THINGS, hub: HUB__THINGS, source_table: things, private: false}
"""


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream-test-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_cdc_matches_batch_loading(spark, tmpdir):
    """Files dropped into a CDC directory, drained with availableNow through
    foreachBatch, must produce the exact vault state the batch path builds."""
    spark.sql("DROP DATABASE IF EXISTS stream_raw CASCADE")
    spark.sql("DROP DATABASE IF EXISTS stream_stg CASCADE")
    dv = DeclarativeVault(
        spark,
        SourceSchema.from_json(SCHEMA_JSON),
        VaultMapping.from_yaml(MAPPING_YAML),
        VaultConfig(
            staging_prepared_database="stream_stg",
            raw_database="stream_raw",
            record_source="stream",
        ),
    )
    dv.create_tables()

    t1, t2 = datetime(2026, 5, 1, 10), datetime(2026, 5, 1, 11)
    batch1 = [("create", t1, "x1", "one", 1.0), ("create", t1, "x2", "two", 2.0)]
    batch2 = [("update", t2, "x1", "one-renamed", 1.5), ("delete", t2, "x2", "two", 2.0)]
    in_dir = f"{tmpdir}/in"
    spark.createDataFrame(batch1, CDC_SCHEMA).write.mode("append").parquet(in_dir)
    spark.createDataFrame(batch2, CDC_SCHEMA).write.mode("append").parquet(in_dir)

    stream = st.read_cdc_file_stream(spark, in_dir, CDC_SCHEMA)
    assert stream.isStreaming
    q = st.start_cdc_ingestion(
        stream,
        st.declarative_stream_loader(
            dv, "things", load_ts_fn=lambda i: datetime(2026, 6, 1, i)
        ),
        checkpoint_dir=f"{tmpdir}/ckpt",
        available_now=True,
    )
    q.awaitTermination(120)

    hub = spark.table("stream_raw.HUB__THINGS")
    sat = spark.table("stream_raw.SAT__THINGS")
    eff = spark.table("stream_raw.SAT__EFFECTIVITY_THINGS")
    assert hub.count() == 2
    assert sat.count() == 3  # x1@t1, x2@t1, x1@t2 (delete rows don't feed sats)
    # x2 deleted; x1 alive with the renamed value
    last_x2 = (
        eff.filter(F.col(C.hkey()) == F.md5(F.lit("x2")))
        .orderBy(F.col(C.load_date()).desc())
        .select(C.deleted())
        .limit(1)
        .collect()[0][0]
    )
    assert last_x2 is True
    latest_x1 = (
        sat.filter(F.col(C.hkey()) == F.md5(F.lit("x1")))
        .orderBy(F.col(C.load_date()).desc())
        .limit(1)
        .collect()[0]
    )
    assert latest_x1["NAME"] == "one-renamed"

    # replaying the same directory with a fresh checkpoint must be a no-op
    q2 = st.start_cdc_ingestion(
        st.read_cdc_file_stream(spark, in_dir, CDC_SCHEMA),
        st.declarative_stream_loader(dv, "things"),
        checkpoint_dir=f"{tmpdir}/ckpt2",
        available_now=True,
        query_name="cdc_replay",
    )
    q2.awaitTermination(120)
    assert spark.table("stream_raw.HUB__THINGS").count() == 2
    assert spark.table("stream_raw.SAT__THINGS").count() == 3


def test_rollup_stream_matches_batch(spark, tmpdir):
    """foreachBatch continuous-aggregate maintenance: after two
    micro-batches the stored mergeable summary equals the batch rollup
    over all events — merge(rollup(b1), rollup(b2)) == rollup(all)."""
    from pyspark_playground_spark.operators import rollup as ru

    schema = "user_id long, ts timestamp, event_type string, value long"
    src = f"{tmpdir}/rollup_src"
    spark.createDataFrame(
        [(1, datetime(2026, 5, 1, 10, 5), "a", 2),
         (2, datetime(2026, 5, 1, 10, 40), "a", 4)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(
        [(1, datetime(2026, 5, 1, 10, 50), "a", 6),
         (1, datetime(2026, 5, 1, 11, 5), "b", 1)], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = st.start_cdc_ingestion(
        stream,
        st.rollup_stream_loader(
            "events_hourly_summary", "ts", "hour", ["event_type"], ["value"]
        ),
        checkpoint_dir=f"{tmpdir}/ckpt_rollup",
        available_now=True,
        query_name="rollup_maint",
    )
    q.awaitTermination(120)

    got = {
        (r["event_type"], str(r["bucket"])): (r["cnt_rows"], r["sum_value"])
        for r in spark.table("events_hourly_summary").collect()
    }
    want = {
        (r["event_type"], str(r["bucket"])): (r["cnt_rows"], r["sum_value"])
        for r in ru.time_rollup(
            spark.read.parquet(src), "ts", "hour", ["event_type"], ["value"]
        ).collect()
    }
    assert got == want
    assert got[("a", "2026-05-01 10:00:00")] == (3, 12)
    spark.sql("DROP TABLE IF EXISTS events_hourly_summary")


def test_windowed_value_bins_stream_equals_batch_and_psi_finish(spark, tmpdir):
    """The continuous drift monitor: the streaming-legal bin partials
    must agree with the batch twin row-for-row, and psi_vs_baseline over
    the partials must equal a pure-Python PSI with the fixed-universe
    Laplace smoothing."""
    import math

    rows = [
        (1, datetime(2026, 5, 1, 10, 5), "view", 1.0),
        (2, datetime(2026, 5, 1, 10, 15), "view", 3.0),
        (3, datetime(2026, 5, 1, 10, 45), "view", 9.5),
        (4, datetime(2026, 5, 1, 11, 10), "view", 0.5),
        (5, datetime(2026, 5, 1, 11, 40), "view", 9.9),
        (6, datetime(2026, 5, 1, 11, 50), "view", 9.0),
    ]
    schema = "user_id long, ts timestamp, event_type string, value double"
    src = f"{tmpdir}/drift_events"
    spark.createDataFrame(rows, schema).write.parquet(src)
    batch = spark.read.parquet(src)
    bounds = spark.createDataFrame([(0.0, 10.0)], "lo double, hi double")

    bins_batch = st.windowed_value_bins(batch, bounds=bounds, bins=4)
    expected = {
        (r.window_start, r.bin): r.n for r in bins_batch.collect()
    }
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        st.windowed_value_bins(
            stream, bounds=bounds, bins=4, watermark="2 hours"
        )
        .writeStream.format("memory")
        .queryName("drift_bins")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmpdir}/ckpt_drift")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.bin): r.n
        for r in spark.sql("SELECT * FROM drift_bins").collect()
    }
    assert got == expected and len(got) > 0

    # finish (bin width 2.5): window 10:00 = {0:1, 1:1, 3:1}
    # (1.0→0, 3.0→1, 9.5→3), window 11:00 = {0:1, 3:2};
    # baseline = all 6 values -> {0:2, 1:1, 3:3}
    baseline = st.windowed_value_bins(batch, bounds=bounds, bins=4).groupBy(
        "bin"
    ).agg(F.sum("n").alias("n"))
    out = {
        r.window_start: r
        for r in st.psi_vs_baseline(bins_batch, baseline, bins=4).collect()
    }

    def py_psi(obs, base, bins):
        nw, nb = sum(obs.values()), sum(base.values())
        s = 0.0
        for b in range(bins):
            pa = (obs.get(b, 0) + 1) / (nw + bins)
            pb = (base.get(b, 0) + 1) / (nb + bins)
            lnr = round(
                math.log(
                    ((obs.get(b, 0) + 1) * (nb + bins))
                    / ((base.get(b, 0) + 1) * (nw + bins))
                ),
                7,
            )
            s += round((pa - pb) * lnr, 9)
        return s

    base_counts = {0: 2, 1: 1, 3: 3}
    w10 = datetime(2026, 5, 1, 10)
    w11 = datetime(2026, 5, 1, 11)
    assert out[w10].n_window == 3 and out[w11].n_window == 3
    assert out[w10].psi == pytest.approx(
        py_psi({0: 1, 1: 1, 3: 1}, base_counts, 4), abs=1e-9
    )
    assert out[w11].psi == pytest.approx(
        py_psi({0: 1, 3: 2}, base_counts, 4), abs=1e-9
    )


def test_ks_vs_baseline_hand_example(spark, tmpdir):
    """Windowed exact-integer KS from the same bin partials: window 10:00
    has bins {0:1, 1:1, 3:1}, window 11:00 {0:1, 3:2}, baseline
    {0:2, 1:1, 3:3} (n_b = 6). Hand-compute D numerators over the fixed
    4-bin universe."""
    rows = [
        (1, datetime(2026, 5, 1, 10, 5), "view", 1.0),
        (2, datetime(2026, 5, 1, 10, 15), "view", 3.0),
        (3, datetime(2026, 5, 1, 10, 45), "view", 9.5),
        (4, datetime(2026, 5, 1, 11, 10), "view", 0.5),
        (5, datetime(2026, 5, 1, 11, 40), "view", 9.9),
        (6, datetime(2026, 5, 1, 11, 50), "view", 9.0),
    ]
    schema = "user_id long, ts timestamp, event_type string, value double"
    df = spark.createDataFrame(rows, schema)
    bounds = spark.createDataFrame([(0.0, 10.0)], "lo double, hi double")
    parts = st.windowed_value_bins(df, bounds=bounds, bins=4)
    baseline = parts.groupBy("bin").agg(F.sum("n").alias("n"))
    out = {
        r.window_start: r
        for r in st.ks_vs_baseline(parts, baseline, bins=4).collect()
    }
    w10, w11 = datetime(2026, 5, 1, 10), datetime(2026, 5, 1, 11)
    # w10: cum_w=[1,2,2,3], cum_b=[2,3,3,6]; |cw*6 - cb*3| = [0,3,3,0] -> 3
    assert (out[w10].n_window, out[w10].n_baseline) == (3, 6)
    assert out[w10].ks_numerator == 3
    # w11: cum_w=[1,1,1,3], cum_b=[2,3,3,6]; |cw*6 - cb*3| = [0,3,3,0] -> 3
    assert out[w11].ks_numerator == 3


def test_cvm_vs_baseline_matches_python(spark, tmpdir):
    rows = [
        (1, datetime(2026, 5, 1, 10, 5), "view", 1.0),
        (2, datetime(2026, 5, 1, 10, 15), "view", 3.0),
        (3, datetime(2026, 5, 1, 10, 45), "view", 9.5),
        (4, datetime(2026, 5, 1, 11, 10), "view", 0.5),
        (5, datetime(2026, 5, 1, 11, 40), "view", 9.9),
        (6, datetime(2026, 5, 1, 11, 50), "view", 9.0),
    ]
    schema = "user_id long, ts timestamp, event_type string, value double"
    df = spark.createDataFrame(rows, schema)
    bounds = spark.createDataFrame([(0.0, 10.0)], "lo double, hi double")
    parts = st.windowed_value_bins(df, bounds=bounds, bins=4)
    baseline = parts.groupBy("bin").agg(F.sum("n").alias("n"))
    out = {
        r.window_start: r
        for r in st.cvm_vs_baseline(parts, baseline, bins=4).collect()
    }

    def py_cvm_numerator(obs, base, bins):
        nw, nb = sum(obs.values()), sum(base.values())
        cw = cb = 0
        s = 0
        for b in range(bins):
            cw += obs.get(b, 0)
            cb += base.get(b, 0)
            m = obs.get(b, 0) + base.get(b, 0)
            s += m * (cw * nb - cb * nw) ** 2  # exact integers
        return s

    base_counts = {0: 2, 1: 1, 3: 3}
    w10, w11 = datetime(2026, 5, 1, 10), datetime(2026, 5, 1, 11)
    assert out[w10].n_window == 3 and out[w10].n_baseline == 6
    assert int(out[w10].cvm_numerator_s) == py_cvm_numerator(
        {0: 1, 1: 1, 3: 1}, base_counts, 4
    )
    assert int(out[w11].cvm_numerator_s) == py_cvm_numerator(
        {0: 1, 3: 2}, base_counts, 4
    )


def test_interval_join_stream_equals_batch(spark, tmpdir):
    """Watermarked stream-stream interval join == the identical plan on
    static frames: purchases within 30 min after a view by the same user,
    across two micro-batches per side."""
    vschema = "view_id long, user_id long, view_ts timestamp"
    pschema = "purchase_id long, user_id long, purchase_ts timestamp, amount double"
    vsrc, psrc = f"{tmpdir}/ij_views", f"{tmpdir}/ij_buys"

    def m(mins):
        return datetime(2026, 5, 1, 10 + mins // 60, mins % 60)

    spark.createDataFrame(
        [(1, 7, m(0)), (2, 7, m(50)), (3, 8, m(5))], vschema
    ).coalesce(1).write.mode("append").parquet(vsrc)
    spark.createDataFrame(
        [(101, 7, m(10), 5.0), (102, 8, m(40), 9.0)], pschema
    ).coalesce(1).write.mode("append").parquet(psrc)
    time.sleep(1.1)
    spark.createDataFrame([(4, 9, m(70))], vschema).coalesce(1).write.mode(
        "append"
    ).parquet(vsrc)
    spark.createDataFrame(
        [(103, 7, m(65), 2.0), (104, 9, m(75), 4.0)], pschema
    ).coalesce(1).write.mode("append").parquet(psrc)

    vs = spark.readStream.schema(spark.read.parquet(vsrc).schema).parquet(vsrc)
    ps = spark.readStream.schema(spark.read.parquet(psrc).schema).parquet(psrc)
    out = st.interval_join(
        vs, ps, on="user_id", left_ts="view_ts", right_ts="purchase_ts",
        lower="0 seconds", upper="30 minutes", watermark="2 hours",
    )
    q = (
        out.writeStream.format("memory").queryName("ij_stream")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt_ij")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r.view_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ij_stream").collect()
    }
    twin = st.interval_join(
        spark.read.parquet(vsrc), spark.read.parquet(psrc),
        on="user_id", left_ts="view_ts", right_ts="purchase_ts",
        lower="0 seconds", upper="30 minutes",
    )
    batch = {(r.view_id, r.purchase_id) for r in twin.collect()}
    # v1@0 -> p101@10 (in), p103@65 (out: >30m); v2@50 -> p103@65 (in);
    # v3@5 -> p102@40 (out: 35m); v4@70 -> p104@75 (in)
    assert got == batch == {(1, 101), (2, 103), (4, 104)}
    # output column contract: left columns + right non-key columns, one user_id
    assert twin.columns == [
        "view_id", "user_id", "view_ts", "purchase_id", "purchase_ts", "amount"
    ]


def test_interval_join_left_outer_stream_emits_unmatched(spark, tmpdir):
    """left_outer interval join on streams: unmatched views surface with
    NULL purchase columns once the right watermark passes their reach
    (forced here by a late sentinel event), and the surviving rows equal
    the static left-join twin."""
    vschema = "view_id long, user_id long, view_ts timestamp"
    pschema = "purchase_id long, user_id long, purchase_ts timestamp"
    vsrc, psrc = f"{tmpdir}/oj_views", f"{tmpdir}/oj_buys"

    spark.createDataFrame(
        [(1, 7, datetime(2026, 5, 1, 10, 0)),
         (2, 8, datetime(2026, 5, 1, 10, 5))], vschema
    ).coalesce(1).write.mode("append").parquet(vsrc)
    spark.createDataFrame(
        [(101, 7, datetime(2026, 5, 1, 10, 10))], pschema
    ).coalesce(1).write.mode("append").parquet(psrc)
    time.sleep(1.1)
    # sentinel flush: a far-future event on BOTH sides advances both
    # watermarks past every real row, forcing the engine to emit the
    # unmatched view (user 8) instead of holding it as maybe-matchable
    flush = datetime(2026, 5, 2, 12, 0)
    spark.createDataFrame([(999, 999, flush)], vschema).coalesce(1).write.mode(
        "append"
    ).parquet(vsrc)
    spark.createDataFrame([(999, 999, flush)], pschema).coalesce(1).write.mode(
        "append"
    ).parquet(psrc)

    vs = spark.readStream.schema(spark.read.parquet(vsrc).schema) \
        .option("maxFilesPerTrigger", 1).parquet(vsrc)
    ps = spark.readStream.schema(spark.read.parquet(psrc).schema) \
        .option("maxFilesPerTrigger", 1).parquet(psrc)
    out = st.interval_join(
        vs, ps, on="user_id", left_ts="view_ts", right_ts="purchase_ts",
        lower="0 seconds", upper="30 minutes", watermark="1 minute",
        how="left_outer",
    )
    q = (
        out.writeStream.format("memory").queryName("oj_stream")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt_oj")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r.view_id, r.purchase_id)
        for r in spark.sql(
            "SELECT * FROM oj_stream WHERE view_id <> 999"
        ).collect()
    }
    twin = st.interval_join(
        spark.read.parquet(vsrc).where("view_id <> 999"),
        spark.read.parquet(psrc).where("purchase_id <> 999"),
        on="user_id", left_ts="view_ts", right_ts="purchase_ts",
        lower="0 seconds", upper="30 minutes", how="left_outer",
    )
    batch = {(r.view_id, r.purchase_id) for r in twin.collect()}
    assert got == batch == {(1, 101), (2, None)}


def test_windowed_label_bins_stream_equals_batch_and_auc_finish(spark, tmpdir):
    """The discrimination monitor: label-split bin partials must agree
    stream vs batch row-for-row, and auc_vs_bins must equal a pure-Python
    tie-corrected AUC computed on the bin-quantized scores per window."""
    rows = [
        # window 10:00 — positives score high (separable): auc 1.0
        (1, datetime(2026, 5, 1, 10, 5), "view", 1.0),
        (2, datetime(2026, 5, 1, 10, 15), "view", 2.0),
        (3, datetime(2026, 5, 1, 10, 25), "purchase", 8.0),
        (4, datetime(2026, 5, 1, 10, 45), "purchase", 9.5),
        # window 11:00 — mixed with a bin tie (0.5 and 1.0 share bin 0)
        (5, datetime(2026, 5, 1, 11, 10), "purchase", 0.5),
        (6, datetime(2026, 5, 1, 11, 20), "view", 1.0),
        (7, datetime(2026, 5, 1, 11, 40), "purchase", 9.9),
        (8, datetime(2026, 5, 1, 11, 50), "view", 9.0),
        # window 12:00 — no positives: NULL auc
        (9, datetime(2026, 5, 1, 12, 10), "view", 5.0),
    ]
    schema = "user_id long, ts timestamp, event_type string, value double"
    src = f"{tmpdir}/auc_events"
    spark.createDataFrame(rows, schema).write.parquet(src)
    batch = spark.read.parquet(src)
    bounds = spark.createDataFrame([(0.0, 10.0)], "lo double, hi double")
    label = F.col("event_type") == "purchase"

    parts_batch = st.windowed_label_bins(
        batch, bounds=bounds, label_column=label, bins=4
    )
    expected = {
        (r.window_start, r.bin): (r.n_pos, r.n_neg)
        for r in parts_batch.collect()
    }
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        st.windowed_label_bins(
            stream, bounds=bounds, label_column=label, bins=4,
            watermark="2 hours",
        )
        .writeStream.format("memory")
        .queryName("auc_bins")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmpdir}/ckpt_auc")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.bin): (r.n_pos, r.n_neg)
        for r in spark.sql("SELECT * FROM auc_bins").collect()
    }
    assert got == expected and len(got) > 0

    def py_auc(pairs):
        pos = [b for b, y in pairs if y]
        neg = [b for b, y in pairs if not y]
        if not pos or not neg:
            return None
        u = sum(
            1.0 if p > q else (0.5 if p == q else 0.0)
            for p in pos for q in neg
        )
        return u / (len(pos) * len(neg))

    def to_bin(v):
        return max(0, min(3, int((v - 0.0) * 4 / 10.0)))

    out = {
        r.window_start: r for r in st.auc_vs_bins(parts_batch).collect()
    }
    by_win = {}
    for _, ts, et, v in [(r[0], r[1], r[2], r[3]) for r in rows]:
        by_win.setdefault(ts.replace(minute=0), []).append(
            (to_bin(v), et == "purchase")
        )
    for ws, pairs in by_win.items():
        ref = py_auc(pairs)
        if ref is None:
            assert out[ws].auc is None
        else:
            assert out[ws].auc == pytest.approx(ref, abs=1e-12)
    assert out[datetime(2026, 5, 1, 10)].auc == 1.0
    assert out[datetime(2026, 5, 1, 12)].auc is None


def test_jsd_vs_baseline_matches_python(spark, tmpdir):
    rows = [
        (1, datetime(2026, 5, 1, 10, 5), "view", 1.0),
        (2, datetime(2026, 5, 1, 10, 15), "view", 3.0),
        (3, datetime(2026, 5, 1, 10, 45), "view", 9.5),
        (4, datetime(2026, 5, 1, 11, 10), "view", 0.5),
        (5, datetime(2026, 5, 1, 11, 40), "view", 9.9),
        (6, datetime(2026, 5, 1, 11, 50), "view", 9.0),
    ]
    schema = "user_id long, ts timestamp, event_type string, value double"
    df = spark.createDataFrame(rows, schema)
    bounds = spark.createDataFrame([(0.0, 10.0)], "lo double, hi double")
    parts = st.windowed_value_bins(df, bounds=bounds, bins=4)
    baseline = parts.groupBy("bin").agg(F.sum("n").alias("n"))
    out = {
        r.window_start: r
        for r in st.jsd_vs_baseline(parts, baseline, bins=4).collect()
    }

    import math

    def py_jsd(obs, base, bins):
        nw, nb = sum(obs.values()), sum(base.values())
        s = 0.0
        for b in range(bins):
            cw, cb = obs.get(b, 0), base.get(b, 0)
            p, q = cw / nw, cb / nb
            m = (p + q) / 2
            if cw:
                s += 0.5 * p * math.log(p / m)
            if cb:
                s += 0.5 * q * math.log(q / m)
        return s

    base_counts = {0: 2, 1: 1, 3: 3}
    w10, w11 = datetime(2026, 5, 1, 10), datetime(2026, 5, 1, 11)
    assert out[w10].n_window == 3 and out[w11].n_window == 3
    assert out[w10].jsd_nats == pytest.approx(
        py_jsd({0: 1, 1: 1, 3: 1}, base_counts, 4), abs=1e-6
    )
    assert out[w11].jsd_nats == pytest.approx(
        py_jsd({0: 1, 3: 2}, base_counts, 4), abs=1e-6
    )
    # bounded in [0, ln 2]
    assert all(0.0 <= r.jsd_nats <= math.log(2) + 1e-9 for r in out.values())


def test_jsd_vs_baseline_identical_window_is_zero(spark):
    # a window whose distribution equals the baseline scores exactly 0
    rows = [
        (1, datetime(2026, 6, 1, 10, 5), "view", 1.0),
        (2, datetime(2026, 6, 1, 10, 15), "view", 6.0),
    ]
    schema = "user_id long, ts timestamp, event_type string, value double"
    df = spark.createDataFrame(rows, schema)
    bounds = spark.createDataFrame([(0.0, 10.0)], "lo double, hi double")
    parts = st.windowed_value_bins(df, bounds=bounds, bins=4)
    baseline = parts.groupBy("bin").agg(F.sum("n").alias("n"))
    out = st.jsd_vs_baseline(parts, baseline, bins=4).collect()
    assert len(out) == 1 and out[0].jsd_nats == pytest.approx(0.0, abs=1e-9)


def test_windowed_type_counts_stream_equals_batch_and_topk(spark, tmpdir):
    """Heavy-hitters monitor: streaming type-count partials must agree
    with the batch twin, and the top-k finish is exact with name
    tie-breaks."""
    rows = [
        (1, datetime(2026, 5, 1, 10, 5), "view", 1.0),
        (2, datetime(2026, 5, 1, 10, 15), "view", 1.0),
        (3, datetime(2026, 5, 1, 10, 25), "click", 1.0),
        (4, datetime(2026, 5, 1, 10, 35), "click", 1.0),
        (5, datetime(2026, 5, 1, 10, 45), "purchase", 1.0),
        (6, datetime(2026, 5, 1, 11, 10), "click", 1.0),
    ]
    schema = "user_id long, ts timestamp, event_type string, value double"
    src = f"{tmpdir}/hh_events"
    spark.createDataFrame(rows, schema).write.parquet(src)
    batch = spark.read.parquet(src)

    parts_batch = st.windowed_type_counts(batch)
    expected = {
        (r.window_start, r.event_type): r.n for r in parts_batch.collect()
    }
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        st.windowed_type_counts(stream, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("hh_counts")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmpdir}/ckpt_hh")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): r.n
        for r in spark.sql("SELECT * FROM hh_counts").collect()
    }
    assert got == expected and len(got) > 0

    # finish: 10:00 has view=2, click=2, purchase=1 -> tie view/click
    # broken by name (click first); k=2 drops purchase
    top = st.top_k_per_window(parts_batch, k=2).collect()
    w10 = sorted(
        (r.rk, r.event_type) for r in top
        if r.window_start == datetime(2026, 5, 1, 10, 0)
    )
    assert w10 == [(1, "click"), (2, "view")]
    w11 = [(r.rk, r.event_type) for r in top
           if r.window_start == datetime(2026, 5, 1, 11, 0)]
    assert w11 == [(1, "click")]


def test_monitor_finishers_fold_duplicate_partials(spark):
    """An update-mode sink or reprocessed batch can hold SEVERAL rows per
    (window, bin); every finisher must fold them, not double-count."""
    w0, w1 = datetime(2026, 5, 1, 10), datetime(2026, 5, 1, 11)
    clean = spark.createDataFrame(
        [(w0, w1, 0, 2), (w0, w1, 1, 3)],
        "window_start timestamp, window_end timestamp, bin int, n long",
    )
    dup = spark.createDataFrame(
        [(w0, w1, 0, 1), (w0, w1, 0, 1), (w0, w1, 1, 3)],
        "window_start timestamp, window_end timestamp, bin int, n long",
    )
    base = spark.createDataFrame([(0, 5), (1, 5)], "bin int, n long")
    for fin in (st.psi_vs_baseline, st.ks_vs_baseline, st.cvm_vs_baseline,
                st.jsd_vs_baseline, st.wasserstein_vs_baseline):
        a = fin(clean, base, bins=4).collect()
        b = fin(dup, base, bins=4).collect()
        assert a == b, fin.__name__

    lab_clean = spark.createDataFrame(
        [(w0, w1, 0, 2, 4), (w0, w1, 1, 6, 1)],
        "window_start timestamp, window_end timestamp, bin int,"
        " n_pos long, n_neg long",
    )
    lab_dup = spark.createDataFrame(
        [(w0, w1, 0, 2, 4), (w0, w1, 1, 2, 0), (w0, w1, 1, 4, 1)],
        "window_start timestamp, window_end timestamp, bin int,"
        " n_pos long, n_neg long",
    )
    assert (st.auc_vs_bins(lab_clean).collect()
            == st.auc_vs_bins(lab_dup).collect())


def test_equal_width_bin_far_out_of_range_values(spark):
    """A wild out-of-range live value must land in the EDGE bin — the
    int cast must not overflow (ANSI crash) or wrap negative (which
    clamp_low would pin to bin 0, counting a huge HIGH value low)."""
    from pyspark_playground_spark.operators.profiling import equal_width_bin

    df = spark.createDataFrame(
        [(1e18,), (-1e18,), (0.5,), (2.0,)], "v double"
    )
    out = df.select(
        equal_width_bin(
            F.col("v"), F.lit(0.0), F.lit(1.0), 16, clamp_low=True
        ).alias("b")
    ).collect()
    assert [r["b"] for r in out] == [15, 0, 8, 15]


def test_windowed_cell_drift_stream_equals_batch(spark, tmpdir):
    """The vector-index drift monitor's streaming partials + finisher
    reproduce the batch composition row-for-row against the same frozen
    coarse model, agree with the batch drift report on each window's
    slice, and actually detect the drifted second hour (its mean
    distance-to-centroid jumps)."""
    from pyspark_playground_spark.operators.similarity import (
        ivf_assignment_drift_report,
        ivf_coarse_train,
    )

    # hour 1: two tight blobs around (0,0) and (10,10); hour 2: the
    # same blobs shifted +3 — occupancy holds, quantization error jumps
    rows = []
    for i in range(40):
        base = [0.0, 0.0] if i % 2 == 0 else [10.0, 10.0]
        rows.append(
            (i, datetime(2026, 5, 1, 10, i % 60),
             [base[0] + 0.01 * (i % 5), base[1] + 0.01 * ((i + 2) % 5)])
        )
    for i in range(40):
        base = [3.0, 3.0] if i % 2 == 0 else [13.0, 13.0]
        rows.append(
            (100 + i, datetime(2026, 5, 1, 11, i % 60),
             [base[0] + 0.01 * (i % 5), base[1] + 0.01 * ((i + 2) % 5)])
        )
    schema = "vec_id long, ts timestamp, embedding array<double>"
    src = f"{tmpdir}/drift_vectors"
    spark.createDataFrame(rows, schema).write.parquet(src)
    batch = spark.read.parquet(src)

    hour1 = batch.filter(F.hour("ts") == 10)
    coarse = ivf_coarse_train(hour1, coarse_k=2, coarse_iterations=1)

    batch_rows = {
        (r["window_start"], r["cluster_id"]): r
        for r in st.cell_drift_vs_model(
            st.windowed_cell_counts(batch, coarse=coarse)
        ).collect()
    }
    assert len(batch_rows) == 4  # 2 windows x 2 cells

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        st.windowed_cell_counts(stream, coarse=coarse, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("cell_counts")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmpdir}/ckpt_cell")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["cluster_id"]): r
        for r in st.cell_drift_vs_model(
            spark.sql("SELECT * FROM cell_counts")
        ).collect()
    }
    assert set(got) == set(batch_rows)
    for k_, e in batch_rows.items():
        g = got[k_]
        assert (g["n_vectors"], g["share_ppm"], g["mean_d2_q6"]) == (
            e["n_vectors"], e["share_ppm"], e["mean_d2_q6"]
        )

    # the monitor agrees with the batch drift report on hour 1's slice
    report = {
        r["cluster_id"]: r
        for r in ivf_assignment_drift_report(hour1, coarse).collect()
    }
    h1 = min(ws for ws, _ in batch_rows)
    for cid in (0, 1):
        b = batch_rows[(h1, cid)]
        assert b["n_vectors"] == report[cid]["n_vectors"]
        assert b["share_ppm"] == report[cid]["share_ppm"]
        assert b["mean_d2_q6"] == report[cid]["mean_d2_q6"]

    # and it detects the drift: hour 2's error is far above hour 1's
    h2 = max(ws for ws, _ in batch_rows)
    for cid in (0, 1):
        assert batch_rows[(h2, cid)]["mean_d2_q6"] > 100 * max(
            1, batch_rows[(h1, cid)]["mean_d2_q6"]
        )

    # empty model refuses
    with pytest.raises(ValueError, match="empty coarse"):
        st.windowed_cell_counts(
            batch, coarse=coarse.filter("cluster_id < 0")
        )


def test_wasserstein_vs_baseline_hand_example(spark, tmpdir):
    """Windowed exact-integer W1 from the same bin partials as the KS
    hand example: the SUM of the |cum cross-products| where KS takes
    the max — window 10:00 gives [0,3,3,0] -> 6, window 11:00 the
    same bins -> 6; w1_q6 = 6e6 DIV (3*6)."""
    rows = [
        (1, datetime(2026, 5, 1, 10, 5), "view", 1.0),
        (2, datetime(2026, 5, 1, 10, 15), "view", 3.0),
        (3, datetime(2026, 5, 1, 10, 45), "view", 9.5),
        (4, datetime(2026, 5, 1, 11, 10), "view", 0.5),
        (5, datetime(2026, 5, 1, 11, 40), "view", 9.9),
        (6, datetime(2026, 5, 1, 11, 50), "view", 9.0),
    ]
    schema = "user_id long, ts timestamp, event_type string, value double"
    df = spark.createDataFrame(rows, schema)
    bounds = spark.createDataFrame([(0.0, 10.0)], "lo double, hi double")
    parts = st.windowed_value_bins(df, bounds=bounds, bins=4)
    baseline = parts.groupBy("bin").agg(F.sum("n").alias("n"))
    out = {
        r.window_start: r
        for r in st.wasserstein_vs_baseline(
            parts, baseline, bins=4
        ).collect()
    }
    w10, w11 = datetime(2026, 5, 1, 10), datetime(2026, 5, 1, 11)
    # w10: cum_w=[1,2,2,3], cum_b=[2,3,3,6]; |cw*6-cb*3| = [0,3,3,0]
    assert (out[w10].n_window, out[w10].n_baseline) == (3, 6)
    assert out[w10].w1_numerator == 6
    assert out[w10].w1_q6 == (6 * 1_000_000) // 18
    assert out[w11].w1_numerator == 6
