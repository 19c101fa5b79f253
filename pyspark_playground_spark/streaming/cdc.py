"""Structured Streaming extensions: streaming CDC ingestion + event windows.

The reference has no streaming (SURVEY.md §2.8) — incrementality is CDC
batches applied in sequence (cdc/test_datavault.py:479-846). This module is
the Spark-first extension the survey plans (§7 phase 6): a file/CDC stream
drives the *same* batch loaders through ``foreachBatch``, so batch and
streaming ingestion share one code path and produce identical vault state.

Scale notes (100 TB / continuous):
- ``foreachBatch`` gives exactly-once-per-micro-batch semantics on top of
  the loaders' idempotent anti-join appends — a replayed micro-batch
  re-derives the same rows and the anti-join drops them, so the pipeline is
  effectively idempotent end-to-end even with at-least-once sources.
- Watermarked windowed aggregations bound state; late rows beyond the
  watermark are dropped by the engine, matching the reference's stance that
  late data is handled by *data* (the load-date columns), not engine state.
- ``maxFilesPerTrigger`` bounds micro-batch size so a backlog replay cannot
  blow executor memory.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_playground_spark.operators.profiling import equal_width_bin


# ---------------------------------------------------------------------------
# streaming CDC ingestion
# ---------------------------------------------------------------------------

def read_cdc_file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    file_format: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """CDC envelope file stream (new files under ``path`` become batches)."""
    reader = spark.readStream.schema(schema).format(file_format)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def start_cdc_ingestion(
    stream: DataFrame,
    loader: Callable[[DataFrame, int], None],
    *,
    checkpoint_dir: str,
    available_now: bool = False,
    processing_time: str = "10 seconds",
    query_name: str = "cdc_ingestion",
):
    """Drive a batch loader from a stream via ``foreachBatch``.

    ``loader(batch_df, batch_id)`` is typically a closure over
    ``RawVault.load_hub/load_link/...`` or ``DeclarativeVault.load_batch`` —
    the exact functions the batch path uses. ``available_now=True`` drains
    the current backlog and stops (used by tests and backfills).
    """
    writer = (
        stream.writeStream.foreachBatch(loader)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def declarative_stream_loader(
    dv,
    table: str,
    *,
    load_ts_fn: Callable[[int], datetime] | None = None,
):
    """foreachBatch adapter: each micro-batch becomes one declarative-vault
    CDC batch for ``table``. Returns ``loader(batch_df, batch_id)``."""

    def loader(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ts = load_ts_fn(batch_id) if load_ts_fn else None
        dv.load_batch({table: batch_df}, load_ts=ts)
        # foreachBatch writes come from a cloned micro-batch session; refresh
        # so the next micro-batch's anti-joins (and the caller's session) see
        # the files just appended
        dv.vault.refresh_tables()

    return loader


# ---------------------------------------------------------------------------
# mergeable summaries and windowed monitors (batch or streaming frames)
# ---------------------------------------------------------------------------

def rollup_stream_loader(
    summary_table: str,
    ts_column: str,
    step: str,
    keys: Sequence[str],
    values: Sequence[str],
):
    """foreachBatch adapter maintaining a mergeable time-rollup summary
    (operators/rollup.py — the continuous-aggregate maintenance loop):
    each micro-batch rolls up batch-side (batch-sized work), merges with
    the current summary (summary-sized work — NOT event-history-sized),
    and overwrites the summary table. Because the partials are mergeable,
    the stored summary after any number of micro-batches equals the batch
    rollup over all events ever seen — pinned by
    ``test_streaming.py::test_rollup_stream_matches_batch``.

    At cluster scale: store the summary bucketed by ``(keys, bucket)`` so
    the merge shuffles partition-aligned, or swap the overwrite for a
    Delta MERGE on the same keys; the loader body is the only thing that
    changes. Returns ``loader(batch_df, batch_id)``.
    """
    from pyspark_playground_spark.operators import rollup as ru

    def loader(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        part = ru.time_rollup(batch_df, ts_column, step, keys, values)
        if spark.catalog.tableExists(summary_table):
            merged = ru.merge_rollups(spark.table(summary_table), part)
        else:
            merged = part
        # break lineage off the table we are about to overwrite
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").saveAsTable(summary_table)
        spark.catalog.refreshTable(summary_table)

    return loader


def windowed_value_bins(
    events: DataFrame,
    *,
    bounds: DataFrame,
    ts_column: str = "ts",
    value_column: str = "value",
    bins: int = 16,
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Per-time-window equal-width bin counts of a value column — the
    STREAMING-LEGAL half of a continuous drift monitor: one windowed
    aggregation (mergeable counts, bounded state under a watermark), no
    chained aggs, so it runs identically on a stream or its batch twin.
    Feed the materialized output to :func:`psi_vs_baseline` to finish.

    ``bounds`` is a ONE-ROW static frame ``(lo, hi)`` fixing the bin
    edges (drift monitoring needs a FIXED binning — a per-batch min/max
    would silently re-bin every window); it joins in as a broadcast
    stream-static cross join. Values outside [lo, hi] clamp into the
    edge bins. The bin expression is the SAME shared
    ``profiling.equal_width_bin`` the batch drift operators use
    (double-arithmetic ``floor((v−lo)·bins/(hi−lo))``, both edges
    clamped), so stream partials are comparable against batch baselines.

    Returns ``(window_start, window_end, bin, n)``.
    """
    df = events
    if watermark is not None:
        df = df.withWatermark(ts_column, watermark)
    binned = df.join(F.broadcast(bounds)).select(
        F.col(ts_column).alias("__ts"),
        equal_width_bin(
            F.col(value_column), F.col("lo"), F.col("hi"), bins, clamp_low=True
        ).alias("bin"),
    )
    return (
        binned.groupBy(
            F.window(F.col("__ts"), window_duration).alias("win"), "bin"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "bin",
            "n",
        )
    )


def _dense_window_bins(bin_counts: DataFrame, bins: int):
    """Shared spine of the four ``*_vs_baseline`` finishers: defensively
    RE-AGGREGATE the windowed partials — an update-mode sink or a
    reprocessed/appended batch can hold several rows per
    ``(window, bin)``, and a duplicate row would silently double-count in
    every downstream statistic — then densify onto the full fixed
    ``[0, bins)`` universe with zero-filled missing bins.

    The re-aggregated frame is persisted: it is bounded (windows × bins
    rows) and feeds several consumers per finisher. Pinned until LRU
    eviction or ``spark.catalog.clearCache()`` — fine for a monitor loop
    whose cached footprint is windows × bins rows per invocation.

    Returns ``(wins, obs)``: the distinct windows and the dense
    ``(window_start, window_end, bin, __n)`` observation frame.
    """
    agg = (
        bin_counts.groupBy("window_start", "window_end", "bin")
        .agg(F.sum("n").alias("n"))
        .persist()
    )
    wins = agg.select("window_start", "window_end").distinct()
    universe = wins.select(
        "window_start",
        "window_end",
        F.explode(F.sequence(F.lit(0), F.lit(bins - 1))).alias("bin"),
    )
    obs = universe.join(agg, ["window_start", "window_end", "bin"], "left").select(
        "window_start",
        "window_end",
        "bin",
        F.coalesce(F.col("n"), F.lit(0)).alias("__n"),
    )
    return wins, obs


def _dense_baseline_bins(
    baseline_bins: DataFrame, wins: DataFrame, bins: int
) -> DataFrame:
    """Baseline side of the shared spine: fold duplicate baseline rows
    (same defensive re-aggregation) and zero-fill the ``[0, bins)``
    universe. Returns the dense ``(bin, __bn)`` frame (``bins`` rows)."""
    base = baseline_bins.groupBy("bin").agg(F.sum("n").alias("__bn"))
    return (
        wins.select(
            F.explode(F.sequence(F.lit(0), F.lit(bins - 1))).alias("bin")
        )
        .distinct()
        .join(base, "bin", "left")
        .select("bin", F.coalesce(F.col("__bn"), F.lit(0)).alias("__bn"))
    )


def psi_vs_baseline(
    bin_counts: DataFrame,
    baseline_bins: DataFrame,
    *,
    bins: int,
    ln_decimals: int = 7,
) -> DataFrame:
    """Finish a continuous drift monitor: per-window PSI of the observed
    bin counts against a static baseline's bin counts — batch finishing
    over :func:`windowed_value_bins` partials (Structured Streaming
    forbids the chained aggregation, so the stream materializes counts
    and this runs on the sink table; the batch twin composes directly).

    Unlike ``profiling.drift_psi`` (Laplace over OBSERVED bins), the
    smoothing universe here is the FULL fixed ``[0, bins)`` range — a
    window missing a bin must still compare against the baseline's mass
    there, and a fixed universe keeps windows comparable to each other.
    Same cross-engine recipe: per-bin ln of an exact-integer ratio
    rounded to ``ln_decimals``, terms rounded and summed in exact
    DECIMAL. Everything after the partials is bounded by windows × bins.

    Returns ``(window_start, window_end, n_window, psi)``.
    """
    wins, obs = _dense_window_bins(bin_counts, bins)
    wtot = obs.groupBy("window_start", "window_end").agg(
        F.sum("__n").alias("__nw")
    )
    base_universe = _dense_baseline_bins(baseline_bins, wins, bins).persist()
    btot = base_universe.agg(F.sum("__bn").alias("__nb"))
    j = (
        obs.join(F.broadcast(wtot), ["window_start", "window_end"])
        .join(F.broadcast(base_universe), "bin")
        .crossJoin(F.broadcast(btot))
    )
    pa = (F.col("__n") + 1).cast("double") / (F.col("__nw") + bins).cast(
        "double"
    )
    pb = (F.col("__bn") + 1).cast("double") / (F.col("__nb") + bins).cast(
        "double"
    )
    # cross products in DECIMAL(38,0) — same int64-overflow guard as
    # ks_vs_baseline/cvm_vs_baseline: a baseline bin count times a window
    # total wraps past int64 (non-ANSI) or raises (ANSI) at the row
    # volumes this monitor targets; the final double cast is identical
    # for in-range values
    ratio = (
        (F.col("__n") + 1).cast("decimal(38,0)") * (F.col("__nb") + bins)
    ).cast("double") / (
        (F.col("__bn") + 1).cast("decimal(38,0)") * (F.col("__nw") + bins)
    ).cast("double")
    term = F.round(
        (pa - pb) * F.round(F.log(ratio), ln_decimals), 9
    ).cast("decimal(28,10)")
    return (
        j.groupBy("window_start", "window_end", "__nw")
        .agg(F.sum(term).alias("__psi"))
        .select(
            "window_start",
            "window_end",
            F.col("__nw").cast("long").alias("n_window"),
            F.col("__psi").cast("double").alias("psi"),
        )
    )


def ks_vs_baseline(
    bin_counts: DataFrame,
    baseline_bins: DataFrame,
    *,
    bins: int,
) -> DataFrame:
    """Per-window exact-integer Kolmogorov–Smirnov statistic of the
    observed bin counts against a static baseline — the same
    :func:`windowed_value_bins` partials that feed :func:`psi_vs_baseline`
    finish BOTH monitors (PSI = mass-weighted aggregate shift, KS = worst
    single CDF gap; operations teams typically alert on either).

    All integer arithmetic (profiling.drift_ks's recipe):
    ``D = max_bin |cum_w·n_base − cum_base·n_w| / (n_w·n_base)`` — the
    entry reports the numerator and the two counts so no float enters a
    comparison. The cumulative runs over the fixed ``[0, bins)`` universe
    per window (a window-partitioned bounded window function, ≤ bins rows
    per partition).

    Returns ``(window_start, window_end, n_window, n_baseline,
    ks_numerator)``.
    """
    wins, obs = _dense_window_bins(bin_counts, bins)
    base = _dense_baseline_bins(baseline_bins, wins, bins)
    j = obs.join(F.broadcast(base), "bin").select(
        "window_start", "window_end", "bin", "__n", "__bn"
    )
    w = (
        Window.partitionBy("window_start", "window_end")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = j.select(
        "window_start",
        "window_end",
        F.sum("__n").over(w).alias("__cw"),
        F.sum("__bn").over(w).alias("__cb"),
    )
    totals = c.groupBy("window_start", "window_end").agg(
        F.max("__cw").alias("__nw"), F.max("__cb").alias("__nb")
    )
    return (
        c.join(F.broadcast(totals), ["window_start", "window_end"])
        .groupBy("window_start", "window_end", "__nw", "__nb")
        .agg(
            # DECIMAL(38,0) cross products — profiling.drift_ks's int64
            # guard; the final long cast fails loudly past int64 range
            F.max(
                F.abs(
                    F.col("__cw").cast("decimal(38,0)") * F.col("__nb")
                    - F.col("__cb").cast("decimal(38,0)") * F.col("__nw")
                )
            )
            .cast("long")
            .alias("ks_numerator")
        )
        .select(
            "window_start",
            "window_end",
            F.col("__nw").cast("long").alias("n_window"),
            F.col("__nb").cast("long").alias("n_baseline"),
            "ks_numerator",
        )
    )


def wasserstein_vs_baseline(
    bin_counts: DataFrame,
    baseline_bins: DataFrame,
    *,
    bins: int,
) -> DataFrame:
    """Per-window exact-integer Wasserstein-1 distance of the observed
    bin counts against a static baseline — the fourth finisher over the
    SAME :func:`windowed_value_bins` partials (PSI = mass-weighted
    shift, KS = worst CDF gap, CvM = integrated squared gap, W₁ =
    integrated ABSOLUTE gap, i.e. how far the mass moved in bin-width
    units — the batch :func:`~pyspark_playground_spark.operators.
    profiling.drift_wasserstein1` made windowed).

    All integer arithmetic: over the fixed equal-width ``[0, bins)``
    universe the gaps are unit, so ``W₁·n_w·n_b = Σ_bin |cum_w·n_b −
    cum_b·n_w|`` exactly (the final bin's term is identically 0). The
    numerator is summed in DECIMAL(38,0) (drift_ks's int64 guard) and
    reported float-free beside ``w1_q6 = (Σ·1e6) DIV (n_w·n_b)`` in
    bin units; like drift_ks, the numerator's final long cast fails
    loudly past int64 (``n_w·n_b·bins`` ≳ 9e18 — a ~1e9-row window
    against a ~1e9-row baseline) instead of silently wrapping, and
    w1_q6 stays in range. Folds duplicate partials like every
    finisher.

    Returns ``(window_start, window_end, n_window, n_baseline,
    w1_numerator, w1_q6)``.
    """
    wins, obs = _dense_window_bins(bin_counts, bins)
    base = _dense_baseline_bins(baseline_bins, wins, bins)
    j = obs.join(F.broadcast(base), "bin").select(
        "window_start", "window_end", "bin", "__n", "__bn"
    )
    w = (
        Window.partitionBy("window_start", "window_end")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = j.select(
        "window_start",
        "window_end",
        F.sum("__n").over(w).alias("__cw"),
        F.sum("__bn").over(w).alias("__cb"),
    )
    totals = c.groupBy("window_start", "window_end").agg(
        F.max("__cw").alias("__nw"), F.max("__cb").alias("__nb")
    )
    return (
        c.join(F.broadcast(totals), ["window_start", "window_end"])
        .groupBy("window_start", "window_end", "__nw", "__nb")
        .agg(
            F.sum(
                F.abs(
                    F.col("__cw").cast("decimal(38,0)") * F.col("__nb")
                    - F.col("__cb").cast("decimal(38,0)") * F.col("__nw")
                )
            ).alias("__num")
        )
        .select(
            "window_start",
            "window_end",
            F.col("__nw").cast("long").alias("n_window"),
            F.col("__nb").cast("long").alias("n_baseline"),
            F.col("__num").cast("long").alias("w1_numerator"),
            F.when(
                (F.col("__nw") > 0) & (F.col("__nb") > 0),
                F.expr(
                    "(__num * 1000000) DIV"
                    " (CAST(__nw AS DECIMAL(38,0)) * __nb)"
                ),
            )
            .cast("long")
            .alias("w1_q6"),
        )
    )


def cvm_vs_baseline(
    bin_counts: DataFrame,
    baseline_bins: DataFrame,
    *,
    bins: int,
) -> DataFrame:
    """Per-window Cramér–von Mises statistic vs a static baseline — the
    third finish over the same :func:`windowed_value_bins` partials (KS =
    worst CDF gap, PSI = smoothed mass shift, CvM = mass-weighted sum of
    squared CDF gaps; the most sensitive of the three to many small
    shifts). ALL integer arithmetic, like :func:`ks_vs_baseline`:

    ``numerator = Σ_bin m·(cw·n_b − cb·n_w)²`` (``m`` = pooled bin mass)

    and ``Σ m·gap² = numerator/(n_w·n_b)²`` for callers. No float is
    produced anywhere — ``drift_cvm``'s rounded-term recipe was measured
    to diverge at the last ulp between engines once per-term magnitudes
    pass ~15 significant digits (Spark rounds doubles via BigDecimal,
    DuckDB via multiply/divide), so the monitor carries the numerator as
    an exact DECIMAL(38,0) rendered to string. Fits DECIMAL(38) while
    ``m·(n_w·n_b)² < 10³⁸`` — far beyond any real window size.

    Returns ``(window_start, window_end, n_window, n_baseline,
    cvm_numerator_s)``.
    """
    wins, obs = _dense_window_bins(bin_counts, bins)
    base = _dense_baseline_bins(baseline_bins, wins, bins)
    j = obs.join(F.broadcast(base), "bin").select(
        "window_start", "window_end", "bin", "__n", "__bn"
    )
    w = (
        Window.partitionBy("window_start", "window_end")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = j.select(
        "window_start",
        "window_end",
        (F.col("__n") + F.col("__bn")).alias("__m"),
        F.sum("__n").over(w).alias("__cw"),
        F.sum("__bn").over(w).alias("__cb"),
    )
    totals = c.groupBy("window_start", "window_end").agg(
        F.max("__cw").alias("__nw"), F.max("__cb").alias("__nb")
    )
    d = (
        F.col("__cw").cast("decimal(38,0)") * F.col("__nb")
        - F.col("__cb").cast("decimal(38,0)") * F.col("__nw")
    )
    term = F.col("__m").cast("decimal(38,0)") * d * d
    return (
        c.join(F.broadcast(totals), ["window_start", "window_end"])
        .groupBy("window_start", "window_end", "__nw", "__nb")
        .agg(F.sum(term).alias("__s"))
        .select(
            "window_start",
            "window_end",
            F.col("__nw").cast("long").alias("n_window"),
            F.col("__nb").cast("long").alias("n_baseline"),
            F.col("__s").cast("decimal(38,0)").cast("string").alias(
                "cvm_numerator_s"
            ),
        )
    )


def jsd_vs_baseline(
    bin_counts: DataFrame,
    baseline_bins: DataFrame,
    *,
    bins: int,
    ln_decimals: int = 7,
    term_decimals: int = 9,
) -> DataFrame:
    """Per-window Jensen-Shannon divergence vs a static baseline — the
    fourth finish over the same :func:`windowed_value_bins` partials.
    Where PSI needs Laplace smoothing to survive empty bins (and the
    smoothing constant changes the number), JSD handles zero mass
    NATIVELY — an empty observed bin contributes only the baseline-side
    term ``q·ln 2`` and vice versa — and is symmetric and bounded in
    ``[0, ln 2]``, so window scores are comparable without tuning.

    Per (window, bin): ``p/m = 2·c_w·n_b / (c_w·n_b + c_b·n_w)`` built
    from exact integer counts (one double cast per factor, fixed op
    order). Quantization uses :func:`profiling.js_divergence_matrix`'s
    IEEE-primitive recipe — ``floor(x·10^d + 0.5)`` BIGINT terms (never
    ``round(double, d)``, whose semantics differ between Spark and
    DuckDB), summed exactly, ONE double division at the end.

    Everything after the partials is bounded by windows × bins.
    Returns ``(window_start, window_end, n_window, jsd_nats)``.
    """
    wins, obs = _dense_window_bins(bin_counts, bins)
    wtot = obs.groupBy("window_start", "window_end").agg(
        F.sum("__n").alias("__nw")
    )
    base_universe = _dense_baseline_bins(baseline_bins, wins, bins)
    btot = base_universe.agg(F.sum("__bn").alias("__nb"))
    j = (
        obs.join(F.broadcast(wtot), ["window_start", "window_end"])
        .join(F.broadcast(base_universe), "bin")
        .crossJoin(F.broadcast(btot))
    )
    ca_d, cb_d = F.col("__n").cast("double"), F.col("__bn").cast("double")
    na_d, nb_d = F.col("__nw").cast("double"), F.col("__nb").cast("double")
    ln_scale = F.lit(float(10**ln_decimals))
    term_scale = F.lit(float(10**term_decimals))

    def quant_ln(x):
        return F.floor(F.log(x) * ln_scale + F.lit(0.5)) / ln_scale

    def quant_term(x):
        return F.floor(x * term_scale + F.lit(0.5)).cast("long")

    denom = ca_d * nb_d + cb_d * na_d
    term_a = F.when(
        F.col("__n") > 0,
        quant_term((ca_d / na_d) * quant_ln(F.lit(2.0) * ca_d * nb_d / denom)),
    ).otherwise(F.lit(0))
    term_b = F.when(
        F.col("__bn") > 0,
        quant_term((cb_d / nb_d) * quant_ln(F.lit(2.0) * cb_d * na_d / denom)),
    ).otherwise(F.lit(0))
    return (
        j.groupBy("window_start", "window_end", "__nw")
        .agg(F.sum(term_a + term_b).alias("__s"))
        .select(
            "window_start",
            "window_end",
            F.col("__nw").cast("long").alias("n_window"),
            (F.col("__s").cast("double") / (F.lit(2.0) * term_scale)).alias(
                "jsd_nats"
            ),
        )
    )


def windowed_label_bins(
    events: DataFrame,
    *,
    bounds: DataFrame,
    label_column,
    ts_column: str = "ts",
    value_column: str = "value",
    bins: int = 16,
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """:func:`windowed_value_bins` with the counts SPLIT BY a boolean
    label — the streaming-legal half of a discrimination monitor (does
    the score still separate the classes this hour?). One windowed
    aggregation, mergeable counts, state bounded at windows × ``bins``
    under a watermark; finish with :func:`auc_vs_bins` on the sink
    table. Same shared ``profiling.equal_width_bin`` expression and
    fixed ``bounds`` contract as the drift partials. Rows with a NULL
    label or value are excluded (neither class).

    Returns ``(window_start, window_end, bin, n_pos, n_neg)``.
    """
    y = (
        F.col(label_column)
        if isinstance(label_column, str)
        else label_column
    )
    df = events
    if watermark is not None:
        df = df.withWatermark(ts_column, watermark)
    binned = (
        df.withColumn("__y", y.cast("boolean"))
        .filter(
            F.col("__y").isNotNull() & F.col(value_column).isNotNull()
        )
        .join(F.broadcast(bounds))
        .select(
            F.col(ts_column).alias("__ts"),
            equal_width_bin(
                F.col(value_column),
                F.col("lo"),
                F.col("hi"),
                bins,
                clamp_low=True,
            ).alias("bin"),
            "__y",
        )
    )
    return (
        binned.groupBy(
            F.window(F.col("__ts"), window_duration).alias("win"), "bin"
        )
        .agg(
            F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("n_pos"),
            F.sum(F.when(F.col("__y"), 0).otherwise(1)).alias("n_neg"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "bin",
            "n_pos",
            "n_neg",
        )
    )


def auc_vs_bins(label_bins: DataFrame) -> DataFrame:
    """Finish the discrimination monitor: per-window exact tie-corrected
    AUC of the BIN-QUANTIZED score from :func:`windowed_label_bins`
    partials — the monitor-family sibling of :func:`psi_vs_baseline` /
    :func:`ks_vs_baseline` (those watch the score's distribution, this
    watches whether it still RANKS the positive class). The binned AUC
    is the AUC of the quantized classifier: deterministic,
    state-bounded, and converging to the raw-score AUC as bins grow —
    the streaming-budget tradeoff, stated rather than hidden.

    Same integer 2U formulation as ``profiling.grouped_auc`` with the
    bin index as the score: the cumulative negatives-below window
    partitions per time window and is bounded at ``bins`` rows; empty
    bins contribute nothing, so no universe spine is needed. Windows
    missing a class return NULL.

    Returns ``(window_start, window_end, auc, n_pos, n_neg)``.
    """
    # defensive re-aggregation, same reason as _dense_window_bins: a
    # duplicate (window, bin) partial row would land the first copy's
    # negatives inside the second copy's cumulative-below count and break
    # the tie-corrected 2U sum
    label_bins = label_bins.groupBy("window_start", "window_end", "bin").agg(
        F.sum("n_pos").alias("n_pos"), F.sum("n_neg").alias("n_neg")
    )
    w = Window.partitionBy("window_start", "window_end").orderBy(
        "bin"
    ).rowsBetween(Window.unboundedPreceding, -1)
    c = label_bins.withColumn(
        "__cb", F.coalesce(F.sum("n_neg").over(w), F.lit(0))
    )
    np_d = F.col("n_pos").cast("decimal(20,0)")
    cell = (
        F.lit(2).cast("decimal(20,0)")
        * np_d
        * F.col("__cb").cast("decimal(20,0)")
        + np_d * F.col("n_neg").cast("decimal(20,0)")
    )
    agg = c.groupBy("window_start", "window_end").agg(
        F.sum(cell).alias("__u2"),
        F.sum("n_pos").alias("__npos"),
        F.sum("n_neg").alias("__nneg"),
    )
    denom = (
        F.lit(2).cast("decimal(20,0)")
        * F.col("__npos").cast("decimal(20,0)")
        * F.col("__nneg").cast("decimal(20,0)")
    )
    return agg.select(
        "window_start",
        "window_end",
        F.when(
            (F.col("__npos") > 0) & (F.col("__nneg") > 0),
            F.col("__u2").cast("double") / denom.cast("double"),
        ).alias("auc"),
        F.col("__npos").cast("long").alias("n_pos"),
        F.col("__nneg").cast("long").alias("n_neg"),
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str | Sequence[str],
    left_ts: str,
    right_ts: str,
    lower: str = "0 seconds",
    upper: str,
    watermark: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream INTERVAL join: join on equality keys plus the
    time-range condition ``right_ts ∈ [left_ts + lower, left_ts + upper]``
    — the attribution / conversion-matching primitive (impressions ⋈
    clicks within N minutes, views ⋈ purchases within an hour).

    ``how`` may be ``"inner"`` (default) or ``"left_outer"`` — the outer
    flavor keeps unmatched left rows with NULL right columns (views that
    never converted). Streaming outer semantics: an unmatched left row is
    emitted only once the RIGHT watermark has passed its reach (the
    engine must prove no future match can arrive), so tail rows of a
    bounded run stay buffered unless a later event advances the
    watermark — the test pins this with a sentinel flush event.

    Streaming-legal by construction: with ``watermark`` set, BOTH sides
    are watermarked on their event-time columns, and the two-sided range
    condition is exactly what Structured Streaming requires to bound
    stream-stream join state — each side's buffered rows expire once the
    other side's watermark passes their reach, so state is
    O(key cardinality x window span x arrival rate), never unbounded.
    The identical plan runs on static frames (the batch twin the oracle
    verifies; test_interval_join_stream_equals_batch pins
    stream == batch).

    At 100 TB the equi-key part shuffles both sides on the join keys
    (state is partitioned by key); there is no broadcast and no
    cartesian — Spark plans this as a streaming symmetric hash join keyed
    on ``on`` with the range predicate as a post-filter plus state
    watermark eviction.

    The two inputs must have disjoint column names apart from the join
    keys (rename upstream); the output carries the left columns plus the
    right side's non-key columns.
    """
    keys = [on] if isinstance(on, str) else list(on)
    lf, rf = left, right
    # rename the right-side keys BEFORE the join: when both sides derive
    # from the same scan (a self-join, e.g. two event-type slices of one
    # table), dataframe-qualified references like rf[k] can resolve to the
    # LEFT side after plan dedup — silently keeping the nullable right key
    # in an outer join. Unique names make every reference and the final
    # drop unambiguous.
    for k in keys:
        rf = rf.withColumnRenamed(k, f"__r_{k}")
    if watermark is not None:
        lf = lf.withWatermark(left_ts, watermark)
        rf = rf.withWatermark(right_ts, watermark)
    cond = None
    for k in keys:
        c = lf[k] == rf[f"__r_{k}"]
        cond = c if cond is None else cond & c
    lo = F.expr(f"INTERVAL {lower}")
    hi = F.expr(f"INTERVAL {upper}")
    cond = (
        cond
        & (rf[right_ts] >= lf[left_ts] + lo)
        & (rf[right_ts] <= lf[left_ts] + hi)
    )
    out = lf.join(rf, cond, how)
    return out.drop(*[f"__r_{k}" for k in keys])


def windowed_type_counts(
    events: DataFrame,
    *,
    ts_column: str = "ts",
    type_column: str = "event_type",
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Per-time-window category counts — the streaming-legal half of the
    windowed heavy-hitters monitor ("which event types dominate each
    hour"). One windowed aggregation of mergeable counts (bounded state
    under a watermark: windows × observed types), no chained aggs, so it
    runs identically on a stream or its batch twin — the same
    partials-then-finish split as :func:`windowed_value_bins`.

    Returns ``(window_start, window_end, <type_column>, n)``.
    """
    df = events
    if watermark is not None:
        df = df.withWatermark(ts_column, watermark)
    return (
        df.groupBy(
            F.window(F.col(ts_column), window_duration).alias("win"),
            F.col(type_column),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            type_column,
            "n",
        )
    )


def top_k_per_window(
    type_counts: DataFrame,
    *,
    k: int = 3,
    type_column: str = "event_type",
) -> DataFrame:
    """Finish the windowed heavy-hitters monitor: exact top-``k``
    categories per window by count (ties broken by category name, so
    the cut is deterministic), over :func:`windowed_type_counts`
    partials — batch finishing on the materialized sink table, exactly
    like ``psi_vs_baseline`` (Structured Streaming forbids the chained
    rank aggregation stream-side).

    The rank window is PARTITIONED BY window — its frame is bounded by
    the per-window observed-category cardinality, never data-sized.
    Adds ``rk`` (1-based) and keeps rows with ``rk <= k``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.desc("n"), F.asc(type_column)
    )
    return (
        type_counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def isotonic_vs_bins(label_bins: DataFrame) -> DataFrame:
    """Finish the calibration monitor: per-window isotonic calibration
    curve from :func:`windowed_label_bins` partials — the monitor
    family's sixth finish (drift watches the distribution, AUC watches
    the ranking; this watches — and REPAIRS — the score's probability
    calibration per window, via ``profiling.isotonic_calibration``'s
    Barlow minimax closed form partitioned by window).

    Every frame after the partials is bounded per window: a ≤ bins-row
    prefix window (partitioned by the time window), a ≤ bins²-row
    segment enumeration and a ≤ bins³-row minimax join — model-sized
    per window, streaming-legal (partials are additive counts; this
    finish runs on the sink table at read time, like the PSI/KS/JSD/AUC
    finishes).

    Output per (window, occupied bin): (window_start, window_end, bin,
    n, n_pos, pos_rate, fitted) with ``fitted`` monotone in ``bin``
    within each window.
    """
    from pyspark_playground_spark.operators.dedup import _materialize

    base = _materialize(
        label_bins.select(
            "window_start",
            "window_end",
            "bin",
            (F.col("n_pos") + F.col("n_neg")).alias("n"),
            "n_pos",
        )
    )
    wk = ["window_start", "window_end"]
    w = Window.partitionBy(*wk).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pre = base.select(
        *wk,
        "bin",
        "n",
        "n_pos",
        F.sum("n").over(w).alias("__cn"),
        F.sum("n_pos").over(w).alias("__cp"),
    )
    k_side = pre.select(
        *wk,
        F.col("bin").alias("__k"),
        F.col("__cn").alias("__cnk"),
        F.col("__cp").alias("__cpk"),
    )
    j_side = pre.select(
        *wk,
        F.col("bin").alias("__j"),
        (F.col("__cn") - F.col("n")).alias("__cnb"),
        (F.col("__cp") - F.col("n_pos")).alias("__cpb"),
    )
    segs = k_side.join(j_side, wk).filter(F.col("__j") <= F.col("__k")).select(
        *wk,
        "__j",
        "__k",
        (
            (F.col("__cpk") - F.col("__cpb")).cast("double")
            / (F.col("__cnk") - F.col("__cnb")).cast("double")
        ).alias("__rate"),
    )
    i_side = pre.select(*wk, F.col("bin").alias("__i"))
    inner = (
        i_side.join(segs, wk)
        .filter((F.col("__j") <= F.col("__i")) & (F.col("__k") >= F.col("__i")))
        .groupBy(*wk, "__i", "__j")
        .agg(F.min("__rate").alias("__mn"))
    )
    fitted = inner.groupBy(*wk, "__i").agg(
        F.max("__mn").alias("fitted")
    ).withColumnRenamed("__i", "bin")
    return pre.join(fitted, [*wk, "bin"]).select(
        *wk,
        "bin",
        "n",
        "n_pos",
        (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
            "pos_rate"
        ),
        "fitted",
    )


def windowed_cell_counts(
    vectors: DataFrame,
    *,
    coarse: DataFrame,
    ts_column: str = "ts",
    vector_column: str = "embedding",
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Streaming-legal partials of the vector-index assignment-drift
    monitor (beside PSI/KS/CvM/JSD/AUC/isotonic): per (window, cell) counts plus the summed quantized
    distance-to-assigned-centroid of an embedding stream against a
    FROZEN coarse model — `similarity.ivf_assignment_drift_report`'s
    streaming twin, watching the index go stale window by window
    instead of batch by batch.

    ``coarse`` is the STATIC model frame ``(cluster_id, cvec)``
    (:func:`~pyspark_playground_spark.operators.similarity.ivf_coarse_train`
    or ``ivf_pq_train``'s first half, read back from storage). It is
    collected driver-side (model-sized) and compiled into ONE literal
    fold per row — assignment + distance in the same stateless
    projection — so the only stateful operator is one windowed
    aggregation of mergeable sums (count + BIGINT sum), bounded under a
    watermark. Re-training per window would re-key the cells; the model
    must be frozen for windows to be comparable (the
    ``windowed_value_bins`` static-bounds argument).

    Returns ``(window_start, window_end, cluster_id, n, sum_d2_q6)``;
    finish with :func:`cell_drift_vs_model`.
    """
    from pyspark_playground_spark.operators.similarity import (
        _argmin_literal_struct,
        _as_double,
    )

    rows = coarse.select("cluster_id", "cvec").collect()
    if not rows:
        raise ValueError("windowed_cell_counts: empty coarse model")
    cents = sorted((int(r["cluster_id"]), list(r["cvec"])) for r in rows)
    df = vectors
    if watermark is not None:
        df = df.withWatermark(ts_column, watermark)
    xv = _as_double(F.col(vector_column))
    assigned = df.select(
        F.col(ts_column).alias("__ts"),
        _argmin_literal_struct(xv, cents).alias("__a"),
    ).select(
        "__ts",
        F.col("__a.cid").alias("cluster_id"),
        F.floor(F.col("__a.d") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("__d2q6"),
    )
    return (
        assigned.groupBy(
            F.window(F.col("__ts"), window_duration).alias("win"),
            "cluster_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__d2q6").alias("sum_d2_q6"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "cluster_id",
            "n",
            "sum_d2_q6",
        )
    )


def cell_drift_vs_model(counts: DataFrame) -> DataFrame:
    """Finish :func:`windowed_cell_counts` partials: defensively
    re-aggregate (update-mode sinks and reprocessed batches can hold
    several rows per (window, cell)), then per-window occupancy shares
    and mean distance-to-assigned-centroid — the exact per-window shape
    of ``similarity.ivf_assignment_drift_report`` minus the empty-cell
    spine (a stream only ever observes occupied cells; compare
    consecutive windows to see cells vanish). Everything after the
    partials is bounded by windows × cells.

    Returns ``(window_start, window_end, cluster_id, n_vectors,
    share_ppm, mean_d2_q6)``.
    """
    agg = counts.groupBy("window_start", "window_end", "cluster_id").agg(
        F.sum("n").cast("long").alias("n_vectors"),
        F.sum("sum_d2_q6").cast("long").alias("__sd"),
    )
    # per-window total via a PARTITIONED window over the (windows ×
    # cells)-bounded aggregate — no self-join (conflicting-attribute
    # trap on memory-sink frames), no unpartitioned state
    tot = F.sum("n_vectors").over(
        Window.partitionBy("window_start", "window_end")
    )
    return (
        agg.withColumn("__tot", tot)
        .select(
            "window_start",
            "window_end",
            "cluster_id",
            "n_vectors",
            F.expr("(n_vectors * 1000000L) DIV __tot").alias("share_ppm"),
            F.floor(
                F.col("__sd").cast("double")
                / F.col("n_vectors").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("mean_d2_q6"),
        )
    )
