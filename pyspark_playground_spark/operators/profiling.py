"""Dataset profiling: column statistics and histograms.

Beyond-reference surface: the "ANALYZE"-shaped operators a pipeline runs
before trusting a new 100 TB drop — null rates, cardinalities, ranges,
value distributions. Everything is exact (no sampling) and single-pass
where the aggregate allows.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def column_profile(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """One row per profiled column: row count, non-null count, exact
    distinct count, and min/max rendered as strings (so heterogeneous
    column types share one long-format schema).

    All columns are profiled in ONE aggregation pass over the data;
    Spark expands the multiple exact ``count(DISTINCT)``s internally
    (one expand + shuffle), which beats a per-column job by the number
    of columns. For quick looks at petabyte inputs swap
    ``approx_count_distinct`` in — kept exact here because profiles
    feed assertions, not dashboards.
    """
    cols = list(columns or df.columns)
    aggs: list = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    wide = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("__rows").alias("n_rows"),
                F.col(f"__nn_{c}").alias("n_non_null"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__mn_{c}").alias("min_s"),
                F.col(f"__mx_{c}").alias("max_s"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(per_col).alias("p")).select("p.*")


def equi_width_histogram(
    df: DataFrame, column: str, buckets: int = 20
) -> DataFrame:
    """Exact equi-width histogram: ``(bucket, n)`` for buckets 0..buckets-1
    spanning [min, max].

    For integral columns the bucket index is pure integer arithmetic —
    ``(x - min) * buckets DIV (max - min + 1)`` — so results are
    bit-identical on any engine (float-width bucketing misassigns
    boundary values by one ulp). Floating-point columns fall back to
    double width with a top-edge clamp.

    Bounds ride a broadcast one-row cross join; one full pass + one
    shuffle on the bucket id. Empty buckets are emitted with n=0 via a
    spine so the output always has exactly ``buckets`` rows.
    """
    dtype = dict(zip(df.schema.names, [f.dataType for f in df.schema.fields]))[column]
    bounds = df.agg(
        F.min(column).alias("__mn"), F.max(column).alias("__mx")
    )
    x, mn, mx = F.col(column), F.col("__mn"), F.col("__mx")
    if isinstance(dtype, _INTEGRAL):
        bucket = F.floor(((x - mn) * buckets) / (mx - mn + 1))
    else:
        bucket = F.least(
            F.floor((x - mn) / ((mx - mn) / F.lit(float(buckets)))),
            F.lit(buckets - 1),
        )
    counts = (
        df.where(x.isNotNull())
        .crossJoin(F.broadcast(bounds))
        .groupBy(bucket.cast("int").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = df.sparkSession.range(buckets).select(F.col("id").cast("int").alias("bucket"))
    return (
        spine.join(counts, "bucket", "left")
        .select("bucket", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
    )


def approx_profile_check(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    *,
    rsd: float = 0.05,
    tolerance_sigmas: float = 3.0,
) -> DataFrame:
    """Exact profile PLUS a per-column assertion that the HLL sketch's
    estimate lands within ``tolerance_sigmas·rsd`` of the exact distinct
    count — computed in the SAME aggregation pass.

    The sketch value itself cannot be oracle-checked across engines
    (HLL++ internals are engine-specific), but this *bound* can: the
    output carries the exact stats and a ``within_bound`` boolean, so a
    cross-engine oracle that emits the exact stats with ``TRUE`` matches
    iff Spark's estimate really is inside the advertised error envelope.

    Output: ``(column_name, n_rows, n_non_null, n_distinct,
    within_bound)``.
    """
    cols = list(columns or df.columns)
    aggs: list = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"__nd_{c}"),
            F.approx_count_distinct(F.col(c), rsd=rsd).alias(f"__ad_{c}"),
        ]
    wide = df.agg(*aggs)
    tol = F.lit(float(tolerance_sigmas) * rsd)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("__rows").alias("n_rows"),
                F.col(f"__nn_{c}").alias("n_non_null"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                (
                    F.abs(
                        F.col(f"__ad_{c}").cast("double")
                        - F.col(f"__nd_{c}").cast("double")
                    )
                    <= tol * F.col(f"__nd_{c}").cast("double")
                ).alias("within_bound"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(per_col).alias("p")).select("p.*")


def approx_distinct_merge_check(
    df: DataFrame,
    column: str,
    bucket_column: str,
    *,
    lg_k: int = 12,
    rel_bound: float = 0.05,
) -> DataFrame:
    """Mergeable approximate-distinct (DataSketches HLL) with two
    checkable invariants — the continuous-aggregate story for COUNT
    DISTINCT, which exact partials cannot provide (distinct is not
    summable; sketches are).

    Builds one HLL sketch per bucket, unions them, and checks the error
    envelope on BOTH read paths:

    - ``direct_within_bound``: |estimate(one-pass sketch) − exact| ≤
      ``rel_bound``·exact (3·rsd for the default lg_k=12 is ≈4.9%);
    - ``merged_within_bound``: the same bound for the estimate of the
      per-bucket-sketch union.

    Note the union estimate is NOT guaranteed bit-equal to the one-pass
    estimate: DataSketches HLL sketches stay in an exact sparse mode
    until ~k/4 distincts and promote to the lossy register array on
    union/overflow, so a merged estimate can differ from a single-pass
    sketch that never promoted. The mergeability contract sketches
    actually provide — and what this operator checks — is that BOTH paths
    stay inside the advertised envelope, which is what licenses per-
    partition/per-day sketches merged on read.

    Output: one row (n_exact, direct_within_bound, merged_within_bound) —
    the estimates themselves are engine-specific and deliberately
    excluded so the row stays oracle-comparable.
    """
    sk = f"hll_sketch_agg({column}, {lg_k})"
    per_bucket = df.groupBy(bucket_column).agg(F.expr(sk).alias("__sk"))
    merged = per_bucket.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(__sk))").alias("__est_m")
    )
    direct = df.agg(
        F.expr(f"hll_sketch_estimate({sk})").alias("__est_d"),
        F.countDistinct(F.col(column)).alias("n_exact"),
    )
    bound = F.lit(rel_bound) * F.col("n_exact")
    return (
        direct.crossJoin(F.broadcast(merged))
        .select(
            "n_exact",
            (F.abs(F.col("__est_d") - F.col("n_exact")) <= bound).alias(
                "direct_within_bound"
            ),
            (F.abs(F.col("__est_m") - F.col("n_exact")) <= bound).alias(
                "merged_within_bound"
            ),
        )
    )


def heavy_hitters(
    df: DataFrame,
    column: str,
    *,
    k: int = 10,
) -> DataFrame:
    """EXACT frequent-items (all values with count > N/k) via the two-pass
    candidate/verify pattern that scales where a full groupBy-count on a
    high-cardinality column would not:

    1. **Candidates** — per-partition Misra-Gries summaries (Arrow
       ``mapInPandas``, O(k) memory per partition regardless of
       cardinality). The MG guarantee transfers across partitions by an
       averaging argument: any value with global count > N/k has
       count > N_p/k in at least one partition, and MG(k) retains every
       value with partition count > N_p/(k+1) — so the candidate union is
       a SUPERSET of the true heavy hitters, at most k·partitions rows.
    2. **Verify** — one exact filtered recount over the broadcast
       candidate set; false candidates die here, so the final answer is
       exact — the summary's approximation never reaches the output.

    Output: (value, n_occurrences, total_rows) for values with
    ``n_occurrences * k > total_rows``, value rendered as string.
    """
    import pandas as pd  # noqa: F401 (arrow batch type)

    out_schema = T.StructType([T.StructField("candidate", T.StringType())])

    def mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for v in pdf["__v"]:
                if v is None:
                    continue
                if v in counters:
                    counters[v] += 1
                elif len(counters) < k:
                    counters[v] = 1
                else:
                    for key in list(counters):
                        counters[key] -= 1
                        if counters[key] == 0:
                            del counters[key]
        import pandas as pd

        yield pd.DataFrame({"candidate": list(counters.keys())})

    vals = df.select(F.col(column).cast("string").alias("__v"))
    candidates = (
        vals.mapInPandas(mg_partition, schema=out_schema)
        .distinct()
    )
    totals = vals.agg(F.count(F.lit(1)).alias("total_rows"))
    counts = (
        vals.join(
            F.broadcast(candidates), F.col("__v") == F.col("candidate")
        )
        .groupBy(F.col("__v").alias("value"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .filter(F.col("n_occurrences") * F.lit(k) > F.col("total_rows"))
        .select("value", "n_occurrences", "total_rows")
    )


def group_entropy(
    df: DataFrame,
    *,
    group_column: str,
    category_column: str,
    logp_decimals: int = 7,
) -> DataFrame:
    """Shannon entropy (nats) of ``category_column``'s distribution within
    each group — the behavioral-diversity profile (a user who only ever
    'view's scores 0; uniform use of k event types scores ln k). Useful as
    a bot/spam signal in corpus curation and as a stratification feature.

    Uses the identity ``H = ln(n) - (Σ n_t·ln(n_t)) / n`` so the only
    float work is one ``ln`` per (group, category); each term is rounded
    to ``logp_decimals`` and summed in exact DECIMAL — order-independent,
    cross-engine stable (render the final double, don't compare raw).

    Shuffle census: one groupBy on (group, category), one on group — both
    with map-side partial aggregation. No broadcast, no driver collect.
    """
    counts = (
        df.groupBy(group_column, category_column)
        .agg(F.count(F.lit(1)).alias("__nt"))
    )
    per_group = counts.groupBy(group_column).agg(
        F.sum("__nt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_categories"),
        F.sum(
            F.round(
                F.col("__nt").cast("double") * F.log(F.col("__nt").cast("double")),
                logp_decimals,
            ).cast("decimal(28,9)")
        ).alias("__s"),
    )
    return per_group.select(
        group_column,
        "n_rows",
        "n_categories",
        (
            F.log(F.col("n_rows").cast("double"))
            - F.col("__s").cast("double") / F.col("n_rows")
        ).alias("entropy_nats"),
    )


def equal_width_bin(
    value: Column, lo: Column, hi: Column, bins: int, *, clamp_low: bool = False
) -> Column:
    """THE deterministic equal-width bin expression — the single shared
    copy behind :func:`drift_ks` / :func:`drift_psi` / :func:`drift_cvm` /
    :func:`drift_ks_by_group` and ``streaming.windowed_value_bins`` (their
    cross-engine oracles all mirror it verbatim, so they must bin
    identically): ``floor((v−lo)·bins/(hi−lo))`` with the top edge clamped
    to ``bins−1`` and a degenerate ``hi == lo`` domain collapsing to bin 0.
    ``clamp_low`` additionally clamps below-range values into bin 0 — for
    streaming monitors whose FIXED ``[lo, hi]`` can be exceeded by live
    values (batch callers derive lo/hi as corpus min/max, so their values
    never fall below).

    Every arithmetic step runs in IEEE doubles: identical op order on both
    engines (sub, mul, div, floor — each correctly rounded, so the results
    are bit-equal), and immune to the ANSI-mode ``ARITHMETIC_OVERFLOW``
    that the naive integer ``(v−lo)·bins`` raises on wide integer domains
    (an int32 column spanning ±2·10⁹ already overflows on the subtraction).
    For integer domains wider than 2⁵³ the double mapping is lossy-but-
    deterministic — the same bins on every engine, which is the contract
    that matters here.
    """
    v = value.cast("double")
    low = lo.cast("double")
    high = hi.cast("double")
    # clamps run in the DOUBLE domain, BEFORE floor and the int cast: a
    # far-out-of-range live value (streaming monitors keep FIXED [lo,hi])
    # would otherwise overflow the cast — an ANSI-mode raise on one
    # outlier row, or a silent wrap to a negative int that clamp_low then
    # pins to bin 0, counting a huge HIGH outlier in the LOWEST bin.
    # least/greatest commute with floor, so in-domain binning is
    # unchanged and the engine mirrors stay value-identical.
    raw = F.least(F.lit(float(bins - 1)), (v - low) * bins / (high - low))
    if clamp_low:
        raw = F.greatest(F.lit(0.0), raw)
    idx = F.floor(raw).cast("int")
    return F.when(high == low, F.lit(0)).otherwise(idx)


def drift_ks(
    df: DataFrame,
    *,
    value_column: str,
    cohort_column: str | Column,
    bins: int | None = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift statistic between the
    ``cohort_column``-true and -false value distributions, in integer
    arithmetic: ``D = max|CDF_a − CDF_b| = max|ca·n_b − cb·n_a| / (n_a·n_b)``.
    Returns one row ``(ks_numerator, n_a, n_b)`` — D is
    ``ks_numerator / (n_a * n_b)`` for callers; no float enters the
    cross-engine comparison.

    Plan: per-value count groupBy (map-side combined), then ONE cumulative
    window over *distinct values* — bounded by value cardinality, not row
    count. For continuous domains pass ``bins``: values are first mapped
    to ``bins`` equal-width buckets between the corpus min and max
    (deterministic ``floor((v-lo)*bins/(hi-lo))``, top edge clamped), so
    the bounded-cardinality guarantee is enforced by code instead of
    caller discipline. The result is then the exact KS of the binned
    distributions (a lower bound of the unbinned D that tightens as bins
    grow). Values must be non-null.
    """
    is_a = (
        F.col(cohort_column) if isinstance(cohort_column, str) else cohort_column
    )
    t = df.select(
        F.col(value_column).alias("__v"), is_a.cast("boolean").alias("__a")
    )
    if bins is not None:
        mm = t.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
        t = t.join(F.broadcast(mm)).select(
            equal_width_bin(
                F.col("__v"), F.col("__lo"), F.col("__hi"), bins
            ).alias("__v"),
            "__a",
        )
    g = t.groupBy("__v").agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).alias("__ca_v"),
        F.sum(F.when(F.col("__a"), 0).otherwise(1)).alias("__cb_v"),
    )
    # cohort totals from the already-bounded per-value counts — NOT a
    # second scan of the input (drift_cvm does the same)
    n = g.agg(
        F.sum("__ca_v").alias("__na"), F.sum("__cb_v").alias("__nb")
    )
    w = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = g.select(
        F.sum("__ca_v").over(w).alias("__ca"),
        F.sum("__cb_v").over(w).alias("__cb"),
    )
    # cross products in DECIMAL(38,0) — int64 ca·nb wraps (non-ANSI) or
    # raises (ANSI) once cohorts pass ~3e9 rows; the exact decimal max is
    # cast to long only at the very end, so an out-of-int64-range numerator
    # (both cohorts >3e9 AND near-total separation) fails loudly instead
    # of returning a silently wrong statistic. Same recipe as
    # streaming.cvm_vs_baseline.
    return (
        c.join(F.broadcast(n))
        .groupBy("__na", "__nb")
        .agg(
            F.max(
                F.abs(
                    F.col("__ca").cast("decimal(38,0)") * F.col("__nb")
                    - F.col("__cb").cast("decimal(38,0)") * F.col("__na")
                )
            )
            .cast("long")
            .alias("ks_numerator")
        )
        .select(
            "ks_numerator",
            F.col("__na").cast("long").alias("n_a"),
            F.col("__nb").cast("long").alias("n_b"),
        )
    )

def drift_psi(
    df: DataFrame,
    *,
    value_column: str,
    cohort_column: str | Column,
    bins: int | None = None,
    ln_decimals: int = 7,
) -> DataFrame:
    """Population Stability Index between the ``cohort_column``-true
    (actual) and -false (expected) value distributions — the standard
    model-monitoring drift score (PSI < 0.1 stable, > 0.25 shifted):

    ``PSI = Σ_i (p_i − q_i) · ln(p_i / q_i)``

    with add-one (Laplace) smoothing over the OBSERVED bin set, so empty
    cells never produce ``ln(0)`` and the score stays defined when a bin
    exists on only one side: ``p_i = (ca_i + 1) / (n_a + B)`` where ``B``
    is the observed bin count.

    Cross-engine determinism (same recipe as unigram/zipf/entropy): every
    arithmetic step except ``ln`` is IEEE-deterministic from exact
    integers, and the one ``ln`` per bin — whose last-ulp may differ
    between libm implementations — is rounded to ``ln_decimals`` before
    use; per-bin terms are rounded and summed in exact DECIMAL (order-
    independent), with one final cast to double.

    Plan: one per-bin count groupBy (map-side combined; cardinality is
    bounded by ``bins`` or the value domain), one-row totals on a
    broadcast cross join, then a B-row aggregation — no data-sized window,
    shuffle, or collect beyond the count shuffle. ``bins`` maps continuous
    domains to equal-width buckets exactly as :func:`drift_ks` does
    (deterministic ``floor((v−lo)·bins/(hi−lo))``, top edge clamped).
    Values must be non-null.
    """
    is_a = (
        F.col(cohort_column) if isinstance(cohort_column, str) else cohort_column
    )
    t = df.select(
        F.col(value_column).alias("__v"), is_a.cast("boolean").alias("__a")
    )
    if bins is not None:
        mm = t.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
        t = t.join(F.broadcast(mm)).select(
            equal_width_bin(
                F.col("__v"), F.col("__lo"), F.col("__hi"), bins
            ).alias("__v"),
            "__a",
        )
    g = t.groupBy("__v").agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).alias("__ca"),
        F.sum(F.when(F.col("__a"), 0).otherwise(1)).alias("__cb"),
    )
    n = g.agg(
        F.sum("__ca").alias("__na"),
        F.sum("__cb").alias("__nb"),
        F.count(F.lit(1)).alias("__nbins"),
    )
    pa = (F.col("__ca") + 1).cast("double") / (
        F.col("__na") + F.col("__nbins")
    ).cast("double")
    pb = (F.col("__cb") + 1).cast("double") / (
        F.col("__nb") + F.col("__nbins")
    ).cast("double")
    # cross products in DECIMAL(38,0) — same int64-overflow guard as
    # drift_ks: ca·(nb+nbins) wraps past ~3e9-row cohorts (non-ANSI) or
    # raises ARITHMETIC_OVERFLOW (ANSI); the double division at the end
    # is identical for in-range values (exact product, correctly-rounded
    # cast), so engine mirrors are unchanged
    ratio = (
        (F.col("__ca") + 1).cast("decimal(38,0)")
        * (F.col("__nb") + F.col("__nbins"))
    ).cast("double") / (
        (F.col("__cb") + 1).cast("decimal(38,0)")
        * (F.col("__na") + F.col("__nbins"))
    ).cast("double")
    ln_r = F.round(F.log(ratio), ln_decimals)
    term = F.round((pa - pb) * ln_r, 9).cast("decimal(28,10)")
    return (
        g.crossJoin(F.broadcast(n))
        .groupBy("__na", "__nb", "__nbins")
        .agg(F.sum(term).alias("__psi"))
        .select(
            F.col("__psi").cast("double").alias("psi"),
            F.col("__na").cast("long").alias("n_a"),
            F.col("__nb").cast("long").alias("n_b"),
            F.col("__nbins").cast("long").alias("n_bins"),
        )
    )

def drift_jsd(
    df: DataFrame,
    *,
    value_column: str,
    cohort_column: str | Column,
    bins: int | None = None,
    ln_decimals: int = 7,
) -> DataFrame:
    """Jensen-Shannon divergence (in bits) between the cohort-true and
    cohort-false value distributions — the bounded, symmetric member of
    the drift family: PSI is unbounded and blows up on tiny q-bins, KS
    sees only the worst CDF gap; JSD ∈ [0, 1] weighs the whole
    distribution and is safe to threshold ("alert at 0.1 bits") across
    features with different cardinalities.

    ``JSD = ½·Σ p·log₂(2p/(p+q)) + ½·Σ q·log₂(2q/(p+q))`` with the same
    Laplace smoothing over observed bins, the same exact-integer ratio
    construction (2(ca+1)(nb+B) over the exact mixture denominator —
    DECIMAL(38,0) products, one double division), the same rounded-log
    + per-bin-rounded DECIMAL sum recipe, and the same plan (one count
    shuffle, broadcast one-row totals, B-row agg) as :func:`drift_psi`.
    ``bins`` maps continuous domains to equal-width buckets exactly as
    the siblings do. Values must be non-null.

    Output one row: (jsd, n_a, n_b, n_bins).
    """
    is_a = (
        F.col(cohort_column) if isinstance(cohort_column, str) else cohort_column
    )
    t = df.select(
        F.col(value_column).alias("__v"), is_a.cast("boolean").alias("__a")
    )
    if bins is not None:
        mm = t.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
        t = t.join(F.broadcast(mm)).select(
            equal_width_bin(
                F.col("__v"), F.col("__lo"), F.col("__hi"), bins
            ).alias("__v"),
            "__a",
        )
    g = t.groupBy("__v").agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).alias("__ca"),
        F.sum(F.when(F.col("__a"), 0).otherwise(1)).alias("__cb"),
    )
    n = g.agg(
        F.sum("__ca").alias("__na"),
        F.sum("__cb").alias("__nb"),
        F.count(F.lit(1)).alias("__nbins"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    pa = (F.col("__ca") + 1).cast("double") / (
        F.col("__na") + F.col("__nbins")
    ).cast("double")
    pb = (F.col("__cb") + 1).cast("double") / (
        F.col("__nb") + F.col("__nbins")
    ).cast("double")
    num_a = d38(F.col("__ca") + 1) * d38(F.col("__nb") + F.col("__nbins"))
    num_b = d38(F.col("__cb") + 1) * d38(F.col("__na") + F.col("__nbins"))
    den = (num_a + num_b).cast("double")
    lg_a = F.round(F.log2(F.lit(2.0) * num_a.cast("double") / den),
                   ln_decimals)
    lg_b = F.round(F.log2(F.lit(2.0) * num_b.cast("double") / den),
                   ln_decimals)
    term = F.round(
        F.lit(0.5) * (pa * lg_a + pb * lg_b), 9
    ).cast("decimal(28,10)")
    return (
        g.crossJoin(F.broadcast(n))
        .groupBy("__na", "__nb", "__nbins")
        .agg(F.sum(term).alias("__jsd"))
        .select(
            F.col("__jsd").cast("double").alias("jsd"),
            F.col("__na").cast("long").alias("n_a"),
            F.col("__nb").cast("long").alias("n_b"),
            F.col("__nbins").cast("long").alias("n_bins"),
        )
    )


def drift_cvm(
    df: DataFrame,
    *,
    value_column: str,
    cohort_column: str | Column,
    bins: int | None = None,
    term_decimals: int = 12,
) -> DataFrame:
    """Two-sample Cramér–von Mises drift statistic — :func:`drift_ks`'s
    integral companion (KS is the WORST CDF gap, CvM the mass-weighted
    SUM of squared gaps, far more sensitive to many small distributional
    shifts):

    ``T = (n_a·n_b / N²) · Σ_v m_v · (F_a(v) − F_b(v))²``

    summed over pooled observations (``m_v`` = pooled multiplicity at
    value ``v``). The per-value gap ``(ca·n_b − cb·n_a)/(n_a·n_b)`` is an
    exact-integer numerator over an IEEE double division; each term
    ``m_v · gap²`` is rounded to ``term_decimals`` and summed in exact
    DECIMAL (order-independent), avoiding both the int64 overflow a pure
    integer Σ m·d² hits at ~10⁵ rows and the order-dependence of double
    summation. Returns one row ``(cvm_sum, n_a, n_b)``; the statistic is
    ``n_a·n_b/N² · cvm_sum`` for callers. The final exact-DECIMAL sum is
    rounded to 6 decimals before the one double cast (a higher-precision
    decimal→double conversion differs at the last ulp between engines);
    when per-term magnitudes exceed ~15 significant digits (huge pooled
    masses), double rounding itself diverges cross-engine — use the
    all-integer numerator form instead, as ``streaming.cvm_vs_baseline``
    does.

    Plan: identical to :func:`drift_ks` — per-value counts, ONE
    cumulative window over distinct values (bounded by cardinality;
    ``bins`` enforces the bound for continuous domains), then a bounded
    aggregation. Values must be non-null.
    """
    is_a = (
        F.col(cohort_column) if isinstance(cohort_column, str) else cohort_column
    )
    t = df.select(
        F.col(value_column).alias("__v"), is_a.cast("boolean").alias("__a")
    )
    if bins is not None:
        mm = t.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
        t = t.join(F.broadcast(mm)).select(
            equal_width_bin(
                F.col("__v"), F.col("__lo"), F.col("__hi"), bins
            ).alias("__v"),
            "__a",
        )
    g = t.groupBy("__v").agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).alias("__ca_v"),
        F.sum(F.when(F.col("__a"), 0).otherwise(1)).alias("__cb_v"),
    )
    n = g.agg(
        F.sum("__ca_v").alias("__na"), F.sum("__cb_v").alias("__nb")
    )
    w = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = g.select(
        (F.col("__ca_v") + F.col("__cb_v")).alias("__m"),
        F.sum("__ca_v").over(w).alias("__ca"),
        F.sum("__cb_v").over(w).alias("__cb"),
    )
    gap = (
        (F.col("__ca") * F.col("__nb") - F.col("__cb") * F.col("__na"))
        .cast("double")
        / (F.col("__na") * F.col("__nb")).cast("double")
    )
    term = F.round(F.col("__m").cast("double") * gap * gap, term_decimals).cast(
        "decimal(38,14)"
    )
    return (
        c.join(F.broadcast(n))
        .groupBy("__na", "__nb")
        .agg(F.sum(term).alias("__s"))
        .select(
            F.round(F.col("__s"), 6).cast("double").alias("cvm_sum"),
            F.col("__na").cast("long").alias("n_a"),
            F.col("__nb").cast("long").alias("n_b"),
        )
    )

def mutual_information(
    df: DataFrame,
    *,
    x_column: str,
    y_column: str,
    ln_decimals: int = 7,
) -> DataFrame:
    """Exact mutual information (nats) between two categorical columns —
    the feature-association / leakage detector a training pipeline runs
    before trusting a split or a stratification key ("is ``lang``
    predictable from ``source``?"; MI = 0 ⇔ independent, MI = min(H_x,
    H_y) ⇔ one determines the other):

    ``MI = Σ_{x,y} (c_xy/N) · ln(N·c_xy / (c_x·c_y))``

    NULLs in either column are excluded (MI is defined over the joint
    distribution of observed pairs).

    Cross-engine determinism (the PSI recipe): every ratio is built from
    exact integer counts with one double cast per factor and an identical
    op order; the one ``ln`` per cell is rounded to ``ln_decimals``
    before use; per-cell terms are rounded and summed in exact DECIMAL
    (order-independent) with a single final double cast.

    Plan: ONE joint-count groupBy (map-side combined; cardinality
    bounded by |X|·|Y| observed cells), two marginal aggregations OVER
    THE CELL FRAME (never a second input scan — the cell frame is
    ``persist()``-ed, the bounded-frame recipe ``psi_vs_baseline``
    uses, so the marginal/total lineages replay from cache instead of
    re-scanning the input), two equi-joins on the bounded cell frame,
    totals on a broadcast one-row cross join.

    Returns one row ``(mi_nats, n_rows, n_cells)``.
    """
    _gy, _n, joined, term = _mi_cell_frame(df, x_column, y_column, ln_decimals)
    return (
        joined.groupBy("__n", "__cells")
        .agg(F.sum(term).alias("__mi"))
        .select(
            F.col("__mi").cast("double").alias("mi_nats"),
            F.col("__n").cast("long").alias("n_rows"),
            F.col("__cells").cast("long").alias("n_cells"),
        )
    )


def _mi_cell_frame(df, x_column, y_column, ln_decimals):
    """Shared cell-frame spine of :func:`mutual_information` and
    :func:`uncertainty_coefficient`: NULL-filtered joint counts
    (persisted — the |X|·|Y|-bounded cell frame feeds three consumers:
    marginal x, marginal y, totals — without it each reuse re-scans the
    full input through its own lineage copy), marginals and totals over
    the cell frame, and the rounded-ln exact-DECIMAL MI term.

    Returns ``(gy, n, joined, mi_term)``.
    """
    t = (
        df.select(F.col(x_column).alias("__x"), F.col(y_column).alias("__y"))
        .filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    )
    g = (
        t.groupBy("__x", "__y")
        .agg(F.count(F.lit(1)).alias("__cxy"))
        .persist()
    )
    gx = g.groupBy("__x").agg(F.sum("__cxy").alias("__cx"))
    gy = g.groupBy("__y").agg(F.sum("__cxy").alias("__cy"))
    n = g.agg(
        F.sum("__cxy").alias("__n"), F.count(F.lit(1)).alias("__cells")
    )
    joined = g.join(gx, "__x").join(gy, "__y").crossJoin(F.broadcast(n))
    ratio = (
        F.col("__cxy").cast("double") * F.col("__n").cast("double")
    ) / (F.col("__cx").cast("double") * F.col("__cy").cast("double"))
    p = F.col("__cxy").cast("double") / F.col("__n").cast("double")
    mi_term = F.round(p * F.round(F.log(ratio), ln_decimals), 9).cast(
        "decimal(28,10)"
    )
    return gy, n, joined, mi_term


def _bucketed_cum_before(
    g: DataFrame,
    *,
    order_column: str,
    sum_column: str | Sequence[str],
    out: str | Sequence[str],
    buckets: int = 64,
) -> DataFrame:
    """Exact per-row cumulative sum of each ``sum_column`` over rows with
    a STRICTLY smaller ``order_column`` — ``distributed_rank``'s
    range-bucket pattern as a reusable step (:func:`exact_auc`,
    :func:`spearman_correlation`, :func:`pr_curve`): broadcast
    approx-percentile bounds assign buckets (boundary quality affects
    only balance; correctness needs only strict ``value > boundary``
    comparison), intra-bucket running sum, per-bucket totals (≤
    ``buckets`` rows) prefix-summed and broadcast back. No single-task
    data-sized window.

    Accepts one column or a list — multiple cumulative columns over the
    SAME ordering share the bounds pass, bucket assignment, window, and
    prefix join (one plan traversal instead of N).

    ``g`` must have DISTINCT ``order_column`` values (one row per value)
    and be cheap to recompute or persisted — the frame feeds three
    consumers (bounds, main branch, totals).
    """
    sum_cols = [sum_column] if isinstance(sum_column, str) else list(sum_column)
    outs = [out] if isinstance(out, str) else list(out)
    if len(sum_cols) != len(outs):
        raise ValueError("sum_column and out must have equal length")
    qs = [i / buckets for i in range(1, buckets)]
    bounds = g.agg(
        F.expr(
            f"approx_percentile({order_column},"
            f" array({','.join(map(str, qs))}), 10000)"
        ).alias("__bnds")
    )
    data = (
        g.join(F.broadcast(bounds))
        .withColumn(
            "__bucket",
            F.expr(f"size(filter(__bnds, b -> {order_column} > b))"),
        )
        .drop("__bnds")
    )
    w_in = Window.partitionBy("__bucket").orderBy(order_column).rowsBetween(
        Window.unboundedPreceding, -1
    )
    for i, sc in enumerate(sum_cols):
        data = data.withColumn(
            f"__cum_in_{i}", F.coalesce(F.sum(sc).over(w_in), F.lit(0))
        )
    totals = data.groupBy("__bucket").agg(
        *[F.sum(sc).alias(f"__bn_{i}") for i, sc in enumerate(sum_cols)]
    )
    w_b = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefixes = totals.select(
        "__bucket",
        *[
            F.coalesce(F.sum(f"__bn_{i}").over(w_b), F.lit(0)).alias(
                f"__prefix_{i}"
            )
            for i in range(len(sum_cols))
        ],
    )
    data = data.join(F.broadcast(prefixes), "__bucket")
    for i, o in enumerate(outs):
        data = data.withColumn(
            o, F.col(f"__prefix_{i}") + F.col(f"__cum_in_{i}")
        )
    return data.drop(
        "__bucket",
        *[f"__cum_in_{i}" for i in range(len(sum_cols))],
        *[f"__prefix_{i}" for i in range(len(sum_cols))],
    )


def exact_auc(
    df: DataFrame,
    *,
    score_column: str,
    label_column: Column | str,
    buckets: int = 64,
) -> DataFrame:
    """Exact tie-corrected ROC-AUC of ``score_column`` against a boolean
    label — THE threshold-free evaluation statistic for a quality
    classifier before its scores gate a filtering/mixing decision
    (AUC = P(score_pos > score_neg) + ½·P(equal) over a random
    positive/negative pair; 0.5 = uninformative).

    Exact-integer formulation (no per-pair work, no float accumulation):
    group scores to ``(s, n_pos(s), n_neg(s))`` and

    ``2U = Σ_s 2·n_pos(s)·cumneg_less(s) + Σ_s n_pos(s)·n_neg(s)``

    where ``cumneg_less(s)`` counts negatives with a strictly smaller
    score. ``AUC = 2U / (2·N_pos·N_neg)`` — both sides exact DECIMAL,
    one double division at the end (cross-engine deterministic).

    Plan (``distributed_rank``'s range-bucket pattern — no single-task
    data-sized window): one score-group count shuffle, broadcast
    approx-percentile bounds assign each distinct score a bucket,
    an intra-bucket cumulative sum, per-bucket negative totals (≤
    ``buckets`` rows) prefix-summed and broadcast back. NULL scores and
    NULL labels are excluded.

    Returns one row ``(auc, n_pos, n_neg, n_scores)``.
    """
    y = (
        F.col(label_column) if isinstance(label_column, str) else label_column
    )
    t = df.select(
        F.col(score_column).alias("__s"), y.cast("boolean").alias("__y")
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    # persist: the score-group frame feeds four consumers (percentile
    # bounds, the bucketed main branch, per-bucket totals, final agg) —
    # without it each lineage copy re-scans the full input. Bounded by
    # distinct-score cardinality; the default MEMORY_AND_DISK level
    # spills rather than evicting when a continuous score makes it wide.
    g = (
        t.groupBy("__s")
        .agg(
            F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("__np"),
            F.sum(F.when(F.col("__y"), 0).otherwise(1)).alias("__nn"),
        )
        .persist()
    )
    data = _bucketed_cum_before(
        g, order_column="__s", sum_column="__nn", out="__cb",
        buckets=buckets,
    )
    np_d = F.col("__np").cast("decimal(20,0)")
    cell = (
        F.lit(2).cast("decimal(20,0)")
        * np_d
        * F.col("__cb").cast("decimal(20,0)")
        + np_d * F.col("__nn").cast("decimal(20,0)")
    )
    agg = data.agg(
        F.sum(cell).alias("__u2"),
        F.sum("__np").alias("__npos"),
        F.sum("__nn").alias("__nneg"),
        F.count(F.lit(1)).alias("__nscores"),
    )
    denom = (
        F.lit(2).cast("decimal(20,0)")
        * F.col("__npos").cast("decimal(20,0)")
        * F.col("__nneg").cast("decimal(20,0)")
    )
    return agg.select(
        F.when(
            (F.col("__npos") > 0) & (F.col("__nneg") > 0),
            F.col("__u2").cast("double") / denom.cast("double"),
        ).alias("auc"),
        F.col("__npos").cast("long").alias("n_pos"),
        F.col("__nneg").cast("long").alias("n_neg"),
        F.col("__nscores").cast("long").alias("n_scores"),
    )


def spearman_correlation(
    df: DataFrame,
    *,
    x_column: str,
    y_column: str,
    buckets: int = 64,
) -> DataFrame:
    """Tie-corrected Spearman rank correlation between two numeric
    columns — the two-scorer agreement check (do two quality signals
    rank the corpus the same way? ρ near 1 ⇒ one is redundant for
    filtering; near 0 ⇒ they select different documents): Pearson of
    the average-ranks, computed exactly.

    Average rank of value v = (#smaller) + (count(v)+1)/2; both ranks
    are carried as ``2·rank`` so every intermediate is an exact
    integer. Rank sums (S_a, S_b, S_ab, S_aa, S_bb, N) accumulate in
    exact DECIMAL — order-independent — then each is cast to double
    ONCE and combined with an identical op order on both engines:

    ``ρ = (N·S_ab − S_a·S_b) / (sqrt(N·S_aa − S_a²) · sqrt(N·S_bb − S_b²))``

    (the final combination is float-rounded but deterministic; a
    constant column yields NULL). NULLs in either column are excluded.

    Plan: ONE joint-count groupBy (persisted — the cell frame feeds the
    two marginal-rank branches and the final sums), each marginal's
    strictly-smaller cumulative through :func:`_bucketed_cum_before`
    (every wide stage partitioned), two equi-joins back onto the cell
    frame, one final aggregate. Returns one row ``(rho, n_rows)``.
    """
    t = df.select(
        F.col(x_column).alias("__a"), F.col(y_column).alias("__b")
    ).filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    g = (
        t.groupBy("__a", "__b")
        .agg(F.count(F.lit(1)).alias("__n"))
        .persist()
    )

    def marginal_rank2(col: str) -> DataFrame:
        m = g.groupBy(col).agg(F.sum("__n").alias("__cnt"))
        m = _bucketed_cum_before(
            m, order_column=col, sum_column="__cnt", out="__cb",
            buckets=buckets,
        )
        # 2 × (1-based average rank) = 2·cb + cnt + 1 — exact integer
        return m.select(
            col,
            (
                F.lit(2) * F.col("__cb") + F.col("__cnt") + F.lit(1)
            ).alias(f"__r2{col}"),
        )

    j = g.join(marginal_rank2("__a"), "__a").join(
        marginal_rank2("__b"), "__b"
    )
    n_d = F.col("__n").cast("decimal(20,0)")
    ra = F.col("__r2__a").cast("decimal(20,0)")
    rb = F.col("__r2__b").cast("decimal(20,0)")
    sums = j.agg(
        F.sum(n_d).alias("__N"),
        F.sum(n_d * ra).alias("__Sa"),
        F.sum(n_d * rb).alias("__Sb"),
        F.sum(n_d * ra * ra).alias("__Saa"),
        F.sum(n_d * rb * rb).alias("__Sbb"),
        F.sum(n_d * ra * rb).alias("__Sab"),
    )
    N = F.col("__N").cast("double")
    Sa = F.col("__Sa").cast("double")
    Sb = F.col("__Sb").cast("double")
    Saa = F.col("__Saa").cast("double")
    Sbb = F.col("__Sbb").cast("double")
    Sab = F.col("__Sab").cast("double")
    da = N * Saa - Sa * Sa
    db = N * Sbb - Sb * Sb
    return sums.select(
        F.when(
            (da > 0) & (db > 0),
            (N * Sab - Sa * Sb) / (F.sqrt(da) * F.sqrt(db)),
        ).alias("rho"),
        F.col("__N").cast("long").alias("n_rows"),
    )


def grouped_auc(
    df: DataFrame,
    *,
    group_column: str,
    score_column: str,
    label_column: Column | str,
) -> DataFrame:
    """Per-group exact tie-corrected ROC-AUC — :func:`exact_auc` computed
    within each value of ``group_column`` (per-source / per-language
    classifier evaluation: a score that ranks well globally can invert
    inside a stratum, which is exactly what a mixture built per source
    would hit). Groups with no positives or no negatives return NULL
    (AUC undefined).

    Same exact-integer 2U formulation; here the cumulative
    negatives-below sum partitions by group, so EVERY wide stage is
    key-partitioned — no range-bucket machinery, no unpartitioned
    window, one lineage (no persist): a (group, score) count shuffle,
    a group-partitioned running sum, a per-group final aggregate.
    """
    y = (
        F.col(label_column) if isinstance(label_column, str) else label_column
    )
    t = df.select(
        F.col(group_column).alias("__g"),
        F.col(score_column).alias("__s"),
        y.cast("boolean").alias("__y"),
    ).filter(
        F.col("__g").isNotNull()
        & F.col("__s").isNotNull()
        & F.col("__y").isNotNull()
    )
    g = t.groupBy("__g", "__s").agg(
        F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("__np"),
        F.sum(F.when(F.col("__y"), 0).otherwise(1)).alias("__nn"),
    )
    w = Window.partitionBy("__g").orderBy("__s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    g = g.withColumn("__cb", F.coalesce(F.sum("__nn").over(w), F.lit(0)))
    np_d = F.col("__np").cast("decimal(20,0)")
    cell = (
        F.lit(2).cast("decimal(20,0)")
        * np_d
        * F.col("__cb").cast("decimal(20,0)")
        + np_d * F.col("__nn").cast("decimal(20,0)")
    )
    agg = g.groupBy("__g").agg(
        F.sum(cell).alias("__u2"),
        F.sum("__np").alias("__npos"),
        F.sum("__nn").alias("__nneg"),
        F.count(F.lit(1)).alias("__nscores"),
    )
    denom = (
        F.lit(2).cast("decimal(20,0)")
        * F.col("__npos").cast("decimal(20,0)")
        * F.col("__nneg").cast("decimal(20,0)")
    )
    return agg.select(
        F.col("__g").alias(group_column),
        F.when(
            (F.col("__npos") > 0) & (F.col("__nneg") > 0),
            F.col("__u2").cast("double") / denom.cast("double"),
        ).alias("auc"),
        F.col("__npos").cast("long").alias("n_pos"),
        F.col("__nneg").cast("long").alias("n_neg"),
        F.col("__nscores").cast("long").alias("n_scores"),
    )


def calibration_bins(
    df: DataFrame,
    *,
    score_column: str,
    label_column: Column | str,
    bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins for a score against a boolean label —
    AUC's companion (AUC checks ranking; this checks whether the score's
    LEVEL tracks the positive rate, i.e. whether a threshold chosen on a
    sample transfers). Scores bin equal-width over the observed
    ``[min, max]`` via the shared :func:`equal_width_bin` expression.

    Per bin: ``n``, ``n_pos``, ``mean_score`` and ``pos_rate`` — each a
    ratio of exact integer/decimal sums with ONE double division, so the
    output never depends on aggregation order (cross-engine exact for
    integer scores; for float scores the sum is still a single-cast
    DECIMAL path only if upstream rounds — document scores here are
    integers).

    Plan: one min/max aggregation broadcast back, one bin-count groupBy
    (map-side combined, ≤ ``bins`` groups). NULL scores/labels excluded.
    """
    y = (
        F.col(label_column) if isinstance(label_column, str) else label_column
    )
    t = df.select(
        F.col(score_column).alias("__s"), y.cast("boolean").alias("__y")
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    mm = t.agg(
        F.min("__s").alias("__lo"), F.max("__s").alias("__hi")
    )
    b = t.join(F.broadcast(mm)).select(
        equal_width_bin(
            F.col("__s"), F.col("__lo"), F.col("__hi"), bins
        ).alias("bin"),
        "__s",
        "__y",
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("n_pos"),
            F.sum(F.col("__s").cast("decimal(38,6)")).alias("__sum_s"),
        )
        .select(
            "bin",
            "n",
            "n_pos",
            (F.col("__sum_s").cast("double") / F.col("n").cast("double"))
            .alias("mean_score"),
            (F.col("n_pos").cast("double") / F.col("n").cast("double"))
            .alias("pos_rate"),
        )
    )


def dataset_card(
    df: DataFrame,
    *,
    text_column: str = "text",
    source_column: str = "source",
    lang_column: str = "lang",
    chars_column: str = "n_chars",
    id_column: str = "doc_id",
) -> DataFrame:
    """One-row corpus summary — the "dataset card" numbers a training-data
    drop ships with (and the first sanity gate a new 100 TB delivery
    runs): volume, source/language breadth, exact duplication, token
    budget, and the length profile.

    Columns: ``n_docs``, ``n_sources``, ``n_langs``, ``n_unique_texts``
    (exact md5 distinct — ``n_docs − n_unique_texts`` is the surplus-copy
    count an exact dedup would remove), ``mean_tokens`` (whitespace
    tokens; exact DECIMAL sum, ONE double division), ``p50_chars`` /
    ``p95_chars`` (exact type-1 order statistics via
    :func:`exact_order_statistics` — no global sort, no buffering node).

    Plan: ONE wide aggregation pass over the heavy columns (text/
    source/lang: count + three exact distincts + token sum) cross-joined
    with the broadcast one-row quantile frame. The rank-selection branch
    re-reads only the pruned ``(chars, id)`` projection a few times
    (distributed_rank's bounds/data/counts lineages) — narrow scans a
    parquet reader serves from two columns, chosen over caching a
    data-sized frame. Every wide stage is partitioned.
    """
    from pyspark_playground_spark.operators.text import token_count_expr

    wide = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.col(source_column)).alias("n_sources"),
        F.countDistinct(F.col(lang_column)).alias("n_langs"),
        F.countDistinct(F.md5(F.col(text_column))).alias("n_unique_texts"),
        (
            F.sum(token_count_expr(text_column).cast("decimal(38,6)")).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_tokens"),
    )
    qs = exact_order_statistics(
        df,
        value_column=chars_column,
        quantiles=[0.5, 0.95],
        id_column=id_column,
    ).select(
        F.col("q_0_5").alias("p50_chars"),
        F.col("q_0_95").alias("p95_chars"),
    )
    return wide.crossJoin(F.broadcast(qs))


def grouped_dataset_card(
    df: DataFrame,
    *,
    group_column: str = "source",
    text_column: str = "text",
    lang_column: str = "lang",
    chars_column: str = "n_chars",
    id_column: str = "doc_id",
) -> DataFrame:
    """:func:`dataset_card` PER GROUP — the mixture-design table: one row
    per source with volume, language breadth, exact duplication, token
    budget, and the length profile, so temperature weights and dedup
    priorities are set from measured numbers, not global averages.

    Columns per group: ``n_docs``, ``n_langs``, ``n_unique_texts``,
    ``mean_tokens`` (exact DECIMAL sum, one division), ``p50_chars`` /
    ``p95_chars`` (exact type-1 per-group order statistics —
    group-partitioned windows). Plan: one wide groupBy pass + the
    grouped rank selection, joined on the bounded per-group frame; every
    wide stage partitions on the group key. NULL groups excluded.
    """
    from pyspark_playground_spark.operators.text import token_count_expr

    src = df.filter(F.col(group_column).isNotNull())
    wide = src.groupBy(group_column).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.col(lang_column)).alias("n_langs"),
        F.countDistinct(F.md5(F.col(text_column))).alias("n_unique_texts"),
        (
            F.sum(token_count_expr(text_column).cast("decimal(38,6)")).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_tokens"),
    )
    qs = grouped_order_statistics(
        src,
        group_column=group_column,
        value_column=chars_column,
        quantiles=[0.5, 0.95],
        id_column=id_column,
    ).select(
        group_column,
        F.col("q_0_5").alias("p50_chars"),
        F.col("q_0_95").alias("p95_chars"),
    )
    return wide.join(qs, group_column)


def _q_label(q: float) -> str:
    """Column label for quantile ``q``: the decimal rendering with ``.``
    replaced by ``_`` (0.5 → ``q_0_5``, 0.99 → ``q_0_99``). ``repr`` keeps
    the shortest round-trip form; quantiles small enough that repr goes
    scientific (< 1e-4) are re-rendered as plain positional decimals so
    the label never contains ``e``/``-`` (0.00001 → ``q_0_00001``, not
    ``q_1e-05``)."""
    s = repr(float(q))
    if "e" in s or "E" in s:
        s = format(float(q), ".17f").rstrip("0")
        if s.endswith("."):
            s += "0"
    return "q_" + s.replace(".", "_")


def exact_order_statistics(
    df: DataFrame,
    *,
    value_column: str,
    quantiles: Sequence[float],
    id_column: str,
    rank_buckets: int = 64,
) -> DataFrame:
    """EXACT lower (type-1) order statistics at arbitrary quantiles
    WITHOUT a global sort and without any node holding the column in
    memory — the 100 TB companion to ``percentile()``/``quantile_disc``
    (both of which buffer every group value in one aggregation state).

    Plan: :func:`packing.distributed_rank` assigns every row its exact
    0-based global rank by ``(value, id)`` (range-bucket + intra-bucket
    window + prefix-sum — no single-task stage); the one-row max-rank
    rides a broadcast cross join; each requested quantile selects the
    row with ``rank == floor(q · max_rank)``; a final ≤len(quantiles)-row
    aggregation pivots them into one row. The quantile→rank float product
    is mirrored verbatim by the oracle, so both engines select the same
    rank by construction.

    Returns one row: ``(n_rows, q_<label> ...)`` where label is the
    quantile with ``.`` replaced by ``_`` (0.5 → ``q_0_5``, 0.99 →
    ``q_0_99``) — collision-free across the full [0, 1] range.
    """
    from pyspark_playground_spark.operators.packing import distributed_rank

    src = df.select(
        F.col(value_column).alias("__v"), F.col(id_column).alias("__id")
    ).filter(F.col("__v").isNotNull())
    ranked = distributed_rank(
        src, order_column="__v", id_column="__id", buckets=rank_buckets
    )
    mx = ranked.agg(
        F.max("rank").alias("__mx"), F.count(F.lit(1)).alias("__n")
    )
    with_mx = ranked.crossJoin(F.broadcast(mx))
    aggs = [F.max("__n").alias("n_rows")]
    for q in quantiles:
        label = _q_label(q)
        target = F.floor(F.lit(float(q)) * F.col("__mx").cast("double")).cast(
            "long"
        )
        aggs.append(
            F.max(F.when(F.col("rank") == target, F.col("__v"))).alias(label)
        )
    return with_mx.agg(*aggs)

def grouped_order_statistics(
    df: DataFrame,
    *,
    group_column: str,
    value_column: str,
    quantiles: Sequence[float],
    id_column: str,
) -> DataFrame:
    """Exact lower (type-1) order statistics PER GROUP — the partitioned
    companion to :func:`exact_order_statistics`. A per-group window is the
    right tool here (one shuffle on the group key, each group sorted
    within its partition — parallelism is the group count, degraded only
    by a single dominant group, for which the global operator's
    range-bucket plan is the escape hatch).

    Selection rule matches the global operator: rank ``floor(q·(n_g−1))``
    within each group, total-ordered by ``(value, id)``.

    Returns one row per group: ``(group, n_rows, q_<label> ...)``.
    """
    w = Window.partitionBy(group_column).orderBy("__v", id_column)
    ranked = df.select(
        F.col(group_column),
        F.col(value_column).alias("__v"),
        F.col(id_column),
    ).filter(F.col("__v").isNotNull()).withColumn(
        "__rk", F.row_number().over(w) - 1
    )
    counts = ranked.groupBy(group_column).agg(
        (F.count(F.lit(1)) - 1).alias("__mx")
    )
    j = ranked.join(counts, group_column)
    aggs = [(F.max("__mx") + 1).cast("long").alias("n_rows")]
    for q in quantiles:
        label = _q_label(q)
        target = F.floor(F.lit(float(q)) * F.col("__mx").cast("double")).cast(
            "long"
        )
        aggs.append(
            F.max(F.when(F.col("__rk") == target, F.col("__v"))).alias(label)
        )
    return j.groupBy(group_column).agg(*aggs)

def count_min_sketch(
    df: DataFrame,
    column: str,
    *,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Mergeable Count-Min sketch (Cormode & Muthukrishnan '05) with
    ENGINE-PORTABLE hashing: ``hash_i(v) = int(md5(f"{i}:{v}")[:8], 16)
    mod width`` — md5 exists and agrees everywhere, so the SAME sketch
    (not just the same guarantees) is reproducible in any engine; the
    whole pipeline is therefore exactly oracle-checkable, unlike
    engine-native hash sketches. The seed prefix has no ':' so the
    encoding is injective. NULL values are dropped (never counted):
    string concatenation of NULL differs across engines (Spark's
    concat_ws skips, DuckDB's concat propagates), so admitting them
    would silently diverge.

    The sketch is ``(row, pos, n)`` rows — at most ``depth·width``,
    built by one map-side-combined groupBy; sketches over disjoint data
    merge by summing ``n`` per cell (the streaming/partition-parallel
    path). Point estimates via :func:`count_min_estimates` carry the
    classic one-sided guarantee: estimate ≥ true count always, and
    ≤ true + εN with probability 1−δ for width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉.
    """
    t = (
        df.select(F.col(column).cast("string").alias("__v"))
        .filter(F.col("__v").isNotNull())
        .select(
            "__v",
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("__row"),
        )
    )
    pos = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("__row").cast("string"), F.col("__v")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(width),
    )
    return (
        t.groupBy(F.col("__row").alias("row"), pos.alias("pos"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def count_min_estimates(
    values: DataFrame,
    sketch: DataFrame,
    column: str,
    *,
    width: int,
    depth: int,
) -> DataFrame:
    """Point estimates from a :func:`count_min_sketch`: for each distinct
    value, the minimum over the sketch's ``depth`` cells it hashes to
    (absent cells count 0). The sketch side is depth·width-bounded —
    broadcast it; the per-value work is a ``depth``-way explode plus one
    bounded join, no data-sized shuffle beyond the distinct.

    Returns ``(value, cms_estimate)``.
    """
    d = (
        values.select(F.col(column).cast("string").alias("value"))
        .filter(F.col("value").isNotNull())
        .distinct()
        .select(
            "value",
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
        )
    )
    pos = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(":", F.col("row").cast("string"), F.col("value"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(width),
    )
    return (
        d.withColumn("pos", pos)
        .join(F.broadcast(sketch), ["row", "pos"], "left")
        .groupBy("value")
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("cms_estimate"))
    )

def drift_ks_by_group(
    df: DataFrame,
    *,
    group_column: str,
    value_column: str,
    bins: int | None = None,
) -> DataFrame:
    """One-pass "which cohort drifted": the exact-integer two-sample KS
    statistic of EVERY group against the rest of the corpus, in a single
    plan — the multi-cohort generalization of :func:`drift_ks` (running
    it per group would scan the data once per group).

    One ``(group, value)`` count pass gives ``ca``; the per-value total
    ``ct`` gives the complement side as ``cb = ct − ca`` — no second
    scan. A groups × distinct-values spine (bounded; pass ``bins`` to
    enforce the bound on continuous domains, same deterministic
    equal-width rule as ``drift_ks``) fills the absent cells, and one
    group-partitioned cumulative window (≤ distinct values rows per
    partition) produces both CDFs. All integer arithmetic:
    ``D_g = ks_numerator / (n_g · (N − n_g))``.

    Returns one row per group: ``(group, n_a, n_b, ks_numerator)``.
    """
    t = df.select(
        F.col(group_column).alias("__g"), F.col(value_column).alias("__v")
    )
    if bins is not None:
        mm = t.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
        t = t.join(F.broadcast(mm)).select(
            "__g",
            equal_width_bin(
                F.col("__v"), F.col("__lo"), F.col("__hi"), bins
            ).alias("__v"),
        )
    ga = t.groupBy("__g", "__v").agg(F.count(F.lit(1)).alias("__ca"))
    tot = ga.groupBy("__v").agg(F.sum("__ca").alias("__ct"))
    groups = ga.select("__g").distinct()
    spine = groups.crossJoin(tot)
    filled = spine.join(ga, ["__g", "__v"], "left").select(
        "__g",
        "__v",
        "__ct",
        F.coalesce(F.col("__ca"), F.lit(0)).alias("__ca"),
    )
    w = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = filled.select(
        "__g",
        F.sum("__ca").over(w).alias("__cwa"),
        (F.sum("__ct").over(w) - F.sum("__ca").over(w)).alias("__cwb"),
    )
    n = c.groupBy("__g").agg(
        F.max("__cwa").alias("__na"), F.max("__cwb").alias("__nb")
    )
    return (
        c.join(n, "__g")
        .groupBy(F.col("__g").alias(group_column), "__na", "__nb")
        .agg(
            # DECIMAL(38,0) cross products — same int64-overflow guard as
            # drift_ks; the final long cast fails loudly past int64 range
            F.max(
                F.abs(
                    F.col("__cwa").cast("decimal(38,0)") * F.col("__nb")
                    - F.col("__cwb").cast("decimal(38,0)") * F.col("__na")
                )
            )
            .cast("long")
            .alias("ks_numerator")
        )
        .select(
            group_column,
            F.col("__na").cast("long").alias("n_a"),
            F.col("__nb").cast("long").alias("n_b"),
            "ks_numerator",
        )
    )


def cohen_kappa(
    df: DataFrame,
    *,
    a_column: str | Column,
    b_column: str | Column,
) -> DataFrame:
    """Cohen's kappa between two categorical columns — chance-corrected
    agreement, the statistic a labeling pipeline reports when comparing
    two annotators or an auto-labeler against gold labels (plain accuracy
    is inflated by class imbalance; kappa = 0 means "no better than
    marginal-frequency guessing", kappa = 1 perfect agreement):

    ``kappa = (N·Σᵢcᵢᵢ − Σₖ rₖ·cₖ) / (N² − Σₖ rₖ·cₖ)``

    where ``cᵢᵢ`` are the confusion-matrix diagonal counts, ``rₖ``/``cₖ``
    the row/column marginals. Rows with a NULL on either side are excluded
    (agreement is defined over jointly observed pairs).

    Cross-engine determinism: everything up to the final division is
    EXACT integer arithmetic — counts from one groupBy, the expected-
    agreement cross terms ``rₖ·cₖ`` multiplied in DECIMAL(38,0) (int64-
    overflow-proof: marginals up to ~10¹⁹ before the product saturates)
    and summed in DECIMAL (order-independent); numerator and denominator
    each take ONE double cast, then one division. No ``ln``, no rounding.

    Plan shape (the :func:`mutual_information` recipe): one joint-count
    groupBy (map-side combined, cardinality bounded by |A|·|B| observed
    cells) onto a ``persist()``-ed cell frame; marginals, the diagonal
    and totals all derive from that bounded frame — the input is scanned
    ONCE; the marginal⋈marginal join runs on category-sized frames.

    Returns one row
    ``(kappa, observed_agreement, expected_agreement, n_rows, n_categories)``
    where ``n_categories`` counts the distinct values seen in either
    column (the confusion matrix is |cats|²-bounded).
    """
    a = F.col(a_column) if isinstance(a_column, str) else a_column
    b = F.col(b_column) if isinstance(b_column, str) else b_column
    t = df.select(a.alias("__a"), b.alias("__b")).filter(
        F.col("__a").isNotNull() & F.col("__b").isNotNull()
    )
    # persist: the |A|·|B|-bounded cell frame feeds four consumers
    # (row marginals, column marginals, diagonal+total, category census)
    g = t.groupBy("__a", "__b").agg(F.count(F.lit(1)).alias("__c")).persist()
    ra = g.groupBy("__a").agg(F.sum("__c").alias("__ra"))
    cb = g.groupBy("__b").agg(F.sum("__c").alias("__cb"))
    # expected-agreement cross terms exist only for categories observed on
    # BOTH sides (r_k or c_k is zero otherwise — the term vanishes)
    s = (
        ra.join(cb, ra["__a"] == cb["__b"])
        .agg(
            F.sum(
                F.col("__ra").cast("decimal(38,0)") * F.col("__cb")
            ).alias("__s")
        )
    )
    n = g.agg(
        F.sum("__c").alias("__n"),
        F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__c")).otherwise(0)).alias(
            "__agree"
        ),
    )
    cats = (
        g.select(F.col("__a").alias("__k"))
        .union(g.select(F.col("__b").alias("__k")))
        .agg(F.countDistinct("__k").alias("__cats"))
    )
    j = n.crossJoin(F.broadcast(s)).crossJoin(F.broadcast(cats))
    nd = F.col("__n").cast("double")
    num = nd * F.col("__agree").cast("double") - F.col("__s").cast("double")
    den = nd * nd - F.col("__s").cast("double")
    return j.select(
        (num / den).alias("kappa"),
        (F.col("__agree").cast("double") / nd).alias("observed_agreement"),
        (F.col("__s").cast("double") / (nd * nd)).alias("expected_agreement"),
        F.col("__n").cast("long").alias("n_rows"),
        F.col("__cats").cast("long").alias("n_categories"),
    )


#: round(ln(2), 7) — the per-word divergence contribution of mass one side
#: has and the other lacks (p/m = 2 exactly when q = 0). Embedded as a
#: literal so Spark and the SQL oracle share the identical double.
LN2_ROUNDED = 0.6931472


def js_divergence_matrix(
    df: DataFrame,
    *,
    group_column: str,
    value_column: str,
    ln_decimals: int = 7,
    term_decimals: int = 9,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (nats) between the per-group
    value distributions — the symmetric, bounded (≤ ln 2) drift measure a
    mixture designer runs across sources before weighting them ("how far
    apart are these corpora's unigram distributions?"). Input is one row
    per OBSERVATION (e.g. one exploded token); the operator builds the
    distributions itself.

    ``JSD(P,Q) = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m)``, ``m = (p+q)/2``.

    Mass on values the other side lacks needs no join row: when ``q = 0``,
    ``p/m = 2`` exactly, so that whole tail contributes
    ``(1 − common_mass_p)·ln 2`` — computed from the pair's common-value
    count sums, not from an outer join. Shared values use the all-integer
    ratio ``p/m = 2·cₐ·n_b / (cₐ·n_b + c_b·nₐ)``.

    Cross-engine determinism: ratios are built from exact integer counts
    with one double cast per factor in a fixed op order. Quantization is
    NOT ``round(double, d)`` — Spark rounds the shortest string repr via
    BigDecimal while DuckDB rounds in floating point, and over ~10⁵
    (pair, value) terms one boundary disagreement is near-certain (seen
    at sf0.01). Instead every term is quantized with IEEE primitives
    only — ``floor(x·10^term_decimals + 0.5)`` as a BIGINT — where
    multiply, add and floor are all correctly-rounded single ops, so
    both engines produce the identical integer by construction. Each
    ``ln`` is quantized the same way at ``ln_decimals``; the missing-
    mass terms (exact integer ratios times the shared
    :data:`LN2_ROUNDED` literal) use the same quantizer; the combine is
    an exact BIGINT sum with ONE double division at the end.

    Plan shape: ONE (group, value) count groupBy (map-side combined) onto
    a ``persist()``-ed frame; group totals are a group-cardinality-sized
    broadcast; the pair terms come from a self-equi-join ON VALUE (one
    shuffle of the count frame; output ≤ |groups|²/2 rows per value —
    this is a per-SOURCE monitor, group cardinality is assumed dimension-
    sized); the pair skeleton is a broadcast totals×totals cross join, so
    disjoint-vocabulary pairs still get their (= ln 2) row.

    Returns one row per unordered pair
    ``(group_a, group_b, jsd_nats, n_common_values, n_a, n_b)`` with
    ``group_a < group_b``.
    """
    t = df.select(
        F.col(group_column).alias("__g"), F.col(value_column).alias("__v")
    ).filter(F.col("__g").isNotNull() & F.col("__v").isNotNull())
    # persist: the count frame feeds totals and both self-join sides
    c = t.groupBy("__g", "__v").agg(F.count(F.lit(1)).alias("__c")).persist()
    n = c.groupBy("__g").agg(F.sum("__c").alias("__n"))

    # rename BEFORE the self-join so lineage can't alias-collide
    left = c.select(
        F.col("__g").alias("__ga"), F.col("__v").alias("__va"),
        F.col("__c").alias("__ca"),
    )
    right = c.select(
        F.col("__g").alias("__gb"), F.col("__v").alias("__vb"),
        F.col("__c").alias("__cb"),
    )
    na = F.broadcast(n.select(F.col("__g").alias("__ga"), F.col("__n").alias("__na")))
    nb = F.broadcast(n.select(F.col("__g").alias("__gb"), F.col("__n").alias("__nb")))
    joined = (
        left.join(right, (F.col("__va") == F.col("__vb")) & (F.col("__ga") < F.col("__gb")))
        .join(na, "__ga")
        .join(nb, "__gb")
    )
    ca_d, cb_d = F.col("__ca").cast("double"), F.col("__cb").cast("double")
    na_d, nb_d = F.col("__na").cast("double"), F.col("__nb").cast("double")
    ln_scale = F.lit(float(10**ln_decimals))
    term_scale = F.lit(float(10**term_decimals))

    def quant_ln(x):
        return F.floor(F.log(x) * ln_scale + F.lit(0.5)) / ln_scale

    def quant_term(x):
        return F.floor(x * term_scale + F.lit(0.5)).cast("long")

    denom = ca_d * nb_d + cb_d * na_d
    term_a = quant_term(
        (ca_d / na_d) * quant_ln(F.lit(2.0) * ca_d * nb_d / denom)
    )
    term_b = quant_term(
        (cb_d / nb_d) * quant_ln(F.lit(2.0) * cb_d * na_d / denom)
    )
    common = joined.groupBy("__ga", "__gb").agg(
        F.sum(term_a).alias("__sa"),
        F.sum(term_b).alias("__sb"),
        F.sum("__ca").alias("__cca"),
        F.sum("__cb").alias("__ccb"),
        F.count(F.lit(1)).alias("__ncommon"),
    )
    skeleton = (
        n.select(F.col("__g").alias("__ga"), F.col("__n").alias("__na"))
        .crossJoin(n.select(F.col("__g").alias("__gb"), F.col("__n").alias("__nb")))
        .filter(F.col("__ga") < F.col("__gb"))
    )
    full = skeleton.join(F.broadcast(common), ["__ga", "__gb"], "left").select(
        "__ga", "__gb", "__na", "__nb",
        F.coalesce(F.col("__sa"), F.lit(0)).alias("__sad"),
        F.coalesce(F.col("__sb"), F.lit(0)).alias("__sbd"),
        F.coalesce(F.col("__cca"), F.lit(0)).alias("__cca"),
        F.coalesce(F.col("__ccb"), F.lit(0)).alias("__ccb"),
        F.coalesce(F.col("__ncommon"), F.lit(0)).alias("__ncommon"),
    )
    # missing-mass terms use the same floor-quantizer; the combine is an
    # exact BIGINT sum (order-independent) with one double division at
    # the very end — the ÷(2·10^d) folds the ×½ into the same single op
    miss_a = quant_term(
        (
            (F.col("__na") - F.col("__cca")).cast("double")
            / F.col("__na").cast("double")
        )
        * F.lit(LN2_ROUNDED)
    )
    miss_b = quant_term(
        (
            (F.col("__nb") - F.col("__ccb")).cast("double")
            / F.col("__nb").cast("double")
        )
        * F.lit(LN2_ROUNDED)
    )
    jsd = (F.col("__sad") + miss_a + F.col("__sbd") + miss_b).cast(
        "double"
    ) / (F.lit(2.0) * term_scale)
    return full.select(
        F.col("__ga").alias("group_a"),
        F.col("__gb").alias("group_b"),
        jsd.alias("jsd_nats"),
        F.col("__ncommon").cast("long").alias("n_common_values"),
        F.col("__na").cast("long").alias("n_a"),
        F.col("__nb").cast("long").alias("n_b"),
    )


def gini_coefficient(
    df: DataFrame,
    *,
    value_column: str,
    id_column: str,
) -> DataFrame:
    """Exact Gini coefficient of a non-negative value distribution —
    the one-number inequality audit (0 = uniform, ->1 = a few giant
    documents carry all the bytes). Complements the Pareto/concentration
    entries with the standard index:

    ``G = sum_i (2i - n - 1) x_(i) / (n * sum x)``

    over values ascending (ties broken by ``id_column`` — any total
    order over equal values yields the same sum, a unique tie-break
    just keeps both engines on identical ranks). The rank is
    ``packing.distributed_rank`` — range-bucketed exact global rank, no
    single-task corpus sort; the weighted sum accumulates in
    DECIMAL(38,0) (a bigint sum overflows under ANSI mode at trillions
    of rank*value terms).

    Returns one row: ``n_rows, total, gini_q6`` (floor(x*1e6+0.5) ->
    BIGINT, tie-proof across engines; NULL when the total is zero).
    """
    from pyspark_playground_spark.operators import packing as pk

    src = df.filter(
        F.col(value_column).isNotNull() & F.col(id_column).isNotNull()
    ).select(F.col(value_column).alias("__v"), F.col(id_column).alias("__id"))
    ranked = pk.distributed_rank(src, order_column="__v", id_column="__id")
    term = (
        (F.lit(2) * (F.col("rank") + 1) - F.col("__n") - 1).cast("decimal(38,0)")
        * F.col("__v").cast("decimal(38,0)")
    )
    totals = src.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__v").alias("__s")
    )
    return (
        ranked.join(F.broadcast(totals))
        .agg(
            F.max("__n").cast("long").alias("n_rows"),
            F.max("__s").cast("long").alias("total"),
            F.sum(term).alias("__num"),
        )
        .select(
            "n_rows",
            "total",
            F.when(
                F.col("total") > 0,
                F.floor(
                    F.col("__num").cast("double")
                    / (
                        F.col("n_rows").cast("double")
                        * F.col("total").cast("double")
                    )
                    * F.lit(1e6)
                    + F.lit(0.5)
                ).cast("long"),
            ).alias("gini_q6"),
        )
    )


def uncertainty_coefficient(
    df: DataFrame,
    *,
    x_column: str,
    y_column: str,
    ln_decimals: int = 7,
) -> DataFrame:
    """Theil's uncertainty coefficient U(Y|X) = MI(X;Y) / H(Y) — the
    NORMALIZED version of ``mutual_information``: the fraction of Y's
    entropy explained by knowing X, in [0, 1] regardless of the columns'
    cardinalities (raw MI is unbounded, so a threshold that works for a
    3-value column is meaningless for a 300-value one). U = 1 ⇔ X
    determines Y — the actionable leakage gate ("source pins down the
    language" reads directly as U ≈ 1).

    Same bounded cell-frame plan as ``mutual_information`` (one joint
    groupBy persisted, marginals over the cell frame, broadcast totals)
    with H(Y) folded from the y-marginal in the same pass; the
    rounded-ln + exact-DECIMAL-sum recipe keeps both engines
    bit-identical.

    Returns one row ``(theil_u_q6, mi_nats, hy_nats, n_rows, n_cells)``
    with the ratio quantized floor(x*1e6+0.5) -> BIGINT (tie-proof);
    ``theil_u_q6`` is NULL when H(Y) = 0 (a constant Y has nothing to
    explain).
    """
    gy, n, joined, mi_term = _mi_cell_frame(df, x_column, y_column, ln_decimals)
    # H(Y) from the y-marginal: ln(N) - Σ c_y·ln(c_y) / N, same recipe
    hy_term = F.round(
        F.col("__cy").cast("double")
        * F.round(F.log(F.col("__cy").cast("double")), ln_decimals),
        7,
    ).cast("decimal(28,9)")
    # ln(N) rounded like every other ln here — an unrounded transcendental
    # is the one place two engines' libm can drift a ulp
    hy = gy.crossJoin(F.broadcast(n)).agg(
        (
            F.round(F.log(F.max("__n").cast("double")), ln_decimals)
            - F.sum(hy_term).cast("double") / F.max("__n").cast("double")
        ).alias("hy_nats")
    )
    mi = (
        joined.groupBy("__n", "__cells")
        .agg(F.sum(mi_term).alias("__mi"))
        .select(
            F.col("__mi").cast("double").alias("mi_nats"),
            F.col("__n").cast("long").alias("n_rows"),
            F.col("__cells").cast("long").alias("n_cells"),
        )
    )
    return mi.crossJoin(F.broadcast(hy)).select(
        F.when(
            F.col("hy_nats") > 0,
            F.floor(
                F.col("mi_nats") / F.col("hy_nats") * F.lit(1e6) + F.lit(0.5)
            ).cast("long"),
        ).alias("theil_u_q6"),
        "mi_nats",
        "hy_nats",
        "n_rows",
        "n_cells",
    )


def functional_dependencies(
    df: DataFrame,
    candidates: list[tuple[str, str]],
) -> DataFrame:
    """Functional-dependency census over candidate column pairs: for
    each ``(a, b)``, does ``a -> b`` hold (every ``a`` value maps to
    exactly one non-null ``b``), and if not, how badly — the
    schema-discovery / data-contract audit ("is order key really a key
    for customer? did the enum column silently become per-row?").

    Per candidate: one map-side-combined groupBy on ``a`` with an exact
    ``count_distinct(b)``, folded to a one-row summary; candidates run
    as a union of independent branches, each a pruned two-column scan.
    NULL ``a`` rows are excluded (a dependency is defined over present
    determinant values); NULL ``b`` values don't count as a distinct
    image. Returns one row per candidate:
    ``fd, n_groups, violating_groups, max_images, holds``.
    """
    if not candidates:
        raise ValueError("functional_dependencies needs >=1 candidate pair")
    parts = []
    for a, b in candidates:
        g = (
            df.where(F.col(a).isNotNull())
            .groupBy(F.col(a))
            .agg(F.count_distinct(F.col(b)).alias("__nb"))
        )
        parts.append(
            g.agg(
                F.lit(f"{a}->{b}").alias("fd"),
                F.count(F.lit(1)).alias("n_groups"),
                F.sum(F.when(F.col("__nb") > 1, 1).otherwise(0))
                .cast("long")
                .alias("violating_groups"),
                F.max("__nb").alias("max_images"),
            ).withColumn("holds", F.col("violating_groups") == 0)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def isotonic_calibration(
    df: DataFrame,
    *,
    score_column: str,
    label_column: Column | str,
    bins: int = 20,
) -> DataFrame:
    """Isotonic calibration of a score against a boolean label
    (Zadrozny & Elkan, KDD'02) at bin granularity: the exact isotonic
    regression over the ≤ ``bins`` occupied equal-width score bins,
    computed via the MINIMAX closed form (Barlow et al.'72)::

        fitted(i) = max_{j ≤ i} min_{k ≥ i} pos_rate(bins j..k)

    which equals the sequential pool-adjacent-violators solution but is
    fully parallel: the corpus-sized work is :func:`calibration_bins`'
    one binning groupBy; everything after runs on bounded frames — a
    ≤ bins-row prefix-sum window, a ≤ bins²-row segment enumeration and
    a ≤ bins³-row minimax join (8000 rows at bins=20; model-sized by
    design, documented as such).

    Determinism: every segment rate is ONE double division of exact
    integer sums — IEEE division is correctly rounded, so equal
    rationals produce bit-equal doubles on any engine regardless of
    which (pos, n) pair represents them; the minimax then compares
    those exact-rational doubles.

    Output per occupied bin: (bin, n, n_pos, pos_rate, fitted) with
    ``fitted`` monotone non-decreasing in ``bin`` — the calibrated
    probability to apply to scores landing in that bin.
    """
    from pyspark_playground_spark.operators.dedup import _materialize

    # the ≤bins-row bin table feeds four consumers (k/j/i sides + the
    # final join) — materialize it so the corpus-sized binning groupBy
    # runs once, not once per consumer
    base = _materialize(
        calibration_bins(
            df, score_column=score_column, label_column=label_column,
            bins=bins,
        ).select("bin", "n", "n_pos", "pos_rate")
    )
    # prefix sums over the ≤bins-row bin table (bounded unpartitioned
    # window — the distributed_rank counts precedent)
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = base.select(
        "bin",
        "n",
        "n_pos",
        "pos_rate",
        F.sum("n").over(w).alias("__cn"),
        F.sum("n_pos").over(w).alias("__cp"),
    )
    k_side = pre.select(
        F.col("bin").alias("__k"),
        F.col("__cn").alias("__cnk"),
        F.col("__cp").alias("__cpk"),
    )
    j_side = pre.select(
        F.col("bin").alias("__j"),
        (F.col("__cn") - F.col("n")).alias("__cnb"),
        (F.col("__cp") - F.col("n_pos")).alias("__cpb"),
    )
    segs = k_side.join(j_side, F.col("__j") <= F.col("__k")).select(
        "__j",
        "__k",
        (
            (F.col("__cpk") - F.col("__cpb")).cast("double")
            / (F.col("__cnk") - F.col("__cnb")).cast("double")
        ).alias("__rate"),
    )
    i_side = pre.select(F.col("bin").alias("__i"))
    inner = (
        i_side.join(
            segs, (F.col("__j") <= F.col("__i")) & (F.col("__k") >= F.col("__i"))
        )
        .groupBy("__i", "__j")
        .agg(F.min("__rate").alias("__mn"))
    )
    fitted = inner.groupBy("__i").agg(F.max("__mn").alias("fitted"))
    return pre.join(fitted, pre["bin"] == fitted["__i"]).select(
        "bin", "n", "n_pos", "pos_rate", "fitted"
    )


def mcnemar_test(
    df: DataFrame,
    *,
    a_column: Column | str,
    b_column: Column | str,
) -> DataFrame:
    """McNemar's paired test (McNemar, Psychometrika'47) between two
    boolean labelers over the same rows — :func:`cohen_kappa`'s
    companion: kappa scores the LEVEL of agreement, McNemar tests
    whether the disagreements are ASYMMETRIC (labeler A keeps flipping
    rows to positive that B calls negative — a bias, not noise; the
    signal that one auto-labeler version drifted).

    With discordant counts b (A=true, B=false) and c (A=false, B=true),
    the chi-square statistic is ``(b − c)² / (b + c)`` — one exact
    integer expression with a single double division (NULL when
    b + c = 0: no disagreement, nothing to test). Rows with a NULL on
    either side are excluded.

    Plan: ONE aggregation (map-side combined). Output one row:
    (n_rows, both_true, both_false, a_only, b_only, statistic).
    """
    a = (F.col(a_column) if isinstance(a_column, str) else a_column).cast(
        "boolean"
    )
    b = (F.col(b_column) if isinstance(b_column, str) else b_column).cast(
        "boolean"
    )
    t = df.select(a.alias("__a"), b.alias("__b")).filter(
        F.col("__a").isNotNull() & F.col("__b").isNotNull()
    )
    agg = t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("__a") & F.col("__b"), 1)).alias("both_true"),
        F.count(F.when(~F.col("__a") & ~F.col("__b"), 1)).alias("both_false"),
        F.count(F.when(F.col("__a") & ~F.col("__b"), 1)).alias("a_only"),
        F.count(F.when(~F.col("__a") & F.col("__b"), 1)).alias("b_only"),
    )
    bc = F.col("a_only") + F.col("b_only")
    diff = (F.col("a_only") - F.col("b_only")).cast("double")
    return agg.select(
        "n_rows",
        "both_true",
        "both_false",
        "a_only",
        "b_only",
        F.when(bc > 0, diff * diff / bc.cast("double")).alias("statistic"),
    )


def kendall_tau(
    df: DataFrame,
    *,
    x_column: str,
    y_column: str,
) -> DataFrame:
    """Exact tie-corrected Kendall's tau-b between two columns —
    :func:`spearman_correlation`'s companion (Spearman correlates the
    RANKS, Kendall counts pairwise ORDER agreements; tau is the more
    robust of the two under heavy ties and the one with the direct
    probabilistic reading: P(concordant) − P(discordant))::

        tau_b = (C − D) / sqrt((n0 − n1)(n0 − n2))

    with C/D the concordant/discordant pair counts, n0 = n(n−1)/2 and
    n1/n2 the tie corrections Σ t(t−1)/2 per distinct x / y value.

    Exactness: all counts come from the (x, y) CELL census — C and D
    are sums of n_i·n_j over cell pairs, so every quantity is an exact
    integer widened to DECIMAL(38,0) (pair products overflow int64 at
    scale); one double expression at the end. The cell self-join is
    O(cells²) where cells = distinct (x, y) combinations — bounded by
    value cardinality, not rows (the mutual-information cell-frame
    envelope; pre-bin continuous domains upstream, as with drift_ks).

    Output one row: (n_rows, n_cells, concordant_s, discordant_s,
    tau_b) — exact counts as strings for the oracle; NULL tau when a
    side is constant.
    """
    from pyspark_playground_spark.operators.dedup import _materialize

    t = df.select(
        F.col(x_column).alias("__x"), F.col(y_column).alias("__y")
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    cells = _materialize(
        t.groupBy("__x", "__y").agg(F.count(F.lit(1)).alias("__n"))
    )
    a = cells.select(
        F.col("__x").alias("__xa"), F.col("__y").alias("__ya"),
        F.col("__n").alias("__na"),
    )
    b = cells.select(
        F.col("__x").alias("__xb"), F.col("__y").alias("__yb"),
        F.col("__n").alias("__nb"),
    )
    prod = (F.col("__na").cast("decimal(19,0)")
            * F.col("__nb").cast("decimal(19,0)")).cast("decimal(38,0)")
    pairs = a.join(b, F.col("__xb") > F.col("__xa")).select(
        F.when(F.col("__yb") > F.col("__ya"), prod)
        .otherwise(F.lit(0).cast("decimal(38,0)")).alias("__c"),
        F.when(F.col("__yb") < F.col("__ya"), prod)
        .otherwise(F.lit(0).cast("decimal(38,0)")).alias("__d"),
    )
    cd = pairs.agg(
        F.coalesce(F.sum("__c"), F.lit(0).cast("decimal(38,0)")).alias("__C"),
        F.coalesce(F.sum("__d"), F.lit(0).cast("decimal(38,0)")).alias("__D"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    half = lambda c: dec(c) * dec(c - 1) / 2  # noqa: E731  (exact: t(t-1) even)
    tx_ = cells.groupBy("__x").agg(F.sum("__n").alias("__t")).agg(
        F.sum(half(F.col("__t"))).cast("decimal(38,0)").alias("__n1")
    )
    ty_ = cells.groupBy("__y").agg(F.sum("__n").alias("__t")).agg(
        F.sum(half(F.col("__t"))).cast("decimal(38,0)").alias("__n2")
    )
    nn = cells.agg(
        F.sum("__n").alias("__nr"),
        F.count(F.lit(1)).alias("n_cells"),
    ).select(
        "__nr", "n_cells",
        half(F.col("__nr")).cast("decimal(38,0)").alias("__n0"),
    )
    j = (
        nn.crossJoin(F.broadcast(cd))
        .crossJoin(F.broadcast(tx_))
        .crossJoin(F.broadcast(ty_))
    )
    C, D = F.col("__C").cast("double"), F.col("__D").cast("double")
    n0 = F.col("__n0").cast("double")
    n1, n2 = F.col("__n1").cast("double"), F.col("__n2").cast("double")
    return j.select(
        F.col("__nr").cast("long").alias("n_rows"),
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("__C").cast("string").alias("concordant_s"),
        F.col("__D").cast("string").alias("discordant_s"),
        F.when(
            ((n0 - n1) > 0) & ((n0 - n2) > 0),
            (C - D) / F.sqrt((n0 - n1) * (n0 - n2)),
        ).alias("tau_b"),
    )


def mann_whitney_u(
    df: DataFrame,
    *,
    value_column: str,
    group_column: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Exact tie-corrected Mann-Whitney U (Wilcoxon rank-sum) test that
    ``value_column`` is stochastically larger in ``group_a`` than in
    ``group_b`` — the distribution-free two-sample location test, the
    right tool when doc-length / score distributions are skewed and a
    t-test's normality assumption is junk (e.g. "did the new crawl
    source shift the length distribution?").

    Exact-integer construction (no float ranks): collapse to a value
    census with per-group counts ``(ca, cb)``; with ``cum`` rows below a
    tied value group of size ``c``, every member's midrank is
    ``cum + (c+1)/2``, so TWICE the rank sum of group A is the integer
    ``R2 = sum ca * (2*cum + c + 1)`` and ``U_A * 2 = R2 - na*(na+1)``
    — accumulated in DECIMAL(38,0) (products reach ~2*N^2). The normal
    approximation uses the standard tie-corrected variance
    ``na*nb/12 * ((N+1) - sum(c^3-c)/(N*(N-1)))``; the z statistic is
    one fixed-order double expression quantized floor(z*1e6+0.5) ->
    BIGINT (tie-proof cross-engine, no printf). z is NULL when the
    variance is 0 (all values tied).

    Shuffle census: one groupBy on the value, then one unpartitioned
    window + fold over the CENSUS frame — bounded by the value
    cardinality (for length-like columns a fixed domain, not corpus
    size), the same bound the Kendall/Spearman cell frames rely on.

    Output (one row): n_a, n_b, u_a_x2, tie_term, z_q6.
    """
    flag = F.col(group_column) == group_a
    t = df.where(
        F.col(group_column).isin(group_a, group_b)
        & F.col(value_column).isNotNull()
    ).select(F.col(value_column).alias("__v"), flag.alias("__ia"))
    cells = t.groupBy("__v").agg(
        F.sum(F.when(F.col("__ia"), 1).otherwise(0)).alias("__ca"),
        F.sum(F.when(F.col("__ia"), 0).otherwise(1)).alias("__cb"),
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    c = (F.col("__ca") + F.col("__cb")).alias("__c")
    ranked = cells.select(
        "__ca",
        "__cb",
        c,
        F.coalesce(
            F.sum(F.col("__ca") + F.col("__cb")).over(w), F.lit(0)
        ).alias("__cum"),
    )
    # Exactness envelope (non-ANSI decimal overflow yields NULL, so state
    # the bounds): the tie term sums c^3 in DECIMAL(38,0) via DECIMAL(18,0)
    # factors — exact until a single tied-value group exceeds ~4.6e12 rows
    # (c^3 > 10^38); the rank-sum path has the same 18-digit factor bound.
    # u_a_x2's final cast('long') wraps past 2^63, i.e. n_a*n_b ≳ 4.6e18
    # (~2e9 rows per group). Both are far beyond any two-sample test's
    # practical domain; past them the result is NULL / wrapped, not
    # silently-close-but-wrong in range.
    d18 = lambda col: col.cast("decimal(18,0)")  # noqa: E731
    s = ranked.agg(
        F.sum("__ca").cast("long").alias("n_a"),
        F.sum("__cb").cast("long").alias("n_b"),
        F.sum(
            d18(F.col("__ca"))
            * d18(F.lit(2) * F.col("__cum") + F.col("__c") + 1)
        ).alias("__r2a"),
        F.sum(
            d18(F.col("__c")) * d18(F.col("__c")) * d18(F.col("__c"))
            - d18(F.col("__c"))
        ).alias("__tt"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    nn = (F.col("n_a") + F.col("n_b")).cast("double")
    u2 = (
        F.col("__r2a")
        - F.col("n_a").cast("decimal(18,0)")
        * (F.col("n_a") + 1).cast("decimal(18,0)")
    )
    var = (
        na * nb / F.lit(12.0)
        * ((nn + F.lit(1.0)) - F.col("__tt").cast("double")
           / (nn * (nn - F.lit(1.0))))
    )
    z = (u2.cast("double") - na * nb) / (F.lit(2.0) * F.sqrt(var))
    return s.select(
        "n_a",
        "n_b",
        u2.cast("long").alias("u_a_x2"),
        F.col("__tt").cast("long").alias("tie_term"),
        F.when(
            var > 0, F.floor(z * F.lit(1e6) + F.lit(0.5)).cast("long")
        ).alias("z_q6"),
    )


def chi_square_independence(
    df: DataFrame,
    *,
    a_column: str,
    b_column: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns plus Cramér's V effect size — the "is source correlated with
    language / label / split?" audit every stratified corpus decision
    should run first (a big V between source and lang means per-source
    quality thresholds silently become per-language ones).

    Exact-integer construction up to the last step: one contingency
    census ``groupBy(a, b) -> o`` (bounded by the level-cardinality
    product, never corpus size), margins re-aggregated FROM the census
    (two tiny shuffles) and broadcast back. Per cell,
    ``o - e = (o*N - ra*cb) / N`` has an exact DECIMAL(38,0) numerator
    (exact while N <= ~1e19), so each cell's term
    ``(o-e)^2/e = d_dbl*d_dbl / (ra*cb*N)`` is ONE fixed-order double
    expression — identical on any engine — quantized per cell to
    ``floor(term*1e6+0.5)`` and summed as BIGINT (order-free integer
    sum; ``chi2_x6`` is the sum of per-cell quantizations, documented
    as such). Cramér's V = sqrt(chi2 / (N*min(R-1, C-1))) follows in
    one more fixed-order double, quantized q6.

    NULLs in either column are excluded (a NULL level is a data-quality
    question for ``null_profile``, not a category). Output one row:
    (n_rows, n_cells, r_levels, c_levels, dof, chi2_x6, cramers_v_q6);
    chi2/V are NULL when the table is degenerate (R < 2 or C < 2).
    """
    t = df.select(
        F.col(a_column).cast("string").alias("__a"),
        F.col(b_column).cast("string").alias("__b"),
    ).filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    cells = t.groupBy("__a", "__b").agg(F.count(F.lit(1)).alias("__o"))
    cells = cells.persist()  # census feeds margins + the main branch
    ra = cells.groupBy("__a").agg(F.sum("__o").alias("__ra"))
    cb = cells.groupBy("__b").agg(F.sum("__o").alias("__cb"))
    tot = cells.agg(
        F.sum("__o").alias("__n"),
        F.count(F.lit(1)).alias("__ncells"),
        F.countDistinct("__a").alias("__r"),
        F.countDistinct("__b").alias("__c"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    joined = (
        cells.join(F.broadcast(ra), "__a")
        .join(F.broadcast(cb), "__b")
        .join(F.broadcast(tot))
    )
    d_dbl = (
        d38(F.col("__o")) * d38(F.col("__n"))
        - d38(F.col("__ra")) * d38(F.col("__cb"))
    ).cast("double")
    denom = (
        F.col("__ra").cast("double")
        * F.col("__cb").cast("double")
        * F.col("__n").cast("double")
    )
    term_q6 = F.floor(d_dbl * d_dbl / denom * F.lit(1e6) + F.lit(0.5))
    s = joined.agg(
        F.first("__n").alias("__n"),
        F.first("__ncells").alias("__ncells"),
        F.first("__r").alias("__r"),
        F.first("__c").alias("__c"),
        F.sum(term_q6).alias("__chi2_x6"),
    )
    minrc = F.least(F.col("__r") - 1, F.col("__c") - 1)
    ok = (F.col("__r") >= 2) & (F.col("__c") >= 2)
    v = F.sqrt(
        F.col("__chi2_x6").cast("double")
        / F.lit(1e6)
        / (F.col("__n").cast("double") * minrc.cast("double"))
    )
    return s.select(
        F.col("__n").cast("long").alias("n_rows"),
        F.col("__ncells").cast("long").alias("n_cells"),
        F.col("__r").cast("long").alias("r_levels"),
        F.col("__c").cast("long").alias("c_levels"),
        ((F.col("__r") - 1) * (F.col("__c") - 1)).cast("long").alias("dof"),
        F.when(ok, F.col("__chi2_x6")).cast("long").alias("chi2_x6"),
        F.when(ok, F.floor(v * F.lit(1e6) + F.lit(0.5)))
        .cast("long")
        .alias("cramers_v_q6"),
    )


def anova_oneway(
    df: DataFrame,
    *,
    value_column: str,
    group_column: str,
) -> DataFrame:
    """One-way ANOVA F statistic — "do the group means differ?" across
    k ≥ 2 groups at once: the k-sample extension of
    :func:`two_proportion_test`'s comparison that
    :func:`chi_square_independence` answers for categoricals and
    :func:`mann_whitney_u` for two-sample ranks.

    Census discipline: values quantize ONCE to exact integers
    ``vq = floor(v·1e6+0.5)`` (never ``round(double, d)`` — it diverges
    cross-engine past ~15 significant digits), then ONE group aggregate
    ``(n_g, Σvq, Σvq²)`` accumulates exact DECIMAL(38,0) integer sums —
    order-free, engine-stable, overflow-safe to ~1e10 rows of ~1e6-scale
    values. Per group, the within/between contributions
    ``(Σvq² − (Σvq)²/n_g)/1e12`` and ``n_g·(Σvq/n_g − x̄q)²/1e12``
    (the /1e12 undoes the quantization scale) are each ONE fixed-order
    double expression from exact integer inputs, quantized
    ``floor(term+0.5)`` per group (integer value² units — sums of
    squares reach ~1e20 at corpus scale, so q6 would overflow BIGINT;
    the sub-unit remainder is irrelevant to a q6 F ratio and the
    quantized integers are identical cross-engine regardless) and
    summed order-free in exact DECIMAL(38,0), rendered as strings.
    ``F = (SSB/(k−1)) / (SSW/(N−k))`` follows as one more fixed-order
    double over the two exact integers, quantized q6 (scale-invariant,
    so the quantization cancels). NULL values excluded; F is NULL when
    k < 2, N ≤ k, or SSW = 0 (zero within-group variance).

    Output one row: (n_rows, k_groups, dof_between, dof_within, ssb_s,
    ssw_s, f_q6) — ssb/ssw exact integer strings in (original value)²
    units.
    """
    vq = F.floor(
        F.col(value_column).cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    t = df.select(
        F.col(group_column).cast("string").alias("__g"), vq.alias("__v")
    ).filter(F.col("__v").isNotNull() & F.col("__g").isNotNull())
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cens = t.groupBy("__g").agg(
        F.count(F.lit(1)).alias("__ng"),
        F.sum(d38(F.col("__v"))).alias("__sg"),
        F.sum(d38(F.col("__v")) * d38(F.col("__v"))).alias("__qg"),
    )
    cens = cens.persist()  # census feeds the global totals and the terms
    tot = cens.agg(
        F.sum("__ng").alias("__n"),
        # re-cast before summing summed decimals (precision-loss trap)
        F.sum(F.col("__sg").cast("decimal(38,0)")).alias("__s"),
        F.count(F.lit(1)).alias("__k"),
    )
    j = cens.join(F.broadcast(tot))
    sg = F.col("__sg").cast("double")
    ng = F.col("__ng").cast("double")
    gmean = F.col("__s").cast("double") / F.col("__n").cast("double")
    ssw_g = (F.col("__qg").cast("double") - sg * sg / ng) / F.lit(1e12)
    ssb_g = ng * (sg / ng - gmean) * (sg / ng - gmean) / F.lit(1e12)
    agg = j.agg(
        F.first("__n").alias("__n"),
        F.first("__k").alias("__k"),
        F.sum(
            F.floor(ssb_g + F.lit(0.5)).cast("decimal(38,0)")
        ).alias("__ssb"),
        F.sum(
            F.floor(ssw_g + F.lit(0.5)).cast("decimal(38,0)")
        ).alias("__ssw"),
    )
    ok = (
        (F.col("__k") >= 2)
        & (F.col("__n") > F.col("__k"))
        & (F.col("__ssw") > 0)
    )
    fstat = (
        F.col("__ssb").cast("double")
        / (F.col("__k") - 1).cast("double")
    ) / (
        F.col("__ssw").cast("double")
        / (F.col("__n") - F.col("__k")).cast("double")
    )
    return agg.select(
        F.col("__n").cast("long").alias("n_rows"),
        F.col("__k").cast("long").alias("k_groups"),
        (F.col("__k") - 1).cast("long").alias("dof_between"),
        (F.col("__n") - F.col("__k")).cast("long").alias("dof_within"),
        F.col("__ssb").cast("string").alias("ssb_s"),
        F.col("__ssw").cast("string").alias("ssw_s"),
        F.when(ok, F.floor(fstat * F.lit(1e6) + F.lit(0.5)))
        .cast("long")
        .alias("f_q6"),
    )


def pr_curve(
    df: DataFrame,
    *,
    score_column: str,
    label_column: Column | str,
    buckets: int = 64,
) -> DataFrame:
    """Exact precision/recall/F1 sweep over EVERY distinct score
    threshold (predict positive when ``score >= threshold``) — the full
    PR curve behind a quality-classifier cutoff decision; pick the
    operating point from this table, not from a single eyeballed
    threshold. Complements :func:`exact_auc` (one threshold-free
    number) with the per-threshold view.

    Pure integer arithmetic end to end — no doubles anywhere: group to
    a score census ``(s, n_pos, n_neg)``, take the descending cumulative
    (``tp(s)``/``fp(s)`` = positives/negatives at scores ``>= s``) via
    the range-bucket pattern (no single-task data-sized window; ordered
    by the negated score so "strictly before" = "strictly greater"),
    then ``precision_x6 = tp*1000000 DIV (tp+fp)`` etc. — exact
    floor-quantized ratios, identical on any engine. Bound:
    ``2*tp*1000000`` must fit BIGINT, i.e. positives <= ~4.6e12 —
    beyond any labeled eval set. NULL scores/labels are excluded.

    Output: one row per distinct score (threshold, tp, fp, fn,
    precision_x6, recall_x6, f1_x6), bounded by score cardinality.
    """
    y = (
        F.col(label_column) if isinstance(label_column, str) else label_column
    )
    t = df.select(
        F.col(score_column).alias("__s"), y.cast("boolean").alias("__y")
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    g = (
        t.groupBy("__s")
        .agg(
            F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("__np"),
            F.sum(F.when(F.col("__y"), 0).otherwise(1)).alias("__nn"),
        )
        .withColumn("__negs", -F.col("__s"))
        .persist()
    )
    data = _bucketed_cum_before(
        g,
        order_column="__negs",
        sum_column=["__np", "__nn"],
        out=["__tp_above", "__fp_above"],
        buckets=buckets,
    )
    totals = g.agg(
        F.sum("__np").alias("__P"), F.sum("__nn").alias("__N")
    )
    data = data.join(F.broadcast(totals))
    tp = (F.col("__tp_above") + F.col("__np")).cast("long")
    fp = (F.col("__fp_above") + F.col("__nn")).cast("long")
    fn = (F.col("__P") - tp).cast("long")
    data = data.select(
        F.col("__s").alias("threshold"),
        tp.alias("tp"),
        fp.alias("fp"),
        fn.alias("fn"),
    )
    # tp+fp >= 1 and 2tp+fp+fn >= 1 at every emitted threshold (the
    # threshold row itself has >= 1 observation), but tp+fn == total
    # positives CAN be 0 — guard recall explicitly: ANSI Spark raises on
    # integer DIV by zero where DuckDB yields NULL
    return data.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        F.expr("(tp * 1000000L) DIV (tp + fp)").alias("precision_x6"),
        F.expr(
            "CASE WHEN tp + fn > 0 THEN (tp * 1000000L) DIV (tp + fn) END"
        ).alias("recall_x6"),
        F.expr("(2L * tp * 1000000L) DIV (2L * tp + fp + fn)").alias(
            "f1_x6"
        ),
    )


def conformal_threshold(
    df: DataFrame,
    *,
    score_column: str,
    calibration_column: Column | str,
    alpha_num: int = 1,
    alpha_den: int = 10,
    buckets: int = 64,
) -> DataFrame:
    """Split-conformal quantile threshold with finite-sample coverage —
    the distribution-free cut for "keep documents whose score is within
    the (1-α) envelope, with a GUARANTEE": the threshold is the
    ``ceil((n+1)(1-α))``-th smallest calibration score, so a fresh
    exchangeable point lands at or below it with probability ≥ 1-α
    (Vovk et al.'s split conformal — public-domain construction).

    α is a RATIONAL ``alpha_num/alpha_den`` so the rank is exact
    integer arithmetic: ``k = ceil((n+1)(den-num)/den) =
    ((n+1)(den-num) + den - 1) DIV den`` — no float rank, no
    engine-split rounding at boundary n. The k-th order statistic
    comes from the score census + the range-bucket cumulative (no
    data-sized window, no sort): the unique census row with
    ``cum_below < k <= cum_below + cnt``. When ``k > n_cal`` (tiny
    calibration set) the conformal set is everything: threshold NULL,
    coverage 1 by convention. The held-out rows (calibration flag
    false) report achieved coverage as an exact integer ratio.

    Output one row: (n_cal, n_eval, k_rank, threshold, n_covered,
    coverage_x6, target_x6).
    """
    flag = (
        F.col(calibration_column)
        if isinstance(calibration_column, str)
        else calibration_column
    )
    # persist t: it feeds the calibration census AND the held-out count
    t = df.select(
        F.col(score_column).alias("__s"), flag.cast("boolean").alias("__cal")
    ).filter(F.col("__s").isNotNull() & F.col("__cal").isNotNull()).persist()
    g = (
        t.filter(F.col("__cal"))
        .groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .persist()
    )
    k = g.agg(
        F.coalesce(F.sum("__cnt"), F.lit(0)).cast("long").alias("n_cal")
    ).select(
        "n_cal",
        F.expr(
            f"((n_cal + 1) * {alpha_den - alpha_num} + {alpha_den - 1})"
            f" DIV {alpha_den}"
        ).alias("k_rank"),
    )
    data = _bucketed_cum_before(
        g, order_column="__s", sum_column="__cnt", out="__cum",
        buckets=buckets,
    )
    th = (
        data.join(F.broadcast(k))
        .filter(
            (F.col("__cum") < F.col("k_rank"))
            & (F.col("__cum") + F.col("__cnt") >= F.col("k_rank"))
        )
        .agg(F.min("__s").alias("threshold"))
    )
    ev = (
        t.filter(~F.col("__cal"))
        .join(F.broadcast(th))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(
                F.when(
                    F.col("threshold").isNull()
                    | (F.col("__s") <= F.col("threshold")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return (
        F.broadcast(k)
        .join(F.broadcast(th))
        .join(F.broadcast(ev))
        .select(
            "n_cal",
            F.coalesce("n_eval", F.lit(0)).alias("n_eval"),
            "k_rank",
            "threshold",
            F.coalesce("n_covered", F.lit(0)).alias("n_covered"),
            # guard: no held-out rows -> NULL coverage (ANSI DIV raises)
            F.expr(
                "CASE WHEN n_eval > 0"
                " THEN (n_covered * 1000000L) DIV n_eval END"
            ).alias("coverage_x6"),
            F.lit(
                ((alpha_den - alpha_num) * 1_000_000) // alpha_den
            ).cast("long").alias("target_x6"),
        )
    )


def classification_report(
    df: DataFrame,
    *,
    true_column: str,
    pred_column: str,
) -> DataFrame:
    """Per-class precision/recall/F1 + support from a (true, pred) frame
    — the standard eval table behind an auto-labeler acceptance call
    (:func:`cohen_kappa` gives the one-number chance-corrected gate;
    this is the per-class view that says WHICH language the labeler
    confuses). Pure integer arithmetic: one confusion census groupBy
    bounded by |classes|^2, margins re-aggregated from the census, every
    ratio an exact ``x*1e6 DIV y`` (NULL when the class never appears on
    that side — ANSI-safe). Classes appearing on either side are
    reported; NULL labels are excluded.

    Output: (label, support, tp, fp, fn, precision_x6, recall_x6,
    f1_x6), one row per class.
    """
    t = df.select(
        F.col(true_column).cast("string").alias("__t"),
        F.col(pred_column).cast("string").alias("__p"),
    ).filter(F.col("__t").isNotNull() & F.col("__p").isNotNull())
    cells = t.groupBy("__t", "__p").agg(F.count(F.lit(1)).alias("__c"))
    cells = cells.persist()
    ra = cells.groupBy("__t").agg(F.sum("__c").alias("__support"))
    cb = cells.groupBy("__p").agg(F.sum("__c").alias("__pred_n"))
    diag = cells.filter(F.col("__t") == F.col("__p")).select(
        F.col("__t").alias("__label"), F.col("__c").alias("__tp")
    )
    labels = (
        ra.select(F.col("__t").alias("__label"))
        .union(cb.select(F.col("__p").alias("__label")))
        .distinct()
    )
    out = (
        labels.join(ra, labels["__label"] == ra["__t"], "left")
        .join(cb, labels["__label"] == cb["__p"], "left")
        .join(diag, "__label", "left")
        .select(
            F.col("__label").alias("label"),
            F.coalesce("__support", F.lit(0)).cast("long").alias("support"),
            F.coalesce("__tp", F.lit(0)).cast("long").alias("tp"),
            (F.coalesce("__pred_n", F.lit(0)) - F.coalesce("__tp", F.lit(0)))
            .cast("long")
            .alias("fp"),
            (F.coalesce("__support", F.lit(0)) - F.coalesce("__tp", F.lit(0)))
            .cast("long")
            .alias("fn"),
        )
    )
    return out.select(
        "label",
        "support",
        "tp",
        "fp",
        "fn",
        F.expr(
            "CASE WHEN tp + fp > 0 THEN (tp * 1000000L) DIV (tp + fp) END"
        ).alias("precision_x6"),
        F.expr(
            "CASE WHEN tp + fn > 0 THEN (tp * 1000000L) DIV (tp + fn) END"
        ).alias("recall_x6"),
        F.expr(
            "CASE WHEN 2L * tp + fp + fn > 0"
            " THEN (2L * tp * 1000000L) DIV (2L * tp + fp + fn) END"
        ).alias("f1_x6"),
    )


def calibration_error_report(
    df: DataFrame,
    *,
    score_ppm_column: str,
    label_column: Column | str,
    bins: int = 10,
) -> DataFrame:
    """ECE / MCE / Brier score in EXACT integer arithmetic — the one-row
    calibration verdict beside :func:`calibration_bins`' per-bin
    diagram. Requires the score as integer PPM in [0, 1e6] (e.g.
    ``sampling.percent_rank_calibration``'s ``pct_ppm``, or any
    quantized probability) — that's what makes the errors exact:

    - bin b's ECE contribution is ``(n_b/N)·|pos_b/n_b − conf_b|``
      where ``conf_b = Σ score_ppm / (n_b·1e6)``; algebra collapses it
      to ``|pos_b·1e6 − Σ score_ppm_b|`` — an exact BIGINT numerator —
      so ``ece_x6 = Σ_b |pos_b·1e6 − Σppm_b| DIV N`` with ONE integer
      division total (no per-bin rounding, no float sum);
    - ``mce_x6 = max_b (|pos_b·1e6 − Σppm_b| DIV n_b)`` (floor per bin,
      documented);
    - ``brier_x12 = Σ (score_ppm − y·1e6)² DIV N`` in units of 1e-12,
      terms ≤ 1e12 summed in DECIMAL(38,0) (exact to ~1e26 rows).

    One bin-keyed groupBy over the scored frame (bins+1 groups,
    map-side combined), one tiny final aggregate. NULL scores/labels
    excluded; scores outside [0, 1e6] raise at runtime via the bin
    clamp check being a filter — they are excluded and counted in
    ``n_out_of_range`` rather than silently clamped.

    Output one row: (n, n_pos, n_out_of_range, ece_x6, mce_x6,
    brier_x12).
    """
    y = (
        F.col(label_column) if isinstance(label_column, str) else label_column
    )
    t = df.select(
        F.col(score_ppm_column).cast("long").alias("__p"),
        y.cast("boolean").alias("__y"),
    ).filter(F.col("__p").isNotNull() & F.col("__y").isNotNull())
    t = t.withColumn(
        "__in", (F.col("__p") >= 0) & (F.col("__p") <= 1_000_000)
    )
    oob = t.filter(~F.col("__in")).agg(
        F.count(F.lit(1)).cast("long").alias("n_out_of_range")
    )
    inr = t.filter(F.col("__in")).withColumn(
        "__b",
        F.least(
            F.expr(f"(__p * {bins}) DIV 1000000"), F.lit(bins - 1)
        ),
    )
    per_bin = inr.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("__pos"),
        F.sum("__p").alias("__sppm"),
        F.sum(
            (
                (F.col("__p") - F.when(F.col("__y"), 1_000_000).otherwise(0))
                .cast("decimal(38,0)")
            )
            * (
                (F.col("__p") - F.when(F.col("__y"), 1_000_000).otherwise(0))
                .cast("decimal(38,0)")
            )
        ).alias("__sq"),
    )
    # dev = |pos_b*1e6 - sum_ppm_b| <= n_b*1e6: BIGINT-exact while the
    # frame holds < ~9.2e12 rows. All divisions below are non-negative
    # integer DIV (floor == truncate == DuckDB `//` for non-negatives —
    # the sign-split DIV trap does not apply here).
    per_bin = per_bin.withColumn(
        "__dev",
        F.abs(
            F.col("__pos").cast("long") * F.lit(1_000_000) - F.col("__sppm")
        ).cast("long"),
    )
    s = per_bin.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.sum("__pos"), F.lit(0)).cast("long").alias("n_pos"),
        F.sum("__dev").cast("long").alias("__sum_dev"),
        F.max(F.expr("__dev DIV __n")).alias("__mce"),
        F.sum("__sq").alias("__sum_sq"),
    )
    return s.join(F.broadcast(oob)).select(
        "n",
        "n_pos",
        "n_out_of_range",
        F.expr("CASE WHEN n > 0 THEN __sum_dev DIV n END").alias("ece_x6"),
        F.col("__mce").cast("long").alias("mce_x6"),
        F.expr(
            "CASE WHEN n > 0 THEN CAST(__sum_sq div n AS BIGINT) END"
        ).alias("brier_x12"),
    )


def windowed_conformal_coverage(
    df: DataFrame,
    *,
    ts_column: str = "ts",
    value_column: str = "value",
    window: str = "1 hour",
    alpha_num: int = 1,
    alpha_den: int = 10,
    slack_x6: int = 50_000,
    buckets: int = 64,
) -> DataFrame:
    """The 7th drift monitor: per-window coverage of the corpus-level
    split-conformal envelope. Calibrate the ``ceil((n+1)(1-α))``-th
    smallest value over the WHOLE frame (:func:`conformal_threshold`'s
    exact integer rank), then report, per time window, the fraction of
    values at or below it. Under exchangeability every window covers
    ≈ 1-α; a window whose coverage collapses below
    ``target - slack_x6/1e6`` is a distribution shift — the
    conformal-coverage-breach signal (ICAD-style, public construction),
    complementary to PSI/KS/CvM/JSD (those compare SHAPES; this one
    asks the operational question "did our guaranteed envelope stop
    holding?").

    Streaming-legal shape: the threshold is a static one-row broadcast
    (like the drift monitors' baseline bins); per-window
    ``(n, n_covered)`` are plain mergeable sums — partials merge across
    micro-batches. Exact integer coverage ratios; threshold NULL
    (k > n) makes every window fully covered by convention.

    Output per window: (window_start, window_end, n, n_covered,
    coverage_x6, target_x6, breached).
    """
    # persist t: it feeds the value census AND the per-window counts
    t = df.select(
        F.col(ts_column).cast("timestamp").alias("__ts"),
        F.col(value_column).alias("__s"),
    ).filter(F.col("__s").isNotNull() & F.col("__ts").isNotNull()).persist()
    g = (
        t.groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .persist()
    )
    k = g.agg(
        F.coalesce(F.sum("__cnt"), F.lit(0)).cast("long").alias("n_cal")
    ).select(
        "n_cal",
        F.expr(
            f"((n_cal + 1) * {alpha_den - alpha_num} + {alpha_den - 1})"
            f" DIV {alpha_den}"
        ).alias("k_rank"),
    )
    data = _bucketed_cum_before(
        g, order_column="__s", sum_column="__cnt", out="__cum",
        buckets=buckets,
    )
    th = (
        data.join(F.broadcast(k))
        .filter(
            (F.col("__cum") < F.col("k_rank"))
            & (F.col("__cum") + F.col("__cnt") >= F.col("k_rank"))
        )
        .agg(F.min("__s").alias("threshold"))
    )
    target_x6 = ((alpha_den - alpha_num) * 1_000_000) // alpha_den
    per_win = (
        t.join(F.broadcast(th))
        .groupBy(F.window("__ts", window).alias("__w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(
                    F.col("threshold").isNull()
                    | (F.col("__s") <= F.col("threshold")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return per_win.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        "n",
        "n_covered",
        F.expr("(n_covered * 1000000L) DIV n").alias("coverage_x6"),
        F.lit(target_x6).cast("long").alias("target_x6"),
        (
            F.expr("(n_covered * 1000000L) DIV n")
            < F.lit(target_x6 - slack_x6)
        ).alias("breached"),
    )


def conformal_threshold_by_group(
    df: DataFrame,
    *,
    score_column: str,
    group_column: str,
    calibration_column: Column | str,
    alpha_num: int = 1,
    alpha_den: int = 10,
) -> DataFrame:
    """Mondrian (group-conditional) split conformal: one
    ``ceil((n_g+1)(1-α))``-th-smallest calibration threshold PER GROUP —
    the fairness-grade upgrade of :func:`conformal_threshold`: the
    marginal envelope can over-cover one source while silently
    under-covering another; Mondrian taxonomy (Vovk's term, public
    construction) guarantees ≥ 1-α WITHIN each group.

    Exact integer ranks per group (rational α, same arithmetic as the
    global operator); the k-th order statistic per group comes from a
    per-group score census + a census-bounded partitioned window
    (value-cardinality rows per group, never data-sized; parallelism is
    the group count — for one dominant group use the global operator's
    range-bucket plan). Held-out coverage per group as exact integer
    ratios; a group whose calibration half is too small (k > n_cal)
    gets a NULL threshold and full coverage by convention — and that
    convention extends to groups with NO calibration rows at all: the
    group spine comes from BOTH halves of the data, so an eval-only
    group appears with n_cal=0 / NULL threshold / full coverage rather
    than silently vanishing from the report.

    Output per group: (group, n_cal, n_eval, k_rank, threshold,
    n_covered, coverage_x6, target_x6).
    """
    flag = (
        F.col(calibration_column)
        if isinstance(calibration_column, str)
        else calibration_column
    )
    # persist both shared frames: t feeds the census AND the eval count,
    # census feeds the cumulative AND the per-group rank table — without
    # the persists every consumer re-scans the source (7 scans -> 2)
    t = df.select(
        F.col(group_column).alias("__g"),
        F.col(score_column).alias("__s"),
        flag.cast("boolean").alias("__cal"),
    ).filter(
        F.col("__s").isNotNull()
        & F.col("__cal").isNotNull()
        & F.col("__g").isNotNull()
    ).persist()
    census = (
        t.filter(F.col("__cal"))
        .groupBy("__g", "__s")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .persist()
    )
    w = Window.partitionBy("__g").orderBy("__s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = census.withColumn(
        "__cum", F.coalesce(F.sum("__cnt").over(w), F.lit(0))
    )
    # group spine from BOTH halves (bounded by group cardinality): an
    # eval-only group must still get its n_cal=0 / NULL-threshold row
    ks = (
        t.select("__g")
        .distinct()
        .join(
            census.groupBy("__g").agg(
                F.sum("__cnt").cast("long").alias("__ncal")
            ),
            "__g",
            "left",
        )
        .select(
            "__g",
            F.coalesce("__ncal", F.lit(0).cast("long")).alias("n_cal"),
        )
        .select(
            "__g",
            "n_cal",
            F.expr(
                f"((n_cal + 1) * {alpha_den - alpha_num} + {alpha_den - 1})"
                f" DIV {alpha_den}"
            ).alias("k_rank"),
        )
    )
    th = (
        cum.join(ks, "__g")
        .filter(
            (F.col("__cum") < F.col("k_rank"))
            & (F.col("__cum") + F.col("__cnt") >= F.col("k_rank"))
        )
        .groupBy("__g")
        .agg(F.min("__s").alias("threshold"))
    )
    groups = ks.join(th, "__g", "left")
    ev = (
        t.filter(~F.col("__cal"))
        .join(F.broadcast(groups.select("__g", "threshold")), "__g", "left")
        .groupBy("__g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(
                F.when(
                    F.col("threshold").isNull()
                    | (F.col("__s") <= F.col("threshold")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    target_x6 = ((alpha_den - alpha_num) * 1_000_000) // alpha_den
    return (
        groups.join(ev, "__g", "left")
        .select(
            F.col("__g").alias(group_column),
            "n_cal",
            F.coalesce("n_eval", F.lit(0)).alias("n_eval"),
            "k_rank",
            "threshold",
            F.coalesce("n_covered", F.lit(0)).alias("n_covered"),
            F.expr(
                "CASE WHEN n_eval > 0"
                " THEN (n_covered * 1000000L) DIV n_eval END"
            ).alias("coverage_x6"),
            F.lit(target_x6).cast("long").alias("target_x6"),
        )
    )


def two_proportion_test(
    df: DataFrame,
    *,
    group_column: str,
    success_column: Column | str,
) -> DataFrame:
    """Two-proportion z-test (pooled) + risk ratio — the conversion-rate
    comparison (did cohort A purchase/click/convert more than cohort
    B?) that :func:`chi_square_independence` generalizes and
    :func:`mann_whitney_u` sidesteps; this is the one-line A/B answer
    with the standard pooled-variance normal approximation.

    Exact integer counts (one tiny conditional aggregate, map-side
    combined); the z statistic is ONE fixed-order double expression
    quantized ``floor(z*1e6+0.5)`` (identical cross-engine), NULL when
    either group is empty or the pooled rate is degenerate (0 or 1 —
    zero variance). Rates and the risk ratio are exact integer ratios:
    ``rate_x6 = successes*1e6 DIV n``, ``risk_ratio_x6 =
    (s_a*n_b*1e6) DIV (s_b*n_a)`` (NULL when the denominator is 0).

    Output one row: (n_a, n_b, s_a, s_b, rate_a_x6, rate_b_x6,
    risk_ratio_x6, z_q6).
    """
    g = F.col(group_column).cast("boolean")
    y = (
        F.col(success_column)
        if isinstance(success_column, str)
        else success_column
    )
    t = df.select(g.alias("__g"), y.cast("boolean").alias("__y")).filter(
        F.col("__g").isNotNull() & F.col("__y").isNotNull()
    )
    s = t.agg(
        F.sum(F.when(F.col("__g"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~F.col("__g"), 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("__g") & F.col("__y"), 1).otherwise(0))
        .cast("long")
        .alias("s_a"),
        F.sum(F.when(~F.col("__g") & F.col("__y"), 1).otherwise(0))
        .cast("long")
        .alias("s_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("s_a").cast("double"), F.col("s_b").cast("double")
    pool = (sa + sb) / (na + nb)
    var = pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    z = (sa / na - sb / nb) / F.sqrt(var)
    return s.select(
        "n_a",
        "n_b",
        "s_a",
        "s_b",
        F.expr(
            "CASE WHEN n_a > 0 THEN (s_a * 1000000L) DIV n_a END"
        ).alias("rate_a_x6"),
        F.expr(
            "CASE WHEN n_b > 0 THEN (s_b * 1000000L) DIV n_b END"
        ).alias("rate_b_x6"),
        F.expr(
            "CASE WHEN s_b * n_a > 0"
            " THEN (s_a * n_b * 1000000L) DIV (s_b * n_a) END"
        ).alias("risk_ratio_x6"),
        F.when(
            (F.col("n_a") > 0)
            & (F.col("n_b") > 0)
            & (F.col("s_a") + F.col("s_b") > 0)
            & (F.col("s_a") + F.col("s_b") < F.col("n_a") + F.col("n_b")),
            F.floor(z * F.lit(1e6) + F.lit(0.5)),
        )
        .cast("long")
        .alias("z_q6"),
    )


def cuped_adjusted_effect(
    df: DataFrame,
    *,
    metric_column: str,
    covariate_column: str,
    cohort_column: Column | str,
) -> DataFrame:
    """CUPED variance reduction for A/B effects (Deng, Xu, Kohavi &
    Walker, WSDM 2013 — public construction): adjust each unit's metric
    by its pre-experiment covariate, ``y* = y − θ(x − x̄)`` with
    ``θ = cov(x, y)/var(x)``, and report the treatment effect on the
    adjusted metric beside the raw one. The workhorse of online
    experimentation: pre-period behavior absorbs between-user variance,
    shrinking confidence intervals without touching the point estimate's
    expectation.

    Exact-integer construction (the :func:`anova_oneway` discipline):
    x/y quantize ONCE to ``floor(v·1e6+0.5)`` BIGINT; one conditional
    aggregate produces exact DECIMAL(38,0) sums (n, Σx, Σy, Σxy, Σx²
    per cohort); θ, the means, both effects, and the variance-reduction
    ratio ``1 − var(y*)/var(y)`` are each ONE fixed-order double over
    those exact integers, quantized q6 (sign-safe floor). θ is pooled
    over both cohorts (the standard choice — a per-cohort θ would bias
    the effect). NULLs in any input exclude the row. θ and downstream
    values are NULL when var(x) = 0; effects are NULL when either
    cohort is empty.

    Output one row: (n_a, n_b, theta_q6, effect_raw_q6, effect_cuped_q6,
    var_reduction_q6).
    """
    is_a = (
        F.col(cohort_column)
        if isinstance(cohort_column, str)
        else cohort_column
    ).cast("boolean")
    q6 = lambda c: F.floor(  # noqa: E731
        c.cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    t = df.select(
        q6(F.col(metric_column)).alias("__y"),
        q6(F.col(covariate_column)).alias("__x"),
        is_a.alias("__a"),
    ).filter(
        F.col("__y").isNotNull()
        & F.col("__x").isNotNull()
        & F.col("__a").isNotNull()
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = t.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).alias("__na"),
        F.sum(d38(F.col("__x"))).alias("__sx"),
        F.sum(d38(F.col("__y"))).alias("__sy"),
        F.sum(d38(F.col("__x")) * d38(F.col("__y"))).alias("__sxy"),
        F.sum(d38(F.col("__x")) * d38(F.col("__x"))).alias("__sxx"),
        F.sum(d38(F.col("__y")) * d38(F.col("__y"))).alias("__syy"),
        F.sum(F.when(F.col("__a"), d38(F.col("__y")))).alias("__sya"),
        F.sum(F.when(F.col("__a"), d38(F.col("__x")))).alias("__sxa"),
    )
    n = F.col("__n").cast("double")
    na = F.col("__na").cast("double")
    nb = (F.col("__n") - F.col("__na")).cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    sya = F.coalesce(F.col("__sya"), F.lit(0).cast("decimal(38,0)")).cast(
        "double"
    )
    sxa = F.coalesce(F.col("__sxa"), F.lit(0).cast("decimal(38,0)")).cast(
        "double"
    )
    var_x = sxx / n - (sx / n) * (sx / n)
    cov_xy = sxy / n - (sx / n) * (sy / n)
    var_y = syy / n - (sy / n) * (sy / n)
    theta = cov_xy / var_x
    mean_x = sx / n
    # effect on the ADJUSTED metric: mean_A(y*) - mean_B(y*)
    #   mean_g(y*) = mean_g(y) - theta * (mean_g(x) - mean(x))
    eff_raw = sya / na - (sy - sya) / nb
    eff_cuped = eff_raw - theta * (sxa / na - (sx - sxa) / nb)
    # var(y*) = var(y) - cov^2/var(x); reduction = corr(x,y)^2
    var_red = (cov_xy * cov_xy) / (var_x * var_y)
    # values are in 1e6-quantized units; the effects rescale back, the
    # dimensionless theta and reduction need no rescale
    ok_x = var_x > 0
    ok_g = (F.col("__na") > 0) & (F.col("__n") > F.col("__na"))
    qq = lambda c: F.floor(c + F.lit(0.5)).cast("long")  # noqa: E731
    return agg.select(
        F.col("__na").cast("long").alias("n_a"),
        (F.col("__n") - F.col("__na")).cast("long").alias("n_b"),
        F.when(ok_x, qq(theta * F.lit(1e6))).alias("theta_q6"),
        F.when(ok_g, qq(eff_raw)).alias("effect_raw_q6"),
        F.when(ok_g & ok_x, qq(eff_cuped)).alias("effect_cuped_q6"),
        F.when(ok_x & (var_y > 0), qq(var_red * F.lit(1e6))).alias(
            "var_reduction_q6"
        ),
    )


#: standard normal quantiles for the classic test design points,
#: hardcoded as shared cross-engine literals (no erf in either engine's
#: deterministic surface): z_{0.975} (two-sided alpha=.05) and z_{0.80}
_Z_ALPHA_975 = 1.959963984540054
_Z_POWER_800 = 0.8416212335729143


def required_sample_size_report(
    df: DataFrame,
    *,
    success_column: Column | str,
    mde_rel_ppm: int = 100_000,
) -> DataFrame:
    """Experiment-design power analysis from the OBSERVED baseline: how
    many units per arm does a two-proportion test need to detect a
    ``mde_rel_ppm`` relative lift at two-sided α = 0.05 with 80% power
    (the classic normal-approximation formula,
    ``n = (z_α·√(2·p̄q̄) + z_β·√(p₁q₁ + p₂q₂))² / (p₂ − p₁)²``)?
    The question every :func:`two_proportion_test` /
    :func:`cuped_adjusted_effect` consumer asks BEFORE launching: run
    it on last period's data, read off the required runtime.

    Exactness: the baseline rate is an exact integer ratio from one
    conditional aggregate; the z quantiles are shared hardcoded
    literals (neither engine exposes a deterministic inverse-normal);
    everything after is ONE fixed-order double expression, with the
    required n reported as ``ceil`` (conservative) exact integers.
    NULL when the baseline is degenerate (0, 1, the lifted rate leaves
    (0, 1), or the MDE is zero — nothing to power against). Negative
    ``mde_rel_ppm`` (power to detect a DROP) is supported; the formula
    is symmetric in ``(p₂ − p₁)²``.

    Output one row: (n_observed, n_success, baseline_ppm, lifted_ppm,
    n_required_per_arm).
    """
    y = (
        F.col(success_column)
        if isinstance(success_column, str)
        else success_column
    ).cast("boolean")
    t = df.select(y.alias("__y")).filter(F.col("__y").isNotNull())
    agg = t.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("__s"),
    )
    n = F.col("__n").cast("double")
    s = F.col("__s").cast("double")
    p1 = s / n
    p2 = p1 * (F.lit(1.0) + F.lit(mde_rel_ppm) / F.lit(1e6))
    pbar = (p1 + p2) / F.lit(2.0)
    num = (
        F.lit(_Z_ALPHA_975)
        * F.sqrt(F.lit(2.0) * pbar * (F.lit(1.0) - pbar))
        + F.lit(_Z_POWER_800)
        * F.sqrt(
            p1 * (F.lit(1.0) - p1) + p2 * (F.lit(1.0) - p2)
        )
    )
    n_req = F.ceil(num * num / ((p2 - p1) * (p2 - p1)))
    # p2 != p1 (equivalently mde_rel_ppm != 0) guards the degenerate-MDE
    # edge (r8 ADVICE): (p2-p1)^2 = 0 would make n_req Infinity and the
    # long cast Long.MaxValue (or an ANSI error) instead of NULL. A
    # NEGATIVE MDE (power to detect a drop) stays supported — the
    # formula is symmetric in (p2-p1)^2 — so the lifted rate only needs
    # to stay inside (0, 1).
    ok = (
        (F.col("__n") > 0)
        & (F.col("__s") > 0)
        & (F.col("__s") < F.col("__n"))
        & (p2 < 1.0)
        & (p2 > 0.0)
        & (p2 != p1)
    )
    return agg.select(
        F.col("__n").cast("long").alias("n_observed"),
        F.col("__s").cast("long").alias("n_success"),
        F.expr(
            "CASE WHEN __n > 0 THEN (__s * 1000000L) DIV __n END"
        ).alias("baseline_ppm"),
        F.when(
            ok, F.floor(p2 * F.lit(1e6) + F.lit(0.5))
        ).cast("long").alias("lifted_ppm"),
        F.when(ok, n_req).cast("long").alias("n_required_per_arm"),
    )


def delta_method_ratio_ci(
    df: DataFrame,
    *,
    numerator_column: str,
    denominator_column: str,
    z: float = _Z_ALPHA_975,
) -> DataFrame:
    """Delta-method CI for a ratio-of-sums metric (Deng, Knoblich & Lu,
    KDD'18 "Applying the Delta Method in Metric Analytics" — public
    construction). The standard large-scale-experimentation answer for
    metrics like revenue-per-session or clicks-per-query where the
    analysis unit (user) differs from the metric denominator: the
    ratio R = Σy/Σx of per-unit sums is NOT a mean of iid terms, so
    the naive SE is wrong; the first-order Taylor expansion gives
    ``var(R) ≈ (var(y) − 2R·cov(x,y) + R²·var(x)) / (n·x̄²)``.

    Input is ONE ROW PER UNIT (caller pre-aggregates, e.g. per user).
    Exact-integer construction (the :func:`cuped_adjusted_effect`
    discipline): x/y quantize once to ``floor(v·1e6+0.5)`` BIGINT, one
    aggregate of exact DECIMAL(38,0) moments (map-side combined —
    never a driver collect), every derived value ONE fixed-order
    double expression quantized q6. The quantization cancels in R and
    in the SE (both are y-unit/x-unit ratios). Population (1/n)
    moments. NULL outputs when n < 2 or Σx = 0; the variance form
    ``var(y − Rx) ≥ 0`` mathematically, and the SE is NULL if double
    rounding drives it negative.

    100 TB: a single map-side-combined aggregate over the unit frame —
    one shuffle of 6 numbers per partition; no window, no collect.

    Output one row: (n_units, ratio_q6, se_q6, ci_lo_q6, ci_hi_q6).
    """
    q6 = lambda c: F.floor(  # noqa: E731
        c.cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    t = df.select(
        q6(F.col(numerator_column)).alias("__y"),
        q6(F.col(denominator_column)).alias("__x"),
    ).filter(F.col("__y").isNotNull() & F.col("__x").isNotNull())
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = t.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(d38(F.col("__x"))).alias("__sx"),
        F.sum(d38(F.col("__y"))).alias("__sy"),
        F.sum(d38(F.col("__x")) * d38(F.col("__y"))).alias("__sxy"),
        F.sum(d38(F.col("__x")) * d38(F.col("__x"))).alias("__sxx"),
        F.sum(d38(F.col("__y")) * d38(F.col("__y"))).alias("__syy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    # try_divide == `/` for every non-zero divisor (bit-identical), and
    # turns the guarded-out degenerate frames (n=0, Σx=0) into NULLs
    # instead of ANSI DIVIDE_BY_ZERO errors — the `ok` predicate below
    # is a non-short-circuiting AND, so the branches must be total.
    dv = F.try_divide
    r = dv(sy, sx)
    vx = dv(sxx, n) - dv(sx, n) * dv(sx, n)
    vy = dv(syy, n) - dv(sy, n) * dv(sy, n)
    cxy = dv(sxy, n) - dv(sx, n) * dv(sy, n)
    var_r = dv((vy - F.lit(2.0) * r * cxy + r * r * vx) * n, sx * sx)
    se = F.sqrt(var_r)
    ok = (F.col("__n") >= 2) & (F.col("__sx") != 0)
    qq = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    return agg.select(
        F.col("__n").cast("long").alias("n_units"),
        F.when(F.col("__sx") != 0, qq(r)).alias("ratio_q6"),
        F.when(ok & (var_r >= 0), qq(se)).alias("se_q6"),
        F.when(ok & (var_r >= 0), qq(r - F.lit(z) * se)).alias("ci_lo_q6"),
        F.when(ok & (var_r >= 0), qq(r + F.lit(z) * se)).alias("ci_hi_q6"),
    )


def jackknife_ratio_buckets(
    df: DataFrame,
    *,
    numerator_column: str,
    denominator_column: str,
    key_columns: Sequence[str],
    buckets: int = 50,
    z: float = _Z_ALPHA_975,
) -> DataFrame:
    """Leave-one-bucket-out jackknife SE for a ratio-of-sums metric —
    the resampling cross-check for :func:`delta_method_ratio_ci`
    (Efron & Stein 1981; the "bucket jackknife" used when per-unit
    resampling is too fine: units are hashed into B deterministic
    buckets, each R_b recomputes the ratio with bucket b held out, and
    ``var_jk = (B−1)/B · Σ(R_b − R̄)²``).

    Input is one row per unit. Buckets come from the engine-portable
    md5 bucket (:func:`~pyspark_playground_spark.operators.sampling.
    hash_bucket_expr` — first 8 hex chars, so any SQL engine
    reproduces membership). Exact-integer construction: unit values
    quantize q6 once; ONE groupBy(bucket) aggregate of DECIMAL(38,0)
    sums (≤ B rows); totals are a 1-row aggregate broadcast back by
    crossJoin (no unpartitioned window — census-window-guard clean);
    each leave-out ratio is ONE double division of exact integers,
    quantized q9 BIGINT; the final reduce sums exact DECIMAL(38,0)
    rb / rb² so the variance is order-independent. SE is NULL when
    fewer than 2 buckets materialize or any leave-out denominator is
    zero (undefined R_b — the honest answer, not a silent drop).

    100 TB: two map-side-combined aggregates (unit frame → B rows →
    1 row) plus a broadcast of one row; shuffle volume is O(B).

    Output one row: (n_units, n_buckets, ratio_q6, se_jk_q6,
    ci_lo_q6, ci_hi_q6).
    """
    from pyspark_playground_spark.operators.sampling import (
        hash_bucket_expr,
    )

    q6 = lambda c: F.floor(  # noqa: E731
        c.cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    t = df.select(
        q6(F.col(numerator_column)).alias("__y"),
        q6(F.col(denominator_column)).alias("__x"),
        hash_bucket_expr(list(key_columns), buckets).alias("__b"),
    ).filter(F.col("__y").isNotNull() & F.col("__x").isNotNull())
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_bucket = t.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__nb"),
        F.sum(d38(F.col("__x"))).alias("__xb"),
        F.sum(d38(F.col("__y"))).alias("__yb"),
    )
    totals = per_bucket.agg(
        F.sum("__nb").alias("__n"),
        F.sum("__xb").alias("__sx"),
        F.sum("__yb").alias("__sy"),
        F.count(F.lit(1)).alias("__nbuckets"),
    )
    joined = per_bucket.crossJoin(F.broadcast(totals))
    lx = (F.col("__sx") - F.col("__xb")).cast("double")
    ly = (F.col("__sy") - F.col("__yb")).cast("double")
    rb = F.when(
        F.col("__sx") - F.col("__xb") != 0,
        F.floor(F.try_divide(ly, lx) * F.lit(1e9) + F.lit(0.5)).cast(
            "long"
        ),
    )
    reduced = joined.select(
        F.col("__nb"),
        F.col("__n"),
        F.col("__sx"),
        F.col("__sy"),
        F.col("__nbuckets"),
        rb.alias("__rb"),
    ).agg(
        F.max("__n").alias("__n"),
        F.max("__sx").alias("__sx"),
        F.max("__sy").alias("__sy"),
        F.max("__nbuckets").alias("__bb"),
        F.sum(F.when(F.col("__rb").isNull(), 1).otherwise(0)).alias(
            "__bad"
        ),
        F.sum(d38(F.col("__rb"))).alias("__sr"),
        F.sum(d38(F.col("__rb")) * d38(F.col("__rb"))).alias("__srr"),
    )
    bb = F.col("__bb").cast("double")
    sr = F.col("__sr").cast("double")
    srr = F.col("__srr").cast("double")
    # sum of squared deviations in q9^2 units: Σrb² − (Σrb)²/B.
    # try_divide == `/` wherever the divisor is non-zero (always, for
    # B ≥ 1); it only absorbs the empty-input frame, where every
    # aggregate is already NULL.
    ssd = F.try_divide(srr - F.try_divide(sr * sr, bb), F.lit(1e18))
    var_jk = F.try_divide(bb - F.lit(1.0), bb) * ssd
    se = F.sqrt(var_jk)
    ratio = F.try_divide(
        F.col("__sy").cast("double"), F.col("__sx").cast("double")
    )
    ok = (
        (F.col("__bb") >= 2)
        & (F.col("__bad") == 0)
        & (F.col("__sx") != 0)
    )
    qq = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    return reduced.select(
        F.col("__n").cast("long").alias("n_units"),
        F.col("__bb").cast("long").alias("n_buckets"),
        F.when(F.col("__sx") != 0, qq(ratio)).alias("ratio_q6"),
        F.when(ok & (var_jk >= 0), qq(se)).alias("se_jk_q6"),
        F.when(ok & (var_jk >= 0), qq(ratio - F.lit(z) * se)).alias(
            "ci_lo_q6"
        ),
        F.when(ok & (var_jk >= 0), qq(ratio + F.lit(z) * se)).alias(
            "ci_hi_q6"
        ),
    )


#: Abramowitz & Stegun 26.2.17 normal-tail polynomial (|err| < 7.5e-8)
#: and 1/sqrt(2*pi) — shared hardcoded cross-engine literals, the same
#: discipline as the z quantiles above (no erf in either engine's
#: deterministic surface).
_AS_T = 0.2316419
_AS_B1 = 0.319381530
_AS_B2 = -0.356563782
_AS_B3 = 1.781477937
_AS_B4 = -1.821255978
_AS_B5 = 1.330274429
_INV_SQRT_2PI = 0.3989422804014327


def fdr_bh_two_proportion(
    df: DataFrame,
    *,
    group_column: str,
    cohort_column: Column | str,
    success_column: Column | str,
    alpha_ppm: int = 50_000,
) -> DataFrame:
    """Per-group two-proportion z-tests with Benjamini-Hochberg FDR
    control (Benjamini & Hochberg, JRSS-B 1995) — the multiple-testing
    layer :func:`two_proportion_test` needs the moment you scan it
    across segments: testing 40 event types at α=.05 each expects two
    false winners; BH's step-up ``p_(i) ≤ (i/m)·α`` caps the FALSE
    DISCOVERY RATE at α across the whole family.

    Per group, the exact-integer conditional aggregate and pooled-z of
    :func:`two_proportion_test`; the two-sided p-value comes from the
    Abramowitz-Stegun 26.2.17 tail — ``1 − Φ(x) = φ(x)·(b₁t + … +
    b₅t⁵)``, ``t = 1/(1 + 0.2316419x)`` — evaluated as ONE fixed-order
    Horner chain whose single libm call ``exp(−z²/2)`` is quantized to
    1e−12 before use (the cross-engine libm recipe used by every
    ln/exp consumer here), then quantized ``p_q9``. The BH pass ranks
    testable groups by (p, group), takes the running min of
    ``(p_q9·m) DIV rank`` from the worst rank down (exact integers,
    capped at 1e9), and flags ``p_adj_q9 ≤ alpha·1000``. Degenerate
    groups (empty cohort, pooled rate 0 or 1) carry NULL p/adj/reject
    and do NOT count toward m.

    Plan: one map-side-combined aggregate to the group census; every
    window (rank, running min) runs over that census — bounded by
    group cardinality, never the corpus. One broadcast of the 1-row m.

    Output per group: (group_column, n_a, n_b, s_a, s_b, z_q6, p_q9,
    p_adj_q9, reject).
    """
    from pyspark.sql import Window

    g = (
        F.col(cohort_column)
        if isinstance(cohort_column, str)
        else cohort_column
    ).cast("boolean")
    y = (
        F.col(success_column)
        if isinstance(success_column, str)
        else success_column
    ).cast("boolean")
    t = df.select(
        F.col(group_column).alias("__grp"),
        g.alias("__g"),
        y.alias("__y"),
    ).filter(
        F.col("__grp").isNotNull()
        & F.col("__g").isNotNull()
        & F.col("__y").isNotNull()
    )
    c = t.groupBy("__grp").agg(
        F.sum(F.when(F.col("__g"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~F.col("__g"), 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("__g") & F.col("__y"), 1).otherwise(0))
        .cast("long")
        .alias("s_a"),
        F.sum(F.when(~F.col("__g") & F.col("__y"), 1).otherwise(0))
        .cast("long")
        .alias("s_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("s_a").cast("double"), F.col("s_b").cast("double")
    pool = F.try_divide(sa + sb, na + nb)
    var = pool * (F.lit(1.0) - pool) * (
        F.try_divide(F.lit(1.0), na) + F.try_divide(F.lit(1.0), nb)
    )
    z = F.try_divide(F.try_divide(sa, na) - F.try_divide(sb, nb),
                     F.sqrt(var))
    ok = (
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (F.col("s_a") + F.col("s_b") > 0)
        & (F.col("s_a") + F.col("s_b") < F.col("n_a") + F.col("n_b"))
    )
    az = F.abs(z)
    # the one libm call, quantized to 1e-12 before use
    phi = (
        F.floor(F.exp(az * az / F.lit(-2.0)) * F.lit(1e12) + F.lit(0.5))
        / F.lit(1e12)
    ) * F.lit(_INV_SQRT_2PI)
    tt = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_T) * az)
    horner = (
        (
            (
                (F.lit(_AS_B5) * tt + F.lit(_AS_B4)) * tt + F.lit(_AS_B3)
            )
            * tt
            + F.lit(_AS_B2)
        )
        * tt
        + F.lit(_AS_B1)
    ) * tt
    p2 = F.lit(2.0) * (phi * horner)
    p_q9 = F.when(
        ok, F.least(F.floor(p2 * F.lit(1e9) + F.lit(0.5)), F.lit(10**9))
    ).cast("long")
    c = c.select(
        "__grp",
        "n_a",
        "n_b",
        "s_a",
        "s_b",
        F.when(ok, F.floor(z * F.lit(1e6) + F.lit(0.5)))
        .cast("long")
        .alias("z_q6"),
        p_q9.alias("p_q9"),
    ).repartition(1)
    # ^ bounded-parallelism (r12, VERDICT r11 item 2): everything below
    # operates on the group census (rows = group cardinality, never the
    # corpus). One partition lets the m-count, the rank/running-min
    # windows AND the final self-join all run without further exchanges
    # (SinglePartition satisfies every required distribution) — the
    # former shape paid a cpus-task shuffle per step on a ~10-row frame.
    # The shared census exchange below the repartition is deduped by
    # ReuseExchange, so the source is still scanned once.
    tested = c.filter(F.col("p_q9").isNotNull())
    m1 = tested.agg(F.count(F.lit(1)).alias("__m"))
    ranked = tested.crossJoin(F.broadcast(m1)).withColumn(
        "__r",
        F.row_number().over(Window.orderBy("p_q9", "__grp")),
    )
    w_min = Window.orderBy(F.col("__r").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    adj = ranked.select(
        "__grp",
        F.least(
            F.min(
                F.expr("(p_q9 * __m) DIV __r")
            ).over(w_min),
            F.lit(10**9),
        ).alias("p_adj_q9"),
    )
    out = c.join(adj, "__grp", "left")
    return out.select(
        F.col("__grp").alias(group_column),
        "n_a",
        "n_b",
        "s_a",
        "s_b",
        "z_q6",
        "p_q9",
        "p_adj_q9",
        (F.col("p_adj_q9") <= F.lit(int(alpha_ppm) * 1000)).alias(
            "reject"
        ),
    )


def drift_wasserstein1(
    df: DataFrame,
    *,
    value_column: str,
    cohort_column: str | Column,
    bins: int | None = None,
) -> DataFrame:
    """Exact two-sample 1-D Wasserstein-1 (earth mover's) distance
    between the cohort-true and -false value distributions — the drift
    METRIC beside :func:`drift_ks`'s sup-test and :func:`drift_jsd`'s
    divergence: KS sees only the worst single point and JSD ignores
    HOW FAR mass moved; W₁ = ∫|CDF_a − CDF_b| dv prices a shift by its
    distance, which is why embedding/feature monitors quote it.

    Same census discipline as ``drift_ks``: one per-value count
    groupBy, ONE cumulative window over distinct values (bounded by
    value cardinality; pass ``bins`` for continuous domains — W₁ is
    then in bin-width units). Exact integers end-to-end: each step
    contributes ``|ca·n_b − cb·n_a| · (v_next − v)`` in DECIMAL(38,0)
    (the last value has no step and contributes nothing), and
    ``w1_q6 = (Σ·1e6) DIV (n_a·n_b)`` is one integral division. The
    raw numerator is also returned for float-free comparison — its
    final long cast states the drift_ks exactness envelope: it fails
    loudly (NULL non-ANSI / error ANSI) rather than silently wrong
    once ``n_a·n_b·value_range`` passes int64 (~both cohorts ≳1e9
    rows over a wide domain); w1_q6 itself stays in range. Values
    must be non-null; empty cohorts yield NULL w1_q6.

    Output one row: (w1_numerator, n_a, n_b, w1_q6).
    """
    is_a = (
        F.col(cohort_column)
        if isinstance(cohort_column, str)
        else cohort_column
    )
    t = df.select(
        F.col(value_column).alias("__v"), is_a.cast("boolean").alias("__a")
    )
    if bins is not None:
        mm = t.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
        t = t.join(F.broadcast(mm)).select(
            equal_width_bin(
                F.col("__v"), F.col("__lo"), F.col("__hi"), bins
            ).alias("__v"),
            "__a",
        )
    g = t.groupBy("__v").agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).alias("__ca_v"),
        F.sum(F.when(F.col("__a"), 0).otherwise(1)).alias("__cb_v"),
    )
    w = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    c = g.select(
        F.col("__v").cast("decimal(38,0)").alias("__vv"),
        F.lead(F.col("__v").cast("decimal(38,0)")).over(
            Window.orderBy("__v")
        ).alias("__vn"),
        F.sum("__ca_v").over(w).alias("__ca"),
        F.sum("__cb_v").over(w).alias("__cb"),
    )
    tot = g.agg(
        F.sum("__ca_v").alias("__na"), F.sum("__cb_v").alias("__nb")
    )
    red = c.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.when(
                F.col("__vn").isNotNull(),
                F.abs(
                    d38(F.col("__ca")) * d38(F.col("__nb"))
                    - d38(F.col("__cb")) * d38(F.col("__na"))
                )
                * (F.col("__vn") - F.col("__vv")),
            )
        ).alias("__num"),
        F.max("__na").alias("__na"),
        F.max("__nb").alias("__nb"),
    )
    return red.select(
        F.coalesce(F.col("__num"), F.lit(0).cast("decimal(38,0)"))
        .cast("long")
        .alias("w1_numerator"),
        F.col("__na").cast("long").alias("n_a"),
        F.col("__nb").cast("long").alias("n_b"),
        F.when(
            (F.col("__na") > 0) & (F.col("__nb") > 0),
            F.expr(
                "(coalesce(__num, CAST(0 AS DECIMAL(38,0))) * 1000000)"
                " DIV (CAST(__na AS DECIMAL(38,0)) * __nb)"
            ),
        )
        .cast("long")
        .alias("w1_q6"),
    )


def difference_in_differences(
    df: DataFrame,
    *,
    metric_column: str,
    cohort_column: Column | str,
    period_column: Column | str,
    z: float = _Z_ALPHA_975,
) -> DataFrame:
    """Difference-in-differences estimator (Card & Krueger AER'94 made
    canonical; public construction) — the quasi-experiment answer when
    assignment was NOT randomized: ``DiD = (ȳ_treat,post −
    ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre)`` nets out both the
    group baseline gap and the common time trend, under the parallel-
    trends assumption (which the caller owns — check pre-period trends
    first). :func:`cuped_adjusted_effect` tightens a RANDOMIZED test;
    DiD rescues an observational one.

    Input is one row per (unit, period) with the metric. Exact-integer
    construction: the metric quantizes once to q6 BIGINT; ONE
    conditional aggregate produces each cell's exact DECIMAL(38,0)
    (n, Σy, Σy²); the estimate and its large-sample SE
    ``√(Σ_cells s²ᵢ/nᵢ)`` (population variances, the cuped convention)
    are fixed-order doubles quantized q6. NULL estimate when any cell
    is empty; NULL SE when any cell is a singleton-or-worse degenerate
    (variance still fine at n=1 under population convention, so only
    empty cells refuse).

    Plan: one map-side-combined aggregate to a 1-row frame; zero
    windows, zero joins.

    Output one row: (n_treat_pre, n_treat_post, n_ctrl_pre,
    n_ctrl_post, did_q6, se_q6, ci_lo_q6, ci_hi_q6).
    """
    tr = (
        F.col(cohort_column)
        if isinstance(cohort_column, str)
        else cohort_column
    ).cast("boolean")
    po = (
        F.col(period_column)
        if isinstance(period_column, str)
        else period_column
    ).cast("boolean")
    q6 = lambda c: F.floor(  # noqa: E731
        c.cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    t = df.select(
        q6(F.col(metric_column)).alias("__y"),
        tr.alias("__t"),
        po.alias("__p"),
    ).filter(
        F.col("__y").isNotNull()
        & F.col("__t").isNotNull()
        & F.col("__p").isNotNull()
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731

    def cell(name, cond):
        return [
            F.sum(F.when(cond, 1).otherwise(0)).alias(f"__n_{name}"),
            F.sum(F.when(cond, d38(F.col("__y")))).alias(f"__s_{name}"),
            F.sum(
                F.when(cond, d38(F.col("__y")) * d38(F.col("__y")))
            ).alias(f"__q_{name}"),
        ]

    agg = t.agg(
        *cell("tp", F.col("__t") & F.col("__p")),
        *cell("ta", F.col("__t") & ~F.col("__p")),
        *cell("cp", ~F.col("__t") & F.col("__p")),
        *cell("ca", ~F.col("__t") & ~F.col("__p")),
    )
    dv = F.try_divide

    def mean(name):
        return dv(
            F.col(f"__s_{name}").cast("double"),
            F.col(f"__n_{name}").cast("double"),
        )

    def var_over_n(name):
        n = F.col(f"__n_{name}").cast("double")
        m = mean(name)
        return dv(
            dv(F.col(f"__q_{name}").cast("double"), n) - m * m, n
        )

    did = (mean("tp") - mean("ta")) - (mean("cp") - mean("ca"))
    se = F.sqrt(
        var_over_n("tp")
        + var_over_n("ta")
        + var_over_n("cp")
        + var_over_n("ca")
    )
    ok = (
        (F.col("__n_tp") > 0)
        & (F.col("__n_ta") > 0)
        & (F.col("__n_cp") > 0)
        & (F.col("__n_ca") > 0)
    )
    qq = lambda c: F.floor(c + F.lit(0.5)).cast("long")  # noqa: E731
    return agg.select(
        F.col("__n_ta").cast("long").alias("n_treat_pre"),
        F.col("__n_tp").cast("long").alias("n_treat_post"),
        F.col("__n_ca").cast("long").alias("n_ctrl_pre"),
        F.col("__n_cp").cast("long").alias("n_ctrl_post"),
        F.when(ok, qq(did)).alias("did_q6"),
        F.when(ok, qq(se)).alias("se_q6"),
        F.when(ok, qq(did - F.lit(z) * se)).alias("ci_lo_q6"),
        F.when(ok, qq(did + F.lit(z) * se)).alias("ci_hi_q6"),
    )


def required_sample_size_continuous(
    df: DataFrame,
    *,
    metric_column: str,
    mde_rel_ppm: int,
    z_alpha: float = _Z_ALPHA_975,
    z_power: float = _Z_POWER_800,
) -> DataFrame:
    """Experiment-design power analysis for a CONTINUOUS metric —
    the t-test companion to the two-proportion
    :func:`required_sample_size_report`: units per arm to detect a
    relative shift of ``mde_rel_ppm`` on the OBSERVED mean at
    two-sided α=.05 / 80% power, ``n = 2(z_α+z_β)²·σ²/δ²`` with σ²
    the observed population variance and ``δ = |mean|·mde`` (the
    textbook normal-approximation design formula; the z quantiles are
    the same shared hardcoded literals).

    Exact-integer moments (the :func:`cuped_adjusted_effect`
    discipline): the metric quantizes once to q6 BIGINT, one
    aggregate of DECIMAL(38,0) (n, Σy, Σy²); mean/σ²/n_required are
    fixed-order doubles, conservative ``ceil``. NULL n_required when
    the observed mean is 0 (a relative MDE has no scale), σ² = 0, or
    ``mde_rel_ppm <= 0``.

    Output one row: (n_observed, mean_q6, sd_q6, n_required_per_arm).
    """
    q6 = lambda c: F.floor(  # noqa: E731
        c.cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    t = df.select(q6(F.col(metric_column)).alias("__y")).filter(
        F.col("__y").isNotNull()
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = t.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(d38(F.col("__y"))).alias("__s"),
        F.sum(d38(F.col("__y")) * d38(F.col("__y"))).alias("__q"),
    )
    dv = F.try_divide
    n = F.col("__n").cast("double")
    mean = dv(F.col("__s").cast("double"), n)
    var = dv(F.col("__q").cast("double"), n) - mean * mean
    delta = F.abs(mean) * F.lit(int(mde_rel_ppm) / 1e6)
    zsum = F.lit(z_alpha + z_power)
    n_req = F.ceil(
        F.lit(2.0) * (zsum * zsum) * dv(var, delta * delta)
    )
    ok = (
        (F.col("__n") > 0)
        & F.lit(bool(int(mde_rel_ppm) > 0))
        & (F.abs(mean) > 0)
        & (var > 0)
    )
    return agg.select(
        F.col("__n").cast("long").alias("n_observed"),
        F.when(
            F.col("__n") > 0, F.floor(mean + F.lit(0.5))
        ).cast("long").alias("mean_q6"),
        F.when(
            (F.col("__n") > 0) & (var >= 0),
            F.floor(F.sqrt(var) + F.lit(0.5)),
        ).cast("long").alias("sd_q6"),
        F.when(ok, n_req).cast("long").alias("n_required_per_arm"),
    )


def _msprt_terms(na, sa, qa, nb, sb, qb, tau2):
    """Shared mSPRT closed form over exact-integer cell moments.

    Inputs are the two cells' (n, Σy, Σy²) with y in q6 units; tau²
    arrives already squared and in (q6 units)² so the likelihood ratio
    is computed on one consistent scale (it is scale-invariant, so
    this equals the metric-unit value exactly). Fixed-order doubles;
    the two libm calls (ln, exp) are quantized to 1e-12 before use —
    the cross-engine recipe of :func:`fdr_bh_two_proportion`.

    Returns (ok, diff, log_lambda, p) column expressions.
    """
    naD, nbD = na.cast("double"), nb.cast("double")
    ma = F.try_divide(sa.cast("double"), naD)
    mb = F.try_divide(sb.cast("double"), nbD)
    va = F.try_divide(qa.cast("double"), naD) - ma * ma
    vb = F.try_divide(qb.cast("double"), nbD) - mb * mb
    v = F.try_divide(va, naD) + F.try_divide(vb, nbD)
    y = mb - ma
    q12 = lambda c: (  # noqa: E731
        F.floor(c * F.lit(1e12) + F.lit(0.5)) / F.lit(1e12)
    )
    ratio = F.try_divide(v, v + tau2)
    log_lam = F.lit(0.5) * q12(F.log(ratio)) + F.try_divide(
        y * y * tau2, (F.lit(2.0) * v) * (v + tau2)
    )
    p = F.least(F.lit(1.0), q12(F.exp(-log_lam)))
    ok = (na > 0) & (nb > 0) & (v > 0)
    return ok, y, log_lam, p


def msprt_mean_test(
    df: DataFrame,
    *,
    metric_column: str,
    cohort_column: Column | str,
    tau: float,
    alpha_ppm: int = 50_000,
) -> DataFrame:
    """Mixture sequential probability ratio test (mSPRT) for a
    two-sample mean difference — the ALWAYS-VALID p-value of Johari,
    Koomen, Pekelis & Walsh (KDD'17, "Peeking at A/B Tests"; public
    construction): under a normal mixture prior ``δ ~ N(0, τ²)`` the
    likelihood ratio is ``Λ = √(V/(V+τ²))·exp(Y²τ²/(2V(V+τ²)))`` and
    ``p = min(1, 1/Λ)`` stays a valid p-value UNDER CONTINUOUS
    MONITORING — the experimenter can look after every batch and stop
    the moment it crosses α without inflating false positives (the
    fixed-n z-test of :func:`two_proportion_test` is only valid at one
    pre-committed look). ``τ`` (metric units) encodes the scale of
    effects worth detecting; larger τ trades early sensitivity to big
    effects against asymptotic sensitivity to small ones.

    Exact-integer construction: the metric quantizes once to q6
    BIGINT; ONE conditional aggregate produces both cells' exact
    DECIMAL(38,0) (n, Σy, Σy²); ``Y``, ``V`` (population variances
    over n, the cuped convention) and the likelihood ratio are
    fixed-order doubles with both libm calls quantized 1e-12
    (:func:`fdr_bh_two_proportion`'s recipe). Refuses (NULL stats)
    when either cell is empty or V degenerates to 0.

    Plan: one map-side-combined aggregate to a 1-row frame; zero
    windows, zero joins, zero corpus re-reads.

    Output one row: (n_ctrl, n_treat, diff_q6, log_lambda_q6, p_q6,
    reject).
    """
    if tau <= 0:
        raise ValueError(f"tau must be > 0: {tau}")
    co = (
        F.col(cohort_column)
        if isinstance(cohort_column, str)
        else cohort_column
    ).cast("boolean")
    q6 = lambda c: F.floor(  # noqa: E731
        c.cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    t = df.select(
        q6(F.col(metric_column)).alias("__y"), co.alias("__t")
    ).filter(F.col("__y").isNotNull() & F.col("__t").isNotNull())
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = t.agg(
        F.sum(F.when(~F.col("__t"), 1).otherwise(0)).alias("__na"),
        F.coalesce(
            F.sum(F.when(~F.col("__t"), d38(F.col("__y")))), F.lit(0)
        ).alias("__sa"),
        F.coalesce(
            F.sum(
                F.when(~F.col("__t"), d38(F.col("__y")) * F.col("__y"))
            ),
            F.lit(0),
        ).alias("__qa"),
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("__nb"),
        F.coalesce(
            F.sum(F.when(F.col("__t"), d38(F.col("__y")))), F.lit(0)
        ).alias("__sb"),
        F.coalesce(
            F.sum(
                F.when(F.col("__t"), d38(F.col("__y")) * F.col("__y"))
            ),
            F.lit(0),
        ).alias("__qb"),
    )
    # tau arrives in metric units; square on the q6 scale (exact double
    # product for any reasonable tau)
    tau2 = F.lit(float(tau) * 1e6) * F.lit(float(tau) * 1e6)
    ok, y, log_lam, p = _msprt_terms(
        F.col("__na"), F.col("__sa"), F.col("__qa"),
        F.col("__nb"), F.col("__sb"), F.col("__qb"), tau2,
    )
    return agg.select(
        F.col("__na").cast("long").alias("n_ctrl"),
        F.col("__nb").cast("long").alias("n_treat"),
        F.when(ok, F.floor(y + F.lit(0.5))).cast("long").alias("diff_q6"),
        F.when(ok, F.floor(log_lam * F.lit(1e6) + F.lit(0.5)))
        .cast("long")
        .alias("log_lambda_q6"),
        F.when(ok, F.floor(p * F.lit(1e6) + F.lit(0.5)))
        .cast("long")
        .alias("p_q6"),
        F.when(
            ok,
            F.floor(p * F.lit(1e6) + F.lit(0.5)) <= F.lit(int(alpha_ppm)),
        ).alias("reject"),
    )


def msprt_monitor(
    df: DataFrame,
    *,
    look_column: Column | str,
    metric_column: str,
    cohort_column: Column | str,
    tau: float,
    alpha_ppm: int = 50_000,
) -> DataFrame:
    """The mSPRT PEEKING CURVE — :func:`msprt_mean_test` evaluated at
    every look boundary over all data seen SO FAR (cumulative), which
    is precisely what makes the mixture construction valuable: the
    whole column of per-look p-values is simultaneously valid, so
    "stop at the first look with p ≤ α" is an honest sequential test.

    One (look, cohort) conditional census carries all corpus cost;
    the cumulative moments run in an ordered window over that
    look-count-bounded census (exact DECIMAL partial sums — the
    partition-less window sits above an aggregate, the census-window
    discipline), and the closed form is the shared fixed-order /
    quantized-libm expression.

    Output per look: (look, n_ctrl, n_treat, diff_q6, log_lambda_q6,
    p_q6, reject).
    """
    from pyspark.sql import Window

    if tau <= 0:
        raise ValueError(f"tau must be > 0: {tau}")
    lk = (
        F.col(look_column) if isinstance(look_column, str) else look_column
    )
    co = (
        F.col(cohort_column)
        if isinstance(cohort_column, str)
        else cohort_column
    ).cast("boolean")
    q6 = lambda c: F.floor(  # noqa: E731
        c.cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    t = df.select(
        lk.alias("__lk"), q6(F.col(metric_column)).alias("__y"),
        co.alias("__t"),
    ).filter(
        F.col("__lk").isNotNull()
        & F.col("__y").isNotNull()
        & F.col("__t").isNotNull()
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    census = t.groupBy("__lk").agg(
        F.sum(F.when(~F.col("__t"), 1).otherwise(0)).alias("__dna"),
        F.coalesce(
            F.sum(F.when(~F.col("__t"), d38(F.col("__y")))), F.lit(0)
        ).alias("__dsa"),
        F.coalesce(
            F.sum(
                F.when(~F.col("__t"), d38(F.col("__y")) * F.col("__y"))
            ),
            F.lit(0),
        ).alias("__dqa"),
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("__dnb"),
        F.coalesce(
            F.sum(F.when(F.col("__t"), d38(F.col("__y")))), F.lit(0)
        ).alias("__dsb"),
        F.coalesce(
            F.sum(
                F.when(F.col("__t"), d38(F.col("__y")) * F.col("__y"))
            ),
            F.lit(0),
        ).alias("__dqb"),
    )
    w = Window.orderBy("__lk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = census.select(
        "__lk",
        F.sum("__dna").over(w).alias("__na"),
        F.sum(d38(F.col("__dsa"))).over(w).alias("__sa"),
        F.sum(d38(F.col("__dqa"))).over(w).alias("__qa"),
        F.sum("__dnb").over(w).alias("__nb"),
        F.sum(d38(F.col("__dsb"))).over(w).alias("__sb"),
        F.sum(d38(F.col("__dqb"))).over(w).alias("__qb"),
    )
    tau2 = F.lit(float(tau) * 1e6) * F.lit(float(tau) * 1e6)
    ok, y, log_lam, p = _msprt_terms(
        F.col("__na"), F.col("__sa"), F.col("__qa"),
        F.col("__nb"), F.col("__sb"), F.col("__qb"), tau2,
    )
    return cum.select(
        F.col("__lk").alias("look"),
        F.col("__na").cast("long").alias("n_ctrl"),
        F.col("__nb").cast("long").alias("n_treat"),
        F.when(ok, F.floor(y + F.lit(0.5))).cast("long").alias("diff_q6"),
        F.when(ok, F.floor(log_lam * F.lit(1e6) + F.lit(0.5)))
        .cast("long")
        .alias("log_lambda_q6"),
        F.when(ok, F.floor(p * F.lit(1e6) + F.lit(0.5)))
        .cast("long")
        .alias("p_q6"),
        F.when(
            ok,
            F.floor(p * F.lit(1e6) + F.lit(0.5)) <= F.lit(int(alpha_ppm)),
        ).alias("reject"),
    )


def hodges_lehmann_shift(
    df: DataFrame,
    *,
    value_column: str,
    group_column: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Hodges-Lehmann two-sample shift ESTIMATOR (Hodges & Lehmann,
    Ann. Math. Stat. 1963; public construction) — the median of all
    ``n_a × n_b`` pairwise differences ``a − b``: the robust "how much
    bigger" companion to :func:`mann_whitney_u`'s "is it bigger" (it
    is the estimator associated with the Wilcoxon test — 50% breakdown
    against outliers where the mean difference has 0%).

    Exact construction: values quantize once to q6 BIGINT; each
    group collapses to a VALUE CENSUS; the pairwise-difference
    distribution is the census×census cross product weighted by
    ``c_a·c_b`` (exact DECIMAL counts) — never the row-level n_a×n_b
    pairs — folded into a difference census; the estimate is the
    LOWER weighted median (smallest d with ``2·cum ≥ total``, the
    integer-comparison convention of the weighted-median entry, no
    division anywhere).

    Plan at 100 TB: one corpus groupBy to the value census; the cross
    join is bounded by the PRODUCT OF DISTINCT VALUE COUNTS (a fixed
    domain for length-like metrics — independent of corpus size), with
    the smaller census broadcast — CHOSEN BY MEASUREMENT, not
    convention (ADVICE r9: the earlier unconditional ``broadcast(vb)``
    could blow driver memory on a high-cardinality group B even when A
    is small): one driver-coordinated 1-row aggregate over the
    persisted census reads both cardinalities, then the smaller side
    takes the hint. The median window runs over the difference census.
    The census-cardinality² term is the documented cost surface — for
    continuous metrics quantize coarser first.

    Output one row: (n_a, n_b, n_diff_values, hl_shift_q6).
    """
    from pyspark.sql import Window

    q6 = lambda c: F.floor(  # noqa: E731
        c.cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    t = df.where(
        F.col(group_column).isin(group_a, group_b)
        & F.col(value_column).isNotNull()
    ).select(
        q6(F.col(value_column)).alias("__v"),
        (F.col(group_column) == group_a).alias("__ia"),
    )
    cells = t.groupBy("__v").agg(
        F.sum(F.when(F.col("__ia"), 1).otherwise(0)).alias("__ca"),
        F.sum(F.when(F.col("__ia"), 0).otherwise(1)).alias("__cb"),
    ).persist()
    va = cells.filter(F.col("__ca") > 0).select(
        F.col("__v").alias("__va"), F.col("__ca").alias("__na")
    )
    vb = cells.filter(F.col("__cb") > 0).select(
        F.col("__v").alias("__vb"), F.col("__cb").alias("__nb")
    )
    # broadcast the MEASURED smaller census (ADVICE r9) — one 1-row
    # aggregate over the persisted census, never a convention
    sizes = cells.agg(
        F.sum(F.when(F.col("__ca") > 0, 1).otherwise(0)).alias("ka"),
        F.sum(F.when(F.col("__cb") > 0, 1).otherwise(0)).alias("kb"),
    ).collect()[0]
    # The persisted census exists only to feed the sizes probe; release it
    # immediately (ADVICE r10) — the returned plan recomputes the census
    # lazily, matching the breslow_day/anova persist→use→unpersist
    # convention, so long-lived sessions don't accumulate cached
    # partitions across repeated calls.
    cells.unpersist()
    if (sizes["ka"] or 0) < (sizes["kb"] or 0):
        va = F.broadcast(va)
    else:
        vb = F.broadcast(vb)
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    diffs = (
        va.crossJoin(vb)
        .select(
            (F.col("__va") - F.col("__vb")).alias("__d"),
            (d38(F.col("__na")) * F.col("__nb")).alias("__w"),
        )
        .groupBy("__d")
        .agg(F.sum("__w").alias("__w"))
    )
    wc = Window.orderBy("__d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = diffs.select(
        "__d",
        F.sum("__w").over(wc).alias("__cum"),
        F.sum("__w").over(
            Window.orderBy("__d").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__tot"),
    )
    med = c.filter(F.col("__cum") * 2 >= F.col("__tot")).agg(
        F.min("__d").alias("__hl")
    )
    counts = t.agg(
        F.sum(F.when(F.col("__ia"), 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("__ia"), 0).otherwise(1))
        .cast("long")
        .alias("n_b"),
    )
    nd = diffs.agg(F.count(F.lit(1)).cast("long").alias("n_diff_values"))
    return (
        counts.crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(med))
        .select(
            "n_a",
            "n_b",
            "n_diff_values",
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0), F.col("__hl")
            )
            .cast("long")
            .alias("hl_shift_q6"),
        )
    )


def cochran_armitage_trend(
    df: DataFrame,
    *,
    score_column: Column | str,
    success_column: Column | str,
) -> DataFrame:
    """Cochran-Armitage trend test (Cochran Biometrics'54, Armitage
    Biometrics'55 — public construction): is a binary rate MONOTONE in
    an ordinal dose/score? :func:`chi_square_independence` asks "are
    these groups different at all" and burns power on non-monotone
    alternatives; the trend test spends all of it on the
    dose-response ordering (price band → return rate, quality decile →
    rejection rate).

    With integer scores xᵢ, per-score counts (nᵢ, sᵢ) and totals
    (N, S): ``T = Σsᵢxᵢ − (S/N)·Σnᵢxᵢ`` and ``Var(T) = (S/N)(1−S/N)·
    (Σnᵢxᵢ² − (Σnᵢxᵢ)²/N)``. Every sum is an exact DECIMAL(38,0)
    over the score census (ONE map-side-combined aggregate — scores
    are a bounded ordinal domain, the census discipline); z is ONE
    fixed-order double quantized q6. NULL when S = 0, S = N, or the
    score variance is 0 (a single score class). Sign convention:
    positive z = rate rising with the score.

    Output one row: (n_total, n_success, n_scores, z_q6).
    """
    y = (
        F.col(success_column)
        if isinstance(success_column, str)
        else success_column
    ).cast("boolean")
    x = (
        F.col(score_column)
        if isinstance(score_column, str)
        else score_column
    )
    t = df.select(
        x.cast("long").alias("__x"),
        y.alias("__y"),
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    g = t.groupBy("__x").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("__s"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = g.agg(
        F.sum("__n").alias("__nn"),
        F.sum("__s").alias("__ss"),
        F.count(F.lit(1)).alias("__k"),
        F.sum(d38(F.col("__s")) * d38(F.col("__x"))).alias("__sx"),
        F.sum(d38(F.col("__n")) * d38(F.col("__x"))).alias("__nx"),
        F.sum(
            d38(F.col("__n")) * d38(F.col("__x")) * d38(F.col("__x"))
        ).alias("__nxx"),
    )
    dv = F.try_divide
    nn = F.col("__nn").cast("double")
    ss = F.col("__ss").cast("double")
    sx = F.col("__sx").cast("double")
    nx = F.col("__nx").cast("double")
    nxx = F.col("__nxx").cast("double")
    p = dv(ss, nn)
    t_stat = sx - p * nx
    var = p * (F.lit(1.0) - p) * (nxx - dv(nx * nx, nn))
    z = dv(t_stat, F.sqrt(var))
    ok = (
        (F.col("__ss") > 0)
        & (F.col("__ss") < F.col("__nn"))
        & (var > 0)
    )
    return agg.select(
        F.col("__nn").cast("long").alias("n_total"),
        F.col("__ss").cast("long").alias("n_success"),
        F.col("__k").cast("long").alias("n_scores"),
        F.when(ok, F.floor(z * F.lit(1e6) + F.lit(0.5)))
        .cast("long")
        .alias("z_q6"),
    )


def mantel_haenszel_or(
    df: DataFrame,
    *,
    stratum_column: str | Column,
    cohort_column: Column | str,
    success_column: Column | str,
) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio across strata (Mantel &
    Haenszel JNCI'59 — public construction): the stratified 2×2
    answer to Simpson's paradox — a marginal
    :func:`two_proportion_test` can reverse sign when a confounder
    (month, region, device) is unevenly split across cohorts; MH pools
    the per-stratum odds ratios with their natural weights,
    ``OR_MH = Σᵢ(aᵢdᵢ/nᵢ) / Σᵢ(bᵢcᵢ/nᵢ)``, plus the MH chi-square
    ``(Σaᵢ − ΣEᵢ)² / ΣVᵢ`` with the hypergeometric
    ``Eᵢ = r1ᵢc1ᵢ/nᵢ`` and ``Vᵢ = r1ᵢr2ᵢc1ᵢc2ᵢ/(nᵢ²(nᵢ−1))``.

    One conditional aggregate to the stratum census (a/b/c/d exact
    integers per stratum); each per-stratum term is ONE fixed-order
    double quantized to q9 BIGINT so the cross-stratum sums are
    exact and order-free (the log-rank discipline); the final OR and
    chi-square are single quantized divisions. Degenerate strata
    (nᵢ ≤ 1) contribute nothing to the variance and E terms (their V
    is undefined); OR is NULL when the denominator mass is 0.

    Output one row: (n_strata, n_rows, or_mh_q6, chi2_q6).
    """
    st = (
        F.col(stratum_column)
        if isinstance(stratum_column, str)
        else stratum_column
    )
    co = (
        F.col(cohort_column)
        if isinstance(cohort_column, str)
        else cohort_column
    ).cast("boolean")
    y = (
        F.col(success_column)
        if isinstance(success_column, str)
        else success_column
    ).cast("boolean")
    t = df.select(
        st.alias("__st"), co.alias("__c"), y.alias("__y")
    ).filter(
        F.col("__st").isNotNull()
        & F.col("__c").isNotNull()
        & F.col("__y").isNotNull()
    )
    g = t.groupBy("__st").agg(
        F.sum(F.when(F.col("__c") & F.col("__y"), 1).otherwise(0)).alias(
            "__a"
        ),
        F.sum(F.when(F.col("__c") & ~F.col("__y"), 1).otherwise(0)).alias(
            "__b"
        ),
        F.sum(
            F.when(~F.col("__c") & F.col("__y"), 1).otherwise(0)
        ).alias("__cc"),
        F.sum(
            F.when(~F.col("__c") & ~F.col("__y"), 1).otherwise(0)
        ).alias("__d"),
    )
    a = F.col("__a").cast("double")
    b = F.col("__b").cast("double")
    c = F.col("__cc").cast("double")
    d = F.col("__d").cast("double")
    n = a + b + c + d
    q9 = lambda x: F.floor(x * F.lit(1e9) + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    dv = F.try_divide
    terms = g.select(
        F.col("__a").alias("__ai"),
        (F.col("__a") + F.col("__b") + F.col("__cc") + F.col("__d"))
        .alias("__ni"),
        q9(dv(a * d, n)).alias("__num"),
        q9(dv(b * c, n)).alias("__den"),
        F.when(n > 1, q9(dv((a + b) * (a + c), n))).alias("__e"),
        F.when(
            n > 1,
            q9(
                dv(
                    (a + b) * (c + d) * (a + c) * (b + d),
                    n * n * (n - F.lit(1.0)),
                )
            ),
        ).alias("__v"),
    )
    d38 = lambda cc: cc.cast("decimal(38,0)")  # noqa: E731
    red = terms.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("__ni").alias("__rows"),
        F.sum(F.when(F.col("__ni") > 1, F.col("__ai")).otherwise(0)).alias(
            "__sa"
        ),
        F.sum(d38(F.col("__num"))).alias("__sn"),
        F.sum(d38(F.col("__den"))).alias("__sd"),
        F.sum(d38(F.col("__e"))).alias("__se"),
        F.sum(d38(F.col("__v"))).alias("__sv"),
    )
    orr = dv(F.col("__sn").cast("double"), F.col("__sd").cast("double"))
    diff = (
        F.col("__sa").cast("double")
        - F.col("__se").cast("double") / F.lit(1e9)
    )
    chi2 = dv(diff * diff, F.col("__sv").cast("double") / F.lit(1e9))
    return red.select(
        F.col("__k").cast("long").alias("n_strata"),
        F.col("__rows").cast("long").alias("n_rows"),
        F.when(
            F.col("__sd") > 0,
            F.floor(orr * F.lit(1e6) + F.lit(0.5)),
        )
        .cast("long")
        .alias("or_mh_q6"),
        F.when(
            F.col("__sv") > 0,
            F.floor(chi2 * F.lit(1e6) + F.lit(0.5)),
        )
        .cast("long")
        .alias("chi2_q6"),
    )


def kruskal_wallis(
    df: DataFrame,
    *,
    value_column: str,
    group_column: str,
) -> DataFrame:
    """Exact tie-corrected Kruskal-Wallis H test (K&W JASA'52) — the
    k-group extension of :func:`mann_whitney_u` and the rank
    (distribution-free) counterpart of :func:`anova_oneway`: did ANY
    of k sources/segments shift the value distribution, without
    normality assumptions? With midranks Rᵢ per group,
    ``H = 12/(N(N+1))·Σ Rᵢ²/nᵢ − 3(N+1)``, divided by the standard
    tie correction ``1 − Σ(c³−c)/(N³−N)``.

    Exact-integer construction (the Mann-Whitney recipe generalized):
    a (value, group) census plus a value-total census with ONE
    census-bounded cumulative window gives every group's DOUBLED rank
    sum ``R2ᵢ = Σ c_g·(2·cum + c + 1)`` in DECIMAL(38,0); each
    group's ``R2ᵢ²/(4nᵢ)`` is one fixed-order double quantized q6 so
    the cross-group sum is exact and order-free; H and the corrected H
    are single quantized doubles. NULL when fewer than 2 groups or
    every value is tied (zero rank variance).

    Output one row: (n_total, n_groups, h_q6, h_tie_q6).
    """
    t = df.select(
        F.col(value_column).alias("__v"),
        F.col(group_column).alias("__g"),
    ).filter(F.col("__v").isNotNull() & F.col("__g").isNotNull())
    cells = t.groupBy("__v", "__g").agg(
        F.count(F.lit(1)).alias("__cg")
    )
    vtot = cells.groupBy("__v").agg(F.sum("__cg").alias("__c"))
    w = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    vtot = vtot.select(
        "__v",
        "__c",
        F.coalesce(F.sum("__c").over(w), F.lit(0)).alias("__cum"),
    )
    d18 = lambda col: col.cast("decimal(18,0)")  # noqa: E731
    j = cells.join(vtot, "__v").select(
        "__g",
        F.col("__cg"),
        (
            d18(F.col("__cg"))
            * d18(F.lit(2) * F.col("__cum") + F.col("__c") + 1)
        ).alias("__r2part"),
    )
    per_group = j.groupBy("__g").agg(
        F.sum("__cg").alias("__n"),
        F.sum("__r2part").alias("__r2"),
    )
    r2d = F.col("__r2").cast("double")
    term = F.try_divide(
        r2d * r2d,
        F.lit(4.0) * F.col("__n").cast("double"),
    )
    gq = per_group.select(
        F.col("__n"),
        F.floor(term * F.lit(1e6) + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("__tq"),
    )
    ties = vtot.agg(
        F.sum(
            d18(F.col("__c")) * d18(F.col("__c")) * d18(F.col("__c"))
            - d18(F.col("__c"))
        ).alias("__t3")
    )
    red = gq.agg(
        F.sum("__n").alias("__nn"),
        F.count(F.lit(1)).alias("__k"),
        F.sum("__tq").alias("__s"),
    ).crossJoin(F.broadcast(ties))
    nn = F.col("__nn").cast("double")
    s = F.col("__s").cast("double") / F.lit(1e6)
    h = (
        F.try_divide(F.lit(12.0), nn * (nn + F.lit(1.0))) * s
        - F.lit(3.0) * (nn + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.try_divide(
        F.col("__t3").cast("double"), nn * nn * nn - nn
    )
    h_tie = F.try_divide(h, corr)
    ok = (F.col("__k") >= 2) & (corr > 0)
    return red.select(
        F.col("__nn").cast("long").alias("n_total"),
        F.col("__k").cast("long").alias("n_groups"),
        F.when(
            F.col("__k") >= 2,
            F.floor(h * F.lit(1e6) + F.lit(0.5)),
        )
        .cast("long")
        .alias("h_q6"),
        F.when(ok, F.floor(h_tie * F.lit(1e6) + F.lit(0.5)))
        .cast("long")
        .alias("h_tie_q6"),
    )


def friedman_test(
    df: DataFrame,
    *,
    block_column: str,
    treatment_column: str,
    value_column: str,
) -> DataFrame:
    """Exact tie-corrected Friedman test (Friedman JASA'37; Conover's
    tie-safe form) — the REPEATED-MEASURES rank test:
    :func:`kruskal_wallis` compares independent groups, Friedman
    compares k treatments measured on the SAME blocks (users, queries,
    documents), ranking WITHIN each block so between-block level
    differences cancel entirely. The eval-suite question "which of k
    model variants ranks best per query" is this test.

    Only COMPLETE blocks (all k treatments present exactly once) enter
    — incomplete blocks are dropped and counted
    (``n_blocks_dropped``), the honest repeated-measures contract.
    With doubled within-block midranks ``r2 = 2·(#smaller) + (#tied)
    + 1`` every quantity is an EXACT integer: treatment sums R2ⱼ,
    ``A2 = Σr2²``, ``C2 = b·k·(k+1)²``, and Conover's statistic
    ``(k−1)·Σⱼ(R2ⱼ − b(k+1))² / (A2 − C2)`` reduces to ONE exact
    integral division, quantized q6 (in doubled-rank units both
    numerator and denominator scale by 4 — the factor cancels). NULL
    when k < 2, no complete block survives, or every block is fully
    tied (A2 = C2).

    Plan: midranks via a block-keyed self-join (k² rows per block, k
    bounded — no per-row window); one treatment census; two 1-row
    reduces broadcast back. The two eager driver counts (global k,
    total blocks) are scalar aggregates.

    Output one row: (n_blocks, n_treatments, n_blocks_dropped,
    chi2_q6).
    """
    t = df.select(
        F.col(block_column).alias("__b"),
        F.col(treatment_column).alias("__t"),
        F.col(value_column).cast("double").alias("__v"),
    ).filter(
        F.col("__b").isNotNull()
        & F.col("__t").isNotNull()
        & F.col("__v").isNotNull()
    )
    k_total = t.select("__t").distinct().count()
    sizes = t.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__n"),
        F.count_distinct(F.col("__t")).alias("__kt"),
    )
    n_blocks_all = sizes.count()
    complete_ids = sizes.filter(
        (F.col("__n") == k_total) & (F.col("__kt") == k_total)
    ).select("__b")
    tt = t.join(complete_ids, "__b")
    other = tt.select(F.col("__b"), F.col("__v").alias("__v2"))
    cells = (
        tt.join(other, "__b")
        .groupBy("__b", "__t", "__v")
        .agg(
            (
                F.lit(2)
                * F.sum(
                    F.when(F.col("__v2") < F.col("__v"), 1).otherwise(0)
                )
                + F.sum(
                    F.when(F.col("__v2") == F.col("__v"), 1).otherwise(0)
                )
                + 1
            ).alias("__r2")
        )
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_t = cells.groupBy("__t").agg(
        F.sum(d38(F.col("__r2"))).alias("__R2"),
        F.count(F.lit(1)).alias("__bcnt"),
    )
    bk = per_t.agg(
        F.count(F.lit(1)).alias("__k"),
        F.max("__bcnt").alias("__bb"),
    ).crossJoin(
        F.broadcast(
            cells.agg(
                F.sum(d38(F.col("__r2")) * d38(F.col("__r2"))).alias(
                    "__a2"
                )
            )
        )
    )
    dev = (
        per_t.crossJoin(F.broadcast(bk))
        .select(
            (
                d38(F.col("__R2"))
                - d38(F.col("__bcnt")) * (F.col("__k") + 1)
            ).alias("__d")
        )
        .agg(F.sum(F.col("__d") * F.col("__d")).alias("__s"))
    )
    out = bk.crossJoin(F.broadcast(dev))
    stat = F.expr(
        "CASE WHEN __a2 - CAST(__bb AS DECIMAL(38,0)) * __k"
        " * (__k + 1) * (__k + 1) > 0 THEN"
        " ((__k - 1) * __s * 1000000) DIV"
        " (__a2 - CAST(__bb AS DECIMAL(38,0)) * __k"
        " * (__k + 1) * (__k + 1)) END"
    )
    return out.select(
        F.coalesce(F.col("__bb"), F.lit(0)).cast("long").alias(
            "n_blocks"
        ),
        F.col("__k").cast("long").alias("n_treatments"),
        (
            F.lit(int(n_blocks_all))
            - F.coalesce(F.col("__bb"), F.lit(0))
        )
        .cast("long")
        .alias("n_blocks_dropped"),
        F.when(
            (F.col("__k") >= 2) & (F.col("__bb") > 0), stat
        )
        .cast("long")
        .alias("chi2_q6"),
    )


def cochran_q(
    df: DataFrame,
    *,
    block_column: str,
    treatment_column: str,
    success_column: Column | str,
) -> DataFrame:
    """Cochran's Q test (Cochran Biometrika'50) — k-treatment binary
    repeated measures, the generalization of :func:`mcnemar_test`
    beyond two treatments and the binary sibling of
    :func:`friedman_test`: did ANY of k detectors/filters/variants
    succeed at a different rate on the SAME blocks? ``Q = (k−1)·
    (k·ΣCⱼ² − N²) / (k·ΣRᵢ − ΣRᵢ²)`` with column totals Cⱼ, block
    totals Rᵢ, N = ΣRᵢ. Missing (block, treatment) cells count as
    failure (the every-block-sees-every-treatment design where
    absence IS the outcome); duplicate observations fold by
    logical-OR.

    ENTIRELY exact integers: one distinct success-cell frame, one
    block census, one treatment census, a single integral division
    quantized q6. NULL when k < 2 or the denominator is 0 (every
    block all-success or all-failure — no within-block variation).

    Output one row: (n_blocks, n_treatments, q_q6).
    """
    y = (
        F.col(success_column)
        if isinstance(success_column, str)
        else success_column
    ).cast("boolean")
    t = df.select(
        F.col(block_column).alias("__b"),
        F.col(treatment_column).alias("__t"),
        y.alias("__y"),
    ).filter(F.col("__b").isNotNull() & F.col("__t").isNotNull())
    k_total = t.select("__t").distinct().count()
    succ = (
        t.filter(F.col("__y"))
        .select("__b", "__t")
        .distinct()
    )
    rows = t.select("__b").distinct()
    ri = rows.join(
        succ.groupBy("__b").agg(F.count(F.lit(1)).alias("__r")),
        "__b",
        "left",
    ).select(F.coalesce(F.col("__r"), F.lit(0)).alias("__r"))
    cj = succ.groupBy("__t").agg(F.count(F.lit(1)).alias("__c"))
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    rred = ri.agg(
        F.count(F.lit(1)).alias("__bb"),
        F.sum(d38(F.col("__r"))).alias("__n"),
        F.sum(d38(F.col("__r")) * d38(F.col("__r"))).alias("__rr"),
    )
    cred = cj.agg(
        F.sum(d38(F.col("__c")) * d38(F.col("__c"))).alias("__cc")
    )
    out = rred.crossJoin(F.broadcast(cred))
    stat = F.expr(
        f"CASE WHEN {int(k_total)} * __n - __rr > 0 THEN"
        f" (({int(k_total)} - 1)"
        f" * ({int(k_total)} * coalesce(__cc, CAST(0 AS DECIMAL(38,0)))"
        f" - __n * __n) * 1000000)"
        f" DIV ({int(k_total)} * __n - __rr) END"
    )
    return out.select(
        F.col("__bb").cast("long").alias("n_blocks"),
        F.lit(int(k_total)).cast("long").alias("n_treatments"),
        F.when(F.lit(int(k_total) >= 2), stat)
        .cast("long")
        .alias("q_q6"),
    )


def concordance_correlation(
    df: DataFrame,
    *,
    a_column: Column | str,
    b_column: Column | str,
) -> DataFrame:
    """Lin's concordance correlation coefficient (Lin, Biometrics'89)
    — CONTINUOUS rater/scorer agreement: Pearson's r rewards any
    linear relation (a scorer that doubles every value still gets
    r = 1); CCC ``ρc = 2·cov / (var_a + var_b + (μa − μb)²)`` demands
    identity-line agreement, penalizing both scale and location bias.
    The continuous twin of :func:`cohen_kappa`: run it on two quality
    scorers, two embedding-distance estimators, two labelers' scores.

    Exact-integer construction: both columns quantize once to q6
    BIGINT; ONE aggregate of exact DECIMAL(38,0) cross-moments; CCC,
    Pearson r, and the location/scale bias components are fixed-order
    doubles quantized q6. Population (1/n) moments throughout. NULL
    when n < 2 or both variances are 0; if exactly one variance is 0
    CCC is 0 by the formula (and reported as such).

    Output one row: (n_pairs, ccc_q6, pearson_q6, mean_diff_q6).
    """
    a = (F.col(a_column) if isinstance(a_column, str) else a_column)
    b = (F.col(b_column) if isinstance(b_column, str) else b_column)
    q6 = lambda c: F.floor(  # noqa: E731
        c.cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    t = df.select(q6(a).alias("__a"), q6(b).alias("__b")).filter(
        F.col("__a").isNotNull() & F.col("__b").isNotNull()
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = t.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(d38(F.col("__a"))).alias("__sa"),
        F.sum(d38(F.col("__b"))).alias("__sb"),
        F.sum(d38(F.col("__a")) * d38(F.col("__a"))).alias("__saa"),
        F.sum(d38(F.col("__b")) * d38(F.col("__b"))).alias("__sbb"),
        F.sum(d38(F.col("__a")) * d38(F.col("__b"))).alias("__sab"),
    )
    dv = F.try_divide
    n = F.col("__n").cast("double")
    sa = F.col("__sa").cast("double")
    sb = F.col("__sb").cast("double")
    saa = F.col("__saa").cast("double")
    sbb = F.col("__sbb").cast("double")
    sab = F.col("__sab").cast("double")
    ma = dv(sa, n)
    mb = dv(sb, n)
    va = dv(saa, n) - ma * ma
    vb = dv(sbb, n) - mb * mb
    cov = dv(sab, n) - ma * mb
    md = ma - mb
    ccc = dv(F.lit(2.0) * cov, va + vb + md * md)
    pears = dv(cov, F.sqrt(va * vb))
    qq = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    ok = F.col("__n") >= 2
    return agg.select(
        F.col("__n").cast("long").alias("n_pairs"),
        F.when(ok & ((va > 0) | (vb > 0) | (md != 0)), qq(ccc)).alias(
            "ccc_q6"
        ),
        F.when(ok & (va > 0) & (vb > 0), qq(pears)).alias("pearson_q6"),
        F.when(F.col("__n") > 0, F.floor(md + F.lit(0.5)))
        .cast("long")
        .alias("mean_diff_q6"),
    )


def jonckheere_terpstra(
    df: DataFrame,
    *,
    value_column: str,
    group_score_column: Column | str,
) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative test (Jonckheere
    Biometrika'54, Terpstra '52) — the continuous sibling of
    :func:`cochran_armitage_trend` and the ordered refinement of
    :func:`kruskal_wallis`: does the VALUE distribution shift
    monotonically across ordinally-scored groups (price band, dose,
    quality decile)? ``JT = Σ_{score_i < score_j} U_ij`` — the sum of
    pairwise Mann-Whitney counts in score order, which concentrates
    power on the ordering KW spreads over any-difference.

    Exact-integer construction: per-(group, value) census; a dense
    (value × group) grid with per-group EXCLUSIVE cumulatives (one
    group-partitioned, census-bounded window); DOUBLED counts
    ``JT2 = Σ c_j·(2·cum_below_i + c_i)`` over ordered group pairs so
    ties contribute exactly half. JT2 and the doubled expectation
    ``E2 = (N² − Σnᵢ²)/2`` are exact DECIMAL(38,0); the z statistic
    uses the STANDARD no-tie variance ``[N²(2N+3) − Σnᵢ²(2nᵢ+3)]/72``
    (a documented approximation — the exact tie-corrected JT variance
    is out of scope; with heavy ties read z as indicative, the JT2/E2
    integers as exact). NULL z when fewer than 2 groups or var 0.

    Output one row: (n_total, n_groups, jt_x2, e_x2, z_q6).
    """
    gs = (
        F.col(group_score_column)
        if isinstance(group_score_column, str)
        else group_score_column
    )
    t = df.select(
        gs.cast("long").alias("__g"),
        F.col(value_column).alias("__v"),
    ).filter(F.col("__g").isNotNull() & F.col("__v").isNotNull())
    census = t.groupBy("__g", "__v").agg(
        F.count(F.lit(1)).alias("__c")
    )
    values = census.select("__v").distinct()
    groups = census.select("__g").distinct()
    grid = (
        values.crossJoin(groups)
        .join(census, ["__g", "__v"], "left")
        .withColumn("__c", F.coalesce(F.col("__c"), F.lit(0)))
    )
    w = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grid = grid.select(
        "__g",
        "__v",
        "__c",
        F.coalesce(F.sum("__c").over(w), F.lit(0)).alias("__cum"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    gi = grid.alias("i")
    cj = census.alias("j")
    jt2 = (
        gi.join(
            cj,
            (F.col("i.__v") == F.col("j.__v"))
            & (F.col("i.__g") < F.col("j.__g")),
        )
        .agg(
            F.sum(
                d38(F.col("j.__c"))
                * (
                    F.lit(2) * F.col("i.__cum") + F.col("i.__c")
                )
            ).alias("__jt2")
        )
    )
    per_g = census.groupBy("__g").agg(F.sum("__c").alias("__n"))
    red = per_g.agg(
        F.sum("__n").alias("__nn"),
        F.count(F.lit(1)).alias("__k"),
        F.sum(d38(F.col("__n")) * d38(F.col("__n"))).alias("__n2"),
        F.sum(
            d38(F.col("__n"))
            * d38(F.col("__n"))
            * (F.lit(2) * F.col("__n") + 3)
        ).alias("__n23"),
    ).crossJoin(F.broadcast(jt2))
    dv = F.try_divide
    nn = F.col("__nn").cast("double")
    # E2 = (N^2 - sum n_g^2) / 2 is always an even-numerator integer
    # (it counts cross-group pairs); keep it DECIMAL(38,0) like JT2 so
    # e_x2 stays exact past the 2^53 double envelope.
    e2_exact = (
        (d38(F.col("__nn")) * d38(F.col("__nn")) - F.col("__n2"))
        / F.lit(2)
    ).cast("decimal(38,0)")
    e2 = e2_exact.cast("double")
    var = (
        nn * nn * (F.lit(2.0) * nn + F.lit(3.0))
        - F.col("__n23").cast("double")
    ) / F.lit(72.0)
    jt2d = F.coalesce(F.col("__jt2"), F.lit(0).cast("decimal(38,0)"))
    z = dv(
        jt2d.cast("double") - e2,
        F.lit(2.0) * F.sqrt(var),
    )
    ok = (F.col("__k") >= 2) & (var > 0)
    # jt_x2 / e_x2 stay DECIMAL(38,0) in the output (ADVICE r10 / VERDICT
    # r9-r10 nit): both are O(N²) pair counts, so a BIGINT output would
    # wrap past ~4.3e9 rows per test cell even though the computation
    # envelope is exact; DECIMAL(38,0) carries the exact value out.
    return red.select(
        F.col("__nn").cast("long").alias("n_total"),
        F.col("__k").cast("long").alias("n_groups"),
        jt2d.alias("jt_x2"),
        e2_exact.alias("e_x2"),
        F.when(ok, F.floor(z * F.lit(1e6) + F.lit(0.5)))
        .cast("long")
        .alias("z_q6"),
    )


def platt_calibration(
    df: DataFrame,
    *,
    score_column: str,
    label_column,
    iterations: int = 10,
) -> DataFrame:
    """Platt scaling (Platt 1999, "Probabilistic Outputs for Support
    Vector Machines"; public construction, fitted here as the plain
    one-feature logistic MLE without Platt's target-smoothing prior —
    stated, not hidden): ``P(y=1|s) = σ(a·s + b)`` by FIXED-COUNT
    Newton-Raphson — the PARAMETRIC rung of the calibration ladder
    beside :func:`isotonic_calibration` (monotone nonparametric) and
    the ECE census (diagnostic): two parameters mean it extrapolates
    smoothly and never overfits sparse score regions, at the price of
    assuming the sigmoid shape.

    The corpus collapses onto a (score, n, k) census; each Newton step
    needs five census moments (gradient g_a, g_b and Hessian h_aa,
    h_ab, h_bb with weights ``n·p·(1−p)``), solved 2×2 in closed form.
    Cross-engine determinism: per step the ONE libm call ``exp(−z)``
    is floor-quantized 1e-12 per census row, every moment term is a
    fixed-order double rounded to 9 decimals and summed in exact
    DECIMAL(28,9) (order-free), and the 2×2 solve is fixed-order
    doubles — the driver-coordinated loop (bpe_learn_merges envelope:
    ``iterations`` 1-row aggregates over the persisted census) lands
    on bit-identical (a, b) on every engine.

    Refuses (NULL fit) on degenerate labels (all positive / all
    negative), a non-positive-definite step (|H| ≤ 0), or a
    non-finite iterate (separation).

    Output one row: (n, n_pos, a_q6, b_q6, nll_q6) — nll is the final
    negative log-likelihood (natural log, same 9-decimal/DECIMAL
    recipe) for gate comparisons across fits.
    """
    import math

    y = (
        F.col(label_column)
        if isinstance(label_column, str)
        else label_column
    ).cast("boolean")
    t = df.select(
        F.col(score_column).cast("double").alias("__s"), y.alias("__y")
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    census = (
        t.groupBy("__s")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("__k"),
        )
        .persist()
    )
    tot = census.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).alias("n"),
        F.coalesce(F.sum("__k"), F.lit(0)).alias("k"),
    ).collect()[0]
    n_all, k_all = int(tot["n"]), int(tot["k"])

    sd = F.col("__s")
    nd = F.col("__n").cast("double")
    kd = F.col("__k").cast("double")

    def step_moments(a: float, b: float):
        z = F.lit(a) * sd + F.lit(b)
        # the one libm call, floor-quantized 1e-12 (sigma in (0,1))
        enz = F.floor(F.exp(-z) * F.lit(1e12) + F.lit(0.5)) / F.lit(1e12)
        p = F.lit(1.0) / (F.lit(1.0) + enz)
        w = nd * p * (F.lit(1.0) - p)
        q9 = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
        row = census.agg(
            F.sum(q9((kd - nd * p) * sd)).alias("ga"),
            F.sum(q9(kd - nd * p)).alias("gb"),
            F.sum(q9(w * sd * sd)).alias("haa"),
            F.sum(q9(w * sd)).alias("hab"),
            F.sum(q9(w)).alias("hbb"),
        ).collect()[0]
        return tuple(
            float(row[c]) if row[c] is not None else 0.0
            for c in ("ga", "gb", "haa", "hab", "hbb")
        )

    ab: tuple[float, float] | None = (0.0, 0.0)
    if k_all == 0 or k_all == n_all or n_all == 0:
        ab = None
    else:
        for _ in range(int(iterations)):
            ga, gb, haa, hab, hbb = step_moments(*ab)
            det = haa * hbb - hab * hab
            if det <= 0:
                ab = None
                break
            a = ab[0] + (ga * hbb - gb * hab) / det
            b = ab[1] + (gb * haa - ga * hab) / det
            if not (math.isfinite(a) and math.isfinite(b)):
                ab = None
                break
            ab = (a, b)

    if ab is None:
        stats = [None, None, None]
    else:
        a, b = ab
        z = F.lit(a) * sd + F.lit(b)
        enz = F.floor(F.exp(-z) * F.lit(1e12) + F.lit(0.5)) / F.lit(1e12)
        # clamp away the quantization-exact 0/1 so both logs stay finite
        p = F.least(
            F.greatest(
                F.lit(1.0) / (F.lit(1.0) + enz), F.lit(1e-12)
            ),
            F.lit(1.0) - F.lit(1e-12),
        )
        q12l = lambda c: (  # noqa: E731
            F.floor(F.log(c) * F.lit(1e12) + F.lit(0.5)) / F.lit(1e12)
        )
        q9 = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
        nll_row = census.agg(
            F.sum(
                q9(-(kd * q12l(p) + (nd - kd) * q12l(F.lit(1.0) - p)))
            ).alias("nll")
        ).collect()[0]
        nll = float(nll_row["nll"]) if nll_row["nll"] is not None else 0.0
        stats = [
            math.floor(a * 1e6 + 0.5),
            math.floor(b * 1e6 + 0.5),
            math.floor(nll * 1e6 + 0.5),
        ]
    census.unpersist()
    spark = df.sparkSession
    lits = spark.createDataFrame(
        [(n_all, k_all, *stats)],
        "n long, n_pos long, a_q6 long, b_q6 long, nll_q6 long",
    )
    return lits


def brier_decomposition(
    df: DataFrame,
    *,
    score_ppm_column: str,
    label_column,
) -> DataFrame:
    """Murphy decomposition of the Brier score (Murphy, J. Appl.
    Meteor. 1973; public construction): ``Brier = RELIABILITY −
    RESOLUTION + UNCERTAINTY`` over the distinct forecast values —
    the diagnostic the single ``brier_x12`` number of
    :func:`calibration_error_report` hides: reliability is the
    calibration failure (forecasts off their observed frequency,
    lower better), resolution is the discrimination earned (forecasts
    that separate outcomes, higher better), uncertainty ``ȳ(1−ȳ)`` is
    the irreducible base-rate term. Binning by DISTINCT score values
    makes the decomposition EXACT (no within-bin variance leak).

    Integer discipline (the log-rank recipe): forecasts arrive as ppm
    integers; per distinct value the term numerators ``(n_v·p_v −
    1e6·k_v)²`` and ``(k_v·N − K·n_v)²`` are exact DECIMAL(38,0),
    each term pays ONE fixed-order double division by ``n_v``
    quantized half-up, the sums are exact DECIMAL, and the three
    components come out in 1e-12 units (uncertainty fully exact via
    integer DIV). The identity is returned as computed (brier =
    rel − res + unc) so gates can assert it.

    Plan: one groupBy on the score value (census bounded by distinct
    forecasts), one 1-row reduce. No windows, no joins.

    Output one row: (n, n_pos, n_forecast_values, reliability_x12,
    resolution_x12, uncertainty_x12, brier_x12).
    """
    y = (
        F.col(label_column)
        if isinstance(label_column, str)
        else label_column
    ).cast("boolean")
    t = df.select(
        F.col(score_ppm_column).cast("long").alias("__p"), y.alias("__y")
    ).filter(F.col("__p").isNotNull() & F.col("__y").isNotNull())
    cells = t.groupBy("__p").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("__k"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tot = cells.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).alias("__tn"),
        F.coalesce(F.sum("__k"), F.lit(0)).alias("__tk"),
        F.count(F.lit(1)).alias("__tv"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    dnum = d38(F.col("__n")) * F.col("__p") - d38(F.col("__k")) * F.lit(
        1_000_000
    )
    rnum = d38(F.col("__k")) * F.col("__tn") - d38(F.col("__tk")) * F.col(
        "__n"
    )
    terms = j.select(
        F.floor(
            (dnum * dnum).cast("double") / F.col("__n").cast("double")
            + F.lit(0.5)
        ).cast("decimal(38,0)").alias("__trel"),
        F.floor(
            (rnum * rnum).cast("double") / F.col("__n").cast("double")
            + F.lit(0.5)
        ).cast("decimal(38,0)").alias("__tres"),
    )
    sums = terms.agg(
        F.coalesce(F.sum("__trel"), F.lit(0)).alias("__srel"),
        F.coalesce(F.sum("__tres"), F.lit(0)).alias("__sres"),
    )
    # 1-row x 1-row: the output survives an EMPTY input (N=0 refusal)
    s = tot.crossJoin(F.broadcast(sums))
    nD = F.col("__tn").cast("double")
    rel = F.floor(
        F.col("__srel").cast("double") / nD + F.lit(0.5)
    ).cast("long")
    res = F.floor(
        F.col("__sres").cast("double") * F.lit(1e12)
        / ((nD * nD) * nD)
        + F.lit(0.5)
    ).cast("long")
    unc = F.expr(
        "(CAST(__tk AS DECIMAL(38,0)) * (__tn - __tk) * 1000000000000)"
        " DIV (CAST(__tn AS DECIMAL(38,0)) * __tn)"
    ).cast("long")
    ok = F.col("__tn") > 0
    return s.select(
        F.col("__tn").cast("long").alias("n"),
        F.col("__tk").cast("long").alias("n_pos"),
        F.col("__tv").cast("long").alias("n_forecast_values"),
        F.when(ok, rel).alias("reliability_x12"),
        F.when(ok, res).alias("resolution_x12"),
        F.when(ok, unc).alias("uncertainty_x12"),
        F.when(ok, rel - res + unc).alias("brier_x12"),
    )


def permutation_mean_test(
    df: DataFrame,
    *,
    unit_column: str,
    metric_column: str,
    cohort_column: Column | str,
    permutations: int = 199,
) -> DataFrame:
    """EXACT randomization test for a two-sample mean difference
    (Fisher 1935's permutation argument; Monte-Carlo form per Dwass
    1957 — public constructions), with the randomness made
    CONTENT-ADDRESSED and MARGIN-PRESERVING: permutation ``b`` ranks
    every unit by ``md5(u, b)`` (tie-broken by ``u``) and assigns the
    top ``n_treat`` ranks to treatment — a true permutation of the
    OBSERVED label multiset (exactly ``n_treat`` treated and
    ``n_ctrl`` control in every reassignment), so the null
    distribution is calibrated at ANY observed arm split, not just
    50/50 (ADVICE r9: the earlier iid-Bernoulli-bit form was only
    margin-preserving in expectation). Deterministic hash ranking
    means every engine and rerun scores the identical ``B``
    reassignments and the p-value is reproducible, not a seed
    lottery. The assumption-free companion to the parametric z/t
    entries and the mSPRT: valid under ANY metric distribution, at
    one fixed look.

    Fully exact decision per permutation: ``|diff_b| ≥ |diff_obs|`` is
    evaluated by cross-multiplied integers —
    ``|s₁n₀ − s₀n₁|·(N₁N₀) ≥ |S₁N₀ − S₀N₁|·(n₁n₀)`` in DECIMAL(38,0)
    (exact while Σ|y_q6|·units·arm-size products stay under 1e38 —
    states its envelope like drift_ks) — no float boundary anywhere;
    ``p = (1 + #extreme)/(B + 1)`` (the add-one rule that keeps the
    Monte-Carlo p valid) as an exact ppm ratio. (Margin preservation
    makes ``n₁ = N₁`` per permutation, so the cross-factors cancel;
    the general form is kept for safety. The empty-arm-counts-EXTREME
    clause can now only fire when the OBSERVED split is degenerate,
    which the output refuses anyway.)

    Plan at 100 TB: the caller passes ONE ROW PER UNIT (aggregate the
    event log first); the explode multiplies the UNIT census by B —
    documented cost surface — then ONE row_number window PARTITIONED
    BY permutation id (B-way parallel rank of the unit census — the
    only data-sized state, and it is partition-parallel, never a
    partition-less window) feeds one map-side-combined groupBy(b);
    everything after is B-bounded.

    Output one row: (n_treat, n_ctrl, diff_q6, n_perms, n_extreme,
    p_ppm).
    """
    co = (
        F.col(cohort_column)
        if isinstance(cohort_column, str)
        else cohort_column
    ).cast("boolean")
    q6 = lambda c: F.floor(  # noqa: E731
        c.cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    units = df.select(
        F.col(unit_column).alias("__u"),
        q6(F.col(metric_column)).alias("__y"),
        co.alias("__t"),
    ).filter(
        F.col("__u").isNotNull()
        & F.col("__y").isNotNull()
        & F.col("__t").isNotNull()
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    obs = units.agg(
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("__on1"),
        F.coalesce(
            F.sum(F.when(F.col("__t"), d38(F.col("__y")))), F.lit(0)
        ).alias("__os1"),
        F.sum(F.when(~F.col("__t"), 1).otherwise(0)).alias("__on0"),
        F.coalesce(
            F.sum(F.when(~F.col("__t"), d38(F.col("__y")))), F.lit(0)
        ).alias("__os0"),
    )
    b = int(permutations)
    if b < 1:
        raise ValueError(f"permutations must be >= 1: {b}")
    perm = units.select(
        "__u",
        "__y",
        F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("__b"),
    ).withColumn(
        "__h",
        F.md5(
            F.concat_ws(
                ",",
                F.col("__u").cast("string"),
                F.col("__b").cast("string"),
            )
        ),
    )
    rank_w = Window.partitionBy("__b").orderBy("__h", "__u")
    perm = (
        perm.withColumn("__rn", F.row_number().over(rank_w))
        .crossJoin(F.broadcast(obs.select("__on1")))
        .withColumn("__pt", F.col("__rn") <= F.col("__on1"))
    )
    grp = perm.groupBy("__b").agg(
        F.sum(F.when(F.col("__pt"), 1).otherwise(0)).alias("__n1"),
        F.coalesce(
            F.sum(F.when(F.col("__pt"), d38(F.col("__y")))), F.lit(0)
        ).alias("__s1"),
        F.sum(F.when(~F.col("__pt"), 1).otherwise(0)).alias("__n0"),
        F.coalesce(
            F.sum(F.when(~F.col("__pt"), d38(F.col("__y")))), F.lit(0)
        ).alias("__s0"),
    )
    j = grp.crossJoin(F.broadcast(obs))
    lhs = F.abs(
        d38(F.col("__s1")) * F.col("__n0")
        - d38(F.col("__s0")) * F.col("__n1")
    ) * (d38(F.col("__on1")) * F.col("__on0"))
    rhs = F.abs(
        d38(F.col("__os1")) * F.col("__on0")
        - d38(F.col("__os0")) * F.col("__on1")
    ) * (d38(F.col("__n1")) * F.col("__n0"))
    extreme = F.when(
        (F.col("__n1") == 0) | (F.col("__n0") == 0), F.lit(True)
    ).otherwise(lhs >= rhs)
    cnt = j.agg(
        F.sum(F.when(extreme, 1).otherwise(0)).alias("__c"),
        F.count(F.lit(1)).alias("__B"),
    )
    s1d = F.col("__os1").cast("double")
    s0d = F.col("__os0").cast("double")
    n1d = F.col("__on1").cast("double")
    n0d = F.col("__on0").cast("double")
    ok = (F.col("__on1") > 0) & (F.col("__on0") > 0)
    return obs.crossJoin(F.broadcast(cnt)).select(
        F.col("__on1").cast("long").alias("n_treat"),
        F.col("__on0").cast("long").alias("n_ctrl"),
        F.when(
            ok,
            F.floor(
                F.try_divide(s1d, n1d) - F.try_divide(s0d, n0d)
                + F.lit(0.5)
            ),
        ).cast("long").alias("diff_q6"),
        F.col("__B").cast("long").alias("n_perms"),
        F.when(ok, F.col("__c")).cast("long").alias("n_extreme"),
        F.when(
            ok,
            F.expr(
                "((1 + __c) * 1000000) DIV (CAST(__B AS BIGINT) + 1)"
            ),
        ).cast("long").alias("p_ppm"),
    )


def breslow_day_test(
    df: DataFrame,
    *,
    stratum_column: str | Column,
    cohort_column: Column | str,
    success_column: Column | str,
) -> DataFrame:
    """Breslow-Day homogeneity test with Tarone's correction (Breslow &
    Day 1980, IARC vol. 1; Tarone, Biometrika 1985 — public
    constructions): the VALIDITY CHECK for :func:`mantel_haenszel_or`
    — MH pools per-stratum odds ratios ASSUMING they share one true
    OR; Breslow-Day tests that assumption (``Σ(aᵢ−ãᵢ)²/Vᵢ`` where
    ``ãᵢ`` is stratum i's expected count under the pooled OR, the
    in-range root of the fixed-margin quadratic), and Tarone's term
    subtracts the score-test bias ``(Σ(aᵢ−ãᵢ))²/ΣVᵢ``. A significant
    result says report per-stratum ORs, not the pooled one.

    Determinism: the census is exact integers; the pooled OR is the
    SAME q9-term/q6-quantized MH estimate as ``mantel_haenszel_or``
    (so both entries agree bit-for-bit on R, and the quadratic sees a
    quantized literal-like R on both engines); the root/variance are
    fixed-order doubles (sqrt is IEEE-exact) with each stratum's
    chi-square term quantized q6 and the deviation/variance terms q9
    before order-free integer sums. Strata with an empty margin are
    uninformative and contribute nothing (the MH degenerate rule).

    Plan: one conditional aggregate to the stratum census; a 1-row OR
    broadcast back onto it; one reduce. No windows.

    Output one row ALWAYS — an empty or fully-null-filtered input
    yields the NULL-statistics refusal row (n_strata = 0), matching
    :func:`brier_decomposition`'s contract (ADVICE r9): the final
    reduce is a global aggregate anchored on the 1-row pooled-OR
    frame, never a keyed groupBy that could vanish.

    (n_strata, n_informative, or_mh_q6, bd_chi2_q6, tarone_chi2_q6).
    """
    st = (
        F.col(stratum_column)
        if isinstance(stratum_column, str)
        else stratum_column
    )
    co = (
        F.col(cohort_column)
        if isinstance(cohort_column, str)
        else cohort_column
    ).cast("boolean")
    yy = (
        F.col(success_column)
        if isinstance(success_column, str)
        else success_column
    ).cast("boolean")
    t = df.select(
        st.alias("__st"), co.alias("__c"), yy.alias("__y")
    ).filter(
        F.col("__st").isNotNull()
        & F.col("__c").isNotNull()
        & F.col("__y").isNotNull()
    )
    g = t.groupBy("__st").agg(
        F.sum(F.when(F.col("__c") & F.col("__y"), 1).otherwise(0)).alias(
            "__a"
        ),
        F.sum(F.when(F.col("__c") & ~F.col("__y"), 1).otherwise(0)).alias(
            "__b"
        ),
        F.sum(
            F.when(~F.col("__c") & F.col("__y"), 1).otherwise(0)
        ).alias("__cc"),
        F.sum(
            F.when(~F.col("__c") & ~F.col("__y"), 1).otherwise(0)
        ).alias("__d"),
    ).persist()
    a = F.col("__a").cast("double")
    b = F.col("__b").cast("double")
    c = F.col("__cc").cast("double")
    d = F.col("__d").cast("double")
    n = a + b + c + d
    q9 = lambda x: F.floor(x * F.lit(1e9) + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    d38 = lambda cc: cc.cast("decimal(38,0)")  # noqa: E731
    dv = F.try_divide
    orq = g.agg(
        F.coalesce(F.sum(d38(q9(dv(a * d, n)))), F.lit(0)).alias("__sn"),
        F.coalesce(F.sum(d38(q9(dv(b * c, n)))), F.lit(0)).alias("__sd"),
    ).select(
        F.when(
            F.col("__sd") > 0,
            F.floor(
                dv(F.col("__sn").cast("double"),
                   F.col("__sd").cast("double"))
                * F.lit(1e6)
                + F.lit(0.5)
            ),
        )
        .cast("long")
        .alias("__orq6")
    )
    j = g.crossJoin(F.broadcast(orq))
    r1 = a + b
    c1 = a + c
    rr = F.col("__orq6").cast("double") / F.lit(1e6)
    aa = F.lit(1.0) - rr
    bb = (n - r1 - c1) + rr * (r1 + c1)
    ccq = -(rr * r1 * c1)
    disc = bb * bb - F.lit(4.0) * aa * ccq
    sq = F.sqrt(disc)
    root1 = (-bb + sq) / (F.lit(2.0) * aa)
    root2 = (-bb - sq) / (F.lit(2.0) * aa)
    lin = r1 * c1 / n
    lo = F.greatest(F.lit(0.0), r1 + c1 - n)
    hi = F.least(r1, c1)
    atil = F.when(aa == F.lit(0.0), lin).otherwise(
        F.when((root1 >= lo) & (root1 <= hi), root1).otherwise(root2)
    )
    vv = F.lit(1.0) / (
        F.lit(1.0) / atil
        + F.lit(1.0) / (r1 - atil)
        + F.lit(1.0) / (c1 - atil)
        + F.lit(1.0) / ((n - r1 - c1) + atil)
    )
    informative = (
        (r1 > 0) & (n - r1 > 0) & (c1 > 0) & (n - c1 > 0)
        & F.col("__orq6").isNotNull()
        & (disc >= 0)
    )
    terms = j.select(
        informative.alias("__ok"),
        F.when(
            informative,
            F.floor((a - atil) * (a - atil) / vv * F.lit(1e6) + F.lit(0.5)),
        ).alias("__t_q6"),
        F.when(informative, q9(a - atil)).alias("__dev_q9"),
        F.when(informative, q9(vv)).alias("__v_q9"),
    )
    # global (not keyed) reduce anchored on the always-1-row OR
    # aggregate (ADVICE r9: a groupBy over an empty terms frame
    # returned ZERO rows where the contract — like
    # brier_decomposition's — promises one NULL-refusal row)
    red = orq.crossJoin(
        F.broadcast(
            terms.groupBy().agg(
                F.count(F.lit(1)).alias("__k"),
                F.coalesce(
                    F.sum(F.when(F.col("__ok"), 1).otherwise(0)),
                    F.lit(0),
                ).alias("__ki"),
                F.coalesce(F.sum(d38(F.col("__t_q6"))), F.lit(0)).alias(
                    "__sbd"
                ),
                F.coalesce(F.sum(d38(F.col("__dev_q9"))), F.lit(0)).alias(
                    "__sdev"
                ),
                F.coalesce(F.sum(d38(F.col("__v_q9"))), F.lit(0)).alias(
                    "__sv"
                ),
            )
        )
    )
    g.unpersist()
    bd = F.col("__sbd").cast("double") / F.lit(1e6)
    devs = F.col("__sdev").cast("double") / F.lit(1e9)
    svs = F.col("__sv").cast("double") / F.lit(1e9)
    tarone = bd - dv(devs * devs, svs)
    ok = (F.col("__ki") > 0) & (F.col("__sv") > 0)
    return red.select(
        F.col("__k").cast("long").alias("n_strata"),
        F.col("__ki").cast("long").alias("n_informative"),
        F.col("__orq6").alias("or_mh_q6"),
        F.when(ok, F.floor(bd * F.lit(1e6) + F.lit(0.5)))
        .cast("long")
        .alias("bd_chi2_q6"),
        F.when(ok, F.floor(tarone * F.lit(1e6) + F.lit(0.5)))
        .cast("long")
        .alias("tarone_chi2_q6"),
    )


def qini_uplift_deciles(
    df: DataFrame,
    *,
    score_column: str,
    cohort_column: Column | str,
    outcome_column: Column | str,
    buckets: int = 10,
) -> DataFrame:
    """Uplift-by-decile table with the cumulative Qini curve (Radcliffe
    2007, "Using control groups to target on predicted lift" — public
    construction): rank units by a TARGETING score, cut into
    ``buckets`` equal-population bands, and per band compare treated
    vs control response — the evaluation every uplift/targeting model
    needs, because a model that predicts RESPONSE rather than LIFT
    looks great on AUC and still wastes the budget on sure things.
    ``qini_cum_q6`` is the running ``Y_t − Y_c·(N_t/N_c)`` (incremental
    conversions per cumulative targeting depth); a useful model's
    curve rises steeply before flattening.

    Deterministic banding WITHOUT a data-sized window: the score
    collapses to a value census; the cumulative census (bounded by
    distinct scores, ordered score DESC so band 0 = best) assigns
    every distinct value the band of its first row, ``(cum_before ·
    buckets) DIV N`` — ties share a band, engine-exact. Rates and
    uplift are ppm integer divisions; the Qini term is one fixed-order
    double per band over exact cumulative integers, quantized q6.

    Plan: one unit-census groupBy(score), one bounded cumulative
    window, one broadcast join back, one groupBy(band), one
    band-bounded cumulative. No data-sized state.

    Output per band: (band, n_treat, n_ctrl, conv_treat, conv_ctrl,
    rate_treat_ppm, rate_ctrl_ppm, uplift_ppm, qini_cum_q6).
    """
    from pyspark.sql import Window

    co = (
        F.col(cohort_column)
        if isinstance(cohort_column, str)
        else cohort_column
    ).cast("boolean")
    yy = (
        F.col(outcome_column)
        if isinstance(outcome_column, str)
        else outcome_column
    ).cast("boolean")
    t = df.select(
        F.col(score_column).alias("__s"), co.alias("__t"), yy.alias("__y")
    ).filter(
        F.col("__s").isNotNull()
        & F.col("__t").isNotNull()
        & F.col("__y").isNotNull()
    )
    cells = t.groupBy("__s").agg(F.count(F.lit(1)).alias("__n"))
    w = Window.orderBy(F.col("__s").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = cells.agg(F.coalesce(F.sum("__n"), F.lit(0)).alias("__tot"))
    banded = (
        cells.select(
            "__s",
            F.coalesce(F.sum("__n").over(w), F.lit(0)).alias("__cb"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "__s",
            F.expr(f"(__cb * {int(buckets)}) DIV __tot").alias("band"),
        )
    )
    j = t.join(F.broadcast(banded), "__s")
    g = j.groupBy("band").agg(
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("n_treat"),
        F.sum(F.when(~F.col("__t"), 1).otherwise(0)).alias("n_ctrl"),
        F.sum(
            F.when(F.col("__t") & F.col("__y"), 1).otherwise(0)
        ).alias("conv_treat"),
        F.sum(
            F.when(~F.col("__t") & F.col("__y"), 1).otherwise(0)
        ).alias("conv_ctrl"),
    )
    wb = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select(
        "band",
        "n_treat",
        "n_ctrl",
        "conv_treat",
        "conv_ctrl",
        F.sum("n_treat").over(wb).alias("__cnt"),
        F.sum("n_ctrl").over(wb).alias("__cnc"),
        F.sum("conv_treat").over(wb).alias("__cyt"),
        F.sum("conv_ctrl").over(wb).alias("__cyc"),
    )
    qini = (
        F.col("__cyt").cast("double")
        - F.col("__cyc").cast("double")
        * F.try_divide(
            F.col("__cnt").cast("double"), F.col("__cnc").cast("double")
        )
    )
    return cum.select(
        F.col("band").cast("long").alias("band"),
        F.col("n_treat").cast("long").alias("n_treat"),
        F.col("n_ctrl").cast("long").alias("n_ctrl"),
        F.col("conv_treat").cast("long").alias("conv_treat"),
        F.col("conv_ctrl").cast("long").alias("conv_ctrl"),
        F.when(
            F.col("n_treat") > 0,
            F.expr("(conv_treat * 1000000) DIV n_treat"),
        ).cast("long").alias("rate_treat_ppm"),
        F.when(
            F.col("n_ctrl") > 0,
            F.expr("(conv_ctrl * 1000000) DIV n_ctrl"),
        ).cast("long").alias("rate_ctrl_ppm"),
        F.when(
            (F.col("n_treat") > 0) & (F.col("n_ctrl") > 0),
            F.expr(
                "(conv_treat * 1000000) DIV n_treat"
                " - (conv_ctrl * 1000000) DIV n_ctrl"
            ),
        ).cast("long").alias("uplift_ppm"),
        F.when(
            F.col("__cnc") > 0,
            F.floor(qini * F.lit(1e6) + F.lit(0.5)),
        ).cast("long").alias("qini_cum_q6"),
    )


def spiegelhalter_z(
    df: DataFrame,
    *,
    score_ppm_column: str,
    label_column,
) -> DataFrame:
    """Spiegelhalter's calibration Z test (Spiegelhalter, Stat. Med.
    1986; public construction): the HYPOTHESIS-TEST rung of the
    calibration ladder — ECE/Brier DESCRIBE miscalibration, this tests
    it: ``Z = Σ(yᵢ−pᵢ)(1−2pᵢ) / √(Σ(1−2pᵢ)²pᵢ(1−pᵢ))``, the exactly
    standardized part of the Brier score that is insensitive to
    discrimination — a significant Z means the forecast LEVELS are
    off regardless of how well they rank.

    Fully exact accumulation: forecasts arrive as ppm integers and
    collapse to a value census; BOTH the numerator (scale 1e12) and
    the variance (scale 1e24) are exact DECIMAL(38,0) census sums —
    no per-term quantization at all (the variance envelope holds to
    ~1e4 billion rows); the final ratio is one fixed-order double
    quantized q6. Refuses (NULL z) when the variance is 0 (all
    forecasts at 0/1 or empty input).

    Plan: one groupBy(score) census + one 1-row reduce. No windows.

    Output one row: (n, n_pos, z_q6).
    """
    y = (
        F.col(label_column)
        if isinstance(label_column, str)
        else label_column
    ).cast("boolean")
    t = df.select(
        F.col(score_ppm_column).cast("long").alias("__p"), y.alias("__y")
    ).filter(F.col("__p").isNotNull() & F.col("__y").isNotNull())
    cells = t.groupBy("__p").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("__k"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    one_minus_2p = F.lit(1_000_000) - F.lit(2) * F.col("__p")
    num_t = (
        d38(F.col("__k")) * F.lit(1_000_000)
        - d38(F.col("__n")) * F.col("__p")
    ) * one_minus_2p
    den_t = (
        d38(F.col("__n"))
        * (d38(one_minus_2p) * one_minus_2p)
        * F.col("__p")
        * (F.lit(1_000_000) - F.col("__p"))
    )
    s = cells.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).alias("__N"),
        F.coalesce(F.sum("__k"), F.lit(0)).alias("__K"),
        F.coalesce(F.sum(num_t), F.lit(0)).alias("__num"),
        F.coalesce(F.sum(den_t), F.lit(0)).alias("__den"),
    )
    z = F.try_divide(
        F.col("__num").cast("double") / F.lit(1e12),
        F.sqrt(F.col("__den").cast("double") / F.lit(1e24)),
    )
    return s.select(
        F.col("__N").cast("long").alias("n"),
        F.col("__K").cast("long").alias("n_pos"),
        F.when(
            F.col("__den") > 0,
            F.floor(z * F.lit(1e6) + F.lit(0.5)),
        ).cast("long").alias("z_q6"),
    )


def poststrat_ate(
    df: DataFrame,
    *,
    stratum_column: str | Column,
    cohort_column: Column | str,
    metric_column: str,
    z: float = _Z_ALPHA_975,
) -> DataFrame:
    """Post-stratified average treatment effect (the blocking
    estimator — Neyman 1923 via Imbens & Rubin 2015, ch. 9; public
    construction): ``ATE = Σ_s (n_s/N)(ȳ_t,s − ȳ_c,s)`` with
    ``SE² = Σ_s (n_s/N)²(s²_t,s/n_t,s + s²_c,s/n_c,s)`` — the variance
    reduction CUPED gets from a pre-period covariate, obtained instead
    from a DISCRETE pre-treatment stratum (signup month, region,
    device): within-stratum comparisons cancel the stratum's level
    shift. Complement to DiD (no parallel-trends assumption needed —
    but strata must be pre-treatment).

    Exact-integer construction (the DiD recipe): metric quantizes once
    to q6; ONE conditional aggregate per stratum gives both arms'
    exact DECIMAL(38,0) (n, Σy, Σy²); each stratum's ATE and variance
    term is a fixed-order double quantized half-up (log-rank style),
    summed exactly; strata missing an arm are UNINFORMATIVE and drop
    from both sums AND the weight total (complete-case reweighting —
    stated, the standard practice). Population variances (the cuped
    convention).

    Plan: one stratum census + one reduce; zero windows, zero joins.

    Output one row: (n_strata, n_informative, n_units, ate_q6, se_q6,
    ci_lo_q6, ci_hi_q6).
    """
    st = (
        F.col(stratum_column)
        if isinstance(stratum_column, str)
        else stratum_column
    )
    co = (
        F.col(cohort_column)
        if isinstance(cohort_column, str)
        else cohort_column
    ).cast("boolean")
    q6 = lambda c: F.floor(  # noqa: E731
        c.cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    t = df.select(
        st.alias("__st"), co.alias("__c"),
        q6(F.col(metric_column)).alias("__y"),
    ).filter(
        F.col("__st").isNotNull()
        & F.col("__c").isNotNull()
        & F.col("__y").isNotNull()
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = t.groupBy("__st").agg(
        F.sum(F.when(F.col("__c"), 1).otherwise(0)).alias("__nt"),
        F.coalesce(
            F.sum(F.when(F.col("__c"), d38(F.col("__y")))), F.lit(0)
        ).alias("__stt"),
        F.coalesce(
            F.sum(F.when(F.col("__c"), d38(F.col("__y")) * F.col("__y"))),
            F.lit(0),
        ).alias("__qt"),
        F.sum(F.when(~F.col("__c"), 1).otherwise(0)).alias("__nc"),
        F.coalesce(
            F.sum(F.when(~F.col("__c"), d38(F.col("__y")))), F.lit(0)
        ).alias("__sc"),
        F.coalesce(
            F.sum(F.when(~F.col("__c"), d38(F.col("__y")) * F.col("__y"))),
            F.lit(0),
        ).alias("__qc"),
    )
    ntd = F.col("__nt").cast("double")
    ncd = F.col("__nc").cast("double")
    ns = F.col("__nt") + F.col("__nc")
    nsd = ns.cast("double")
    mt = F.try_divide(F.col("__stt").cast("double"), ntd)
    mc = F.try_divide(F.col("__sc").cast("double"), ncd)
    vt = F.try_divide(F.col("__qt").cast("double"), ntd) - mt * mt
    vc = F.try_divide(F.col("__qc").cast("double"), ncd) - mc * mc
    informative = (F.col("__nt") > 0) & (F.col("__nc") > 0)
    terms = g.select(
        informative.alias("__ok"),
        ns.alias("__ns"),
        F.when(
            informative,
            F.floor(nsd * (mt - mc) + F.lit(0.5)),
        ).cast("decimal(38,0)").alias("__ta"),
        # variance terms carry q6-squared units — rescale by 1e6
        # before the floor so the long stays inside int64 (the ATE
        # term's q6 units fit directly); se rescales back below
        F.when(
            informative,
            F.floor(
                (nsd * nsd)
                * (F.try_divide(vt, ntd) + F.try_divide(vc, ncd))
                / F.lit(1e6)
                + F.lit(0.5)
            ),
        ).cast("decimal(38,0)").alias("__tv"),
    )
    red = terms.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum(F.when(F.col("__ok"), 1).otherwise(0)).alias("__ki"),
        F.coalesce(
            F.sum(F.when(F.col("__ok"), F.col("__ns"))), F.lit(0)
        ).alias("__W"),
        F.coalesce(F.sum("__ta"), F.lit(0)).alias("__sa"),
        F.coalesce(F.sum("__tv"), F.lit(0)).alias("__sv"),
    )
    wd = F.col("__W").cast("double")
    ate = F.try_divide(F.col("__sa").cast("double"), wd)
    se = F.sqrt(
        F.try_divide(
            F.col("__sv").cast("double") * F.lit(1e6), wd * wd
        )
    )
    ok = (F.col("__ki") > 0) & (F.col("__W") > 0)
    return red.select(
        F.col("__k").cast("long").alias("n_strata"),
        F.col("__ki").cast("long").alias("n_informative"),
        F.col("__W").cast("long").alias("n_units"),
        F.when(ok, F.floor(ate + F.lit(0.5))).cast("long").alias("ate_q6"),
        F.when(ok, F.floor(se + F.lit(0.5))).cast("long").alias("se_q6"),
        F.when(ok, F.floor(ate - F.lit(float(z)) * se + F.lit(0.5)))
        .cast("long")
        .alias("ci_lo_q6"),
        F.when(ok, F.floor(ate + F.lit(float(z)) * se + F.lit(0.5)))
        .cast("long")
        .alias("ci_hi_q6"),
    )


def holm_adjust(
    df: DataFrame,
    *,
    group_column: str,
    p_column: str = "p_q9",
    alpha_ppm: int = 50_000,
) -> DataFrame:
    """Holm step-down multiplicity adjustment (Holm, Scand. J. Stat.
    1979; public construction) — the FAMILYWISE-ERROR companion to the
    BH step-up of :func:`fdr_bh_two_proportion`: BH controls the
    expected FRACTION of false discoveries (right for broad scans);
    Holm controls the probability of ANY false discovery (right when
    one wrong winner is expensive), uniformly more powerful than plain
    Bonferroni and valid under arbitrary dependence. ``p_holm_(i) =
    max_{j≤i} min(1, (m−j+1)·p_(j))`` over ascending p ranks.

    Composes over any frame carrying a group and a q9 p-value (e.g.
    the BH scan's output — run both, compare reject sets). Exact
    integers throughout: ``(m−rk+1)·p`` products, capped at 1e9, with
    a running max over the group census (bounded window above an
    aggregate-sized frame); NULL p rows (degenerate groups) pass
    through unadjusted and do not count toward m.

    Output: the input columns plus (p_holm_q9, reject_holm).
    """
    from pyspark.sql import Window

    tested = df.filter(F.col(p_column).isNotNull()).select(
        F.col(group_column).alias("__g"), F.col(p_column).alias("__p")
    )
    m = tested.agg(F.count(F.lit(1)).alias("__m"))
    rk = tested.crossJoin(F.broadcast(m)).select(
        "__g",
        "__p",
        "__m",
        F.row_number()
        .over(Window.orderBy("__p", "__g"))
        .alias("__rk"),
    )
    raw = rk.select(
        "__g",
        "__rk",
        F.least(
            F.lit(1_000_000_000).cast("long"),
            F.col("__p") * (F.col("__m") - F.col("__rk") + 1),
        ).alias("__raw"),
    )
    w = Window.orderBy("__rk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    adj = raw.select(
        "__g", F.max("__raw").over(w).alias("__holm")
    )
    out = df.join(
        adj, F.col(group_column) == F.col("__g"), "left"
    ).drop("__g")
    return out.select(
        *df.columns,
        F.col("__holm").cast("long").alias("p_holm_q9"),
        F.when(
            F.col("__holm").isNotNull(),
            F.col("__holm") <= F.lit(int(alpha_ppm) * 1000),
        ).alias("reject_holm"),
    )
