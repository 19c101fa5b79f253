"""Temporal joins Spark lacks as built-ins: as-of join and range join.

Beyond-reference surface (the reference engine has neither operator); the
semantics follow the de-facto public standards — ``pandas.merge_asof`` for
the as-of join and DuckDB/kdb ``ASOF JOIN`` match rules — re-expressed as
shuffle-lean DataFrame plans.

**As-of join, the scalable way.** The naive plan — inequality join then
``row_number() == 1`` — explodes to O(|L| x |R|) per key before pruning,
which is exactly the shape that dies at 100 TB. Instead ``asof_join``
builds the classic *union-merge* plan:

1. tag left rows ``side=1`` and right rows ``side=0``, union them on the
   shared ``(by, on)`` columns (right payload packed into one struct,
   ``NULL`` on left rows);
2. one window over ``partitionBy(by) orderBy(on, side, payload)`` takes
   ``last(payload, ignorenulls=True)`` (backward) / ``first`` (forward) —
   every left row picks up the nearest right row in a single pass;
3. keep ``side=1`` rows and unpack the struct.

Cost: ONE shuffle of |L|+|R| rows on the ``by`` key, no duplication, and
whole-stage-codegen window evaluation — the same plan a hand-written
merge join would produce. Ties: at equal ``on`` the right row is eligible
("at or before/after", matching ``merge_asof(allow_exact_matches=True)``
and DuckDB ``ASOF``); among several right rows with identical ``on`` the
struct-ordered extreme wins (max for backward, min for forward) so output
is deterministic.

Skew note: a single hot ``by`` key serializes into one task. For the
degenerate no-``by`` global as-of, or a pathological key, pre-split by
coarse time bucket and as-of within buckets carrying the previous
bucket's tail — the building blocks here compose to that plan.

**Range join** (point-in-interval) uses *bin replication*: each interval
is exploded to the fixed-width bins it covers, points hash to their bin,
and the match becomes an equi-join on ``(by, bin)`` plus a residual
filter — the standard trick (cf. Databricks' range-join bin hints) that
turns an O(n x m) theta join into a shuffle join whose fan-out is
``interval_span / bin_width``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _as_list(v: str | Sequence[str] | None) -> list[str]:
    if v is None:
        return []
    return [v] if isinstance(v, str) else list(v)


def _interval_seconds(spec: str | int | float) -> int | float:
    """Parse ``"2 hours"``-style interval bodies to seconds (numbers pass
    through for numeric keys)."""
    if isinstance(spec, (int, float)):
        return spec
    units = {
        "second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800,
    }
    parts = spec.strip().split()
    if len(parts) != 2:
        raise ValueError(f"bucket interval must be '<n> <unit>': {spec!r}")
    n, unit = parts
    unit = unit.rstrip("s").lower()
    if unit not in units:
        raise ValueError(f"unknown bucket unit {unit!r} in {spec!r}")
    return float(n) * units[unit] if "." in n else int(n) * units[unit]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str | Sequence[str] | None = None,
    *,
    direction: str = "backward",
    tolerance: str | int | float | None = None,
    right_columns: Sequence[str] | None = None,
    suffix: str = "_right",
    bucket: str | int | float | None = None,
) -> DataFrame:
    """Left as-of join: for every left row, the nearest right row by ``on``.

    ``on`` and ``by`` columns must exist under the same name on both sides
    (``pandas.merge_asof`` shared-key form). ``direction``:

    - ``"backward"`` — latest right row with ``right.on <= left.on``;
    - ``"forward"`` — earliest right row with ``right.on >= left.on``;
    - ``"nearest"`` — closer of the two (ties prefer backward).

    ``tolerance`` bounds the staleness: an interval body string for
    timestamp keys (e.g. ``"7 days"``, ``"30 minutes"``) or a number for
    numeric keys; matches farther than that become NULL (left row kept).

    Output: every left row and column, plus the matched right columns
    (``right_columns`` or all non-key right columns); the matched ``on``
    value and any name colliding with a left column get ``suffix``.
    Left-join semantics — unmatched left rows survive with NULLs.

    ``bucket`` (skew escape hatch): an interval body (``"1 hour"``) or a
    number (numeric keys) — pre-split both sides into coarse ``on``
    buckets and as-of within ``(by, bucket)`` partitions, carrying each
    earlier bucket's tail row (and/or later bucket's head row, per
    ``direction``) into the buckets that need it. Identical output to the
    unbucketed plan, but a single hot ``by`` key (or the degenerate
    no-``by`` global as-of) parallelizes across its buckets instead of
    serializing into one task. Requires non-null ``on`` values on the
    right side. The per-bucket tail/head compaction shuffles one row per
    (key, bucket) — negligible next to the event stream.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward/forward/nearest: {direction}")
    if bucket is not None:
        return _asof_join_bucketed(
            left, right, on, by,
            direction=direction, tolerance=tolerance,
            right_columns=right_columns, suffix=suffix, bucket=bucket,
        )
    by_cols = _as_list(by)
    for col in [on, *by_cols]:
        if col not in left.columns or col not in right.columns:
            raise ValueError(f"key column {col!r} must exist on both sides")
    rcols = list(
        right_columns
        if right_columns is not None
        else [c for c in right.columns if c != on and c not in by_cols]
    )

    rtypes = dict(zip(right.schema.names, [f.dataType for f in right.schema.fields]))
    payload_type = T.StructType(
        [T.StructField("__on", rtypes[on])]
        + [T.StructField(c, rtypes[c]) for c in rcols]
    )
    payload = F.struct(
        F.col(on).alias("__on"), *[F.col(c).alias(c) for c in rcols]
    ).cast(payload_type)

    keys = set(by_cols) | {on}
    lhs = left.withColumn("__side", F.lit(1)).withColumn(
        "__r", F.lit(None).cast(payload_type)
    )
    rhs = right.select(
        *[
            F.col(f.name) if f.name in keys
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in left.schema.fields
        ],
        F.lit(0).alias("__side"),
        payload.alias("__r"),
    )
    unified = lhs.unionByName(rhs)

    need_b = direction in ("backward", "nearest")
    need_f = direction in ("forward", "nearest")
    out = unified
    if need_b:
        wb = (
            Window.partitionBy(*by_cols)
            .orderBy(F.col(on).asc(), F.col("__side").asc(), F.col("__r").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = out.withColumn("__mb", F.last("__r", ignorenulls=True).over(wb))
    if need_f:
        # forward match via a RUNNING frame over the reversed sort: a
        # [current, unbounded following] frame is recomputed per row by
        # WindowExec (O(n²) per partition — same trap fixed in gap_fill's
        # linear mode). Reversed order (on desc, side asc, __r desc) +
        # last(ignorenulls) selects the same row the forward-frame
        # first(ignorenulls) would: the smallest on ≥ current, right rows
        # at equal on included, min __r tie-break.
        wf = (
            Window.partitionBy(*by_cols)
            .orderBy(F.col(on).desc(), F.col("__side").asc(), F.col("__r").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = out.withColumn("__mf", F.last("__r", ignorenulls=True).over(wf))
    out = out.where(F.col("__side") == 1)

    tol: Column | None = None
    if tolerance is not None:
        tol = (
            F.expr(f"INTERVAL {tolerance}")
            if isinstance(tolerance, str)
            else F.lit(tolerance)
        )

    def _gate(m: Column, diff: Column) -> Column:
        if tol is None:
            return m
        return F.when(diff <= tol, m)

    if direction == "backward":
        matched = _gate(F.col("__mb"), F.col(on) - F.col("__mb.__on"))
    elif direction == "forward":
        matched = _gate(F.col("__mf"), F.col("__mf.__on") - F.col(on))
    else:
        mb = _gate(F.col("__mb"), F.col(on) - F.col("__mb.__on"))
        mf = _gate(F.col("__mf"), F.col("__mf.__on") - F.col(on))
        db, df_ = F.col(on) - mb["__on"], mf["__on"] - F.col(on)
        matched = (
            F.when(mb.isNull(), mf)
            .when(mf.isNull(), mb)
            .when(df_ < db, mf)
            .otherwise(mb)
        )
    out = out.withColumn("__m", matched)

    taken = set(left.columns)

    def _outname(c: str) -> str:
        name = f"{c}{suffix}" if c in taken else c
        taken.add(name)
        return name

    proj = [F.col(c) for c in left.columns]
    proj.append(F.col("__m.__on").alias(_outname(on)))
    proj.extend(F.col(f"__m.{c}").alias(_outname(c)) for c in rcols)
    return out.select(*proj)


def _asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str | Sequence[str] | None,
    *,
    direction: str,
    tolerance: str | int | float | None,
    right_columns: Sequence[str] | None,
    suffix: str,
    bucket: str | int | float,
) -> DataFrame:
    """Bucketed as-of plan (see ``asof_join`` docstring): partition by
    ``(by, floor(on / bucket))`` and inject carried tail/head rows so each
    bucket is self-contained.

    Why the output matches the unbucketed plan: a backward match for a
    left row in bucket b is either in bucket b, or it is the LATEST right
    row of the nearest earlier non-empty bucket — exactly the carried
    tail. The running ``last()`` that computes carries runs over one row
    per (key, non-empty bucket), so the serialized portion is O(buckets),
    not O(events); every per-event comparison happens inside the
    ``(by, bucket)`` partitions in parallel.
    """
    by_cols = _as_list(by)
    for col in [on, *by_cols]:
        if col not in left.columns or col not in right.columns:
            raise ValueError(f"key column {col!r} must exist on both sides")
    width = _interval_seconds(bucket)
    ltype = dict(zip(left.schema.names, [f.dataType for f in left.schema.fields]))[on]
    rtype = dict(zip(right.schema.names, [f.dataType for f in right.schema.fields]))[on]

    lb = left.withColumn("__bucket", _bin_of(F.col(on), ltype, width))
    rb = right.withColumn("__bucket", _bin_of(F.col(on), rtype, width))

    rcols_all = [c for c in right.columns if c != on and c not in by_cols]
    rtypes = dict(zip(right.schema.names, [f.dataType for f in right.schema.fields]))
    tail_type = T.StructType(
        [T.StructField("__on", rtypes[on])]
        + [T.StructField(c, rtypes[c]) for c in rcols_all]
    )
    tail_struct = F.struct(
        F.col(on).alias("__on"), *[F.col(c).alias(c) for c in rcols_all]
    ).cast(tail_type)

    need = lb.select(*by_cols, "__bucket").distinct()

    def _carry(agg_fn, descending: bool) -> DataFrame:
        """Per-bucket extreme rows + running carry into needing buckets."""
        per_bucket = rb.groupBy(*by_cols, "__bucket").agg(
            agg_fn(tail_struct).alias("__t")
        )
        u = per_bucket.select(
            *by_cols, "__bucket", "__t", F.lit(0).alias("__nd")
        ).unionByName(
            need.select(
                *by_cols, "__bucket",
                F.lit(None).cast(tail_type).alias("__t"),
                F.lit(1).alias("__nd"),
            )
        )
        order = F.col("__bucket").desc() if descending else F.col("__bucket").asc()
        # need rows sort BEFORE the same bucket's tail/head row (__nd desc):
        # a bucket's carry must come from strictly earlier (later, for
        # forward) buckets — the in-bucket rows are already in the partition
        w = (
            Window.partitionBy(*by_cols)
            .orderBy(order, F.col("__nd").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            u.withColumn("__c", F.last("__t", ignorenulls=True).over(w))
            .where((F.col("__nd") == 1) & F.col("__c").isNotNull())
            .select(
                *by_cols, "__bucket",
                F.col("__c.__on").alias(on),
                *[F.col(f"__c.{c}").alias(c) for c in rcols_all],
            )
        )

    right_aug = rb.select(*by_cols, "__bucket", on, *rcols_all)
    if direction in ("backward", "nearest"):
        # latest earlier right row: per-bucket max(struct) carried forward;
        # max(struct) breaks equal-``on`` ties exactly like the unbucketed
        # plan's ascending sort + last()
        right_aug = right_aug.unionByName(_carry(F.max, descending=False))
    if direction in ("forward", "nearest"):
        right_aug = right_aug.unionByName(_carry(F.min, descending=True))

    out = asof_join(
        lb, right_aug, on, by=[*by_cols, "__bucket"],
        direction=direction, tolerance=tolerance,
        right_columns=(
            list(right_columns) if right_columns is not None else rcols_all
        ),
        suffix=suffix,
    )
    return out.drop("__bucket")


def _bin_of(col: Column, dtype: T.DataType, bin_width: int | float) -> Column:
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        # bin_width in seconds for timestamp keys; unix_micros takes only
        # zoned timestamps, so NTZ goes through a cast (session tz = fixed
        # offset — bucketing only needs a consistent monotonic mapping)
        if isinstance(dtype, T.TimestampNTZType):
            col = col.cast("timestamp")
        return F.floor(F.unix_micros(col) / F.lit(int(bin_width * 1_000_000)))
    return F.floor(col / F.lit(bin_width))


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_column: str,
    start_column: str,
    end_column: str,
    by: str | Sequence[str] | None = None,
    *,
    bin_width: int | float | None = None,
    include_end: bool = False,
) -> DataFrame:
    """Join each point row to every interval row containing it.

    Containment is ``start <= p < end`` (``include_end=True`` closes the
    right edge). With ``bin_width`` (seconds for timestamp keys, key units
    otherwise) each interval is exploded to its covered bins and the match
    runs as an equi-join on ``(by..., bin)`` + residual filter — pick a
    width near the typical interval span so fan-out stays O(1). Without it
    the plan is an equi-join on ``by`` alone (requires ``by``; fine when
    per-key row counts are small, quadratic per key when they are not).

    Output: all point columns + all interval columns (shared ``by`` names
    appear once).
    """
    by_cols = _as_list(by)
    if bin_width is None and not by_cols:
        raise ValueError("range_join without bin_width requires a by key")
    p_dtype = dict(zip(points.schema.names, [f.dataType for f in points.schema.fields]))[
        point_column
    ]
    lo = F.col(start_column) <= F.col(point_column)
    hi = (
        F.col(point_column) <= F.col(end_column)
        if include_end
        else F.col(point_column) < F.col(end_column)
    )
    if bin_width is None:
        return points.join(intervals, by_cols, "inner").where(lo & hi)

    pts = points.withColumn("__bin", _bin_of(F.col(point_column), p_dtype, bin_width))
    ivs = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                _bin_of(F.col(start_column), p_dtype, bin_width),
                _bin_of(F.col(end_column), p_dtype, bin_width),
            )
        ),
    )
    return pts.join(ivs, by_cols + ["__bin"], "inner").where(lo & hi).drop("__bin")


def gap_fill(
    df: DataFrame,
    ts_column: str,
    step: str,
    by: str | Sequence[str] | None = None,
    value_columns: Sequence[str] | None = None,
    *,
    fill: str = "forward",
) -> DataFrame:
    """Regularize a per-key time series: emit one row per ``step`` from each
    key's first to last observation, filling the gaps.

    ``step`` is an interval body (``"1 hour"``). Missing ticks get NULL
    observations; ``fill="forward"`` carries each value column's last seen
    value forward (the hypertable ``locf``), ``fill="none"`` leaves NULLs.

    Plan: per-key min/max agg -> ``sequence()`` spine exploded per key
    (rows = key's span / step, generated where the key lives, no driver
    loop) -> left join of observations on ``(by, tick)`` -> one window per
    fill pass. Two shuffles on the key + the spine join.

    Input timestamps must already be aligned to ``step`` ticks (pre-bucket
    with ``date_trunc``); unaligned rows would never join a spine row.
    """
    if fill not in ("forward", "linear", "none"):
        raise ValueError(f"fill must be forward/linear/none: {fill}")
    by_cols = _as_list(by)
    vals = list(
        value_columns
        if value_columns is not None
        else [c for c in df.columns if c != ts_column and c not in by_cols]
    )
    interval = F.expr(f"INTERVAL {step}")
    bounds = df.groupBy(*by_cols).agg(
        F.min(ts_column).alias("__mn"), F.max(ts_column).alias("__mx")
    )
    spine = bounds.select(
        *by_cols,
        F.explode(F.sequence(F.col("__mn"), F.col("__mx"), interval)).alias(ts_column),
    )
    out = spine.join(df, by_cols + [ts_column], "left")
    if fill == "forward":
        w = (
            Window.partitionBy(*by_cols)
            .orderBy(ts_column)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        for c in vals:
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    elif fill == "linear":
        # interpolate between the surrounding observations:
        # v = prev + (next - prev) · (t - t_prev)/(t_next - t_prev).
        # Endpoints with no bracketing observation fall back to the
        # one-sided neighbor (locf/nocb). All arithmetic is double over
        # identical inputs — deterministic.
        #
        # BOTH directions use RUNNING frames ([unbounded preceding,
        # current]) — the forward look runs over a DESCENDING sort of the
        # same key window. A [current, unbounded following] frame looks
        # equivalent but Spark's WindowExec recomputes that frame per row
        # (O(n²) per partition: measured 496 s vs 13 s on the 10× probe's
        # 10M-row spine); running frames stream in O(n).
        wb = (
            Window.partitionBy(*by_cols)
            .orderBy(F.col(ts_column).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wf = (
            Window.partitionBy(*by_cols)
            .orderBy(F.col(ts_column).desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        t_us = F.unix_micros(F.col(ts_column).cast("timestamp"))
        for c in vals:
            obs_ts = F.when(F.col(c).isNotNull(), t_us)
            prev_v = F.last(c, ignorenulls=True).over(wb)
            next_v = F.last(c, ignorenulls=True).over(wf)
            prev_t = F.last(obs_ts, ignorenulls=True).over(wb)
            next_t = F.last(obs_ts, ignorenulls=True).over(wf)
            frac = (t_us - prev_t).cast("double") / (
                (next_t - prev_t).cast("double")
            )
            interp = prev_v + (next_v - prev_v) * frac
            out = out.withColumn(
                c,
                F.when(F.col(c).isNotNull(), F.col(c))
                .when(prev_v.isNull(), next_v)
                .when(next_v.isNull(), prev_v)
                .otherwise(interp),
            )
    return out.select(*by_cols, ts_column, *vals)


def concurrent_intervals(
    df: DataFrame,
    start_us_column: str,
    end_us_column: str,
    *,
    id_column: str,
    bucket_us: int = 3_600_000_000,
) -> DataFrame:
    """Concurrency curve over a set of intervals: for every boundary event
    (start = +1, end = −1), the number of intervals open immediately after
    it — max sessions online, peak connections, overlap census.

    The textbook solution is a global running sum over time order, which
    as a single ``Window.orderBy`` collapses the corpus into one task. The
    implementation reuses the two-phase distributed prefix sum
    (packing.py): intra-bucket cumulative sums parallel per coarse time
    bucket, then cross-bucket offsets from the per-bucket totals (one tiny
    frame) broadcast back. Identical output to the single-window plan —
    which is exactly what the DuckDB oracle runs — with every wide stage
    partitioned by ``bucket_us``.

    Boundary order is (time, delta, id): an interval ending at t closes
    before one starting at t opens (half-open ``[start, end)``), and the
    unique id makes the curve deterministic under ties. Times are bigint
    microseconds — timestamp-type-free on purpose, so TIMESTAMP_NTZ
    sources (parquet nanos) need no zone reasoning.

    Output: (id, t_us, delta, concurrent).
    """
    starts = df.select(
        F.col(id_column).alias("id"),
        F.col(start_us_column).cast("long").alias("t_us"),
        F.lit(1).alias("delta"),
    )
    ends = df.select(
        F.col(id_column).alias("id"),
        F.col(end_us_column).cast("long").alias("t_us"),
        F.lit(-1).alias("delta"),
    )
    ev = starts.unionByName(ends).withColumn(
        "__bucket", F.expr(f"t_us DIV {bucket_us}")
    )
    intra_w = (
        Window.partitionBy("__bucket")
        .orderBy("t_us", "delta", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = ev.withColumn("__intra", F.sum("delta").over(intra_w))
    totals = ev.groupBy("__bucket").agg(F.sum("delta").alias("__total"))
    off_w = (
        Window.orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "__offset", F.coalesce(F.sum("__total").over(off_w), F.lit(0))
    ).select("__bucket", "__offset")
    return (
        ev.join(F.broadcast(offsets), "__bucket")
        .select(
            "id",
            "t_us",
            "delta",
            (F.col("__intra") + F.col("__offset")).cast("long").alias("concurrent"),
        )
    )


def cusum_changepoint(
    df: DataFrame,
    *,
    group_column: str = "user_id",
    order_columns: Sequence[str] = ("ts", "event_id"),
    value_column: str = "value",
) -> DataFrame:
    """One-sided CUSUM drift statistic per group: the sequential-analysis
    changepoint detector ``S_i = max(0, S_{i-1} + (x_i - mean))`` over each
    group's value sequence, reporting ``max_i S_i`` — a large value means a
    sustained run above the group's own mean (behavior drift, metric shift,
    abuse burst), where a plain variance check sees nothing.

    The recursion is not window-expressible; it runs as a bounded per-group
    array fold (the funnel/sessionize pattern): collect the group's values
    in ``order_columns`` order, fold a (running, max) struct accumulator.
    Per-group sequence length must be bounded (events-per-user shaped, not
    corpus shaped) — the same contract as ``recent_events_per_user``.

    Exactness: the statistic is computed scaled by n — ``T_i = n·S_i``
    uses ``d_i = n·x_i - total`` where ``total`` is the exact DECIMAL group
    sum, so the entire fold is exact decimal arithmetic, order-fixed by the
    sort, reproducible in any engine; divide by n only at render time.

    Output: ``(group, n_events, cusum_max)`` with ``cusum_max`` =
    max_i S_i as double.
    """
    val = F.col(value_column).cast("decimal(18,6)")
    rows = df.select(
        F.col(group_column),
        F.struct(*[F.col(c) for c in order_columns], val.alias("__x")).alias("__row"),
    )
    per = rows.groupBy(group_column).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("__row.__x")).alias("__total"),
        F.array_sort(F.collect_list("__row")).alias("__seq"),
    )
    n_dec = F.col("n_events").cast("decimal(10,0)")
    zero = F.lit(0).cast("decimal(38,6)")
    devs = F.transform(
        F.col("__seq"),
        lambda r: (n_dec * r["__x"] - F.col("__total")).cast("decimal(38,6)"),
    )
    acc0 = F.struct(zero.alias("t"), zero.alias("mx"))
    folded = F.aggregate(
        devs,
        acc0,
        lambda acc, d: F.struct(
            F.greatest(zero, acc["t"] + d).alias("t"),
            F.greatest(acc["mx"], F.greatest(zero, acc["t"] + d)).alias("mx"),
        ),
    )
    return per.select(
        group_column,
        "n_events",
        # exact n-scaled statistic (decimal — render THIS for cross-engine
        # comparison; the divided double below can land on a printf
        # rounding tie)
        folded["mx"].alias("cusum_max_scaled"),
        (folded["mx"].cast("double") / F.col("n_events")).alias("cusum_max"),
    )


def ewma(
    df: DataFrame,
    *,
    key_column: str,
    ts_column: str,
    value_column: str,
    alpha: float,
    tiebreak_column: str | None = None,
    output_column: str = "ewma",
) -> DataFrame:
    """Exact per-key exponentially weighted moving average — the
    ``adjust=False`` recursion ``s_0 = v_0``, ``s_i = α·v_i + (1−α)·s_{i−1}``
    (pandas ``Series.ewm(adjust=False).mean()`` semantics), evaluated
    per key in event order.

    A recursion can't be one SQL window (each row depends on the previous
    OUTPUT, not input), and the closed form ``Σ α(1−α)^{i−j} v_j`` as a
    window is O(n²) per key — so this runs as an Arrow-batched
    ``applyInPandas`` per key: sort the group by ``(ts, tiebreak)``, one
    C-speed ``ewm`` pass, emit every row with its running smoothed value.
    Per-key sequential evaluation is inherent to the recursion; keys
    parallelize across the cluster (one shuffle on ``key_column``).

    Cross-engine determinism: with α exactly representable in binary
    (e.g. 0.125), pandas' ``adjust=False`` kernel, a plain Python float
    fold, and DuckDB's ``list_reduce((acc,x) -> α*x + (1−α)*acc)``
    produce BIT-IDENTICAL doubles (same IEEE ops, commutative add only)
    — verified by test_ewma_bit_equals_python_fold — so the operator is
    oracle-comparable without rounding tricks. Provide a
    ``tiebreak_column`` whenever ``ts`` can repeat within a key, or the
    order (and thus the floats) is not total.

    NULL values are dropped BEFORE the recursion — the smoothed series is
    defined over the key's non-null observations in event order. Without
    the filter, the three evaluation paths silently disagree (pandas
    ``ewm`` skips NaN carrying the state forward, a Python float fold
    propagates NaN, DuckDB ``list_reduce`` propagates NULL), breaking the
    bit-identical contract.

    Returns the input key/ts/tiebreak/value columns plus ``output_column``.
    """
    import pandas as pd  # noqa: F401 — imported for the UDF closure

    order = [ts_column] + ([tiebreak_column] if tiebreak_column else [])
    cols = [key_column, *order, value_column]
    src = df.select(*cols).filter(F.col(value_column).isNotNull())
    schema = T.StructType(
        list(src.schema.fields) + [T.StructField(output_column, T.DoubleType())]
    )

    def _smooth(pdf):
        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        pdf[output_column] = (
            pdf[value_column].ewm(alpha=alpha, adjust=False).mean()
        )
        return pdf

    return src.groupBy(key_column).applyInPandas(_smooth, schema=schema)


def holt_smoothing(
    df: DataFrame,
    *,
    key_column: str,
    ts_column: str,
    value_column: str,
    alpha: float,
    beta: float,
    tiebreak_column: str | None = None,
    level_column: str = "level",
    trend_column: str = "trend",
) -> DataFrame:
    """Exact per-key Holt double exponential smoothing (level + trend):

    ``l_0 = v_0, b_0 = 0``;
    ``l_i = α·v_i + (1−α)(l_{i−1} + b_{i−1})``;
    ``b_i = β(l_i − l_{i−1}) + (1−β)·b_{i−1}``.

    Same execution shape as :func:`ewma` (Arrow-batched ``applyInPandas``
    per key, one shuffle), but the coupled recursion has no pandas C
    kernel, so the group loop is plain Python floats — which is also the
    determinism contract: with binary-representable α/β the fold is
    IEEE-reproducible, and DuckDB's ``list_reduce`` over a LIST-encoded
    ``[level, trend]`` accumulator replays the identical op sequence
    bit-for-bit. (A STRUCT accumulator is deliberately NOT used: DuckDB's
    ``struct_pack`` inside a reduce lambda rebinds ``acc.<field>`` to the
    freshly computed field sequentially, silently changing the recursion
    — discovered by probing; the list encoding has no such quirk.)

    Forecast h steps ahead = ``level + h·trend``. NULL values are dropped
    before the recursion (same policy and rationale as :func:`ewma`).
    Returns the input columns plus ``level_column``/``trend_column`` per
    row.
    """
    order = [ts_column] + ([tiebreak_column] if tiebreak_column else [])
    cols = [key_column, *order, value_column]
    src = df.select(*cols).filter(F.col(value_column).isNotNull())
    schema = T.StructType(
        list(src.schema.fields)
        + [
            T.StructField(level_column, T.DoubleType()),
            T.StructField(trend_column, T.DoubleType()),
        ]
    )

    def _smooth(pdf):
        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        levels, trends = [], []
        l = b = 0.0
        for i, v in enumerate(pdf[value_column]):
            v = float(v)
            if i == 0:
                l, b = v, 0.0
            else:
                ln = alpha * v + (1 - alpha) * (l + b)
                b = beta * (ln - l) + (1 - beta) * b
                l = ln
            levels.append(l)
            trends.append(b)
        pdf[level_column] = levels
        pdf[trend_column] = trends
        return pdf

    return src.groupBy(key_column).applyInPandas(_smooth, schema=schema)


def lttb_downsample(
    df: DataFrame,
    *,
    key_column: str,
    time_column: str,
    value_column: str,
    buckets: int = 100,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets visual downsampling (Steinarsson,
    MSc thesis 2013 — the Grafana-style decimation that keeps the shape
    a human sees) in its parallel CENTROID-ANCHOR variant: interior
    points split into ``buckets`` equal time spans per key, and each
    bucket keeps the point with the largest triangle area against the
    previous and next bucket centroids. Exact LTTB anchors on the
    previously SELECTED point (a sequential chain through the buckets);
    anchoring on centroids instead makes every bucket's argmax
    independent — the standard parallel/streaming approximation. The
    first and last point of every key are always kept.

    Determinism: the bucket index is exact integer arithmetic on epoch
    micros (``(t−min)·B div (span+1)`` — span·B must fit int64, true for
    any realistic horizon); centroids come from exact DECIMAL sums
    converted to double once; the area is one fixed double expression;
    the argmax tie-breaks on (time, value). Engine-stable end-to-end.

    Plan shape: one per-key span aggregate (joined back, AQE broadcasts
    the key-cardinality side), one (key, bucket) centroid aggregate —
    bounded at keys×buckets rows, so the lag/lead anchor window over it
    is bounded too — and one (key, bucket) row_number argmax. No
    corpus-wide window, no self-join of the point stream. The span table
    (key-bounded) and the interior point stream each feed two+ consumers
    — both are materialized so the input is scanned once
    (``dedup._materialize``; the link-prediction precedent).

    Output: (key, time, value, bucket) — bucket −1/``buckets`` mark the
    always-kept first/last points.
    """
    us = F.unix_micros(F.col(time_column).cast("timestamp"))
    pts = df.select(
        F.col(key_column).alias("__k"),
        F.col(time_column).alias("__t"),
        F.col(value_column).alias("__v"),
        us.alias("__us"),
    )
    from pyspark_playground_spark.operators.dedup import _materialize

    span = _materialize(
        pts.groupBy("__k").agg(
            F.min(F.struct("__us", "__v", "__t")).alias("__first"),
            F.max(F.struct("__us", "__v", "__t")).alias("__last"),
        )
    )
    joined = pts.join(span, "__k")
    interior = joined.filter(
        (F.col("__us") > F.col("__first.__us"))
        & (F.col("__us") < F.col("__last.__us"))
    ).select(
        "__k",
        "__t",
        "__v",
        "__us",
        (
            (F.col("__us") - F.col("__first.__us")) * F.lit(buckets)
        ).cast("long").alias("__num"),
        (F.col("__last.__us") - F.col("__first.__us") + 1).alias("__den"),
    ).withColumn("__b", F.expr("__num DIV __den").cast("int")).drop(
        "__num", "__den"
    )
    interior = _materialize(interior)
    cent = interior.groupBy("__k", "__b").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__us").cast("decimal(38,0)")).alias("__st"),
        F.sum(F.col("__v").cast("decimal(18,6)")).alias("__sv"),
    )
    w = Window.partitionBy("__k").orderBy("__b")
    cx = F.col("__st").cast("double") / F.col("__n")
    cy = F.col("__sv").cast("double") / F.col("__n")
    anchors = cent.select(
        "__k",
        "__b",
        F.lag(F.struct(cx.alias("x"), cy.alias("y"))).over(w).alias("__prev"),
        F.lead(F.struct(cx.alias("x"), cy.alias("y"))).over(w).alias("__next"),
    )
    firsts = span.select(
        "__k",
        F.struct(
            F.col("__first.__us").cast("double").alias("x"),
            F.col("__first.__v").cast("double").alias("y"),
        ).alias("__fp"),
        F.struct(
            F.col("__last.__us").cast("double").alias("x"),
            F.col("__last.__v").cast("double").alias("y"),
        ).alias("__lp"),
    )
    cand = (
        interior.join(anchors, ["__k", "__b"])
        .join(firsts, "__k")
        .select(
            "__k",
            "__t",
            "__v",
            "__us",
            "__b",
            F.coalesce(F.col("__prev"), F.col("__fp")).alias("__p"),
            F.coalesce(F.col("__next"), F.col("__lp")).alias("__q"),
        )
    )
    x = F.col("__us").cast("double")
    y = F.col("__v").cast("double")
    area = F.abs(
        (F.col("__p.x") - F.col("__q.x")) * (y - F.col("__p.y"))
        - (F.col("__p.x") - x) * (F.col("__p.y") - F.col("__q.y"))
    )
    wk = Window.partitionBy("__k", "__b").orderBy(
        F.col("__area").desc(), F.col("__us").asc(), F.col("__v").asc()
    )
    picked = (
        cand.withColumn("__area", area)
        .withColumn("__rn", F.row_number().over(wk))
        .filter(F.col("__rn") == 1)
        .select("__k", "__t", "__v", "__b")
    )
    ends = span.select(
        "__k",
        F.col("__first.__t").alias("__t"),
        F.col("__first.__v").alias("__v"),
        F.lit(-1).alias("__b"),
    ).union(
        span.select(
            "__k", F.col("__last.__t"), F.col("__last.__v"),
            F.lit(buckets),
        )
    )
    return picked.unionByName(ends).select(
        F.col("__k").alias(key_column),
        F.col("__t").alias(time_column),
        F.col("__v").alias(value_column),
        F.col("__b").alias("bucket"),
    )


def lagged_correlation(
    df: DataFrame,
    *,
    index_column: str,
    x_column: str,
    y_column: str,
    max_lag: int = 3,
    value_decimals: int = 6,
) -> DataFrame:
    """Lead-lag cross-correlation: Pearson r between series ``x_t`` and
    ``y_{t+lag}`` for every lag in ``[-max_lag, max_lag]`` — the
    which-metric-moves-first diagnostic (do views lead purchases? does
    ingest volume lead error rate?). The argmax lag is the measured lead
    time.

    ``index_column`` is an integer time index (hour number, day number —
    truncate upstream); rows are one observation per index. Per lag the
    join is a key equi-join on the shifted index — the lag set is a
    tiny exploded constant, so the whole family is ONE shuffle of the
    (2·max_lag+1)-replicated frame, never a window over the full span.

    Determinism: values are rounded to ``value_decimals`` and summed in
    exact DECIMAL; every Pearson component (n, Σx, Σy, Σx², Σy², Σxy) is
    order-independent; r is one fixed double expression from those
    exact operands, NULL when either side has zero variance.

    Output: (lag, n, r) for lags with ≥ 2 matched observations.
    """
    dec = f"decimal(18,{value_decimals})"
    x = F.round(F.col(x_column).cast("double"), value_decimals).cast(dec)
    y = F.round(F.col(y_column).cast("double"), value_decimals).cast(dec)
    base = df.select(
        F.col(index_column).cast("long").alias("__t"),
        x.alias("__x"),
        y.alias("__y"),
    )
    lags = df.sparkSession.createDataFrame(
        [(g,) for g in range(-max_lag, max_lag + 1)], "lag int"
    )
    # x side replicated per lag, keyed on the shifted index so the join
    # with the y side is a plain equi-join
    xs = base.select("__t", "__x").crossJoin(F.broadcast(lags)).select(
        "lag", (F.col("__t") + F.col("lag")).alias("__ty"), "__x"
    )
    ys = base.select(F.col("__t").alias("__ty"), "__y")
    j = xs.join(ys, "__ty")
    d2 = lambda c: (c * c).cast("decimal(38,12)")  # noqa: E731
    agg = j.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__x").cast("decimal(38,6)")).alias("__sx"),
        F.sum(F.col("__y").cast("decimal(38,6)")).alias("__sy"),
        F.sum(d2(F.col("__x"))).alias("__sxx"),
        F.sum(d2(F.col("__y"))).alias("__syy"),
        F.sum((F.col("__x") * F.col("__y")).cast("decimal(38,12)")).alias(
            "__sxy"
        ),
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return agg.filter(F.col("n") >= 2).select(
        "lag",
        "n",
        F.when(
            (vx > 0) & (vy > 0),
            (n * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy)),
        ).alias("r"),
    )


def seasonal_naive_error(
    df: DataFrame,
    *,
    ts_column: str = "ts",
    group_column: str = "event_type",
    season_hours: int = 24,
) -> DataFrame:
    """Forecast-baseline error report over hourly counts: per group, the
    mean absolute error of the LAG-1 naive forecast and of the SEASONAL
    naive (lag ``season_hours``), plus their ratio — the MASE
    denominator discipline (Hyndman-Koehler, public): any real forecast
    model must beat the seasonal naive on this exact number before it
    earns a deploy; this operator is that yardstick, computed exactly.

    Pure integer arithmetic: hourly counts are integers, residuals are
    integer |differences| over a lag window on the per-group HOURLY
    census (bounded by hours x groups, never event-count-sized), the
    MAEs are ``sum*1e6 DIV n`` and the ratio ``mase_x6 =
    (mae_lag1 * 1e6) DIV mae_seasonal`` — exact, engine-free of float
    accumulation. Hours with no events count zero via dense
    gap-filling over each group's [min, max] hour span (a missing hour
    IS data for a count series). NULL when a group spans too few hours
    for the lag.

    Output per group: (group, n_hours, mae1_x6, mae_s_x6, mase_x6).
    """
    us = F.unix_micros(F.col(ts_column).cast("timestamp"))
    # integer hour index via floor division on epoch micros (the
    # user_lifetimes recipe — a double quotient can round up across the
    # hour boundary); events timestamps are non-negative epochs here
    hours = df.select(
        F.col(group_column).alias("__g"),
        F.floor(us / F.lit(3_600_000_000)).cast("long").alias("__h"),
    )
    counts = hours.groupBy("__g", "__h").agg(
        F.count(F.lit(1)).alias("__n")
    )
    span = counts.groupBy("__g").agg(
        F.min("__h").alias("__lo"), F.max("__h").alias("__hi")
    )
    dense = (
        span.select(
            "__g",
            F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("__h"),
        )
        .join(counts, ["__g", "__h"], "left")
        .select(
            "__g", "__h", F.coalesce("__n", F.lit(0)).alias("__n")
        )
    )
    w = Window.partitionBy("__g").orderBy("__h")
    lagged = dense.select(
        "__g",
        "__n",
        F.lag("__n", 1).over(w).alias("__p1"),
        F.lag("__n", season_hours).over(w).alias("__ps"),
    )
    agg = lagged.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.count("__p1").cast("long").alias("__n1"),
        F.coalesce(F.sum(F.abs(F.col("__n") - F.col("__p1"))), F.lit(0))
        .cast("long")
        .alias("__s1"),
        F.count("__ps").cast("long").alias("__ns"),
        F.coalesce(F.sum(F.abs(F.col("__n") - F.col("__ps"))), F.lit(0))
        .cast("long")
        .alias("__ss"),
    )
    return agg.select(
        F.col("__g").alias(group_column),
        "n_hours",
        F.expr(
            "CASE WHEN __n1 > 0 THEN (__s1 * 1000000L) DIV __n1 END"
        ).alias("mae1_x6"),
        F.expr(
            "CASE WHEN __ns > 0 THEN (__ss * 1000000L) DIV __ns END"
        ).alias("mae_s_x6"),
        F.expr(
            "CASE WHEN __ns > 0 AND __ss > 0 AND __n1 > 0 THEN"
            " (((__s1 * 1000000L) DIV __n1) * 1000000L)"
            " DIV ((__ss * 1000000L) DIV __ns) END"
        ).alias("mase_x6"),
    )


def theil_sen_slope(
    census: DataFrame,
    *,
    x_column: str,
    y_column: str,
) -> DataFrame:
    """Theil–Sen robust trend estimator (median of all pairwise slopes;
    Theil 1950 / Sen 1968, public construction) over a CENSUS-BOUNDED
    series — the monitors' trend line that a few outlier hours cannot
    drag (OLS breaks down at one bad point; Theil–Sen tolerates ~29%
    contamination). Feed it an aggregate frame (hourly counts, daily
    rates): the input is bounded by the TIME RANGE, so the O(points²)
    pair frame is bounded by range², never by corpus size — this is a
    documented census-only operator, the same envelope as the
    order-statistics family.

    Exactness: each pair's slope is ONE double division quantized
    ``floor(s·1e6+0.5)`` (sign-safe); the slope is the exact LOWER
    MEDIAN of those integers via a value-census cumulative (an
    unpartitioned window over an Aggregate — the guard-sanctioned
    shape); the intercept is the exact lower median of
    ``floor((y − slope·x)·1e6+0.5)`` per point. Ties on x are skipped
    (vertical pairs have no slope).

    Output one row: (n_points, n_pairs, slope_q6, intercept_q6) —
    NULLs when fewer than 2 distinct x values exist.
    """
    t = census.select(
        F.col(x_column).cast("double").alias("__x"),
        F.col(y_column).cast("double").alias("__y"),
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    t = t.persist()  # bounded by design; feeds pairs + intercept + counts
    a, b = t.alias("a"), t.alias("b")
    pairs = a.join(b, F.col("a.__x") < F.col("b.__x")).select(
        F.floor(
            (F.col("b.__y") - F.col("a.__y"))
            / (F.col("b.__x") - F.col("a.__x"))
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long").alias("__s")
    )

    def _lower_median(df: DataFrame, col: str) -> DataFrame:
        """Exact lower median of an integer column via value census +
        unpartitioned cumulative (bounded: sits above an Aggregate)."""
        cens = df.groupBy(col).agg(F.count(F.lit(1)).alias("__cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        cum = cens.withColumn(
            "__cum", F.coalesce(F.sum("__cnt").over(w), F.lit(0))
        )
        tot = cens.agg(F.sum("__cnt").alias("__n"))
        return (
            cum.crossJoin(F.broadcast(tot))
            .filter(
                (F.col("__cum") < F.floor((F.col("__n") + 1) / 2))
                & (
                    F.col("__cum") + F.col("__cnt")
                    >= F.floor((F.col("__n") + 1) / 2)
                )
            )
            .select(F.min(col).alias("__med"), F.first("__n").alias("__n"))
        )

    med_s = _lower_median(pairs, "__s")
    slope_row = med_s.select(
        F.col("__med").alias("__slope_q6"), F.col("__n").alias("__npairs")
    )
    resid = t.crossJoin(F.broadcast(slope_row)).select(
        F.floor(
            (
                F.col("__y")
                - F.col("__slope_q6").cast("double")
                / F.lit(1e6)
                * F.col("__x")
            )
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long").alias("__r"),
        "__slope_q6",
        "__npairs",
    )
    med_i = _lower_median(resid.select("__r"), "__r")
    counts = t.agg(F.count(F.lit(1)).alias("n_points"))
    out = (
        counts.crossJoin(F.broadcast(slope_row))
        .crossJoin(F.broadcast(med_i.select(F.col("__med").alias("__int"))))
        .select(
            F.col("n_points").cast("long").alias("n_points"),
            F.coalesce("__npairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.col("__slope_q6").cast("long").alias("slope_q6"),
            F.col("__int").cast("long").alias("intercept_q6"),
        )
    )
    return out


def binary_segmentation_changepoint(
    census: DataFrame,
    *,
    x_column: str,
    y_column: str,
) -> DataFrame:
    """Single-changepoint LOCATOR by binary segmentation (the first step
    of the classic Scott–Knott / binary-segmentation family, public
    construction): over a CENSUS-BOUNDED series, find the split that
    maximizes the between-segment sum-of-squares reduction
    ``gain(s) = Σ_L²/n_L + Σ_R²/n_R − Σ²/n`` — i.e. the single mean-shift
    location a level change leaves behind. :func:`cusum_changepoint`
    reports the drift STATISTIC per group; this answers "WHEN did the
    level shift, and from what mean to what mean" over an aggregate
    series (hourly volume, daily rate).

    Census discipline: the input must be a bounded aggregate frame
    (time-range-sized, never corpus-sized — the Theil–Sen contract).
    Values quantize once to ``floor(y·1e6+0.5)`` exact integers; prefix
    sums run in one cumulative over the census (the guard-sanctioned
    above-an-Aggregate window); each candidate's gain is ONE
    fixed-order double over exact integers quantized q6; the argmax
    tie-breaks to the EARLIEST split. Output means are q6 of the
    original scale. EMPTY result when fewer than 2 points exist (no
    split is possible).

    Output one row: (n_points, split_x, gain_q6, mean_left_q6,
    mean_right_q6) — the split is the LAST x of the left segment.
    """
    t = census.select(
        F.col(x_column).cast("double").alias("__x"),
        F.floor(
            F.col(y_column).cast("double") * F.lit(1e6) + F.lit(0.5)
        ).cast("long").alias("__y"),
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    # pre-aggregate by __x (r8 ADVICE): the cumulative below is ordered
    # by __x alone, so tied-x rows would have nondeterministic peer
    # order — and a split INSIDE a tied-x run is meaningless anyway
    # (split_x is "last x of the left segment"). Grouping first makes
    # every candidate a group boundary and the prefix sums exact
    # regardless of input row order; unique-x inputs are unchanged.
    g = t.groupBy("__x").agg(
        F.sum(F.col("__y").cast("decimal(38,0)")).alias("__gy"),
        F.count(F.lit(1)).alias("__gn"),
    )
    w = Window.orderBy("__x").rowsBetween(Window.unboundedPreceding, 0)
    pre = g.select(
        "__x",
        F.sum("__gy").over(w).alias("__sl"),
        F.sum("__gn").over(w).alias("__nl"),
    )
    tot = g.agg(
        F.sum("__gy").alias("__s"),
        F.sum("__gn").alias("__n"),
    )
    j = pre.crossJoin(F.broadcast(tot)).filter(
        F.col("__nl") < F.col("__n")
    )
    sl = F.col("__sl").cast("double")
    nl = F.col("__nl").cast("double")
    s = F.col("__s").cast("double")
    n = F.col("__n").cast("double")
    sr = s - sl
    nr = n - nl
    gain = sl * sl / nl + sr * sr / nr - s * s / n
    cand = j.select(
        F.struct(
            F.floor(gain / F.lit(1e12) * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("gain_q6"),
            (-F.col("__x")).alias("__negx"),
            F.floor(sl / nl + F.lit(0.5)).cast("long").alias("ml_q6"),
            F.floor(sr / nr + F.lit(0.5)).cast("long").alias("mr_q6"),
        ).alias("__c"),
        F.col("__n"),
    )
    best = cand.groupBy("__n").agg(F.max("__c").alias("__b"))
    return best.select(
        F.col("__n").cast("long").alias("n_points"),
        (-F.col("__b.__negx")).alias("split_x"),
        F.col("__b.gain_q6").alias("gain_q6"),
        F.col("__b.ml_q6").alias("mean_left_q6"),
        F.col("__b.mr_q6").alias("mean_right_q6"),
    )


def forecast_backtest_mase(
    df: DataFrame,
    *,
    ts_column: str = "ts",
    n_folds: int = 4,
    season_hours: int = 24,
) -> DataFrame:
    """Rolling-origin forecast backtest of the seasonal-naive baseline
    over the hourly count series — :func:`seasonal_naive_error` is the
    IN-SAMPLE yardstick; this is the held-out protocol (Tashman IJF'00
    folds × Hyndman-Koehler MASE): the hour range splits into
    ``n_folds + 1`` equal segments (the rolling-origin integer-DIV
    arithmetic of ``sampling.rolling_origin_folds``), and each fold i
    scores the ``season_hours``-ahead naive forecast ``ŷ(h) =
    y(h − season)`` on segment i against the same forecaster's mean
    absolute error on the strictly-earlier segments:
    ``MASE = MAE_test / MAE_train``. MASE > 1 on a future fold while
    the in-sample ratio looks fine is the classic drift tell.

    ENTIRELY exact integer arithmetic: hourly counts are integers, the
    seasonal diff ``|y(h) − y(h−season)|`` is an integer, and
    ``mase_q6 = (Σ_test·n_train·1e6) DIV (n_test·Σ_train)`` is one
    integral division — no doubles anywhere. Hours with no observation
    ``season_hours`` earlier are skipped on BOTH sides (the join is
    gap-correct, unlike a row-lag). NULL mase when either side is
    empty or the train error is 0.

    Plan: one hourly census; one self-equi-join of the census on
    ``h = h' + season`` (census-sized); segment bounds broadcast from
    a 1-row aggregate; per-segment sums + one census-bounded
    cumulative window supply every fold's train totals.

    Output per fold (1..n_folds): (fold, n_test, n_train,
    test_abs_err, train_abs_err, mase_q6).
    """
    if n_folds < 1:
        raise ValueError(f"n_folds must be >= 1, got {n_folds}")
    segs = n_folds + 1
    hourly = (
        df.filter(F.col(ts_column).isNotNull())
        .groupBy(
            (
                F.unix_micros(F.date_trunc("hour", F.col(ts_column)))
                / F.lit(3_600_000_000)
            )
            .cast("long")
            .alias("__h")
        )
        .agg(F.count(F.lit(1)).alias("__y"))
    )
    lagged = hourly.alias("c").join(
        hourly.alias("p"),
        F.col("c.__h") == F.col("p.__h") + F.lit(int(season_hours)),
    ).select(
        F.col("c.__h").alias("__h"),
        F.abs(F.col("c.__y") - F.col("p.__y")).alias("__ad"),
    )
    bounds = hourly.agg(
        F.min("__h").alias("__lo"), F.max("__h").alias("__hi")
    )
    with_seg = lagged.crossJoin(F.broadcast(bounds)).select(
        F.expr(f"((__h - __lo) * {segs}) DIV (__hi - __lo + 1)")
        .cast("int")
        .alias("__seg"),
        "__ad",
    )
    census = with_seg.groupBy("__seg").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__ad").alias("__s"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("__seg").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = census.select(
        "__seg",
        (F.sum("__n").over(w) - F.col("__n")).alias("n_train"),
        (F.sum("__s").over(w) - F.col("__s")).alias("train_abs_err"),
        F.col("__n").alias("n_test"),
        F.col("__s").alias("test_abs_err"),
    ).filter(F.col("__seg") >= 1)
    mase = F.when(
        (F.col("n_test") > 0)
        & (F.col("n_train") > 0)
        & (F.col("train_abs_err") > 0),
        F.expr(
            "(CAST(test_abs_err AS DECIMAL(38,0)) * n_train * 1000000)"
            " DIV (CAST(n_test AS DECIMAL(38,0)) * train_abs_err)"
        ),
    ).cast("long")
    return cum.select(
        F.col("__seg").cast("int").alias("fold"),
        F.col("n_test").cast("long").alias("n_test"),
        F.col("n_train").cast("long").alias("n_train"),
        F.col("test_abs_err").cast("long").alias("test_abs_err"),
        F.col("train_abs_err").cast("long").alias("train_abs_err"),
        mase.alias("mase_q6"),
    )
