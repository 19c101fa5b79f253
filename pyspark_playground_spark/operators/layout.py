"""Physical-layout helpers: Z-order (Morton) clustering keys.

Beyond-reference surface. At 100 TB the scan you avoid is worth more than
the join you optimize: sorting files by a Z-order interleave of the
filter columns makes min/max footer stats selective on EVERY interleaved
dimension at once, so a parquet reader prunes row groups for predicates
on any of them (a plain sort only prunes its leading column). This is
the same layout trick Delta's OPTIMIZE ZORDER BY applies; here it is an
engine-agnostic key expression: range-partition and sort by it before
writing to any sink.

Each column is scaled to a ``bits``-wide range with its min/max via
``floor((x - mn) * (2^bits - 1) / span)`` and the bits interleaved with
integer shifts. The one division runs on integer-valued doubles — exact
under IEEE-754 while ``(x - mn) * (2^bits - 1)`` stays below 2^53 (true
for 16-bit keys over any span below ~2^37) — so the key is reproducible
on any engine.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _scaled(col: Column, mn: Column, mx: Column, bits: int) -> Column:
    """Map col into [0, 2^bits) by linear integer scaling."""
    top = (1 << bits) - 1
    span = F.greatest(mx - mn, F.lit(1))
    return ((col - mn) * top) / span  # integral division below


def zorder_key_expr(
    columns: Sequence[Column],
    mins: Sequence[Column],
    maxs: Sequence[Column],
    *,
    bits: int = 16,
) -> Column:
    """Morton interleave of the given integral columns (bit i of column j
    lands at position ``i * n_cols + j``). ``bits`` per dimension; with
    the default 16 bits up to 4 columns fit in a bigint."""
    n = len(columns)
    if not (1 <= n * bits <= 63):
        raise ValueError(f"{n} cols x {bits} bits exceeds a bigint")
    key = F.lit(0).cast("bigint")
    for j, (c, mn, mx) in enumerate(zip(columns, mins, maxs)):
        s = F.floor(_scaled(c, mn, mx, bits)).cast("bigint")
        for i in range(bits):
            key = key + (F.shiftright(s, i).bitwiseAND(F.lit(1)) * F.lit(1 << (i * n + j)))
    return key


def with_zorder_key(
    df: DataFrame,
    columns: Sequence[str],
    *,
    bits: int = 16,
    key_column: str = "zkey",
) -> DataFrame:
    """Attach the Z-order key for ``columns`` (integral types), computing
    each column's min/max in one pass and broadcasting them."""
    bounds = df.agg(
        *[F.min(c).alias(f"__mn_{c}") for c in columns],
        *[F.max(c).alias(f"__mx_{c}") for c in columns],
    )
    out = df.crossJoin(F.broadcast(bounds))
    key = zorder_key_expr(
        [F.col(c) for c in columns],
        [F.col(f"__mn_{c}") for c in columns],
        [F.col(f"__mx_{c}") for c in columns],
        bits=bits,
    )
    drop = [f"__mn_{c}" for c in columns] + [f"__mx_{c}" for c in columns]
    return out.withColumn(key_column, key).drop(*drop)


def plan_shards(
    df: DataFrame,
    *,
    bytes_column: str,
    target_bytes: int,
    order_column: str,
    out: str = "shard",
    buckets: int = 64,
) -> DataFrame:
    """Assign every row an output-shard id so each shard holds
    ~``target_bytes`` of payload in ``order_column`` order — the writer-
    side planning step for fixed-size training shards (a plain
    ``repartition(n)`` balances ROW counts; documents are wildly
    size-skewed, so byte-balanced shards need the exact cumulative
    payload):

    ``shard(row) = cum_bytes_before(row) DIV target_bytes``

    Exact global cumulative sums run through the range-bucket prefix-sum
    pattern (``profiling._bucketed_cum_before`` — broadcast percentile
    bounds, intra-bucket running sum, ≤``buckets``-row prefix frame), so
    no single-task sort and no node buffers the corpus. ``order_column``
    must be unique and non-null (use the doc id, or a curriculum rank
    for quality-ordered shards); rows with NULL ``bytes_column`` are
    excluded (unsizeable).

    Returns the input columns plus ``out`` (int shard id). Downstream:
    ``df.repartition(out)``/partitionBy writes one ~target-sized file
    per shard.
    """
    from pyspark_playground_spark.operators.profiling import (
        _bucketed_cum_before,
    )

    src = df.filter(
        F.col(bytes_column).isNotNull() & F.col(order_column).isNotNull()
    )
    cum = _bucketed_cum_before(
        src,
        order_column=order_column,
        sum_column=bytes_column,
        out="__cum",
        buckets=buckets,
    )
    return cum.withColumn(
        out, F.expr(f"CAST(__cum DIV {int(target_bytes)} AS INT)")
    ).drop("__cum")


def shard_mixture_report(
    df: DataFrame,
    *,
    shard_column: str,
    group_column: str,
) -> DataFrame:
    """Per-shard mixture diversity: document count, distinct sources,
    and the Herfindahl-Hirschman concentration of the source mix
    (``sum(share^2)`` — 1/HHI is the effective number of sources).

    The audit that closes the loop on ``plan_shards``: byte-balanced
    shards planned in id order can still be single-source runs (sources
    often arrive id-clustered), and a training shard that is 100% one
    source defeats the mixture design at batch granularity. HHI == 1
    flags exactly those shards; interleave (``sampling
    .interleave_by_group``) or reorder by a shuffled rank before
    re-planning.

    Plan: two map-side-combined aggregations — (shard, group) counts,
    folded per shard. HHI from exact integer count arithmetic
    (``sum(n^2) / total^2``), quantized floor(x*1e6+0.5) -> BIGINT for a
    tie-proof cross-engine hash.
    """
    counts = df.groupBy(shard_column, group_column).agg(
        F.count(F.lit(1)).alias("__n")
    )
    per_shard = counts.groupBy(shard_column).agg(
        F.sum("__n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.col("__n") * F.col("__n")).alias("__ssq"),
    )
    return per_shard.select(
        shard_column,
        "n_rows",
        "n_groups",
        F.floor(
            F.col("__ssq").cast("double")
            / (F.col("n_rows").cast("double") * F.col("n_rows").cast("double"))
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long").alias("hhi_q6"),
    )
