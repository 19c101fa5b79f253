"""Business-vault operators: PIT tables, temporal zip joins, linked reads.

Parity target: ``pysparkvault/raw/BusinessVault.py:24-341``.

Spark-first deviations (same output, better plan):

- The reference builds PIT end-dates with a theta self-join ``l.hkey = r.hkey
  AND l.load_date < r.load_date`` followed by ``min(r.load_date)``
  (BusinessVault.py:48-63) — O(n·v) per key and two shuffles. We use
  ``F.lead(load_date) over (partition by hkey order by load_date)``: one
  shuffle, linear, and the same next-version date.
- Interval-overlap joins keep their predicates inside the join condition so
  outer variants preserve unmatched rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyspark_playground_spark.conventions import END_OF_TIME, DataVaultConventions

CONV = DataVaultConventions()


def pit_rows(
    satellite: DataFrame,
    effectivity: DataFrame | None = None,
    *,
    conv: DataVaultConventions = CONV,
    end_of_time=END_OF_TIME,
) -> DataFrame:
    """Point-in-time table for a single satellite.

    Reference: ``create_point_in_time_table_for_single_satellite``
    (BusinessVault.py:35-104). Each satellite version's validity ends at the
    next version's load date, or at the first delete recorded in the
    effectivity satellite inside that window; open intervals get the
    ``datetime.max``-style sentinel (BusinessVault.py:98-101).
    """
    hkey, ld, led = conv.hkey(), conv.load_date(), conv.load_end_date()

    if effectivity is not None:
        # Reference J9 is an interval join (BusinessVault.py:69-91):
        # versions x deletes per key with the window predicate evaluated
        # per PAIR — quadratic in a hot entity's version x delete counts
        # inside one sort-merge partition (probe 122 addendum: 28.5 s vs
        # 0.9 s uniform at only 100k rows, 90% on one key). Same output,
        # linear plan: union version starts and delete timestamps into
        # ONE per-key time-sorted stream and take, per version row, the
        # MIN following version time (= the lead) and MIN following
        # delete time over the same window frame. A delete AT a
        # version's own load date must not close it (strict >), so
        # equal-timestamp deletes sort BEFORE the version row and fall
        # out of its strictly-following frame; a delete AT the next
        # version's load date does close the current version (<=, the
        # reference's inclusive bound), and it is in the frame. The
        # first following delete is the window's min delete iff it lands
        # on or before the next version — any later delete is even
        # later — which is exactly "first delete inside (ld, next_ld]".
        versions = satellite.select(
            F.col(hkey), F.col(ld).alias("__t"), F.lit(0).alias("__d")
        )
        deletes = effectivity.filter(F.col(conv.deleted())).select(
            F.col(hkey), F.col(ld).alias("__t"), F.lit(1).alias("__d")
        )
        # ONE exchange instead of two (r12, guide §2.4): the former
        # versions.distinct() paid its own Exchange(hkey, __t) and the
        # window below paid Exchange(hkey). Deduping AFTER the union,
        # behind an explicit hkey-only repartition, lets the distinct's
        # ClusteredDistribution((hkey, __t, __d)) AND the window's
        # ClusteredDistribution((hkey,)) both ride the same hkey
        # partitioning. Output unchanged: dedup moves from the versions
        # side to the whole stream — versions dedup exactly as before
        # (__d = 0 is constant), and deletes are consumed only through
        # min() over a window frame, which is duplicate-insensitive.
        # The trade: the shuffle carries raw (hkey, ts) rows instead of
        # map-side-deduped ones — satellites are versioned on
        # (hkey, load_date), so per-partition duplication is ~none, and
        # one full shuffle beats two near-identical ones at any scale.
        u = (
            versions.unionByName(deletes)
            .repartition(F.col(hkey))
            .distinct()
        )
        # DESCENDING time + growing [unboundedPreceding, -1] frame, not
        # ascending + [1, unboundedFollowing]: Spark's unbounded-
        # FOLLOWING frame re-aggregates the partition tail for EVERY
        # row (O(n^2) per key — on the probe's hot key it was slower
        # than the join it replaces), while the unbounded-PRECEDING
        # frame is an incremental running aggregate (O(n)). Reversing
        # the sort makes "strictly later in time, with equal-timestamp
        # deletes excluded for the version they timestamp-match"
        # exactly the preceding frame: at equal __t, versions (__d=0)
        # sort before deletes (__d=1) here, the mirror of the
        # ascending tie rule.
        wf = (
            Window.partitionBy(hkey)
            .orderBy(F.col("__t").desc(), F.col("__d").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        pit = (
            u.withColumn(
                "__next_ld",
                F.min(F.when(F.col("__d") == 0, F.col("__t"))).over(wf),
            )
            .withColumn(
                "__next_del",
                F.min(F.when(F.col("__d") == 1, F.col("__t"))).over(wf),
            )
            .filter(F.col("__d") == 0)
            .select(
                F.col(hkey),
                F.col("__t").alias(ld),
                "__next_ld",
                F.when(
                    F.col("__next_ld").isNull()
                    | (F.col("__next_del") <= F.col("__next_ld")),
                    F.col("__next_del"),
                ).alias("__del_ld"),
            )
        )
    else:
        w = Window.partitionBy(hkey).orderBy(ld)
        # same one-exchange shape as the effectivity branch (r12): the
        # distinct's ClusteredDistribution((hkey, ld)) is satisfied by
        # the explicit hkey partitioning (a subset of the clustering
        # keys), and the lead() window reuses it — 2 Exchanges → 1.
        pit = (
            satellite.select(hkey, ld)
            .repartition(F.col(hkey))
            .distinct()
            .withColumn("__next_ld", F.lead(ld).over(w))
            .withColumn("__del_ld", F.lit(None).cast("timestamp"))
        )

    parts = [F.col("__del_ld"), F.col("__next_ld")]
    if end_of_time is not None:
        # sentinel for open intervals (reference uses datetime.max,
        # BusinessVault.py:98-101); pass None to keep them NULL instead —
        # e.g. when results must survive an Arrow/pandas ns-timestamp
        # round-trip, which overflows beyond year 2262.
        parts.append(F.lit(end_of_time).cast("timestamp"))
    end: Column = F.coalesce(*parts)
    return pit.select(F.col(hkey), F.col(ld), end.alias(led))


def active_code_reference_rows(
    code_ref: DataFrame, *, conv: DataVaultConventions = CONV
) -> DataFrame:
    """Latest version per (group, id).

    Reference: ``create_active_code_reference_table``
    (BusinessVault.py:107-128), which does groupBy-max + re-join (J14); the
    window row_number is the single-shuffle equivalent.
    """
    id_col = [c for c in code_ref.columns if not conv.is_vault_column(c)][0]
    w = Window.partitionBy(conv.group(), id_col).orderBy(F.col(conv.load_date()).desc())
    return (
        code_ref.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def read_data_from_hub_sat_and_pit(
    hub: DataFrame,
    satellite: DataFrame,
    pit: DataFrame,
    attributes: list[str],
    *,
    include_hkey: bool = False,
    conv: DataVaultConventions = CONV,
) -> DataFrame:
    """Historized read view: PIT ⋈ SAT on (hkey, load_date) ⋈ HUB on hkey.

    Reference: ``read_data_from_hub_sat_and_pit`` (BusinessVault.py:136-172).
    Output: business keys + attributes + [$__HKEY] + validity interval.
    """
    hkey, ld, led = conv.hkey(), conv.load_date(), conv.load_end_date()
    sat = satellite.select(hkey, ld, *[a for a in attributes if a in satellite.columns])
    joined = pit.join(sat, on=[hkey, ld], how="inner")
    bkeys = [c for c in hub.columns if not conv.is_vault_column(c)]
    hub_side = hub.select(hkey, *bkeys)
    out = joined.join(hub_side, on=hkey, how="inner")
    cols = bkeys + [a for a in attributes if a in joined.columns] + [ld, led]
    if include_hkey:
        cols = [hkey] + cols
    return out.select(*cols)


def read_data_from_hub(
    spark_hub: DataFrame,
    satellite: DataFrame,
    effectivity: DataFrame | None,
    attributes: list[str],
    *,
    include_hkey: bool = False,
    conv: DataVaultConventions = CONV,
) -> DataFrame:
    """Convenience: build the PIT on the fly and read the historized view
    (reference: ``read_data_from_hub``, BusinessVault.py:174-188)."""
    pit = pit_rows(satellite, effectivity, conv=conv)
    return read_data_from_hub_sat_and_pit(
        spark_hub, satellite, pit, attributes, include_hkey=include_hkey, conv=conv
    )


def zip_historized_dataframes(
    left: DataFrame,
    right: DataFrame,
    on: Column,
    *,
    how: str = "inner",
    bucket: str | int | float | None = None,
    conv: DataVaultConventions = CONV,
) -> DataFrame:
    """Temporal zip join: equi/theta join + validity-interval intersection.

    Reference: ``zip_historized_dataframes`` (BusinessVault.py:190-249).
    Keeps row pairs whose validity intervals overlap; the output interval is
    ``[greatest(ld_l, ld_r), least(led_l, led_r)]`` (BusinessVault.py:236-241).
    Null load/end dates are treated as open ends (BusinessVault.py:233-235).

    ``left`` and ``right`` must be aliased ``l`` / ``r`` by the caller if
    ``on`` references them by alias; otherwise pass a plain column equality.

    ``bucket`` (skew escape hatch — probe 122 measured the failure mode):
    the plain plan joins on the entity key alone and evaluates the overlap
    predicate per candidate PAIR, so one hot entity costs
    |left versions| × |right versions| inside a single sort-merge-join
    partition — at 10x events with 90% of rows on one key the probe's
    zip wall goes from 0.66 s (uniform keys) to beyond its 8-minute
    budget. Pass an interval body (``"1 hour"``) or seconds: each side
    explodes its validity interval into the coarse time buckets it
    overlaps, the bucket id joins as an extra equi-key (the hot entity
    now parallelizes across its time range), and each surviving pair is
    kept exactly once — in the bucket containing its intersection start
    ``greatest(ld_l, ld_r)``, which both sides provably cover. Open
    (null) ends clamp to the global maximum load date FOR BUCKETING ONLY
    (one model-sized min/max aggregate at plan-build time; output
    intervals keep their real nulls/sentinels), so the year-9999
    sentinel never explodes into 10^8 buckets. Identical output to the
    unbucketed plan for well-formed intervals (``ld <= led`` when both
    set — what every loader here emits); per-row fan-out is
    ``span/width + 1`` rows, so pick a width at or above the typical
    version lifetime. Inner joins only (outer unmatched-row recovery
    would need an anti-join add-back; the hot path is the inner zip).
    """
    ld, led = conv.load_date(), conv.load_end_date()
    if bucket is not None:
        if how != "inner":
            raise ValueError(
                f"bucketed zip_historized_dataframes supports inner joins "
                f"only, got {how!r}"
            )
        return _zip_historized_bucketed(left, right, on, bucket=bucket, conv=conv)
    l = left.alias("l")
    r = (
        right.withColumnRenamed(ld, "__r_ld")
        .withColumnRenamed(led, "__r_led")
        .alias("r")
    )
    overlap = (
        (F.col("__r_led").isNull() | F.col(f"l.{ld}").isNull() | (F.col(f"l.{ld}") < F.col("__r_led")))
        & (F.col(f"l.{led}").isNull() | F.col("__r_ld").isNull() | (F.col("__r_ld") < F.col(f"l.{led}")))
    )
    joined = l.join(r, on & overlap, how)
    new_ld = F.greatest(F.col(f"l.{ld}"), F.col("__r_ld")).alias(ld)
    new_led = F.least(F.col(f"l.{led}"), F.col("__r_led")).alias(led)
    keep_l = [F.col(f"l.{c}") for c in left.columns if c not in (ld, led)]
    keep_r = [F.col(f"r.{c}") for c in right.columns if c not in (ld, led, "__r_ld", "__r_led")]
    return joined.select(*keep_l, *keep_r, new_ld, new_led)


def _zip_historized_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: Column,
    *,
    bucket: str | int | float,
    conv: DataVaultConventions = CONV,
) -> DataFrame:
    """Bucketed zip plan (see ``zip_historized_dataframes`` docstring).

    Exactly-once argument: a truly overlapping pair's intersection start
    ``g = greatest(ld_l, ld_r)`` (coalesced to the global min when both
    are open) satisfies ``ld_s <= g <= led_s`` for BOTH sides s (lower:
    g is a max over the starts; upper: the overlap predicate gives
    ``ld_other < led_s`` and well-formedness gives ``ld_s <= led_s``),
    so bucket ``bin(g)`` is inside both sides' exploded ranges — the
    pair meets there, and the ``bin(g) == bucket`` filter keeps that
    single instance.
    """
    from pyspark_playground_spark.operators.temporal import (
        _bin_of,
        _interval_seconds,
    )

    ld, led = conv.load_date(), conv.load_end_date()
    width = _interval_seconds(bucket)
    ld_type = {f.name: f.dataType for f in left.schema.fields}[ld]

    # global start-domain bounds: open ends clamp to hi for bucketing —
    # no partner's intersection start can exceed the largest load date
    # on either side. A 1-row frame broadcast-joined onto both sides
    # (the distributed_rank bounds discipline), NOT a driver collect:
    # the operator stays lazy (no Spark job at call time — the eager
    # class ADVICE r10 flagged on hodges) and the bounds compute inside
    # the single action that executes the zip. The epoch-zero fallback
    # only engages when no non-null start exists anywhere (every
    # interval fully open: one bucket covers all).
    from pyspark.sql import types as T

    # epoch-zero literal in the load-date's own type: INT does not cast
    # to TIMESTAMP_NTZ directly, so go through timestamp_seconds for
    # both timestamp flavors
    if isinstance(ld_type, (T.TimestampType, T.TimestampNTZType)):
        zero = F.timestamp_seconds(F.lit(0)).cast(ld_type)
    else:
        zero = F.lit(0).cast(ld_type)
    bounds = (
        left.select(F.col(ld).alias("__t"))
        .unionByName(right.select(F.col(ld).alias("__t")))
        .agg(F.min("__t").alias("__zlo"), F.max("__t").alias("__zhi"))
    )

    def _explode(df: DataFrame, bcol: str) -> DataFrame:
        lo_c = F.coalesce(F.col("__zlo"), zero)
        hi_c = F.coalesce(F.col("__zhi"), zero)
        s = _bin_of(F.coalesce(F.col(ld), lo_c), ld_type, width)
        e = _bin_of(
            F.least(F.coalesce(F.col(led), hi_c), hi_c), ld_type, width
        )
        return df.crossJoin(F.broadcast(bounds)).withColumn(
            bcol, F.explode(F.sequence(F.least(s, e), F.greatest(s, e)))
        )

    l = _explode(left, "__zbucket").alias("l")
    r = (
        _explode(right, "__r_zbucket")
        .drop("__zlo", "__zhi")
        .withColumnRenamed(ld, "__r_ld")
        .withColumnRenamed(led, "__r_led")
        .alias("r")
    )
    overlap = (
        (F.col("__r_led").isNull() | F.col(f"l.{ld}").isNull() | (F.col(f"l.{ld}") < F.col("__r_led")))
        & (F.col(f"l.{led}").isNull() | F.col("__r_ld").isNull() | (F.col("__r_ld") < F.col(f"l.{led}")))
    )
    meet = F.col("__zbucket") == F.col("__r_zbucket")
    first_shared = (
        _bin_of(
            F.coalesce(
                F.greatest(F.col(f"l.{ld}"), F.col("__r_ld")),
                F.col("__zlo"),  # left side keeps the bounds columns
                zero,
            ),
            ld_type,
            width,
        )
        == F.col("__zbucket")
    )
    joined = l.join(r, on & meet & overlap).where(first_shared)
    new_ld = F.greatest(F.col(f"l.{ld}"), F.col("__r_ld")).alias(ld)
    new_led = F.least(F.col(f"l.{led}"), F.col("__r_led")).alias(led)
    keep_l = [F.col(f"l.{c}") for c in left.columns if c not in (ld, led)]
    keep_r = [
        F.col(f"r.{c}")
        for c in right.columns
        if c not in (ld, led, "__r_ld", "__r_led")
    ]
    return joined.select(*keep_l, *keep_r, new_ld, new_led)


def join_linked_dataframes(
    from_df: DataFrame,
    link: DataFrame,
    to_df: DataFrame,
    *,
    from_hkey_column: str,
    to_hkey_column: str,
    how: str = "inner",
    bucket: str | int | float | None = None,
    conv: DataVaultConventions = CONV,
) -> DataFrame:
    """Link-mediated temporal join of two historized read views.

    Reference: ``join_linked_dataframes`` / ``join_linked_hubs``
    (BusinessVault.py:251-341): from-view ⋈ link on from-hkey, then temporal
    zip with the to-view on to-hkey. Both views must carry ``$__HKEY``
    (use ``include_hkey=True`` on the readers).

    ``bucket`` forwards to ``zip_historized_dataframes``'s skew escape
    hatch (inner joins only) — use when one linked entity owns a
    disproportionate share of the versions on either side (probe 122).
    """
    hkey = conv.hkey()
    link_sel = link.select(
        F.col(from_hkey_column).alias("__from_hkey"),
        F.col(to_hkey_column).alias("__to_hkey"),
    )
    start = from_df.join(
        link_sel, from_df[hkey] == F.col("__from_hkey"), how
    ).drop("__from_hkey")
    to_renamed = to_df.withColumnRenamed(hkey, "__to_side_hkey")
    zipped = zip_historized_dataframes(
        start,
        to_renamed,
        F.col("__to_hkey") == F.col("__to_side_hkey"),
        how=how,
        bucket=bucket,
        conv=conv,
    )
    return zipped.drop("__to_hkey", "__to_side_hkey")


def pit_rows_incremental(
    existing_pit: DataFrame,
    satellite: DataFrame,
    effectivity: DataFrame | None,
    touched_hkeys: DataFrame,
    *,
    conv: DataVaultConventions = CONV,
    end_of_time=END_OF_TIME,
) -> DataFrame:
    """Incremental PIT maintenance: refresh only the keys a batch touched.

    The reference rebuilds the whole PIT per load (BusinessVault.py:35-104 +
    overwrite) — a full-table rewrite at 100 TB. A CDC batch can only change
    the intervals of the hkeys it contains, so the new PIT is::

        (existing PIT minus touched keys) ∪ recompute(touched keys only)

    ``touched_hkeys`` is a 1-column DataFrame of hkeys (e.g. the staged
    batch's distinct hkeys). It grows with the batch, so no join hint is
    emitted: Spark's size statistics, and AQE at runtime, broadcast it when
    it is small and shuffle it for a giant backfill. The PIT is an
    unbucketed table like every vault table, so the untouched side is
    still scanned and rewritten in full; only the recompute is
    batch-sized. With Delta, the same shape becomes a partition-pruned
    MERGE. Output equals ``pit_rows`` over the full satellite — pinned by
    tests.
    """
    hkey = conv.hkey()
    touched = touched_hkeys.select(F.col(touched_hkeys.columns[0]).alias(hkey)).distinct()
    untouched = existing_pit.join(touched, hkey, "left_anti")
    sat_touched = satellite.join(touched, hkey, "left_semi")
    eff_touched = (
        effectivity.join(touched, hkey, "left_semi")
        if effectivity is not None
        else None
    )
    refreshed = pit_rows(sat_touched, eff_touched, conv=conv, end_of_time=end_of_time)
    return untouched.unionByName(refreshed)


def read_snapshot_at(
    hub: DataFrame,
    satellite: DataFrame,
    pit: DataFrame,
    attributes: list[str],
    as_of,
    *,
    include_hkey: bool = False,
    conv: DataVaultConventions = CONV,
) -> DataFrame:
    """Time-travel read: the ONE satellite version per entity valid at
    ``as_of`` — the historized-read companion to
    :func:`read_data_from_hub_sat_and_pit` (which returns ALL versions
    with their validity intervals; the reference only reads full history,
    BusinessVault.py:136-212, so "state of the vault last Tuesday" is a
    beyond-reference extension the PIT table makes one filter away).

    The PIT filter ``load_date ≤ as_of < load_end_date`` (open intervals
    — NULL or end-of-time sentinel — count as unbounded) selects at most
    one interval per entity by PIT construction; entities first loaded
    after ``as_of`` simply drop out. Pushed below the SAT/HUB joins, so
    at 100 TB the joins see one row per then-existing entity, not the
    whole history.
    """
    ld, led = conv.load_date(), conv.load_end_date()
    ts = F.lit(as_of)
    open_interval = F.col(led).isNull() | (F.col(led) >= F.lit(END_OF_TIME))
    valid = pit.filter(
        (F.col(ld) <= ts) & (open_interval | (ts < F.col(led)))
    )
    return read_data_from_hub_sat_and_pit(
        hub, satellite, valid, attributes,
        include_hkey=include_hkey, conv=conv,
    )
