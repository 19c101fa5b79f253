"""Ordered-funnel analysis over event streams.

Beyond-reference surface: the classic product-analytics operator — for an
ordered stage list (e.g. ``view -> click -> purchase``), find per user the
earliest time each stage was reached *strictly after* the previous stage,
and how deep the user got.

Plan shape: one conditional ``min`` aggregation per stage, each keyed on
the user — N small (stage lists are 3-6 long), so the cost is N narrow
shuffles on the user key with map-side partial aggregation, never a
per-user sort or a ``collect_list`` of the user's full history (which a
hot user would blow up at 100 TB). The stage-i aggregation joins the
stage-(i-1) result — one row per user, so AQE freely picks broadcast vs
shuffle join as the funnel narrows.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel(
    events: DataFrame,
    stages: Sequence[str],
    ts_column: str = "ts",
    user_column: str = "user_id",
    stage_column: str = "event_type",
) -> DataFrame:
    """Per-user ordered funnel: ``<stage>_ts`` for each reached stage plus
    ``funnel_depth`` (count of stages reached, in order).

    A stage counts only if it happens strictly after the previous reached
    stage ("view the product, then click, then buy"); users who never
    reached stage 1 are absent (they have depth 0 by definition).
    """
    if not stages:
        raise ValueError("stages must be non-empty")
    first, rest = stages[0], stages[1:]
    cur = (
        events.where(F.col(stage_column) == first)
        .groupBy(user_column)
        .agg(F.min(ts_column).alias(f"{first}_ts"))
    )
    prev = first
    for s in rest:
        nxt = (
            events.where(F.col(stage_column) == s)
            .join(cur.select(user_column, f"{prev}_ts"), user_column)
            .where(F.col(ts_column) > F.col(f"{prev}_ts"))
            .groupBy(user_column)
            .agg(F.min(ts_column).alias(f"{s}_ts"))
        )
        cur = cur.join(nxt, user_column, "left")
        prev = s
    depth = sum(
        (F.col(f"{s}_ts").isNotNull().cast("int") for s in stages), F.lit(0)
    )
    return cur.withColumn("funnel_depth", depth)


def funnel_summary(
    events: DataFrame,
    stages: Sequence[str],
    ts_column: str = "ts",
    user_column: str = "user_id",
    stage_column: str = "event_type",
) -> DataFrame:
    """Stage-level conversion counts: one row per stage with the number of
    users who reached it (in order) — the funnel chart's data."""
    per_user = funnel(events, stages, ts_column, user_column, stage_column)
    counts = per_user.agg(
        *[
            F.count(F.col(f"{s}_ts")).alias(f"__c_{i}")
            for i, s in enumerate(stages)
        ]
    )
    stage_rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("stage_index"),
                F.lit(s).alias("stage"),
                F.col(f"__c_{i}").alias("n_users"),
            )
            for i, s in enumerate(stages)
        ]
    )
    return counts.select(F.explode(stage_rows).alias("r")).select(
        "r.stage_index", "r.stage", "r.n_users"
    )


def multitouch_attribution(
    df: DataFrame,
    *,
    user_column: str = "user_id",
    ts_column: str = "ts",
    type_column: str = "event_type",
    id_column: str = "event_id",
    conversion_type: str = "purchase",
    lookback_hours: int | None = None,
) -> DataFrame:
    """Multi-touch conversion credit with the uniform Shapley split —
    each conversion's credit divides EQUALLY among the DISTINCT
    touchpoint types the user hit strictly before it (the closed-form
    Shapley value when players are symmetric and the characteristic
    function depends only on participation — the standard
    "linear/uniform multi-touch" model; Shapley 1953 for the game
    theory). The as-of attribution entries answer "which single touch
    was LAST"; this answers "how should one conversion's credit be
    SHARED", which last-touch systematically biases toward
    bottom-of-funnel types.

    Exact integers: each conversion contributes ``1e6 DIV k`` credit
    to each of its k touch types (the documented ±k ppm rounding of an
    integral split), summed per type as BIGINT. Conversions with NO
    prior touches are reported in the ``(untouched)`` row so credit
    mass is auditable. ``lookback_hours`` bounds the touch window (and
    the join: per-user touches × conversions is the cost surface — at
    100 TB pass a lookback so the per-user frame is time-bounded).

    Plan: one user-keyed equi-join of conversions against earlier
    touches, distinct (conversion, touch-type), a per-conversion
    census for k, and one final groupBy(type). Conversions are keyed
    by ``id_column`` (a stable natural key — determinism and the
    cross-engine oracle both need it).

    Output per touch type: (touch_type, conversions_touched,
    credit_q6).
    """
    base = df.select(
        F.col(user_column).alias("__u"),
        F.col(ts_column).alias("__ts"),
        F.col(type_column).alias("__t"),
        F.col(id_column).alias("__rid"),
    ).filter(
        F.col("__u").isNotNull()
        & F.col("__ts").isNotNull()
        & F.col("__t").isNotNull()
    )
    # Only conversions need the natural key (it becomes the credit
    # grain); a touch row with a NULL id still carries credit.
    conv = (
        base.filter(F.col("__t") == conversion_type)
        .filter(F.col("__rid").isNotNull())
        .select(
            F.col("__u"),
            F.col("__ts").alias("__cts"),
            F.col("__rid").alias("__cid"),
        )
    )
    touch = base.filter(F.col("__t") != conversion_type).select(
        "__u", "__ts", "__t"
    )
    cond = (F.col("__ts") < F.col("__cts"))
    if lookback_hours is not None:
        cond = cond & (
            F.col("__ts")
            >= F.col("__cts") - F.expr(f"INTERVAL {int(lookback_hours)} HOURS")
        )
    pairs = (
        conv.join(touch, "__u")
        .filter(cond)
        .select("__cid", "__t")
        .distinct()
    )
    k = pairs.groupBy("__cid").agg(F.count(F.lit(1)).alias("__k"))
    credited = pairs.join(k, "__cid").select(
        F.col("__t"),
        F.expr("1000000L DIV __k").alias("__credit"),
    )
    touched = credited.groupBy("__t").agg(
        F.count(F.lit(1)).alias("conversions_touched"),
        F.sum("__credit").alias("credit_q6"),
    )
    untouched = (
        conv.join(
            k.select(F.col("__cid").alias("__kcid")),
            conv["__cid"] == F.col("__kcid"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("conversions_touched"))
        .select(
            F.lit("(untouched)").alias("__t"),
            "conversions_touched",
            (F.col("conversions_touched") * F.lit(1_000_000))
            .cast("long")
            .alias("credit_q6"),
        )
        .filter(F.col("conversions_touched") > 0)
    )
    return touched.unionByName(untouched).select(
        F.col("__t").alias("touch_type"),
        F.col("conversions_touched").cast("long").alias(
            "conversions_touched"
        ),
        F.col("credit_q6").cast("long").alias("credit_q6"),
    )


def markov_transition_census(
    df: DataFrame,
    *,
    user_column: str = "user_id",
    ts_column: str = "ts",
    type_column: str = "event_type",
    conversion_type: str = "purchase",
) -> DataFrame:
    """First-order Markov journey-transition census — the input half of
    :func:`markov_attribution`, exposed separately so the census (ONE
    corpus pass) can be materialized per batch and the model math
    re-run ad hoc.

    Journey construction: per user, events order by (ts, type) — the
    type tiebreak keeps equal-timestamp orders deterministic across
    engines — and SPLIT at each conversion (the classic multi-journey
    convention: a purchase absorbs its journey; later events start a
    new one). Edges: START→first event, each event→next event, any
    event→CONV when the next-in-journey is the conversion (the
    conversion itself IS the CONV absorption), and the journey's last
    event→NULL when no conversion arrived (end of observation = lost).

    Plan: two user-partitioned windows (journey id = count of prior
    conversions; lag within journey) and one (src, dst) groupBy — the
    census is bounded by (event-type domain + 2)², never the corpus.

    Output: (src, dst, n) with src ∈ {START, types∖conversion},
    dst ∈ {types∖conversion, CONV, NULL}.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(user_column).alias("__u"),
        F.col(ts_column).alias("__ts"),
        F.col(type_column).alias("__t"),
    ).filter(
        F.col("__u").isNotNull()
        & F.col("__ts").isNotNull()
        & F.col("__t").isNotNull()
    )
    w_user = (
        Window.partitionBy("__u")
        .orderBy("__ts", "__t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    jid = F.coalesce(
        F.count(
            F.when(F.col("__t") == conversion_type, F.lit(1))
        ).over(w_user),
        F.lit(0),
    )
    j = base.withColumn("__jid", jid)
    w_j = Window.partitionBy("__u", "__jid").orderBy("__ts", "__t")
    w_j_desc = Window.partitionBy("__u", "__jid").orderBy(
        F.col("__ts").desc(), F.col("__t").desc()
    )
    seq = j.select(
        F.coalesce(F.lag("__t").over(w_j), F.lit("START")).alias("__src"),
        F.when(F.col("__t") == conversion_type, F.lit("CONV"))
        .otherwise(F.col("__t"))
        .alias("__dst"),
        F.row_number().over(w_j_desc).alias("__rnd"),
        F.col("__t").alias("__cur"),
    )
    # ONE pass over the windowed rows (r12): the former
    # ``edges ∪ terminal-filter`` union referenced the window subtree
    # twice — ReuseExchange deduped the shuffle, but both window
    # executions still ran. A journey's last non-conversion row emits
    # its lost-edge alongside its transition edge in the same Generate
    # (the _small_star inline(CASE) pattern); the union'd multiset is
    # identical, so the census is too.
    # conversion_type is bound as a literal Column, never spliced into SQL
    # text, so quotes and backslashes in it need no escaping
    edge = F.struct(F.col("__src"), F.col("__dst"))
    lost = F.struct(F.col("__cur").alias("__src"), F.lit("NULL").alias("__dst"))
    edges = seq.select(
        F.inline(
            F.when(
                (F.col("__rnd") == 1) & (F.col("__cur") != F.lit(conversion_type)),
                F.array(edge, lost),
            ).otherwise(F.array(edge))
        )
    )
    return (
        edges
        .groupBy("__src", "__dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("__src").alias("src"), F.col("__dst").alias("dst"), "n"
        )
    )


def markov_attribution(
    df: DataFrame,
    *,
    user_column: str = "user_id",
    ts_column: str = "ts",
    type_column: str = "event_type",
    conversion_type: str = "purchase",
    iterations: int = 60,
) -> DataFrame:
    """Markov-chain REMOVAL-EFFECT attribution (Anderl, Becker, von
    Wangenheim & Schumann, IJRM 2016; public construction) — the
    model-based complement to :func:`multitouch_attribution`'s uniform
    Shapley split: fit the first-order journey chain of
    :func:`markov_transition_census`, compute the absorption
    probability P(START→CONV), then for each channel re-solve with
    that channel KNOCKED OUT (its state value forced to 0 — journeys
    reaching it are lost) and credit the channel its removal effect
    ``1 − P₋c/P``, normalized into attribution shares.

    Exact cross-engine arithmetic: transition probabilities are ppm
    floor-divisions of the census; the absorption solve is FIXED-COUNT
    value iteration in q9 integers (``v′(s) = ⌊Σ_j p_ppm(s,j)·v(j) /
    1e6⌋``, v(CONV)=1e9, v(NULL)=0 — the pagerank_fixed_point recipe,
    bit-identical regardless of row order or engine), run on the
    COLLECTED census: the model is (event-type domain + 2)² rows — a
    documented model-sized collect (the centroid-list convention), so
    the per-channel solves cost nothing at any corpus scale; all
    corpus cost is the census pass.

    Output per channel: (channel, p_conv_q9, p_conv_without_q9,
    removal_effect_q6, attribution_q6) — attribution NULL when no
    channel has positive removal effect.
    """
    census = markov_transition_census(
        df,
        user_column=user_column,
        ts_column=ts_column,
        type_column=type_column,
        conversion_type=conversion_type,
    ).collect()
    counts: dict[tuple[str, str], int] = {
        (r["src"], r["dst"]): int(r["n"]) for r in census
    }
    out_total: dict[str, int] = {}
    for (s, _), n in counts.items():
        out_total[s] = out_total.get(s, 0) + n
    ppm = {
        (s, d): n * 1_000_000 // out_total[s] for (s, d), n in counts.items()
    }
    channels = sorted(
        {s for s, _ in counts if s != "START"}
        | {d for _, d in counts if d not in ("CONV", "NULL")}
    )
    states = ["START"] + channels

    def solve(excluded: str | None) -> int:
        v = {s: 0 for s in states}
        for _ in range(int(iterations)):
            nxt = {}
            for s in states:
                if s == excluded:
                    nxt[s] = 0
                    continue
                acc = 0
                for j in states:
                    p = ppm.get((s, j), 0)
                    if p:
                        acc += p * (0 if j == excluded else v[j])
                acc += ppm.get((s, "CONV"), 0) * 1_000_000_000
                nxt[s] = acc // 1_000_000
            v = nxt
        return v["START"]

    p_full = solve(None)
    rows = []
    removals = {}
    for c in channels:
        p_c = solve(c)
        removals[c] = (
            (p_full - p_c) * 1_000_000 // p_full if p_full > 0 else None
        )
        rows.append((c, p_full, p_c))
    total_removal = sum(r for r in removals.values() if r)
    out = [
        (
            c,
            pf,
            pc,
            removals[c],
            (
                removals[c] * 1_000_000 // total_removal
                if removals[c] is not None and total_removal > 0
                else None
            ),
        )
        for c, pf, pc in rows
    ]
    spark = df.sparkSession
    return spark.createDataFrame(
        out,
        "channel string, p_conv_q9 long, p_conv_without_q9 long,"
        " removal_effect_q6 long, attribution_q6 long",
    )
