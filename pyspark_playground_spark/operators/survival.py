"""Survival analysis: user-lifetime extraction and the Kaplan-Meier
product-limit estimator — the retention/churn view the cohort tables
can't give (cohort retention answers "how many came back in week w";
KM answers "what fraction of users SURVIVE past duration d" with
right-censoring handled correctly: users still active at the corpus
horizon are censored, not counted as churned).

Beyond-reference surface (the reference engine has no survival layer).

Cross-engine determinism: the survival curve is a cumulative PRODUCT of
per-step factors ``(r_i - d_i) / r_i`` — a float fold whose rounding
differs between engines. Instead the curve is computed as an INTEGER
fixed-point recurrence on a 1e9 scale::

    s_0 = 1_000_000_000
    s_i = s_{i-1} * (r_i - d_i)  div  r_i      (integer floor division)

Pure BIGINT arithmetic, bit-identical in any engine (DuckDB replays it
with ``list_reduce`` + ``//``); the scaled value divides out to ~9
significant digits, far below KM's statistical noise. Bound: the fold
multiplies ``s <= 1e9`` by ``at_risk`` before dividing, so it is exact
while ``at_risk < 9.2e9`` — more users than exist; at that point switch
the fold to DECIMAL(38,0).

Scale shape: one shuffle to the per-user frame; the step table is
bounded by DISTINCT DURATION VALUES (whole hours between first and last
event — value-cardinality-bounded like the KS drift frame, tens of
thousands of rows for years of data), so collecting it into one row is
model-sized by construction, never data-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: fixed-point scale of the survival recurrence
KM_SCALE = 1_000_000_000


def user_lifetimes(
    events: DataFrame,
    *,
    key_column: str = "user_id",
    ts_column: str = "ts",
    churn_horizon_hours: int = 24,
    carry_aggs: dict | None = None,
) -> DataFrame:
    """Per-key observation spans for survival analysis: duration in
    WHOLE HOURS between first and last event, and the right-censoring
    flag — a key whose last event is within ``churn_horizon_hours`` of
    the corpus horizon (global max timestamp) is CENSORED (``died = 0``,
    still alive as far as the data can tell), otherwise it churned
    (``died = 1``).

    All time arithmetic runs on integer microsecond differences
    (``unix_micros`` over a cast — the events table carries
    TIMESTAMP_NTZ, and the session-tz offsets of the two casts cancel
    in the subtraction), so duration and censoring are engine-exact
    integers. One groupBy on the key plus the broadcast one-row horizon
    frame.

    ``carry_aggs`` rides extra per-key aggregate expressions (name ->
    Column) on the SAME groupBy — e.g. a cohort flag for
    :func:`log_rank_test` — instead of paying a second shuffle over the
    event log for a second per-key aggregation.
    """
    carry = dict(carry_aggs or {})
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    horizon = events.agg(F.max(ts_column).alias("__h"))
    per_key = events.groupBy(key_column).agg(
        F.min(ts_column).alias("__first"),
        F.max(ts_column).alias("__last"),
        *[expr.alias(name) for name, expr in carry.items()],
    )
    with_us = per_key.join(F.broadcast(horizon)).select(
        key_column,
        (us("__last") - us("__first")).alias("__span_us"),
        (us("__h") - us("__last")).alias("__gap_us"),
        *carry,
    )
    # integer `div`, not a float division — a double quotient can round up
    # across the hour boundary before the floor
    return with_us.select(
        key_column,
        F.expr("__span_us div 3600000000").alias("duration_hours"),
        (F.col("__gap_us") > F.lit(churn_horizon_hours * 3_600_000_000))
        .cast("int")
        .alias("died"),
        *carry,
    )


def kaplan_meier(
    lifetimes: DataFrame,
    *,
    duration_column: str = "duration_hours",
    died_column: str = "died",
) -> DataFrame:
    """Kaplan-Meier product-limit curve over a lifetime frame: one row
    per duration WITH DEATHS, carrying ``deaths``, ``at_risk`` (keys
    whose duration >= this one — censored keys leave the risk set after
    their duration, which is the whole point of KM), and the survival
    probability just after that duration, via the integer fixed-point
    recurrence documented in the module header.

    Plan: duration-level aggregation (map-side combined), then the
    bounded step table collects into ONE row where suffix-sum
    (``at_risk``) and the prefix fold (survival) run as array
    expressions — quadratic in the step count, which is
    value-cardinality-bounded, and zero extra shuffles. Censored-only
    durations contribute to ``at_risk`` but fold as exact no-ops
    (``s * r div r = s``) and are dropped from the output.
    """
    dd = lifetimes.groupBy(F.col(duration_column).alias("dur")).agg(
        F.sum(F.col(died_column).cast("long")).alias("deaths"),
        F.count(F.lit(1)).alias("n"),
    )
    one = dd.agg(
        F.sort_array(F.collect_list(F.struct("dur", "deaths", "n"))).alias(
            "arr"
        )
    )
    enriched = one.select(
        F.expr(
            """
            transform(arr, (x, i) -> struct(
              x.dur AS dur,
              x.deaths AS deaths,
              aggregate(slice(arr, cast(i AS int) + 1, size(arr)),
                        0L, (a, y) -> a + y.n) AS at_risk))
            """
        ).alias("arr2")
    )
    rows = enriched.select(
        F.explode(
            F.expr(
                f"""
                transform(arr2, (x, i) -> struct(
                  x.dur AS duration,
                  x.deaths AS deaths,
                  x.at_risk AS at_risk,
                  aggregate(slice(arr2, 1, cast(i AS int) + 1),
                            {KM_SCALE}L,
                            (s, y) -> s * (y.at_risk - y.deaths) div y.at_risk)
                    AS surv_scaled))
                """
            )
        ).alias("s")
    ).select("s.*")
    return rows.where(F.col("deaths") > 0).select(
        "duration",
        "deaths",
        "at_risk",
        F.col("surv_scaled").cast("long").alias("survival_q9"),
    )


def nelson_aalen(
    lifetimes: DataFrame,
    *,
    duration_column: str = "duration_hours",
    died_column: str = "died",
    term_decimals: int = 9,
) -> DataFrame:
    """Nelson-Aalen cumulative hazard over a lifetime frame — the
    estimator-of-choice when the HAZARD (instantaneous churn rate), not
    the survival probability, is the quantity of interest, and the
    standard cross-check for :func:`kaplan_meier` (H(t) ≈ −ln S(t) when
    both are healthy; divergence flags heavy ties or risk-set bugs)::

        H(t) = Σ_{durations d ≤ t, deaths>0} deaths(d) / at_risk(d)

    Determinism: each hazard increment is rounded to ``term_decimals``
    and accumulated in exact DECIMAL through the same bounded
    step-table fold as KM — order- and engine-stable; the cumulative
    hazard renders as an exact decimal string.

    Same plan as :func:`kaplan_meier`: one duration-level aggregation,
    then array expressions over the value-cardinality-bounded step
    table in a single row. Output per death-carrying duration:
    (duration, deaths, at_risk, cum_hazard DECIMAL(28,9) — the
    28-digit accumulator keeps the repeated decimal `+` within precision
    38 so Spark never silently drops a digit of scale).
    """
    dd = lifetimes.groupBy(F.col(duration_column).alias("dur")).agg(
        F.sum(F.col(died_column).cast("long")).alias("deaths"),
        F.count(F.lit(1)).alias("n"),
    )
    one = dd.agg(
        F.sort_array(F.collect_list(F.struct("dur", "deaths", "n"))).alias(
            "arr"
        )
    )
    enriched = one.select(
        F.expr(
            """
            transform(arr, (x, i) -> struct(
              x.dur AS dur,
              x.deaths AS deaths,
              aggregate(slice(arr, cast(i AS int) + 1, size(arr)),
                        0L, (a, y) -> a + y.n) AS at_risk))
            """
        ).alias("arr2")
    )
    rows = enriched.select(
        F.explode(
            F.expr(
                f"""
                transform(arr2, (x, i) -> struct(
                  x.dur AS duration,
                  x.deaths AS deaths,
                  x.at_risk AS at_risk,
                  aggregate(slice(arr2, 1, cast(i AS int) + 1),
                            CAST(0 AS DECIMAL(28,{term_decimals})),
                            (a, y) -> CAST(a + CAST(round(
                               CAST(y.deaths AS DOUBLE)
                                 / CAST(y.at_risk AS DOUBLE),
                               {term_decimals}) AS DECIMAL(20,{term_decimals}))
                             AS DECIMAL(28,{term_decimals}))) AS cum_hazard))
                """
            )
        ).alias("r")
    )
    return rows.select(
        F.col("r.duration").alias("duration"),
        F.col("r.deaths").alias("deaths"),
        F.col("r.at_risk").alias("at_risk"),
        F.col("r.cum_hazard").alias("cum_hazard"),
    ).filter(F.col("deaths") > 0)


def log_rank_test(
    lifetimes: DataFrame,
    *,
    duration_column: str = "duration_hours",
    died_column: str = "died",
    group_column: str = "grp",
    buckets: int = 64,
) -> DataFrame:
    """Two-sample log-rank (Mantel-Cox) test that the survival curves of
    ``group_column`` = true vs false differ — the partner statistic to
    :func:`kaplan_meier`: KM draws the two curves, the log-rank says
    whether the gap is signal (do purchasers stay active longer?).

    Exact-integer construction mirroring the module's KM discipline: a
    duration census with per-group deaths and counts (one groupBy +
    pivot-by-flag, bounded by distinct durations), both groups' at-risk
    suffix sums via ONE fused range-bucket cumulative
    (``profiling._bucketed_cum_before`` on the negated duration — no
    single-task data-sized window). At each death time ``t``::

        u_t = d1 - dt*n1/nt          (observed minus expected, group 1)
        v_t = dt*n1*n2*(nt-dt) / (nt^2*(nt-1))   (hypergeometric var)

    Each term's numerator is exact DECIMAL(38,0) (products reach n^4 —
    exact while n <= ~1e9 at risk); ONE fixed-order double division per
    term, quantized ``floor(x*1e6+0.5)`` (floor is toward -inf on BOTH
    engines — sign-safe for the negative u terms, unlike integer DIV
    whose truncation direction differs cross-engine), summed as
    order-free BIGINTs. The chi-square statistic follows in one more
    fixed-order double; NULL when no variance (one group empty or no
    deaths).

    Output one row: (n_a, n_b, deaths_a, deaths_b, u_q6, var_q6,
    chi2_q6) where u = O_a - E_a over group true.
    """
    from pyspark_playground_spark.operators.profiling import (
        _bucketed_cum_before,
    )

    g = F.col(group_column).cast("boolean")
    lt = lifetimes.select(
        F.col(duration_column).alias("__dur"),
        F.col(died_column).cast("long").alias("__died"),
        g.alias("__g"),
    ).filter(F.col("__dur").isNotNull() & F.col("__g").isNotNull())
    census = (
        lt.groupBy("__dur")
        .agg(
            F.sum(F.when(F.col("__g"), F.col("__died")).otherwise(0)).alias(
                "__d1"
            ),
            F.sum(F.when(F.col("__g"), 0).otherwise(F.col("__died"))).alias(
                "__d2"
            ),
            F.sum(F.when(F.col("__g"), 1).otherwise(0)).alias("__c1"),
            F.sum(F.when(F.col("__g"), 0).otherwise(1)).alias("__c2"),
        )
        .withColumn("__negd", -F.col("__dur"))
        .persist()
    )
    data = _bucketed_cum_before(
        census,
        order_column="__negd",
        sum_column=["__c1", "__c2"],
        out=["__above1", "__above2"],
        buckets=buckets,
    )
    n1 = F.col("__above1") + F.col("__c1")
    n2 = F.col("__above2") + F.col("__c2")
    nt = n1 + n2
    dt = F.col("__d1") + F.col("__d2")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # u numerator: d1*nt - dt*n1 (exact); v numerator: dt*n1*n2*(nt-dt)
    u_num = (d38(F.col("__d1")) * d38(nt) - d38(dt) * d38(n1)).cast("double")
    v_num = (d38(dt) * d38(n1) * d38(n2) * d38(nt - dt)).cast("double")
    v_den = (
        nt.cast("double") * nt.cast("double") * (nt - 1).cast("double")
    )
    at_death = data.filter(dt > 0)
    terms = at_death.select(
        F.floor(u_num / nt.cast("double") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("__u_q6"),
        F.when(
            nt > 1,
            F.floor(v_num / v_den * F.lit(1e6) + F.lit(0.5)).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("__v_q6"),
        F.col("__d1"),
        F.col("__d2"),
    )
    tot = lt.groupBy().agg(
        F.sum(F.when(F.col("__g"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("__g"), 0).otherwise(1)).alias("n_b"),
    )
    # coalesce: with zero death times the terms frame is EMPTY and the
    # sums come back NULL — the right answer is all-zero (no evidence)
    s = terms.agg(
        F.coalesce(F.sum("__d1"), F.lit(0)).cast("long").alias("deaths_a"),
        F.coalesce(F.sum("__d2"), F.lit(0)).cast("long").alias("deaths_b"),
        F.coalesce(F.sum("__u_q6"), F.lit(0)).cast("long").alias("u_q6"),
        F.coalesce(F.sum("__v_q6"), F.lit(0)).cast("long").alias("var_q6"),
    )
    u_d = F.col("u_q6").cast("double") / F.lit(1e6)
    v_d = F.col("var_q6").cast("double") / F.lit(1e6)
    return (
        s.join(F.broadcast(tot))
        .select(
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "deaths_a",
            "deaths_b",
            "u_q6",
            "var_q6",
            F.when(
                F.col("var_q6") > 0,
                F.floor(u_d * u_d / v_d * F.lit(1e6) + F.lit(0.5)),
            )
            .cast("long")
            .alias("chi2_q6"),
        )
    )


def restricted_mean_survival(
    lifetimes: DataFrame,
    *,
    duration_column: str = "duration_hours",
    died_column: str = "died",
    tau: int,
) -> DataFrame:
    """Restricted mean survival time (RMST; Royston & Parmar, BMC Med
    Res Methodol 2013 made it standard — public construction): the
    area under the Kaplan-Meier curve up to horizon τ — "expected
    active hours within the first τ", the single retention number the
    whole KM curve summarizes, and the standard effect measure when
    hazards are non-proportional. Built directly on
    :func:`kaplan_meier`'s integer fixed-point curve.

    EXACT integer arithmetic end-to-end: with death times d₁<…<d_m
    and the q9 fixed-point survival S_i just after d_i,
    ``RMST·1e9 = min(d₁,τ)·1e9 + Σᵢ S_i·(min(d_{i+1},τ) −
    min(d_i,τ))`` — integer products summed in DECIMAL(38,0), one
    final integral rescale to q6 hours. A lifetime frame with NO
    deaths gives RMST = τ exactly (survival never drops). The only
    window (lead over the step table) is value-cardinality-bounded
    like every KM consumer.

    Output one row: (tau, n_steps, rmst_x9, rmst_hours_q6).
    """
    if tau <= 0:
        raise ValueError(f"tau must be positive, got {tau}")
    km = kaplan_meier(
        lifetimes,
        duration_column=duration_column,
        died_column=died_column,
    )
    w = Window.orderBy("duration")
    clamp = lambda c: F.least(c, F.lit(int(tau)))  # noqa: E731
    seg = (
        F.col("survival_q9").cast("decimal(38,0)")
        * (
            clamp(
                F.coalesce(F.lead("duration").over(w), F.lit(int(tau)))
            )
            - clamp(F.col("duration"))
        ).cast("decimal(38,0)")
    )
    segs = km.select(
        F.col("duration"),
        seg.alias("__seg"),
    ).agg(
        F.count(F.lit(1)).alias("__m"),
        F.min("duration").alias("__d1"),
        F.sum("__seg").alias("__tail"),
    )
    first = (
        clamp(F.coalesce(F.col("__d1"), F.lit(int(tau))))
        .cast("decimal(38,0)")
        * F.lit(1_000_000_000).cast("decimal(38,0)")
    )
    rmst_x9 = first + F.coalesce(
        F.col("__tail"), F.lit(0).cast("decimal(38,0)")
    )
    return segs.select(
        F.lit(int(tau)).cast("long").alias("tau"),
        F.coalesce(F.col("__m"), F.lit(0)).cast("long").alias("n_steps"),
        rmst_x9.cast("long").alias("rmst_x9"),
    ).withColumn(
        "rmst_hours_q6", F.expr("rmst_x9 DIV 1000")
    )


def cox_binary_hazard(
    lifetimes: DataFrame,
    *,
    duration_column: str = "duration_hours",
    died_column: str = "died",
    group_column: str = "grp",
    iterations: int = 8,
    buckets: int = 64,
) -> DataFrame:
    """Cox proportional-hazards fit for ONE binary covariate (Cox,
    JRSS-B 1972; Breslow tie handling — public construction): the
    ESTIMATION companion to :func:`log_rank_test`, which is exactly
    this model's score test at β=0 — the log-rank says the curves
    differ, the Cox β says BY HOW MUCH, as a hazard ratio ``e^β`` with
    a standard error, without choosing a parametric survival shape.

    With a binary covariate the partial likelihood collapses onto the
    death-time census: at each death time ``t`` with ``d`` deaths
    (``d₁`` in group 1) and risk counts ``(n₀, n₁)``::

        U(β) = Σ_t d₁ − d·e^β n₁ / (n₀ + e^β n₁)
        I(β) = Σ_t d·(e^β n₁)·n₀ / (n₀ + e^β n₁)²

    solved by FIXED-COUNT Newton iterations ``β ← β + U/I`` (β₀=0,
    default 8 — quadratic convergence makes more than ~6 a formality).

    Cross-engine determinism: the census and risk suffix sums are the
    exact integers of :func:`log_rank_test` (same fused range-bucket
    cumulative, no data-sized window); per iteration the ONE libm call
    ``e^β`` is floor-quantized 1e-12, each census term is a
    fixed-order double rounded to 9 decimals, and the sums are exact
    DECIMAL(28,9) — order-free, so the driver-coordinated Newton loop
    (the bpe_learn_merges precedent: iteration counts are bounded and
    each step is one 1-row aggregate over the persisted census) lands
    on bit-identical β on every engine.

    Refuses (NULL estimates) when the information is non-positive at
    any step — one group empty or complete separation. With no deaths
    at all there is no death-time census to fit, and the output is
    empty (the oracle's Newton recursion has no step to take).

    Output one row, or none without deaths: (n_a, n_b, deaths_a,
    deaths_b, beta_q6, hr_q6, se_q6, z_q6).
    """
    import math

    from pyspark_playground_spark.operators.profiling import (
        _bucketed_cum_before,
    )

    g = F.col(group_column).cast("boolean")
    lt = lifetimes.select(
        F.col(duration_column).alias("__dur"),
        F.col(died_column).cast("long").alias("__died"),
        g.alias("__g"),
    ).filter(F.col("__dur").isNotNull() & F.col("__g").isNotNull())
    census = (
        lt.groupBy("__dur")
        .agg(
            F.sum(F.when(F.col("__g"), F.col("__died")).otherwise(0))
            .alias("__d1"),
            F.sum(F.when(F.col("__g"), 0).otherwise(F.col("__died")))
            .alias("__d2"),
            F.sum(F.when(F.col("__g"), 1).otherwise(0)).alias("__c1"),
            F.sum(F.when(F.col("__g"), 0).otherwise(1)).alias("__c2"),
        )
        .withColumn("__negd", -F.col("__dur"))
    )
    data = _bucketed_cum_before(
        census,
        order_column="__negd",
        sum_column=["__c1", "__c2"],
        out=["__above1", "__above2"],
        buckets=buckets,
    )
    n1 = F.col("__above1") + F.col("__c1")
    n0 = F.col("__above2") + F.col("__c2")
    dt = F.col("__d1") + F.col("__d2")
    # persist the PRE-filter cum census (same bounded size as the
    # death-time slice): the Newton aggregates below filter it to death
    # times, and the group totals / death totals the output row needs
    # come from ONE extra aggregate over the same cached frame instead
    # of a from-scratch recompute of the lifetimes chain (r11: the
    # returned plan previously re-derived tot/deaths lazily — a
    # 58-Exchange physical plan re-scanning the events source twice,
    # all to attach four counts the build phase already had in cache)
    data = data.select(
        F.col("__d1").cast("double").alias("__d1d"),
        dt.cast("double").alias("__dd"),
        n1.cast("double").alias("__n1d"),
        n0.cast("double").alias("__n0d"),
        F.col("__d1").alias("__d1"),
        F.col("__d2").alias("__d2"),
        F.col("__c1").alias("__c1"),
        F.col("__c2").alias("__c2"),
    ).persist()

    # Newton scores aggregate over the FULL cached census, not a
    # death-time slice: a no-death row has __d1d = __dd = 0, so its
    # u_t = 0 − 0·r1/s0 and i_t = 0·(r1·n0d)/s0² are EXACTLY +0.0
    # (s0 > 0 always — every census row holds ≥ 1 subject), and exact
    # zeros change neither DECIMAL sum. Dropping the filter lets the
    # output row's group/death totals ride along in the FIRST Newton
    # job (r11) instead of a separate sequential aggregate job.
    counts: dict = {}

    def scores(beta: float):
        eb = math.floor(math.exp(beta) * 1e12 + 0.5) / 1e12
        r1 = F.lit(eb) * F.col("__n1d")
        s0 = F.col("__n0d") + r1
        u_t = F.col("__d1d") - F.col("__dd") * r1 / s0
        i_t = F.col("__dd") * (r1 * F.col("__n0d")) / (s0 * s0)
        aggs = [
            F.sum(F.round(u_t, 9).cast("decimal(28,9)")).alias("u"),
            F.sum(F.round(i_t, 9).cast("decimal(28,9)")).alias("i"),
        ]
        if not counts:
            aggs += [
                F.sum("__c1").cast("long").alias("n_a"),
                F.sum("__c2").cast("long").alias("n_b"),
                F.coalesce(F.sum("__d1"), F.lit(0))
                .cast("long")
                .alias("deaths_a"),
                F.coalesce(F.sum("__d2"), F.lit(0))
                .cast("long")
                .alias("deaths_b"),
            ]
        row = data.agg(*aggs).collect()[0]
        if not counts:
            counts.update(
                {
                    k: row[k]
                    for k in ("n_a", "n_b", "deaths_a", "deaths_b")
                }
            )
        return (
            float(row["u"]) if row["u"] is not None else 0.0,
            float(row["i"]) if row["i"] is not None else 0.0,
        )

    beta: float | None = 0.0
    for _ in range(int(iterations)):
        u, i = scores(beta)
        if i <= 0:
            beta = None
            break
        beta = beta + u / i
    i_fin = None
    if beta is not None:
        _, i_fin = scores(beta)
        if i_fin <= 0:
            beta = None

    # group totals + death totals were collected by the FIRST scores
    # aggregate above (each lifetime row lands in exactly one census
    # cell, so sum(__c1)/sum(__c2) ARE the group sizes) — integer sums,
    # value-identical to the former separate aggregate job. scores runs
    # at least once on every path (iterations >= 1 enters the loop;
    # iterations == 0 leaves beta = 0.0 and the final re-check runs).
    if beta is None:
        stats = [None, None, None, None]
    else:
        eb_fin = math.floor(math.exp(beta) * 1e12 + 0.5) / 1e12
        se = 1.0 / math.sqrt(i_fin)
        stats = [
            math.floor(beta * 1e6 + 0.5),
            math.floor(eb_fin * 1e6 + 0.5),
            math.floor(se * 1e6 + 0.5),
            math.floor(beta / se * 1e6 + 0.5),
        ]
    data.unpersist()
    spark = lifetimes.sparkSession
    # one literal result row, the bpe_learn_merges convention for
    # driver-coordinated fits: every value above was computed by Spark
    # aggregates in THIS call; re-deriving them lazily in the returned
    # plan would re-scan the source once per downstream action
    rows = []
    if counts["deaths_a"] + counts["deaths_b"] > 0:
        rows = [
            (
                counts["n_a"],
                counts["n_b"],
                counts["deaths_a"],
                counts["deaths_b"],
                *stats,
            )
        ]
    return spark.createDataFrame(
        rows,
        "n_a long, n_b long, deaths_a long, deaths_b long, "
        "beta_q6 long, hr_q6 long, se_q6 long, z_q6 long",
    )


def required_events_survival(
    lifetimes: DataFrame,
    *,
    died_column: str = "died",
    group_column: str = "grp",
    target_hr_ppm: int,
    z_alpha: float = 1.959963984540054,
    z_power: float = 0.8416212335729143,
) -> DataFrame:
    """Schoenfeld's required-events formula for a two-arm survival
    comparison (Schoenfeld, Biometrics 1983; public construction) —
    the survival rung of the experiment-design family beside the
    proportion and continuous power entries, and the planning
    companion to :func:`cox_binary_hazard` / :func:`log_rank_test`:
    to detect a hazard ratio of ``target_hr_ppm`` (ppm) at two-sided
    α / power, the log-rank test needs::

        d = (z_α + z_β)² / (p·(1−p)·(ln HR)²)

    EVENTS (deaths, not enrollees), where ``p`` is the observed
    allocation share of group 1 — then scale by the OBSERVED
    event rate to get required enrollment.

    One conditional aggregate supplies allocation and event rate as
    exact integer ratios; ``ln HR`` is one libm call on a literal,
    quantized 1e-12; the z quantiles are the shared hardcoded
    literals; the rest is ONE fixed-order double expression with
    ceil-conservative integer outputs. NULL when degenerate (an empty
    arm, HR=1, or no events observed for the enrollment scale-up).

    Output one row: (n_observed, n_grp, events_observed,
    events_required, n_required_total).
    """
    import math

    if target_hr_ppm <= 0 or target_hr_ppm == 1_000_000:
        raise ValueError(
            f"target_hr_ppm must be positive and != 1e6: {target_hr_ppm}"
        )
    g = F.col(group_column).cast("boolean")
    t = lifetimes.select(
        g.alias("__g"), F.col(died_column).cast("long").alias("__d")
    ).filter(F.col("__g").isNotNull() & F.col("__d").isNotNull())
    agg = t.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.when(F.col("__g"), 1).otherwise(0)).alias("__n1"),
        F.sum("__d").alias("__e"),
    )
    ln_hr = (
        math.floor(math.log(target_hr_ppm / 1e6) * 1e12 + 0.5) / 1e12
    )
    nd = F.col("__n").cast("double")
    p = F.col("__n1").cast("double") / nd
    d_req = (
        F.lit((z_alpha + z_power) * (z_alpha + z_power))
        / (p * (F.lit(1.0) - p) * F.lit(ln_hr * ln_hr))
    )
    rate = F.col("__e").cast("double") / nd
    ok = (
        (F.col("__n1") > 0)
        & (F.col("__n1") < F.col("__n"))
    )
    return agg.select(
        F.col("__n").cast("long").alias("n_observed"),
        F.col("__n1").cast("long").alias("n_grp"),
        F.col("__e").cast("long").alias("events_observed"),
        F.when(ok, F.ceil(d_req)).cast("long").alias("events_required"),
        F.when(
            ok & (F.col("__e") > 0), F.ceil(d_req / rate)
        ).cast("long").alias("n_required_total"),
    )


def cumulative_incidence(
    lifetimes: DataFrame,
    *,
    duration_column: str = "duration_hours",
    cause_column: str = "cause",
) -> DataFrame:
    """Aalen-Johansen cumulative incidence functions for TWO competing
    risks (Aalen & Johansen, Scand. J. Stat. 1978; public
    construction): with ``cause`` ∈ {0 censored, 1, 2}, the
    probability of having exited VIA CAUSE k by time t is ``CIF_k(t) =
    Σ_{tᵢ≤t} S(tᵢ⁻)·d_k(tᵢ)/n(tᵢ)`` with S the ALL-CAUSE KM curve —
    the right answer where "1 − KM_k treating other causes as
    censoring" over-counts (the classic competing-risks mistake: the
    naive curves sum past 1).

    Exact-integer discipline of :func:`kaplan_meier`: the step table
    is duration-census-bounded; ``S(t⁻)`` runs as the same 1e9
    fixed-point prefix fold (``s·(r−d) div r``), each increment is
    ``S(t⁻)·d_k div n`` in exact BIGINTs, and the CIFs are prefix
    sums of those increments — bit-identical across engines, and
    ``CIF₁ + CIF₂ + S`` reconciles to the scale up to the documented
    div-rounding (≤ steps ppb). Output keeps only event times.

    Plan: one duration-level aggregation, then the bounded step table
    folds inside ONE row (quadratic in step count, like KM).

    Output per event time: (duration, d1, d2, at_risk, s_before_q9,
    cif1_q9, cif2_q9).
    """
    dd = lifetimes.groupBy(F.col(duration_column).alias("dur")).agg(
        F.sum(
            F.when(F.col(cause_column) == 1, 1).otherwise(0)
        ).cast("long").alias("d1"),
        F.sum(
            F.when(F.col(cause_column) == 2, 1).otherwise(0)
        ).cast("long").alias("d2"),
        F.count(F.lit(1)).alias("n"),
    )
    one = dd.agg(
        F.sort_array(
            F.collect_list(F.struct("dur", "d1", "d2", "n"))
        ).alias("arr")
    )
    enriched = one.select(
        F.expr(
            """
            transform(arr, (x, i) -> struct(
              x.dur AS dur,
              x.d1 AS d1,
              x.d2 AS d2,
              x.d1 + x.d2 AS dall,
              aggregate(slice(arr, cast(i AS int) + 1, size(arr)),
                        0L, (a, y) -> a + y.n) AS at_risk))
            """
        ).alias("arr2")
    )
    with_s = enriched.select(
        F.expr(
            f"""
            transform(arr2, (x, i) -> struct(
              x.dur AS dur, x.d1 AS d1, x.d2 AS d2, x.dall AS dall,
              x.at_risk AS at_risk,
              aggregate(slice(arr2, 1, cast(i AS int)),
                        {KM_SCALE}L,
                        (s, y) -> s * (y.at_risk - y.dall) div y.at_risk)
                AS s_before))
            """
        ).alias("arr3")
    )
    rows = with_s.select(
        F.explode(
            F.expr(
                """
                transform(arr3, (x, i) -> struct(
                  x.dur AS duration, x.d1 AS d1, x.d2 AS d2,
                  x.at_risk AS at_risk, x.s_before AS s_before,
                  aggregate(slice(arr3, 1, cast(i AS int) + 1), 0L,
                    (a, y) -> a + y.s_before * y.d1 div y.at_risk)
                    AS cif1,
                  aggregate(slice(arr3, 1, cast(i AS int) + 1), 0L,
                    (a, y) -> a + y.s_before * y.d2 div y.at_risk)
                    AS cif2))
                """
            )
        ).alias("s")
    ).select("s.*")
    return rows.where((F.col("d1") + F.col("d2")) > 0).select(
        "duration",
        "d1",
        "d2",
        "at_risk",
        F.col("s_before").cast("long").alias("s_before_q9"),
        F.col("cif1").cast("long").alias("cif1_q9"),
        F.col("cif2").cast("long").alias("cif2_q9"),
    )
