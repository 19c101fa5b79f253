"""Kaplan-Meier survival operators (operators/survival.py), pinned on a
hand-computed curve with censoring."""

from datetime import datetime

from pyspark_playground_spark.operators import survival as sv


def test_kaplan_meier_hand_computed_curve(spark):
    # durations (hours) and death flags; censored users leave the risk
    # set after their duration without a survival step
    lifetimes = spark.createDataFrame(
        [
            ("A", 1, 1),
            ("B", 1, 0),  # censored at 1
            ("C", 2, 1),
            ("D", 3, 1),
            ("E", 3, 0),  # censored at 3
        ],
        ["user_id", "duration_hours", "died"],
    )
    out = {r["duration"]: r for r in sv.kaplan_meier(lifetimes).collect()}
    assert set(out) == {1, 2, 3}
    # d=1: 1 death / 5 at risk -> 0.8
    assert out[1]["deaths"] == 1 and out[1]["at_risk"] == 5
    assert out[1]["survival_q9"] == 800_000_000
    # d=2: 1/3 at risk (A dead, B censored) -> 0.8 * 2 div 3
    assert out[2]["at_risk"] == 3
    assert out[2]["survival_q9"] == 533_333_333
    # d=3: 1/2 -> integer fold: 533333333 * 1 div 2 = 266666666
    assert out[3]["at_risk"] == 2
    assert out[3]["survival_q9"] == 266_666_666


def test_kaplan_meier_censored_only_duration_is_noop(spark):
    lifetimes = spark.createDataFrame(
        [("A", 1, 1), ("B", 2, 0), ("C", 3, 1)],
        ["user_id", "duration_hours", "died"],
    )
    out = {r["duration"]: r for r in sv.kaplan_meier(lifetimes).collect()}
    # no output row for the censored-only duration 2 ...
    assert set(out) == {1, 3}
    # ... but B still counted at risk at d=1 and gone by d=3
    assert out[1]["at_risk"] == 3
    assert out[3]["at_risk"] == 1
    assert out[1]["survival_q9"] == 666_666_666
    assert out[3]["survival_q9"] == 0


def test_user_lifetimes_duration_and_censoring(spark):
    rows = [
        (1, datetime(2026, 5, 1, 0, 0)),
        (1, datetime(2026, 5, 1, 10, 30)),  # span 10.5h -> 10; gap 61.5h -> died
        (2, datetime(2026, 5, 3, 12, 0)),
        (2, datetime(2026, 5, 3, 13, 30)),  # gap 12h -> censored
    ]
    events = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        r["user_id"]: r
        for r in sv.user_lifetimes(events, churn_horizon_hours=24).collect()
    }
    assert out[1]["duration_hours"] == 10 and out[1]["died"] == 1
    assert out[2]["duration_hours"] == 1 and out[2]["died"] == 0


def test_nelson_aalen_hand_computed(spark):
    from decimal import Decimal

    from pyspark_playground_spark.operators.survival import nelson_aalen

    # durations: 1h (2 deaths of 5 at risk), 2h (1 death of 3), 3h
    # (censored only -> excluded from output but thins the risk set)
    rows = [
        (1, 1, True), (2, 1, True), (3, 2, True),
        (4, 2, False), (5, 3, False),
    ]
    lt = spark.createDataFrame(
        rows, "user_id bigint, duration_hours bigint, died boolean"
    )
    got = {r["duration"]: r for r in nelson_aalen(lt).collect()}
    assert set(got) == {1, 2}
    assert (got[1]["deaths"], got[1]["at_risk"]) == (2, 5)
    assert (got[2]["deaths"], got[2]["at_risk"]) == (1, 3)
    h1 = Decimal(str(round(2 / 5, 9)))
    h2 = h1 + Decimal(str(round(1 / 3, 9)))
    assert got[1]["cum_hazard"] == h1
    assert got[2]["cum_hazard"] == h2


def test_log_rank_hand_computed(spark):
    """A: durations [1(died), 2(died)]; B: [1(died), 3(censored)].
    t=1: n1=2 n2=2 d1=1 d2=1 -> u_num = 1*4-2*2 = 0, v = 2*2*2*2/(16*3)
         = 1/3 -> 333333 (floor(1e6/3 + 0.5))
    t=2: n1=1 n2=1 d1=1 d2=0 -> u = (1*2-1*1)/2 = 0.5 -> 500000,
         v = 1*1*1*1/(4*1) = 0.25 -> 250000
    t=3: censored only (dt=0) -> excluded.
    => u_q6 = 500000, var_q6 = 583333, chi2 = 0.5^2/0.583333."""
    import math

    from pyspark_playground_spark.operators.survival import log_rank_test

    lt = spark.createDataFrame(
        [
            ("a1", 1, 1, True),
            ("a2", 2, 1, True),
            ("b1", 1, 1, False),
            ("b2", 3, 0, False),
        ],
        "k string, duration_hours int, died int, grp boolean",
    )
    r = log_rank_test(lt).collect()[0]
    assert (r["n_a"], r["n_b"]) == (2, 2)
    assert (r["deaths_a"], r["deaths_b"]) == (2, 1)
    assert r["u_q6"] == 500000
    assert r["var_q6"] == 333333 + 250000
    u, v = 500000 / 1e6, 583333 / 1e6
    assert r["chi2_q6"] == math.floor(u * u / v * 1e6 + 0.5)

    # no deaths at all -> no terms -> var 0 -> chi2 NULL
    cens = spark.createDataFrame(
        [("a", 1, 0, True), ("b", 2, 0, False)],
        "k string, duration_hours int, died int, grp boolean",
    )
    rc = log_rank_test(cens).collect()[0]
    assert rc["chi2_q6"] is None and rc["deaths_a"] == 0


def test_restricted_mean_survival_hand_computed(spark):
    """Hand KM curve: deaths at 10 (S=0.75) and 20 (S=0.5) over 4
    uncensored users; RMST(30) = 10 + 0.75*10 + 0.5*10 = 22.5 h; the
    tau clamp cuts segments; no-deaths frames give RMST = tau; tau<=0
    refused."""
    import pytest

    from pyspark_playground_spark.operators.survival import (
        restricted_mean_survival,
    )

    rows = [(10, True), (10, False), (20, True), (40, False)]
    # at_risk(10)=4, deaths=1 -> S=3/4; at_risk(20)=2, deaths=1 -> S=3/8?
    # careful: censored-at-10 leaves risk set after 10
    df = spark.createDataFrame(rows, "duration_hours bigint, died boolean")
    r = restricted_mean_survival(df, tau=30).collect()[0]
    # S(10+)=3/4 (1 death of 4 at risk); S(20+)=3/4 * 1/2 = 3/8
    # RMST = 10*1 + (20-10)*0.75 + (30-20)*0.375 = 10 + 7.5 + 3.75
    assert r["rmst_x9"] == (
        10 * 10**9 + 10 * 750_000_000 + 10 * 375_000_000
    )
    assert r["rmst_hours_q6"] == r["rmst_x9"] // 1000
    assert r["n_steps"] == 2 and r["tau"] == 30

    # tau below the first death: RMST = tau exactly
    r2 = restricted_mean_survival(df, tau=5).collect()[0]
    assert r2["rmst_x9"] == 5 * 10**9

    # no deaths at all: survival stays 1 -> RMST = tau
    cens = spark.createDataFrame(
        [(10, False), (20, False)], "duration_hours bigint, died boolean"
    )
    r3 = restricted_mean_survival(cens, tau=30).collect()[0]
    assert r3["rmst_x9"] == 30 * 10**9 and r3["n_steps"] == 0

    with pytest.raises(ValueError, match="tau"):
        restricted_mean_survival(df, tau=0)


def test_cox_binary_hazard_mirror(spark):
    """A python Newton mirror (same census, same q12-exp / 9-decimal
    recipe) pins beta/hr/se/z exactly on a mixed fixture; a
    group-symmetric census fits beta=0 / HR=1 exactly; the
    early-dying group carries a positive beta whose sign agrees with
    the log-rank direction."""
    import math

    from pyspark_playground_spark.operators.survival import (
        cox_binary_hazard,
        log_rank_test,
    )

    def run(rows):
        df = spark.createDataFrame(
            rows, "duration_hours long, died int, grp boolean"
        )
        return cox_binary_hazard(df).collect()[0]

    def mirror(rows):
        from collections import defaultdict
        cen = defaultdict(lambda: [0, 0, 0, 0])  # d1 d0 c1 c0
        for dur, died, grp in rows:
            c = cen[dur]
            if grp:
                c[0] += died; c[2] += 1
            else:
                c[1] += died; c[3] += 1
        times = sorted(cen)
        n1 = n0 = 0
        risk = {}
        for t in reversed(times):
            n1 += cen[t][2]; n0 += cen[t][3]
            risk[t] = (n1, n0)
        dth = [(cen[t][0], cen[t][0] + cen[t][1], *risk[t])
               for t in times if cen[t][0] + cen[t][1] > 0]

        def q9(x):
            from decimal import Decimal
            return Decimal(str(round(x, 9)))

        def scores(beta):
            eb = math.floor(math.exp(beta) * 1e12 + 0.5) / 1e12
            u = sum(q9(d1 - d * (eb * r1) / (r0 + eb * r1))
                    for d1, d, r1, r0 in dth)
            i = sum(q9(d * ((eb * r1) * r0) / ((r0 + eb * r1) ** 2))
                    for d1, d, r1, r0 in dth)
            return float(u), float(i)

        beta = 0.0
        for _ in range(8):
            u, i = scores(beta)
            if i <= 0:
                return None
            beta += u / i
        _, i = scores(beta)
        se = 1.0 / math.sqrt(i)
        return (math.floor(beta * 1e6 + 0.5),
                math.floor((math.floor(math.exp(beta) * 1e12 + 0.5) / 1e12)
                           * 1e6 + 0.5),
                math.floor(se * 1e6 + 0.5),
                math.floor(beta / se * 1e6 + 0.5))

    # mixed fixture with ties and censoring
    rows = (
        [(2, 1, True), (3, 1, True), (3, 1, True), (8, 0, True),
         (9, 1, True)]
        + [(5, 1, False), (7, 1, False), (7, 0, False), (12, 1, False),
           (15, 0, False)]
    )
    r = run(rows)
    assert (r["beta_q6"], r["hr_q6"], r["se_q6"], r["z_q6"]) == mirror(rows)
    assert r["beta_q6"] > 0  # group TRUE dies earlier -> higher hazard

    # direction agrees with the log-rank U on the same frame
    lr = log_rank_test(spark.createDataFrame(
        rows, "duration_hours long, died int, grp boolean"
    )).collect()[0]
    assert (lr["u_q6"] > 0) == (r["beta_q6"] > 0)

    # perfectly symmetric census -> beta exactly 0, HR exactly 1
    sym = [(t, 1, True) for t in (1, 2, 3, 4)] + [
        (t, 1, False) for t in (1, 2, 3, 4)
    ]
    s = run(sym)
    assert s["beta_q6"] == 0 and s["hr_q6"] == 1_000_000
    assert s["z_q6"] == 0


def test_cox_binary_hazard_no_deaths_matches_oracle(spark, tmp_path):
    """Nobody churns: every user's last event is within 24 h of the
    horizon. The oracle's Newton recursion has no death time to step
    over and returns no row, so ``cox_purchasers_events`` returns none
    either, under the oracle's columns; on a lifetimes frame without
    deaths the operator returns the same empty frame."""
    import duckdb

    from pyspark_playground_spark.queries import oracle_sql, queries

    con = duckdb.connect()
    con.execute(
        f"""COPY (
          SELECT CAST(event_id AS BIGINT) AS event_id,
                 CAST(ts AS TIMESTAMP_NS) AS ts,
                 CAST(user_id AS BIGINT) AS user_id,
                 event_type, CAST(value AS DOUBLE) AS value, props
          FROM (VALUES
            (0, TIMESTAMP '2024-01-01 00:00:00', 1, 'view', 1, '{{}}'),
            (1, TIMESTAMP '2024-01-01 05:00:00', 1, 'purchase', 2, '{{}}'),
            (2, TIMESTAMP '2024-01-01 02:00:00', 2, 'view', 3, '{{}}'),
            (3, TIMESTAMP '2024-01-01 10:00:00', 2, 'click', 4, '{{}}'),
            (4, TIMESTAMP '2024-01-01 09:00:00', 3, 'view', 5, '{{}}')
          ) t(event_id, ts, user_id, event_type, value, props)
        ) TO '{tmp_path}/events.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    want = con.sql(oracle_sql()["cox_purchasers_events"])
    got = queries()["cox_purchasers_events"](spark, str(tmp_path))
    assert want.fetchall() == [] and got.collect() == []
    assert got.columns == want.columns

    lifetimes = spark.createDataFrame(
        [(5, 0, True), (6, 0, False)], "duration_hours long, died int, grp boolean"
    )
    out = sv.cox_binary_hazard(lifetimes)
    assert out.collect() == [] and out.columns == want.columns


def test_required_events_survival_textbook(spark):
    """Textbook Schoenfeld pins: equal allocation needs
    d = 4*(z_a+z_b)^2 / ln(HR)^2 events (HR=0.5 -> ~66 events at
    80%/0.05); unbalanced allocation needs MORE; enrollment scales by
    the observed event rate; degenerate inputs refuse."""
    import math

    import pytest

    from pyspark_playground_spark.operators.survival import (
        required_events_survival,
    )

    def run(rows, hr_ppm):
        df = spark.createDataFrame(rows, "died int, grp boolean")
        return required_events_survival(
            df, target_hr_ppm=hr_ppm
        ).collect()[0]

    half = [(i % 2, i % 2 == 0) for i in range(100)]
    r = run(half, 500_000)
    lnhr = math.floor(math.log(0.5) * 1e12 + 0.5) / 1e12
    za, zb = 1.959963984540054, 0.8416212335729143
    want = math.ceil((za + zb) ** 2 / (0.25 * lnhr * lnhr))
    assert r["events_required"] == want == 66
    # event rate 0.5 -> enrollment = 2x events
    assert r["n_required_total"] == math.ceil(
        (za + zb) ** 2 / (0.25 * lnhr * lnhr) / 0.5
    )

    # 90/10 allocation: p(1-p)=0.09 < 0.25 -> more events needed
    skew = [(1, i < 90) for i in range(100)]
    s = run(skew, 500_000)
    assert s["events_required"] > r["events_required"]

    # one arm empty -> refusal
    one = run([(1, True), (0, True)], 500_000)
    assert one["events_required"] is None

    with pytest.raises(ValueError, match="target_hr_ppm"):
        run(half, 1_000_000)


def test_cumulative_incidence_competing_risks(spark):
    """Hand fixture pins every CIF value against closed-form fractions;
    CIF1 + CIF2 + S reconciles to the 1e9 scale up to div rounding;
    the naive '1 - KM per cause' over-counts where AJ does not; CIFs
    are monotone non-decreasing."""
    from pyspark_playground_spark.operators.survival import (
        cumulative_incidence,
    )

    rows = [(2, 1), (3, 1), (3, 2), (5, 0), (6, 2), (8, 1), (9, 0)]
    df = spark.createDataFrame(rows, "duration_hours long, cause int")
    out = {r["duration"]: r
           for r in cumulative_incidence(df).collect()}
    # t=2: S-=1, CIF1 = 1/7
    assert out[2]["cif1_q9"] == 1_000_000_000 * 1 // 7
    assert out[2]["cif2_q9"] == 0
    # t=3: S- = 6/7 (integer fold), both causes gain S-/6
    s3 = 1_000_000_000 * 6 // 7
    assert out[3]["s_before_q9"] == s3
    assert out[3]["cif1_q9"] == out[2]["cif1_q9"] + s3 // 6
    assert out[3]["cif2_q9"] == s3 // 6
    # monotone, and final CIF1+CIF2+S(last) ~= 1e9
    durs = sorted(out)
    for a, b in zip(durs, durs[1:]):
        assert out[b]["cif1_q9"] >= out[a]["cif1_q9"]
        assert out[b]["cif2_q9"] >= out[a]["cif2_q9"]
    last = out[durs[-1]]
    s_after_last = last["s_before_q9"] * (
        last["at_risk"] - last["d1"] - last["d2"]
    ) // last["at_risk"]
    total = last["cif1_q9"] + last["cif2_q9"] + s_after_last
    assert abs(total - 1_000_000_000) <= len(durs) * 10  # div rounding

    # competing-risks over-count check: naive per-cause KM complement
    # exceeds the AJ CIF at the last event time (cause 2 censored away)
    from pyspark.sql import functions as SF

    from pyspark_playground_spark.operators.survival import kaplan_meier
    naive = kaplan_meier(
        df.select("duration_hours",
                  (SF.col("cause") == 1).cast("int").alias("died"))
    ).orderBy("duration").collect()
    naive_cif1 = 1_000_000_000 - naive[-1]["survival_q9"]
    assert naive_cif1 > last["cif1_q9"]
