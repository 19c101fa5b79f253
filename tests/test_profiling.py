"""Column profiling and histogram exactness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_playground_spark.operators import profiling as pf


def test_column_profile_counts_nulls_distincts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")], "x bigint, s string"
    )
    out = {r["column_name"]: r for r in pf.column_profile(df).collect()}
    assert out["x"]["n_rows"] == 4 and out["x"]["n_non_null"] == 3
    assert out["x"]["n_distinct"] == 2
    assert (out["x"]["min_s"], out["x"]["max_s"]) == ("1", "2")
    assert out["s"]["n_non_null"] == 3 and out["s"]["n_distinct"] == 2


def test_histogram_exact_integer_buckets(spark):
    # values 0..99 into 10 buckets -> exactly 10 each; all edges exact
    df = spark.range(100).select(F.col("id").alias("v"))
    out = {r["bucket"]: r["n"] for r in
           pf.equi_width_histogram(df, "v", buckets=10).collect()}
    assert out == {b: 10 for b in range(10)}


def test_histogram_emits_empty_buckets(spark):
    df = spark.createDataFrame([(0,), (100,)], "v bigint")
    out = {r["bucket"]: r["n"] for r in
           pf.equi_width_histogram(df, "v", buckets=4).collect()}
    assert out == {0: 1, 1: 0, 2: 0, 3: 1}


def test_histogram_double_fallback_clamps_max(spark):
    df = spark.createDataFrame([(0.0,), (5.0,), (10.0,)], "v double")
    out = {r["bucket"]: r["n"] for r in
           pf.equi_width_histogram(df, "v", buckets=2).collect()}
    assert out == {0: 1, 1: 2}  # max value clamped into the last bucket


def test_approx_distinct_merge_identity(spark):
    """Both HLL read paths — one-pass sketch and union of per-bucket
    sketches — stay inside the 3·rsd envelope (bit-equality between the
    paths is not a sketch guarantee once sparse mode promotes; the
    envelope is the real mergeability contract)."""
    from pyspark.sql import functions as F

    from pyspark_playground_spark.operators.profiling import (
        approx_distinct_merge_check,
    )

    df = spark.range(20_000).select(
        (F.col("id") % 5_000).alias("v"),
        (F.col("id") % 7).alias("bucket"),
    )
    row = approx_distinct_merge_check(df, "v", "bucket").collect()[0]
    assert row.n_exact == 5_000
    assert row.direct_within_bound
    assert row.merged_within_bound


def test_heavy_hitters_exact_superset_guarantee(spark):
    """The MG candidate stage may be lossy per partition, but the final
    output is EXACTLY the values with count > N/k, across partitionings
    and even adversarial value layouts."""
    from pyspark.sql import functions as F

    from pyspark_playground_spark.operators.profiling import heavy_hitters

    # 1000 rows: 'hot' ×400, 'warm' ×250, 200 singletons, 'cool' ×150
    rows = (["hot"] * 400 + ["warm"] * 250 + [f"u{i}" for i in range(200)]
            + ["cool"] * 150)
    df = spark.createDataFrame([(v,) for v in rows], ["v"]).repartition(7)
    got = {r.value: r.n_occurrences for r in heavy_hitters(df, "v", k=4).collect()}
    # N/k = 250: only 'hot' strictly exceeds it
    assert got == {"hot": 400}
    got3 = {r.value: r.n_occurrences
            for r in heavy_hitters(df, "v", k=5).collect()}
    # N/k = 200: hot and warm
    assert got3 == {"hot": 400, "warm": 250}
    # nulls are ignored, not counted
    with_nulls = df.union(spark.createDataFrame([(None,)], "v string"))
    got_n = {r.value for r in heavy_hitters(with_nulls, "v", k=4).collect()}
    assert got_n == {"hot"}


def test_group_entropy_hand_example(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (1, "b"),   # uniform over 2 -> ln 2
         (2, "a"), (2, "a"), (2, "a")],            # single type -> 0
        "user_id int, event_type string",
    )
    got = {
        r["user_id"]: r
        for r in pf.group_entropy(
            df, group_column="user_id", category_column="event_type"
        ).collect()
    }
    assert got[1]["n_rows"] == 4 and got[1]["n_categories"] == 2
    assert abs(got[1]["entropy_nats"] - math.log(2)) < 1e-6
    assert got[2]["n_categories"] == 1
    assert abs(got[2]["entropy_nats"]) < 1e-6


def test_ks_statistic_matches_scipy_free_reference(spark):
    """KS numerator equals a literal Python two-sample KS computation."""
    a = [1, 2, 2, 3, 9]
    b = [2, 5, 6]
    rows = [(v, True) for v in a] + [(v, False) for v in b]
    df = spark.createDataFrame(rows, "v int, is_a boolean")
    na, nb = len(a), len(b)
    g = df.groupBy("v").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("ca_v"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("cb_v"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    got = (
        g.select(F.sum("ca_v").over(w).alias("ca"), F.sum("cb_v").over(w).alias("cb"))
        .agg(F.max(F.abs(F.col("ca") * nb - F.col("cb") * na)).alias("num"))
        .collect()[0]["num"]
    )
    # reference: evaluate |F_a - F_b| at every distinct value
    vals = sorted(set(a + b))
    ref = max(
        abs(sum(1 for x in a if x <= v) * nb - sum(1 for x in b if x <= v) * na)
        for v in vals
    )
    assert got == ref > 0


def test_drift_ks_matches_python_reference(spark):
    import random

    rng = random.Random(11)
    a = [rng.randrange(30) for _ in range(200)]
    b = [rng.randrange(25, 60) for _ in range(150)]  # shifted cohort
    rows = [(v, True) for v in a] + [(v, False) for v in b]
    df = spark.createDataFrame(rows, "v int, is_a boolean")
    got = pf.drift_ks(df, value_column="v", cohort_column="is_a").collect()[0]
    na, nb = len(a), len(b)
    vals = sorted(set(a + b))
    ref = max(
        abs(sum(1 for x in a if x <= v) * nb - sum(1 for x in b if x <= v) * na)
        for v in vals
    )
    assert (got["n_a"], got["n_b"]) == (na, nb)
    assert got["ks_numerator"] == ref > 0


def test_drift_ks_binned_bounds_and_edges(spark):
    import random

    rng = random.Random(13)
    a = [rng.random() * 10 for _ in range(300)]
    b = [rng.random() * 10 + 3 for _ in range(250)]
    rows = [(v, True) for v in a] + [(v, False) for v in b]
    df = spark.createDataFrame(rows, "v double, is_a boolean")
    exact = pf.drift_ks(df, value_column="v", cohort_column="is_a").collect()[0]
    binned = pf.drift_ks(
        df, value_column="v", cohort_column="is_a", bins=32
    ).collect()[0]
    # binned KS is the exact KS of the binned data: a lower bound of the
    # unbinned statistic, nonzero for a genuinely shifted cohort
    assert 0 < binned["ks_numerator"] <= exact["ks_numerator"]
    # constant domain (hi == lo): everything lands in bucket 0, D = 0
    const = spark.createDataFrame(
        [(5.0, True), (5.0, False), (5.0, True)], "v double, is_a boolean"
    )
    z = pf.drift_ks(
        const, value_column="v", cohort_column="is_a", bins=8
    ).collect()[0]
    assert z["ks_numerator"] == 0


def test_drift_binning_wide_integer_domain_no_overflow(spark):
    """An int32 domain spanning ±2·10⁹ overflows the naive integer
    ``(v−lo)·bins`` under ANSI mode (ARITHMETIC_OVERFLOW) — the shared
    equal_width_bin helper computes in doubles, so binned drift over wide
    integer columns must simply work, with min→bin 0 and max→bin top."""
    lo, hi = -2_000_000_000, 2_000_000_000
    a = [lo, lo + 7, lo + 11, 0]
    b = [hi, hi - 5, 0, 1_500_000_000]
    rows = [(v, True) for v in a] + [(v, False) for v in b]
    df = spark.createDataFrame(rows, "v int, is_a boolean")
    got = pf.drift_ks(
        df, value_column="v", cohort_column="is_a", bins=8
    ).collect()[0]
    assert (got["n_a"], got["n_b"]) == (4, 4)
    # cohorts concentrate at opposite edges: near-total separation —
    # bins: a -> {0, 4}, b -> {4, 7}; worst gap is 3·4 − 0·4 = 12
    assert got["ks_numerator"] == 12
    psi = pf.drift_psi(
        df, value_column="v", cohort_column="is_a", bins=8
    ).collect()[0]
    assert psi["psi"] > 0 and psi["n_bins"] <= 8


def test_mutual_information_matches_python_reference(spark):
    import math
    from collections import Counter

    rows = [("a", "p"), ("a", "p"), ("a", "q"), ("b", "q"), ("b", "q"),
            ("b", "q"), ("c", "p"), (None, "p"), ("a", None)]
    df = spark.createDataFrame(rows, "x string, y string")
    got = pf.mutual_information(df, x_column="x", y_column="y").collect()[0]
    obs = [(x, y) for x, y in rows if x is not None and y is not None]
    n = len(obs)
    cxy, cx, cy = Counter(obs), Counter(x for x, _ in obs), Counter(
        y for _, y in obs
    )
    ref = sum(
        (c / n) * math.log(c * n / (cx[x] * cy[y]))
        for (x, y), c in cxy.items()
    )
    assert got["n_rows"] == n and got["n_cells"] == len(cxy)
    assert abs(got["mi_nats"] - ref) < 1e-6


def test_mutual_information_extremes(spark):
    import math

    # identical columns: MI == H(X); independent uniform: MI == 0
    same = spark.createDataFrame(
        [(v, v) for v in ["a", "a", "b", "b", "c", "c"]], "x string, y string"
    )
    mi_same = pf.mutual_information(same, x_column="x", y_column="y").collect()[0]
    assert abs(mi_same["mi_nats"] - math.log(3)) < 1e-6
    indep = spark.createDataFrame(
        [(x, y) for x in "ab" for y in "pq" for _ in range(5)],
        "x string, y string",
    )
    mi_ind = pf.mutual_information(indep, x_column="x", y_column="y").collect()[0]
    assert abs(mi_ind["mi_nats"]) < 1e-9


def test_exact_auc_matches_pair_counting(spark):
    # ties in scores, both labels present at tied scores
    rows = [(1, True), (2, False), (2, True), (3, True), (3, False),
            (3, True), (5, False), (1, False), (None, True), (4, None)]
    df = spark.createDataFrame(rows, "s long, y boolean")
    got = pf.exact_auc(df, score_column="s", label_column="y").collect()[0]
    obs = [(s, y) for s, y in rows if s is not None and y is not None]
    pos = [s for s, y in obs if y]
    neg = [s for s, y in obs if not y]
    u = sum(
        1.0 if p > q else (0.5 if p == q else 0.0) for p in pos for q in neg
    )
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    assert got["n_scores"] == len({s for s, _ in obs})
    assert abs(got["auc"] - u / (len(pos) * len(neg))) < 1e-12


def test_exact_auc_extremes(spark):
    # perfectly separating score -> 1.0; identical scores -> 0.5
    sep = spark.createDataFrame(
        [(i, i >= 3) for i in range(6)], "s long, y boolean"
    )
    assert pf.exact_auc(sep, score_column="s", label_column="y").collect()[
        0
    ]["auc"] == 1.0
    const = spark.createDataFrame(
        [(7, i % 2 == 0) for i in range(6)], "s long, y boolean"
    )
    assert pf.exact_auc(const, score_column="s", label_column="y").collect()[
        0
    ]["auc"] == 0.5


def test_grouped_auc_matches_per_group_pair_counting(spark):
    rows = [
        ("g1", 1, True), ("g1", 2, False), ("g1", 2, True), ("g1", 3, False),
        ("g2", 5, True), ("g2", 4, False), ("g2", 5, False), ("g2", 6, True),
        ("g3", 1, True), ("g3", 2, True),          # no negatives -> NULL
        (None, 1, True), ("g1", None, False), ("g1", 1, None),
    ]
    df = spark.createDataFrame(rows, "g string, s long, y boolean")
    out = {
        r["g"]: r
        for r in pf.grouped_auc(
            df, group_column="g", score_column="s", label_column="y"
        ).collect()
    }
    obs = [(g, s, y) for g, s, y in rows if None not in (g, s, y)]
    for grp in ("g1", "g2"):
        pos = [s for g, s, y in obs if g == grp and y]
        neg = [s for g, s, y in obs if g == grp and not y]
        u = sum(
            1.0 if p > q else (0.5 if p == q else 0.0)
            for p in pos for q in neg
        )
        assert out[grp]["n_pos"] == len(pos) and out[grp]["n_neg"] == len(neg)
        assert abs(out[grp]["auc"] - u / (len(pos) * len(neg))) < 1e-12
    assert out["g3"]["auc"] is None and out["g3"]["n_neg"] == 0
    assert set(out) == {"g1", "g2", "g3"}


def _py_spearman(pairs):
    import math

    def avg_ranks(vals):
        s = sorted(vals)
        first = {}
        for i, v in enumerate(s):
            first.setdefault(v, i)
        cnt = {}
        for v in s:
            cnt[v] = cnt.get(v, 0) + 1
        return [first[v] + (cnt[v] + 1) / 2 for v in vals]

    ra = avg_ranks([a for a, _ in pairs])
    rb = avg_ranks([b for _, b in pairs])
    n = len(pairs)
    ma, mb = sum(ra) / n, sum(rb) / n
    num = sum((x - ma) * (y - mb) for x, y in zip(ra, rb))
    da = sum((x - ma) ** 2 for x in ra)
    db = sum((y - mb) ** 2 for y in rb)
    return num / math.sqrt(da * db)


def test_spearman_matches_python_reference(spark):
    rows = [(1, 10), (2, 20), (2, 15), (3, 30), (4, 25), (5, 50),
            (5, 45), (6, 40), (None, 1), (7, None)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = pf.spearman_correlation(df, x_column="a", y_column="b").collect()[0]
    obs = [(a, b) for a, b in rows if a is not None and b is not None]
    assert got["n_rows"] == len(obs)
    assert abs(got["rho"] - _py_spearman(obs)) < 1e-9


def test_spearman_extremes(spark):
    mono = spark.createDataFrame(
        [(i, i * i) for i in range(1, 8)], "a long, b long"
    )
    r = pf.spearman_correlation(mono, x_column="a", y_column="b").collect()[0]
    assert abs(r["rho"] - 1.0) < 1e-12
    anti = spark.createDataFrame(
        [(i, -i) for i in range(1, 8)], "a long, b long"
    )
    r = pf.spearman_correlation(anti, x_column="a", y_column="b").collect()[0]
    assert abs(r["rho"] + 1.0) < 1e-12
    const = spark.createDataFrame(
        [(i, 3) for i in range(1, 8)], "a long, b long"
    )
    r = pf.spearman_correlation(const, x_column="a", y_column="b").collect()[0]
    assert r["rho"] is None


def test_calibration_bins_matches_python_reference(spark):
    import math

    rows = [(s, s % 3 == 0) for s in range(1, 21)] + [(None, True), (10, None)]
    df = spark.createDataFrame(rows, "s long, y boolean")
    out = {
        r["bin"]: r
        for r in pf.calibration_bins(
            df, score_column="s", label_column="y", bins=4
        ).collect()
    }
    obs = [(s, y) for s, y in rows if s is not None and y is not None]
    lo, hi = min(s for s, _ in obs), max(s for s, _ in obs)
    ref = {}
    for s, y in obs:
        b = min(3, math.floor((s - lo) * 4 / (hi - lo)))
        ref.setdefault(b, []).append((s, y))
    assert set(out) == set(ref)
    for b, grp in ref.items():
        r = out[b]
        assert r["n"] == len(grp)
        assert r["n_pos"] == sum(1 for _, y in grp if y)
        assert abs(r["mean_score"] - sum(s for s, _ in grp) / len(grp)) < 1e-12
        assert abs(r["pos_rate"] - r["n_pos"] / r["n"]) < 1e-12


def test_dataset_card_matches_python_reference(spark):
    rows = [
        (1, "alpha beta gamma", "s1", "en", 16),
        (2, "alpha beta gamma", "s1", "en", 16),   # exact dup
        (3, "un deux", "s2", "fr", 7),
        (4, "eins zwei drei vier", "s2", "de", 19),
        (5, "one", "s1", "en", 3),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars long"
    )
    got = pf.dataset_card(df).collect()[0]
    assert got["n_docs"] == 5
    assert got["n_sources"] == 2 and got["n_langs"] == 3
    assert got["n_unique_texts"] == 4
    toks = [3, 3, 2, 4, 1]
    assert abs(got["mean_tokens"] - sum(toks) / 5) < 1e-12
    # type-1 order stats of n_chars sorted: [3, 7, 16, 16, 19], mx=4
    assert got["p50_chars"] == 16   # rank floor(0.5*4)=2
    assert got["p95_chars"] == 16   # rank floor(0.95*4)=3


def test_drift_psi_matches_python_reference(spark):
    import math

    rows = [(v, v % 3 == 0) for v in [1, 1, 1, 2, 2, 3, 3, 3, 3, 6, 6, 9, 12, 12]]
    df = spark.createDataFrame(rows, ["v", "is_a"])
    got = pf.drift_psi(df, value_column="v", cohort_column="is_a").collect()[0]

    from collections import Counter

    ca, cb = Counter(), Counter()
    for v, a in rows:
        (ca if a else cb)[v] += 1
    bins = sorted(set(ca) | set(cb))
    na, nb, B = sum(ca.values()), sum(cb.values()), len(bins)
    psi = 0.0
    for v in bins:
        pa = (ca[v] + 1) / (na + B)
        pb = (cb[v] + 1) / (nb + B)
        lnr = round(
            math.log(((ca[v] + 1) * (nb + B)) / ((cb[v] + 1) * (na + B))), 7
        )
        psi += round((pa - pb) * lnr, 9)
    assert (got.n_a, got.n_b, got.n_bins) == (na, nb, B)
    assert got.psi == pytest.approx(psi, abs=1e-9)


def test_drift_psi_identical_distributions_near_zero(spark):
    rows = [(v, True) for v in range(10) for _ in range(5)] + [
        (v, False) for v in range(10) for _ in range(5)
    ]
    df = spark.createDataFrame(rows, ["v", "is_a"])
    got = pf.drift_psi(df, value_column="v", cohort_column="is_a").collect()[0]
    assert got.psi == pytest.approx(0.0, abs=1e-12)
    # a hard shift scores big
    shifted = [(v, True) for v in range(5) for _ in range(10)] + [
        (v + 100, False) for v in range(5) for _ in range(10)
    ]
    df2 = spark.createDataFrame(shifted, ["v", "is_a"])
    assert pf.drift_psi(df2, value_column="v", cohort_column="is_a").collect()[
        0
    ].psi > 1.0


def test_drift_psi_binned_matches_binned_python(spark):
    import math
    from collections import Counter

    vals = [(i * 0.37 % 7.3, i % 4 == 0) for i in range(200)]
    df = spark.createDataFrame(vals, ["v", "is_a"])
    got = pf.drift_psi(
        df, value_column="v", cohort_column="is_a", bins=16
    ).collect()[0]
    lo = min(v for v, _ in vals)
    hi = max(v for v, _ in vals)
    ca, cb = Counter(), Counter()
    for v, a in vals:
        b = 0 if hi == lo else min(15, int(math.floor((v - lo) * 16 / (hi - lo))))
        (ca if a else cb)[b] += 1
    bins = sorted(set(ca) | set(cb))
    na, nb, B = sum(ca.values()), sum(cb.values()), len(bins)
    psi = sum(
        round(
            ((ca[b] + 1) / (na + B) - (cb[b] + 1) / (nb + B))
            * round(
                math.log(((ca[b] + 1) * (nb + B)) / ((cb[b] + 1) * (na + B))), 7
            ),
            9,
        )
        for b in bins
    )
    assert got.n_bins == B and got.psi == pytest.approx(psi, abs=1e-9)


def test_drift_cvm_matches_python_reference(spark):
    from collections import Counter

    rows = [(v, v % 3 == 0) for v in [1, 1, 2, 2, 2, 3, 3, 6, 6, 9, 12, 12, 15]]
    df = spark.createDataFrame(rows, ["v", "is_a"])
    got = pf.drift_cvm(df, value_column="v", cohort_column="is_a").collect()[0]

    ca, cb = Counter(), Counter()
    for v, a in rows:
        (ca if a else cb)[v] += 1
    vals = sorted(set(ca) | set(cb))
    na, nb = sum(ca.values()), sum(cb.values())
    cum_a = cum_b = 0
    s = 0.0
    for v in vals:
        cum_a += ca[v]
        cum_b += cb[v]
        m = ca[v] + cb[v]
        gap = (cum_a * nb - cum_b * na) / (na * nb)
        s += round(m * gap * gap, 12)
    assert (got.n_a, got.n_b) == (na, nb)
    assert got.cvm_sum == pytest.approx(round(s, 6), abs=1e-9)
    # identical distributions -> last gap is 0 and shifted cohorts score big
    same = [(v, True) for v in range(8)] + [(v, False) for v in range(8)]
    z = pf.drift_cvm(
        spark.createDataFrame(same, ["v", "is_a"]),
        value_column="v",
        cohort_column="is_a",
    ).collect()[0]
    assert z.cvm_sum == pytest.approx(0.0, abs=1e-12)


def test_drift_cvm_interleaved_hand_example(spark):
    # a = 0,1,..,99 ; b = 0.5,1.5,..,99.5 — after each a-value the CDF
    # gap is exactly 1/100, after each b-value it closes to 0, so
    # sum m*gap^2 = 100 * (0.01)^2 = 0.01 exactly (every term rounds
    # clean at 12 decimals), while KS sees the same 0.01 as its max
    a = [(float(i), True) for i in range(100)]
    b = [(float(i) + 0.5, False) for i in range(100)]
    df = spark.createDataFrame(a + b, ["v", "is_a"])
    cvm = pf.drift_cvm(df, value_column="v", cohort_column="is_a").collect()[0]
    ks = pf.drift_ks(df, value_column="v", cohort_column="is_a").collect()[0]
    assert ks.ks_numerator / (ks.n_a * ks.n_b) == pytest.approx(0.01)
    assert cvm.cvm_sum == pytest.approx(0.01, abs=1e-12)


def test_exact_order_statistics_matches_sorted_selection(spark):
    import random

    rng = random.Random(17)
    rows = [(i, float(rng.uniform(0, 1000))) for i in range(777)]
    df = spark.createDataFrame(rows, ["id", "v"])
    got = pf.exact_order_statistics(
        df, value_column="v", quantiles=[0.0, 0.25, 0.5, 0.9, 0.99, 1.0],
        id_column="id",
    ).collect()[0]
    ordered = [v for v, _ in sorted((v, i) for i, v in rows)]
    n = len(ordered)
    assert got.n_rows == n
    import math

    for q in (0.0, 0.25, 0.5, 0.9, 0.99, 1.0):
        label = "q_" + str(float(q)).replace(".", "_")
        assert got[label] == ordered[math.floor(q * (n - 1))], q


def test_exact_order_statistics_ties_and_small(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, 5.0), (4, 1.0)], ["id", "v"]
    )
    got = pf.exact_order_statistics(
        df, value_column="v", quantiles=[0.5], id_column="id"
    ).collect()[0]
    assert got.n_rows == 4 and got.q_0_5 == 5.0  # rank floor(0.5*3)=1 -> 5.0


def test_grouped_order_statistics_matches_per_group_selection(spark):
    import math
    import random

    rng = random.Random(23)
    rows = []
    for g in ["a", "b", "c"]:
        for i in range(rng.randint(5, 120)):
            rows.append((g, i, float(rng.uniform(0, 100))))
    df = spark.createDataFrame(rows, ["g", "id", "v"])
    got = {
        r.g: r
        for r in pf.grouped_order_statistics(
            df, group_column="g", value_column="v",
            quantiles=[0.0, 0.5, 0.9], id_column="id",
        ).collect()
    }
    for g in ("a", "b", "c"):
        vals = [v for gg, i, v in rows if gg == g]
        ordered = [v for v, _ in sorted(
            (v, i) for gg, i, v in rows if gg == g)]
        n = len(vals)
        assert got[g].n_rows == n
        for q in (0.0, 0.5, 0.9):
            label = "q_" + str(float(q)).replace(".", "_")
            assert got[g][label] == ordered[math.floor(q * (n - 1))], (g, q)


def _py_cms(values, width, depth):
    import hashlib
    from collections import Counter

    cells = Counter()
    for v in values:
        for i in range(depth):
            h = int(hashlib.md5(f"{i}:{v}".encode()).hexdigest()[:8], 16) % width
            cells[(i, h)] += 1
    return cells


def test_count_min_sketch_equals_python_and_overestimates(spark):
    import hashlib
    from collections import Counter

    vals = [f"u{i % 37}" for i in range(500)] + ["hot"] * 200
    df = spark.createDataFrame([(v,) for v in vals], ["v"]).repartition(7)
    W, D = 32, 4  # narrow on purpose: collisions must appear
    sk = {(r.row, r.pos): r.n for r in pf.count_min_sketch(
        df, "v", width=W, depth=D).collect()}
    assert sk == dict(_py_cms(vals, W, D))

    est = {r.value: r.cms_estimate for r in pf.count_min_estimates(
        df, pf.count_min_sketch(df, "v", width=W, depth=D), "v",
        width=W, depth=D).collect()}
    exact = Counter(vals)
    for v, n in exact.items():
        assert est[v] >= n, v  # the CMS one-sided guarantee, always
    # and at least one collision-free-ish value estimates exactly
    assert any(est[v] == n for v, n in exact.items())
    # python-side estimate identity
    cells = _py_cms(vals, W, D)
    for v, n in exact.items():
        ref = min(
            cells.get(
                (i, int(hashlib.md5(f"{i}:{v}".encode()).hexdigest()[:8], 16) % W),
                0,
            )
            for i in range(D)
        )
        assert est[v] == ref, v


def test_count_min_sketch_merges_by_cell_sum(spark):
    a = spark.createDataFrame([(f"x{i % 5}",) for i in range(60)], ["v"])
    b = spark.createDataFrame([(f"x{i % 7}",) for i in range(80)], ["v"])
    W, D = 16, 3
    merged = (
        pf.count_min_sketch(a, "v", width=W, depth=D)
        .unionByName(pf.count_min_sketch(b, "v", width=W, depth=D))
        .groupBy("row", "pos")
        .agg(F.sum("n").alias("n"))
    )
    whole = pf.count_min_sketch(a.unionByName(b), "v", width=W, depth=D)
    assert {(r.row, r.pos): r.n for r in merged.collect()} == {
        (r.row, r.pos): r.n for r in whole.collect()
    }


def test_drift_ks_by_group_equals_per_group_runs(spark):
    import random

    rng = random.Random(31)
    rows = []
    for g, (lo, hi) in [("a", (0, 30)), ("b", (20, 50)), ("c", (0, 50))]:
        for _ in range(rng.randint(80, 150)):
            rows.append((g, rng.randrange(lo, hi)))
    df = spark.createDataFrame(rows, ["g", "v"])
    multi = {
        r.g: (r.n_a, r.n_b, r.ks_numerator)
        for r in pf.drift_ks_by_group(
            df, group_column="g", value_column="v"
        ).collect()
    }
    for g in ("a", "b", "c"):
        single = pf.drift_ks(
            df, value_column="v", cohort_column=F.col("g") == g
        ).collect()[0]
        assert multi[g] == (
            single.n_a, single.n_b, single.ks_numerator
        ), g
    # binned path agrees with binned single-cohort runs too
    dfd = df.withColumn("v", F.col("v").cast("double") * 1.37)
    multi_b = {
        r.g: r.ks_numerator
        for r in pf.drift_ks_by_group(
            dfd, group_column="g", value_column="v", bins=16
        ).collect()
    }
    for g in ("a", "b", "c"):
        single = pf.drift_ks(
            dfd, value_column="v", cohort_column=F.col("g") == g, bins=16
        ).collect()[0]
        assert multi_b[g] == single.ks_numerator, g


def test_grouped_dataset_card_matches_python_reference(spark):
    rows = [
        (1, "alpha beta", "s1", "en", 10),
        (2, "alpha beta", "s1", "en", 10),     # dup within s1
        (3, "gamma", "s1", "fr", 5),
        (4, "un deux trois", "s2", "fr", 13),
        (5, None, None, "en", 7),              # NULL group excluded
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars long"
    )
    out = {r["source"]: r for r in pf.grouped_dataset_card(df).collect()}
    assert set(out) == {"s1", "s2"}
    s1 = out["s1"]
    assert s1["n_docs"] == 3 and s1["n_langs"] == 2
    assert s1["n_unique_texts"] == 2
    assert abs(s1["mean_tokens"] - (2 + 2 + 1) / 3) < 1e-12
    # s1 chars sorted [5, 10, 10], mx=2: p50 rank 1 -> 10, p95 rank 1 -> 10
    assert s1["p50_chars"] == 10 and s1["p95_chars"] == 10
    s2 = out["s2"]
    assert s2["n_docs"] == 1 and s2["p50_chars"] == 13


def test_exact_auc_single_class_returns_null(spark):
    onlypos = spark.createDataFrame(
        [(i, True) for i in range(5)], "s long, y boolean"
    )
    row = pf.exact_auc(onlypos, score_column="s", label_column="y").collect()[0]
    assert row["auc"] is None and row["n_neg"] == 0


def test_cohen_kappa_matches_python_reference(spark):
    # two raters over 3 categories; hand-computable confusion matrix
    pairs = (
        [("a", "a")] * 10 + [("a", "b")] * 2
        + [("b", "b")] * 7 + [("b", "c")] * 1
        + [("c", "c")] * 4 + [("c", "a")] * 1
    )
    df = spark.createDataFrame(pairs, "r1 string, r2 string")
    row = pf.cohen_kappa(df, a_column="r1", b_column="r2").collect()[0]
    n = len(pairs)
    agree = sum(1 for a, b in pairs if a == b)
    cats = sorted({a for a, _ in pairs} | {b for _, b in pairs})
    s = sum(
        sum(1 for a, _ in pairs if a == k) * sum(1 for _, b in pairs if b == k)
        for k in cats
    )
    expected = (n * agree - s) / (n * n - s)
    assert row.kappa == pytest.approx(expected, abs=1e-12)
    assert row.observed_agreement == pytest.approx(agree / n, abs=1e-12)
    assert row.expected_agreement == pytest.approx(s / (n * n), abs=1e-12)
    assert row.n_rows == n and row.n_categories == 3


def test_cohen_kappa_perfect_and_null_excluded(spark):
    df = spark.createDataFrame(
        [("x", "x"), ("y", "y"), ("x", "x"), (None, "x"), ("y", None)],
        "r1 string, r2 string",
    )
    row = pf.cohen_kappa(df, a_column="r1", b_column="r2").collect()[0]
    assert row.kappa == pytest.approx(1.0) and row.n_rows == 3


def test_js_divergence_identical_zero_disjoint_ln2(spark):
    # identical distributions -> 0; disjoint vocabularies -> quantized ln 2
    rows = (
        [("a", t) for t in ["x", "x", "y"]]
        + [("b", t) for t in ["x", "x", "y"]]
        + [("c", t) for t in ["p", "q", "q", "q"]]
    )
    df = spark.createDataFrame(rows, "g string, v string")
    out = {
        (r.group_a, r.group_b): r
        for r in pf.js_divergence_matrix(
            df, group_column="g", value_column="v"
        ).collect()
    }
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    assert out[("a", "b")].jsd_nats == pytest.approx(0.0, abs=1e-9)
    assert out[("a", "b")].n_common_values == 2
    # a and c share nothing: both missing-mass tails are the whole mass
    assert out[("a", "c")].n_common_values == 0
    assert out[("a", "c")].jsd_nats == pytest.approx(pf.LN2_ROUNDED, abs=1e-9)
    assert (out[("a", "c")].n_a, out[("a", "c")].n_b) == (3, 4)


def test_js_divergence_matches_python_reference(spark):
    import math

    rows = (
        [("a", t) for t in "xxxyyz"]
        + [("b", t) for t in "xyyzzzw"]
    )
    df = spark.createDataFrame(list(rows), "g string, v string")
    row = pf.js_divergence_matrix(
        df, group_column="g", value_column="v"
    ).collect()[0]
    pa = {t: c / 6 for t, c in {"x": 3, "y": 2, "z": 1}.items()}
    pb = {t: c / 7 for t, c in {"x": 1, "y": 2, "z": 3, "w": 1}.items()}
    ref = 0.0
    for t in set(pa) | set(pb):
        p, q = pa.get(t, 0.0), pb.get(t, 0.0)
        m = (p + q) / 2
        if p:
            ref += 0.5 * p * math.log(p / m)
        if q:
            ref += 0.5 * q * math.log(q / m)
    # quantization error: ≤0.5e-9 per term plus ≤0.5e-7·mass on the ln
    assert row.jsd_nats == pytest.approx(ref, abs=1e-6)
    assert row.n_common_values == 3


def test_uncertainty_coefficient_determined_and_independent(spark):
    from pyspark_playground_spark.operators.profiling import (
        uncertainty_coefficient,
    )

    # X determines Y -> U = 1
    det = spark.createDataFrame(
        [("a", "en"), ("a", "en"), ("b", "de"), ("b", "de")], ["x", "y"]
    )
    row = uncertainty_coefficient(det, x_column="x", y_column="y").first()
    assert row["theil_u_q6"] == 1_000_000
    assert row["n_rows"] == 4 and row["n_cells"] == 2

    # independent (balanced 2x2) -> U = 0
    ind = spark.createDataFrame(
        [("a", "en"), ("a", "de"), ("b", "en"), ("b", "de")], ["x", "y"]
    )
    row = uncertainty_coefficient(ind, x_column="x", y_column="y").first()
    assert row["theil_u_q6"] == 0

    # constant Y -> H(Y)=0 -> NULL
    const = spark.createDataFrame([("a", "en"), ("b", "en")], ["x", "y"])
    row = uncertainty_coefficient(const, x_column="x", y_column="y").first()
    assert row["theil_u_q6"] is None


def test_functional_dependencies_census(spark):
    from pyspark_playground_spark.operators.profiling import (
        functional_dependencies,
    )

    df = spark.createDataFrame(
        [
            (1, "a", "x"),
            (1, "a", "y"),   # k->v1 holds; k->v2 violated for k=1
            (2, "b", "z"),
            (None, "c", "w"),  # NULL determinant excluded
        ],
        ["k", "v1", "v2"],
    )
    out = {r["fd"]: r for r in functional_dependencies(
        df, [("k", "v1"), ("k", "v2")]
    ).collect()}
    assert out["k->v1"]["holds"] is True
    assert out["k->v1"]["n_groups"] == 2
    assert out["k->v2"]["holds"] is False
    assert out["k->v2"]["violating_groups"] == 1
    assert out["k->v2"]["max_images"] == 2


def test_isotonic_calibration_matches_pava(spark):
    from pyspark.sql import functions as F

    from pyspark_playground_spark.operators.profiling import (
        isotonic_calibration,
    )

    # scores 0..3 land in 4 distinct bins (bins=4 over [0,3]); rates are
    # 0.0, 1.0, 0.0, 1.0 — PAVA pools bins 1+2 into rate 0.5.
    rows = (
        [(0, False)] * 2
        + [(1, True)] * 2
        + [(2, False)] * 2
        + [(3, True)] * 2
    )
    df = spark.createDataFrame(rows, "s int, y boolean")
    out = {r["bin"]: r for r in isotonic_calibration(
        df, score_column="s", label_column=F.col("y"), bins=4
    ).collect()}
    assert [out[b]["pos_rate"] for b in range(4)] == [0.0, 1.0, 0.0, 1.0]
    fitted = [out[b]["fitted"] for b in range(4)]
    assert fitted == [0.0, 0.5, 0.5, 1.0]
    assert fitted == sorted(fitted)  # monotone by construction


def test_isotonic_calibration_monotone_input_unchanged(spark):
    from pyspark.sql import functions as F

    from pyspark_playground_spark.operators.profiling import (
        isotonic_calibration,
    )

    rows = [(0, False)] * 4 + [(1, False), (1, True)] + [(2, True)] * 3
    df = spark.createDataFrame(rows, "s int, y boolean")
    out = {r["bin"]: r for r in isotonic_calibration(
        df, score_column="s", label_column=F.col("y"), bins=3
    ).collect()}
    for b, r in out.items():
        assert r["fitted"] == r["pos_rate"]  # already isotonic


def test_windowed_isotonic_matches_per_window_pava(spark):
    from datetime import datetime

    from pyspark.sql import functions as F

    from pyspark_playground_spark.streaming import cdc as stc

    # two windows with opposite violation patterns; each must be pooled
    # independently (fitted monotone WITHIN each window).
    rows = []
    h0, h1 = datetime(2026, 1, 1, 0), datetime(2026, 1, 1, 1)
    # window 0: rates 0,1,0,1 over values 0..3 -> fitted 0,.5,.5,1
    for v, y in [(0, False), (1, True), (2, False), (3, True)]:
        rows += [(h0, float(v), "purchase" if y else "view")] * 2
    # window 1: already isotonic 0, 1
    rows += [(h1, 0.0, "view")] * 3 + [(h1, 3.0, "purchase")] * 3
    df = spark.createDataFrame(rows, "ts timestamp_ntz, value double, event_type string")
    bounds = df.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    parts = stc.windowed_label_bins(
        df, bounds=bounds,
        label_column=F.col("event_type") == "purchase",
        bins=4, window_duration="1 hour",
    )
    out = stc.isotonic_vs_bins(parts).collect()
    w0 = {r["bin"]: r["fitted"] for r in out if r["window_start"] == h0}
    w1 = {r["bin"]: r["fitted"] for r in out if r["window_start"] == h1}
    assert [w0[b] for b in range(4)] == [0.0, 0.5, 0.5, 1.0]
    assert w1 == {0: 0.0, 3: 1.0}


def test_mcnemar_counts_and_statistic(spark):
    from pyspark.sql import functions as F

    from pyspark_playground_spark.operators.profiling import mcnemar_test

    rows = (
        [(True, True)] * 4 + [(False, False)] * 3
        + [(True, False)] * 5 + [(False, True)] * 1
        + [(None, True)]  # excluded
    )
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    r = mcnemar_test(df, a_column="a", b_column="b").collect()[0]
    assert (r["n_rows"], r["both_true"], r["both_false"]) == (13, 4, 3)
    assert (r["a_only"], r["b_only"]) == (5, 1)
    assert r["statistic"] == (5 - 1) ** 2 / 6

    sym = spark.createDataFrame([(True, True), (False, False)], "a boolean, b boolean")
    assert mcnemar_test(sym, a_column="a", b_column="b").collect()[0][
        "statistic"
    ] is None


def test_kendall_tau_hand_computed(spark):
    from pyspark_playground_spark.operators.profiling import kendall_tau

    # x = [1,2,3,4], y = [1,3,2,4]: C=5, D=1, no ties -> tau = 4/6
    df = spark.createDataFrame(
        [(1, 1), (2, 3), (3, 2), (4, 4)], "x int, y int"
    )
    r = kendall_tau(df, x_column="x", y_column="y").collect()[0]
    assert (r["concordant_s"], r["discordant_s"]) == ("5", "1")
    assert abs(r["tau_b"] - 4 / 6) < 1e-12

    # ties on both sides: x=[1,1,2,2], y=[1,2,1,2]:
    # C=2, D=2? pairs: (1,1)-(2,1): x+,y0 tie -> neither; ... compute:
    # concordant: (1,1)<(2,2) x2? cells: (1,1),(1,2),(2,1),(2,2) n=1 each
    # C: (1,1)-(2,2)=1; D: (1,2)-(2,1)=1; n0=6, n1=2, n2=2 -> tau=0
    df2 = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (2, 2)], "x int, y int"
    )
    r2 = kendall_tau(df2, x_column="x", y_column="y").collect()[0]
    assert r2["tau_b"] == 0.0

    # constant side -> NULL
    df3 = spark.createDataFrame([(1, 5), (2, 5)], "x int, y int")
    assert kendall_tau(df3, x_column="x", y_column="y").collect()[0][
        "tau_b"
    ] is None


def test_mann_whitney_u_hand_computed(spark):
    """A = [1,2,2,5], B = [2,3,3]: value census 1(1,0) 2(2,1) 3(0,2)
    5(1,0); midranks 1, 3, 5.5, 7 -> R_A = 1+3+3+7 = 14, U_A = 14-10 = 4
    (so u_a_x2 = 8), tie_term = sum(c^3-c) = 24+6 = 30, var =
    (12/12)*((7+1) - 30/(7*6)) = 51/7, z = (8-12)/(2*sqrt(51/7));
    fixture cross-checked by hand against the standard tie-corrected
    normal-approximation formulae (scipy is not in this sandbox)."""
    import math

    from pyspark_playground_spark.operators.profiling import mann_whitney_u

    rows = [("a", v) for v in (1, 2, 2, 5)] + [("b", v) for v in (2, 3, 3)]
    df = spark.createDataFrame(rows, "g string, v int")
    r = mann_whitney_u(
        df, value_column="v", group_column="g", group_a="a", group_b="b"
    ).collect()[0]
    assert (r["n_a"], r["n_b"]) == (4, 3)
    assert r["u_a_x2"] == 8
    assert r["tie_term"] == 30
    # replicate the operator's exact double expression order
    var = 4.0 * 3.0 / 12.0 * ((7.0 + 1.0) - 30.0 / (7.0 * (7.0 - 1.0)))
    z = (8.0 - 4.0 * 3.0) / (2.0 * math.sqrt(var))
    assert r["z_q6"] == math.floor(z * 1e6 + 0.5)

    # all values tied -> variance 0 -> z is NULL (counts still exact)
    tied = spark.createDataFrame(
        [("a", 3), ("a", 3), ("b", 3)], "g string, v int"
    )
    rt = mann_whitney_u(
        tied, value_column="v", group_column="g", group_a="a", group_b="b"
    ).collect()[0]
    assert rt["z_q6"] is None and rt["tie_term"] == 24
    # all midranks 2 -> R_A = 4, R2 = 8, u_a_x2 = 8 - na*(na+1) = 2
    assert rt["u_a_x2"] == 2


def test_chi_square_independence_hand_computed(spark):
    """2x2 table [[10, 20], [20, 10]]: N=60, margins all 30, e=15 per
    cell, chi2 = 4 * 25/15 = 20/3; V = sqrt(chi2/(N*1)) = sqrt(1/9) =
    1/3. Per-cell quantized terms: floor(5/3*1e6+0.5) = 1666667 -> sum
    6666668 (sum-of-quantizations, documented semantics)."""
    from pyspark_playground_spark.operators.profiling import (
        chi_square_independence,
    )

    rows = (
        [("x", "u")] * 10 + [("x", "v")] * 20
        + [("y", "u")] * 20 + [("y", "v")] * 10
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_square_independence(df, a_column="a", b_column="b").collect()[0]
    assert (r["n_rows"], r["n_cells"], r["dof"]) == (60, 4, 1)
    assert r["chi2_x6"] == 4 * 1666667  # each cell: floor(5/3*1e6+0.5)
    # V = sqrt((6666668/1e6)/60) ~= 1/3
    assert abs(r["cramers_v_q6"] - 333333) <= 1

    # degenerate: single column level -> NULL stats, counts still real
    d1 = spark.createDataFrame([("x", "u"), ("x", "v")], "a string, b string")
    r1 = chi_square_independence(d1, a_column="a", b_column="b").collect()[0]
    assert r1["chi2_x6"] is None and r1["cramers_v_q6"] is None
    assert r1["r_levels"] == 1 and r1["c_levels"] == 2


def test_pr_curve_hand_computed(spark):
    """scores/labels: (3,+) (3,-) (2,+) (1,-): thresholds 3,2,1.
    t=3: tp=1 fp=1 fn=1 -> P=500000 R=500000 F1=500000
    t=2: tp=2 fp=1 fn=0 -> P=666666 R=1000000 F1=800000
    t=1: tp=2 fp=2 fn=0 -> P=500000 R=1000000 F1=666666
    (integer DIV floors: 2000000//3 = 666666)."""
    from pyspark_playground_spark.operators.profiling import pr_curve

    df = spark.createDataFrame(
        [(3, True), (3, False), (2, True), (1, False)], "s int, y boolean"
    )
    out = {
        r["threshold"]: r
        for r in pr_curve(df, score_column="s", label_column="y").collect()
    }
    assert set(out) == {1, 2, 3}
    assert (out[3]["tp"], out[3]["fp"], out[3]["fn"]) == (1, 1, 1)
    assert out[3]["precision_x6"] == out[3]["recall_x6"] == 500000
    assert out[3]["f1_x6"] == 500000
    assert (out[2]["tp"], out[2]["fp"], out[2]["fn"]) == (2, 1, 0)
    assert out[2]["precision_x6"] == 666666
    assert out[2]["recall_x6"] == 1000000 and out[2]["f1_x6"] == 800000
    assert out[1]["precision_x6"] == 500000 and out[1]["f1_x6"] == 666666


def test_conformal_threshold_hand_computed(spark):
    """Calibration scores 1..10 (flag true), eval 1..20: alpha = 1/10 ->
    k = ceil(11*0.9) = ceil(9.9) = 10 -> threshold = 10th smallest = 10;
    covered eval rows = scores <= 10 -> 10 of 20 -> coverage 0.5."""
    from pyspark_playground_spark.operators.profiling import (
        conformal_threshold,
    )

    rows = [(i, True) for i in range(1, 11)] + [
        (i, False) for i in range(1, 21)
    ]
    df = spark.createDataFrame(rows, "s int, cal boolean")
    r = conformal_threshold(
        df, score_column="s", calibration_column="cal",
        alpha_num=1, alpha_den=10,
    ).collect()[0]
    assert (r["n_cal"], r["n_eval"]) == (10, 20)
    assert r["k_rank"] == 10 and r["threshold"] == 10
    assert r["n_covered"] == 10 and r["coverage_x6"] == 500000
    assert r["target_x6"] == 900000

    # k > n_cal: 2 calibration points at alpha=1/10 -> k = ceil(2.7) = 3
    # > 2 -> conformal set is everything: NULL threshold, full coverage
    tiny = spark.createDataFrame(
        [(5, True), (7, True), (100, False), (200, False)],
        "s int, cal boolean",
    )
    rt = conformal_threshold(
        tiny, score_column="s", calibration_column="cal",
        alpha_num=1, alpha_den=10,
    ).collect()[0]
    assert rt["k_rank"] == 3 and rt["threshold"] is None
    assert rt["n_covered"] == 2 and rt["coverage_x6"] == 1000000

    # ties: calibration [5,5,5], k = ceil(4*.9) = 4 > 3 -> everything;
    # with alpha=1/2: k = ceil(4*0.5) = 2 -> threshold 5
    ties = spark.createDataFrame(
        [(5, True), (5, True), (5, True), (4, False), (6, False)],
        "s int, cal boolean",
    )
    r2 = conformal_threshold(
        ties, score_column="s", calibration_column="cal",
        alpha_num=1, alpha_den=2,
    ).collect()[0]
    assert r2["k_rank"] == 2 and r2["threshold"] == 5
    assert r2["n_covered"] == 1 and r2["coverage_x6"] == 500000


def test_classification_report_hand_computed(spark):
    """truth/pred pairs: (a,a) x2, (a,b), (b,b), (b,a), (c,b):
    a: support 3, tp 2, fp 1 (b->a), fn 1 -> P=R=F1=2/3
    b: support 2, tp 1, fp 2 (a->b, c->b), fn 1 -> P=1/3 R=1/2 F1=2/5
    c: support 1, tp 0, fp 0, fn 1 -> precision NULL (never predicted),
       recall 0, f1 0."""
    from pyspark_playground_spark.operators.profiling import (
        classification_report,
    )

    df = spark.createDataFrame(
        [("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("b", "a"),
         ("c", "b")],
        "t string, p string",
    )
    out = {
        r["label"]: r
        for r in classification_report(
            df, true_column="t", pred_column="p"
        ).collect()
    }
    assert set(out) == {"a", "b", "c"}
    a, b, c = out["a"], out["b"], out["c"]
    assert (a["support"], a["tp"], a["fp"], a["fn"]) == (3, 2, 1, 1)
    assert a["precision_x6"] == a["recall_x6"] == 666666
    assert a["f1_x6"] == 666666
    assert (b["support"], b["tp"], b["fp"], b["fn"]) == (2, 1, 2, 1)
    assert b["precision_x6"] == 333333 and b["recall_x6"] == 500000
    assert b["f1_x6"] == 400000
    assert (c["support"], c["tp"], c["fp"], c["fn"]) == (1, 0, 0, 1)
    assert c["precision_x6"] is None
    assert c["recall_x6"] == 0 and c["f1_x6"] == 0

    # a predicted-only class (never true) gets support 0, recall NULL
    df2 = spark.createDataFrame([("x", "y")], "t string, p string")
    out2 = {r["label"]: r for r in classification_report(
        df2, true_column="t", pred_column="p").collect()}
    assert out2["y"]["support"] == 0 and out2["y"]["recall_x6"] is None
    assert out2["x"]["precision_x6"] is None and out2["x"]["recall_x6"] == 0


def test_calibration_error_report_hand_computed(spark):
    """Scores in ppm with 2 bins over [0,1e6): rows
    (100000, F), (200000, T), (900000, T), (800000, T), (1000000, T):
    bin0 (ppm<500000): n=2 pos=1 sppm=300000 -> dev=|1e6-300000|=700000
    bin1: n=3 pos=3 sppm=2700000 -> dev=|3e6-2700000|=300000
    ece = (700000+300000) DIV 5 = 200000
    mce = max(700000 DIV 2, 300000 DIV 3) = 350000
    brier terms: (1e5-0)^2 + (2e5-1e6)^2 + (9e5-1e6)^2 + (8e5-1e6)^2
      + (1e6-1e6)^2 = 1e10 + 6.4e11 + 1e10 + 4e10 = 7e11
    brier_x12 = 7e11 DIV 5 = 1.4e11."""
    from pyspark_playground_spark.operators.profiling import (
        calibration_error_report,
    )

    df = spark.createDataFrame(
        [(100000, False), (200000, True), (900000, True),
         (800000, True), (1000000, True)],
        "ppm long, y boolean",
    )
    r = calibration_error_report(
        df, score_ppm_column="ppm", label_column="y", bins=2
    ).collect()[0]
    assert (r["n"], r["n_pos"], r["n_out_of_range"]) == (5, 4, 0)
    assert r["ece_x6"] == 200000
    assert r["mce_x6"] == 350000
    assert r["brier_x12"] == 700_000_000_000 // 5

    # perfectly calibrated constant: ppm=500000, half positive
    flat = spark.createDataFrame(
        [(500000, True), (500000, False)], "ppm long, y boolean"
    )
    rf = calibration_error_report(
        flat, score_ppm_column="ppm", label_column="y", bins=2
    ).collect()[0]
    assert rf["ece_x6"] == 0 and rf["mce_x6"] == 0

    # out-of-range scores are excluded and counted
    oob = spark.createDataFrame(
        [(2_000_000, True), (-5, False), (500000, True)],
        "ppm long, y boolean",
    )
    ro = calibration_error_report(
        oob, score_ppm_column="ppm", label_column="y", bins=2
    ).collect()[0]
    assert ro["n"] == 1 and ro["n_out_of_range"] == 2


def test_windowed_conformal_coverage_detects_shift(spark):
    """Two hours of values: hour 0 draws 1..100, hour 1 draws 201..300
    (shifted). The corpus-level 90% threshold sits inside the pooled
    distribution, hour 0 covers fully, hour 1's coverage collapses ->
    breached."""
    from datetime import datetime

    from pyspark_playground_spark.operators.profiling import (
        windowed_conformal_coverage,
    )

    rows = [(datetime(2026, 1, 1, 0, i % 60, i // 60), float(i + 1))
            for i in range(100)]
    rows += [(datetime(2026, 1, 1, 1, i % 60, i // 60), float(201 + i))
             for i in range(100)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r["window_start"].hour: r for r in windowed_conformal_coverage(
        df, alpha_num=1, alpha_den=10).collect()}
    # pooled n=200 -> k = ceil(201*0.9) = 181 -> threshold = 181st
    # smallest of {1..100, 201..300} = 281
    assert out[0]["n"] == 100 and out[0]["coverage_x6"] == 1_000_000
    assert not out[0]["breached"]
    # hour 1: covered = values <= 281 -> 81 of 100
    assert out[1]["n_covered"] == 81 and out[1]["coverage_x6"] == 810_000
    assert out[1]["breached"]


def test_mondrian_conformal_per_group_thresholds(spark):
    """Group A calibration 1..10, group B calibration 101..120; each
    group gets ITS OWN 90% threshold (A: k=ceil(11*.9)=10 -> 10;
    B: k=ceil(21*.9)=19 -> 119), and eval rows are judged against
    their group's cap — the global envelope would pool them."""
    from pyspark_playground_spark.operators.profiling import (
        conformal_threshold_by_group,
    )

    rows = [("A", i, True) for i in range(1, 11)]
    rows += [("B", 100 + i, True) for i in range(1, 21)]
    rows += [("A", 5, False), ("A", 50, False)]   # 1 covered, 1 not
    rows += [("B", 119, False), ("B", 120, False)]  # covered, not
    df = spark.createDataFrame(rows, "g string, s int, cal boolean")
    out = {r["g"]: r for r in conformal_threshold_by_group(
        df, score_column="s", group_column="g", calibration_column="cal",
        alpha_num=1, alpha_den=10,
    ).collect()}
    a, b = out["A"], out["B"]
    assert (a["n_cal"], a["k_rank"], a["threshold"]) == (10, 10, 10)
    assert (b["n_cal"], b["k_rank"], b["threshold"]) == (20, 19, 119)
    assert a["n_covered"] == 1 and a["coverage_x6"] == 500000
    assert b["n_covered"] == 1 and b["coverage_x6"] == 500000

    # tiny group degenerates to NULL threshold + full coverage
    tiny = spark.createDataFrame(
        [("C", 1, True), ("C", 99, False)], "g string, s int, cal boolean"
    )
    rc = conformal_threshold_by_group(
        tiny, score_column="s", group_column="g", calibration_column="cal",
    ).collect()[0]
    assert rc["threshold"] is None and rc["n_covered"] == 1

    # a group with eval rows but ZERO calibration rows still appears:
    # n_cal=0 / NULL threshold / fully covered by convention
    mixed = spark.createDataFrame(
        [("D", 1, True), ("D", 2, False), ("E", 7, False), ("E", 9, False)],
        "g string, s int, cal boolean",
    )
    rows_m = {r["g"]: r for r in conformal_threshold_by_group(
        mixed, score_column="s", group_column="g", calibration_column="cal",
    ).collect()}
    assert set(rows_m) == {"D", "E"}
    e = rows_m["E"]
    assert (e["n_cal"], e["threshold"]) == (0, None)
    assert e["n_eval"] == 2 and e["n_covered"] == 2
    assert e["coverage_x6"] == 1_000_000


def test_two_proportion_test_hand_computed(spark):
    """A: 30 of 100 convert; B: 20 of 100: pooled p = 0.25,
    var = .25*.75*(2/100), z = .1/sqrt(.00375); risk ratio 1.5."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        two_proportion_test,
    )

    rows = ([(True, True)] * 30 + [(True, False)] * 70
            + [(False, True)] * 20 + [(False, False)] * 80)
    df = spark.createDataFrame(rows, "g boolean, y boolean")
    r = two_proportion_test(
        df, group_column="g", success_column="y"
    ).collect()[0]
    assert (r["n_a"], r["n_b"], r["s_a"], r["s_b"]) == (100, 100, 30, 20)
    assert r["rate_a_x6"] == 300000 and r["rate_b_x6"] == 200000
    assert r["risk_ratio_x6"] == (30 * 100 * 1_000_000) // (20 * 100)
    z = (30 / 100 - 20 / 100) / math.sqrt(
        0.25 * 0.75 * (1 / 100 + 1 / 100)
    )
    assert r["z_q6"] == math.floor(z * 1e6 + 0.5)

    # degenerate: all successes -> zero pooled variance -> z NULL
    allwin = spark.createDataFrame(
        [(True, True), (False, True)], "g boolean, y boolean"
    )
    rz = two_proportion_test(
        allwin, group_column="g", success_column="y"
    ).collect()[0]
    assert rz["z_q6"] is None and rz["risk_ratio_x6"] == 1_000_000


def test_anova_oneway_hand_computed(spark):
    """A=[1,2,3], B=[5,6,7]: means 2 and 6, grand 4 -> SSB = 3*4+3*4=24,
    SSW = 2+2 = 4, F = (24/1)/(4/4) = 24."""
    from pyspark_playground_spark.operators.profiling import anova_oneway

    df = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("A", 3.0),
         ("B", 5.0), ("B", 6.0), ("B", 7.0)],
        "g string, v double",
    )
    r = anova_oneway(df, value_column="v", group_column="g").collect()[0]
    assert (r["n_rows"], r["k_groups"]) == (6, 2)
    assert (r["dof_between"], r["dof_within"]) == (1, 4)
    assert r["ssb_s"] == "24" and r["ssw_s"] == "4"
    assert r["f_q6"] == 24_000_000

    # zero within-group variance -> F undefined (NULL), SS still reported
    z = spark.createDataFrame(
        [("A", 1.0), ("A", 1.0), ("B", 2.0), ("B", 2.0)],
        "g string, v double",
    )
    rz = anova_oneway(z, value_column="v", group_column="g").collect()[0]
    assert rz["ssw_s"] == "0" and rz["f_q6"] is None

    # single group -> no between-group comparison
    one = spark.createDataFrame([("A", 1.0), ("A", 5.0)], "g string, v double")
    ro = anova_oneway(one, value_column="v", group_column="g").collect()[0]
    assert ro["k_groups"] == 1 and ro["f_q6"] is None


def test_drift_jsd_hand_computed_and_bounds(spark):
    """Identical distributions -> JSD exactly 0 (every per-bin log2
    ratio is log2(1)=0); near-disjoint -> close to 1 bit; always
    symmetric in the cohort flag."""
    from pyspark_playground_spark.operators.profiling import drift_jsd

    same = spark.createDataFrame(
        [(v, c) for v in (1, 2, 3) for c in (True, False) for _ in range(5)],
        "v int, a boolean",
    )
    r = drift_jsd(same, value_column="v", cohort_column="a").collect()[0]
    assert r["jsd"] == 0.0 and r["n_bins"] == 3
    assert (r["n_a"], r["n_b"]) == (15, 15)

    # disjoint supports (many rows so smoothing barely dents the bound)
    dis = spark.createDataFrame(
        [(1, True)] * 200 + [(2, False)] * 200, "v int, a boolean"
    )
    rd = drift_jsd(dis, value_column="v", cohort_column="a").collect()[0]
    assert 0.9 < rd["jsd"] <= 1.0

    # symmetry: flipping the cohort flag leaves JSD unchanged
    rf = drift_jsd(
        dis, value_column="v", cohort_column=~F.col("a")
    ).collect()[0]
    assert rf["jsd"] == rd["jsd"]


def test_cuped_hand_computed_and_invariances(spark):
    """Perfectly correlated covariate (y = 3x + cohort-shift): theta = 3,
    adjusted effect equals the raw shift where the cohorts have equal
    covariate means... and when cohort A has HIGHER covariate mass, the
    CUPED effect strips exactly theta * (covariate gap); variance
    reduction = corr^2 = 1 for an exact linear relation (so y* is
    constant up to the shift). Constant covariate -> theta NULL."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        cuped_adjusted_effect,
    )

    # cohort A: x in 1..4 plus metric shift +10; cohort B: x in 1..4
    rows = [(float(x), 3.0 * x + 10.0, True) for x in range(1, 5)]
    rows += [(float(x), 3.0 * x, False) for x in range(1, 5)]
    df = spark.createDataFrame(rows, "x double, y double, a boolean")
    r = cuped_adjusted_effect(
        df, metric_column="y", covariate_column="x", cohort_column="a"
    ).collect()[0]
    assert (r["n_a"], r["n_b"]) == (4, 4)
    # pooled theta: equal covariate distributions in both cohorts -> the
    # +10 shift is uncorrelated with x -> theta = 3 exactly
    assert r["theta_q6"] == 3_000_000
    assert r["effect_raw_q6"] == 10_000_000
    # equal covariate means -> CUPED leaves the effect untouched
    assert r["effect_cuped_q6"] == 10_000_000

    # covariate-imbalanced cohorts (A's x shifted +2): the POOLED theta
    # then absorbs treatment signal — CUPED assumes randomized (balanced)
    # assignment, so here we only pin the arithmetic against an exact
    # python mirror of the same quantized moments
    rows2 = [(float(x + 2), 3.0 * (x + 2) + 10.0, True)
             for x in range(1, 5)]
    rows2 += [(float(x), 3.0 * x, False) for x in range(1, 5)]
    df2 = spark.createDataFrame(rows2, "x double, y double, a boolean")
    r2 = cuped_adjusted_effect(
        df2, metric_column="y", covariate_column="x", cohort_column="a"
    ).collect()[0]
    assert r2["effect_raw_q6"] == 16_000_000   # 10 + 3*2 imbalance
    xq = [math.floor(x * 1e6 + 0.5) for x, _, _ in rows2]
    yq = [math.floor(y * 1e6 + 0.5) for _, y, _ in rows2]
    aa = [a for _, _, a in rows2]
    n = len(rows2)
    sx, sy = sum(xq), sum(yq)
    sxy = sum(x * y for x, y in zip(xq, yq))
    sxx = sum(x * x for x in xq)
    theta = (sxy / n - (sx / n) * (sy / n)) / (
        sxx / n - (sx / n) * (sx / n)
    )
    na = sum(aa)
    eff_raw = (sum(y for y, a in zip(yq, aa) if a) / na
               - sum(y for y, a in zip(yq, aa) if not a) / (n - na))
    gap = (sum(x for x, a in zip(xq, aa) if a) / na
           - sum(x for x, a in zip(xq, aa) if not a) / (n - na))
    assert r2["effect_cuped_q6"] == math.floor(eff_raw - theta * gap + 0.5)

    # constant covariate: var(x)=0 -> theta/cuped/reduction NULL
    const = spark.createDataFrame(
        [(1.0, 5.0, True), (1.0, 7.0, False)], "x double, y double, a boolean"
    )
    rc = cuped_adjusted_effect(
        const, metric_column="y", covariate_column="x", cohort_column="a"
    ).collect()[0]
    assert rc["theta_q6"] is None and rc["effect_cuped_q6"] is None
    assert rc["effect_raw_q6"] == -2_000_000


def test_required_sample_size_hand_computed(spark):
    """Observed 20% baseline, 10% relative MDE (-> p2 = 0.22): the
    classic normal-approx formula gives ~6,510 per arm (statsmodels
    cross-checked offline); our conservative ceil matches the exact
    python mirror; degenerate baselines yield NULLs."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        _Z_ALPHA_975,
        _Z_POWER_800,
        required_sample_size_report,
    )

    rows = [(True,)] * 20 + [(False,)] * 80
    df = spark.createDataFrame(rows, "y boolean")
    r = required_sample_size_report(
        df, success_column="y", mde_rel_ppm=100_000
    ).collect()[0]
    assert (r["n_observed"], r["n_success"]) == (100, 20)
    assert r["baseline_ppm"] == 200_000 and r["lifted_ppm"] == 220_000
    p1, p2 = 0.2, 0.2 * 1.1
    pbar = (p1 + p2) / 2
    num = (_Z_ALPHA_975 * math.sqrt(2 * pbar * (1 - pbar))
           + _Z_POWER_800 * math.sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
    expect = math.ceil(num * num / (p2 - p1) ** 2)
    assert r["n_required_per_arm"] == expect
    assert 6000 < expect < 7000  # sanity: the textbook ballpark

    # all-success baseline: no variance to power against
    ones = spark.createDataFrame([(True,)] * 5, "y boolean")
    ro = required_sample_size_report(ones, success_column="y").collect()[0]
    assert ro["n_required_per_arm"] is None

    # zero MDE (r8 ADVICE): (p2-p1)^2 = 0 must report NULL, not
    # Long.MaxValue from an Infinity cast
    rz = required_sample_size_report(
        df, success_column="y", mde_rel_ppm=0
    ).collect()[0]
    assert rz["n_required_per_arm"] is None and rz["lifted_ppm"] is None
    assert rz["baseline_ppm"] == 200_000  # baseline itself still reports

    # NEGATIVE MDE (power to detect a 10% DROP) stays supported: the
    # formula is symmetric in (p2-p1)^2, so n matches the python mirror
    rn = required_sample_size_report(
        df, success_column="y", mde_rel_ppm=-100_000
    ).collect()[0]
    p1n, p2n = 0.2, 0.2 * 0.9
    pbn = (p1n + p2n) / 2
    numn = (_Z_ALPHA_975 * math.sqrt(2 * pbn * (1 - pbn))
            + _Z_POWER_800 * math.sqrt(p1n * (1 - p1n) + p2n * (1 - p2n)))
    assert rn["n_required_per_arm"] == math.ceil(
        numn * numn / (p2n - p1n) ** 2
    )
    assert rn["lifted_ppm"] == 180_000


def test_delta_ratio_hand_computed_and_guards(spark):
    """Exact python mirror of the quantized delta-method moments; the
    degenerate frames answer NULL instead of lying: sx=0 kills every
    output, n=1 keeps the ratio but refuses an SE."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        delta_method_ratio_ci,
    )

    rows = [(3.0, 2.0), (5.0, 4.0), (2.0, 1.0), (8.0, 5.0), (1.0, 2.0)]
    df = spark.createDataFrame(rows, "y double, x double")
    r = delta_method_ratio_ci(
        df, numerator_column="y", denominator_column="x"
    ).collect()[0]
    yq = [math.floor(y * 1e6 + 0.5) for y, _ in rows]
    xq = [math.floor(x * 1e6 + 0.5) for _, x in rows]
    n = len(rows)
    sx, sy = sum(xq), sum(yq)
    sxy = sum(a * b for a, b in zip(xq, yq))
    sxx = sum(a * a for a in xq)
    syy = sum(a * a for a in yq)
    rr = sy / sx
    vx = sxx / n - (sx / n) * (sx / n)
    vy = syy / n - (sy / n) * (sy / n)
    cxy = sxy / n - (sx / n) * (sy / n)
    var_r = (vy - 2.0 * rr * cxy + rr * rr * vx) * n / (sx * sx)
    z = 1.959963984540054
    assert r["n_units"] == 5
    assert r["ratio_q6"] == math.floor(rr * 1e6 + 0.5)
    assert r["se_q6"] == math.floor(math.sqrt(var_r) * 1e6 + 0.5)
    assert r["ci_lo_q6"] == math.floor(
        (rr - z * math.sqrt(var_r)) * 1e6 + 0.5
    )
    assert r["ci_hi_q6"] == math.floor(
        (rr + z * math.sqrt(var_r)) * 1e6 + 0.5
    )

    # zero denominator mass: every output NULL (ratio undefined)
    zero = spark.createDataFrame(
        [(1.0, 1.0), (2.0, -1.0)], "y double, x double"
    )
    rz = delta_method_ratio_ci(
        zero, numerator_column="y", denominator_column="x"
    ).collect()[0]
    assert rz["ratio_q6"] is None and rz["se_q6"] is None

    # a single unit: the ratio is defined, an SE is not
    one = spark.createDataFrame([(4.0, 2.0)], "y double, x double")
    ro = delta_method_ratio_ci(
        one, numerator_column="y", denominator_column="x"
    ).collect()[0]
    assert ro["ratio_q6"] == 2_000_000 and ro["se_q6"] is None


def test_jackknife_ratio_mirror_and_delta_agreement(spark):
    """The bucket jackknife against an exact python mirror (md5 bucket
    replay, integer leave-out ratios), agreement with the delta method
    on a well-behaved frame (the two estimate the same asymptotic
    variance), and partitioning invariance."""
    import hashlib
    import math

    from pyspark_playground_spark.operators.profiling import (
        delta_method_ratio_ci,
        jackknife_ratio_buckets,
    )

    # 240 units, deterministic "noise" via index arithmetic
    rows = [
        (
            float(i),
            2.5 * (1.0 + (i % 7)) + ((i * 37) % 11 - 5) * 0.3,
            1.0 + (i % 7),
        )
        for i in range(240)
    ]
    df = spark.createDataFrame(rows, "k double, y double, x double")
    B = 16
    jk = jackknife_ratio_buckets(
        df,
        numerator_column="y",
        denominator_column="x",
        key_columns=["k"],
        buckets=B,
    ).collect()[0]

    # python mirror
    def bucket(k):
        h = hashlib.md5(str(k).encode()).hexdigest()[:8]
        return int(h, 16) % B

    from collections import defaultdict

    bx, by = defaultdict(int), defaultdict(int)
    for k, y, x in rows:
        b = bucket(k)
        by[b] += math.floor(y * 1e6 + 0.5)
        bx[b] += math.floor(x * 1e6 + 0.5)
    sx, sy = sum(bx.values()), sum(by.values())
    rbs = [
        math.floor((sy - by[b]) / (sx - bx[b]) * 1e9 + 0.5) for b in bx
    ]
    bb = len(rbs)
    sr, srr = sum(rbs), sum(v * v for v in rbs)
    var_jk = (bb - 1.0) / bb * ((srr - sr * sr / bb) / 1e18)
    assert jk["n_units"] == 240 and jk["n_buckets"] == bb
    assert jk["ratio_q6"] == math.floor(sy / sx * 1e6 + 0.5)
    assert jk["se_jk_q6"] == math.floor(math.sqrt(var_jk) * 1e6 + 0.5)

    # delta-method cross-check: same ratio, SEs within 40% of each other
    dl = delta_method_ratio_ci(
        df, numerator_column="y", denominator_column="x"
    ).collect()[0]
    assert dl["ratio_q6"] == jk["ratio_q6"]
    assert dl["se_q6"] > 0 and jk["se_jk_q6"] > 0
    assert (
        abs(dl["se_q6"] - jk["se_jk_q6"])
        / max(dl["se_q6"], jk["se_jk_q6"])
        < 0.40
    )

    # partitioning invariance: the exact-integer reduce is order-free
    jk2 = jackknife_ratio_buckets(
        df.repartition(7),
        numerator_column="y",
        denominator_column="x",
        key_columns=["k"],
        buckets=B,
    ).collect()[0]
    assert jk2 == jk

    # one bucket only (single key) -> B=1 -> SE refused
    onek = spark.createDataFrame(
        [(1.0, 2.0, 1.0), (1.0, 3.0, 1.0)], "k double, y double, x double"
    )
    r1 = jackknife_ratio_buckets(
        onek,
        numerator_column="y",
        denominator_column="x",
        key_columns=["k"],
        buckets=B,
    ).collect()[0]
    assert r1["n_buckets"] == 1 and r1["se_jk_q6"] is None
    assert r1["ratio_q6"] == 2_500_000


def test_fdr_bh_two_proportion_mirror_and_properties(spark):
    """Python mirror of the full chain (pooled z, A&S 26.2.17 tail with
    the quantized exp, integer BH step-up) over hand-built cohort
    counts; degenerate groups carry NULLs and stay out of m; adjusted
    p never drops below raw p; a null effect reports p ~ 1."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        fdr_bh_two_proportion,
    )

    # groups: g1 strong effect, g2 mild, g3 null, g4 degenerate
    # (cohort B empty)
    counts = {
        "g1": (200, 150, 200, 50),   # n_a, s_a, n_b, s_b
        "g2": (200, 110, 200, 90),
        "g3": (200, 100, 200, 100),
        "g4": (10, 5, 0, 0),
    }
    rows = []
    for grp, (na, sa, nb, sb) in counts.items():
        rows += [(grp, True, True)] * sa
        rows += [(grp, True, False)] * (na - sa)
        rows += [(grp, False, True)] * sb
        rows += [(grp, False, False)] * (nb - sb)
    df = spark.createDataFrame(rows, "grp string, a boolean, y boolean")
    out = {
        r["grp"]: r
        for r in fdr_bh_two_proportion(
            df,
            group_column="grp",
            cohort_column="a",
            success_column="y",
            alpha_ppm=50_000,
        ).collect()
    }

    def p_two_sided(na, sa, nb, sb):
        pool = (sa + sb) / (na + nb)
        z = (sa / na - sb / nb) / math.sqrt(
            pool * (1.0 - pool) * (1.0 / na + 1.0 / nb)
        )
        az = abs(z)
        phi = (
            math.floor(math.exp(az * az / -2.0) * 1e12 + 0.5) / 1e12
        ) * 0.3989422804014327
        tt = 1.0 / (1.0 + 0.2316419 * az)
        horner = (
            (
                ((1.330274429 * tt + -1.821255978) * tt + 1.781477937)
                * tt
                + -0.356563782
            )
            * tt
            + 0.319381530
        ) * tt
        p = 2.0 * (phi * horner)
        return z, min(math.floor(p * 1e9 + 0.5), 10**9)

    ps = {}
    for grp, (na, sa, nb, sb) in counts.items():
        if nb == 0:
            continue
        z, pq = p_two_sided(na, sa, nb, sb)
        assert out[grp]["z_q6"] == math.floor(z * 1e6 + 0.5), grp
        assert out[grp]["p_q9"] == pq, grp
        ps[grp] = pq
    # BH step-up mirror over the 3 testable groups
    m = len(ps)
    ranked = sorted(ps.items(), key=lambda kv: (kv[1], kv[0]))
    adj, run = {}, 10**9
    for i in range(m - 1, -1, -1):
        grp, pq = ranked[i]
        run = min(run, (pq * m) // (i + 1))
        adj[grp] = min(run, 10**9)
    for grp, aq in adj.items():
        assert out[grp]["p_adj_q9"] == aq, grp
        assert aq >= ps[grp]  # adjusted never below raw
    # strong effect rejected, null not; degenerate all-NULL
    assert bool(out["g1"]["reject"]) is True
    assert bool(out["g3"]["reject"]) is False
    assert out["g3"]["p_q9"] > 990_000_000
    assert out["g4"]["p_q9"] is None
    assert out["g4"]["p_adj_q9"] is None and out["g4"]["reject"] is None


def test_wasserstein1_hand_computed(spark):
    """Textbook fixtures: a unit shift of a point mass costs exactly
    the shift; identical distributions cost 0; a two-step shift costs
    twice a one-step; the binned path bounds continuous domains; empty
    cohort -> NULL."""
    from pyspark_playground_spark.operators.profiling import (
        drift_wasserstein1,
    )

    # A = {0,0}, B = {1,1}: W1 = 1 exactly
    df = spark.createDataFrame(
        [(0, True), (0, True), (1, False), (1, False)],
        "v bigint, a boolean",
    )
    r = drift_wasserstein1(
        df, value_column="v", cohort_column="a"
    ).collect()[0]
    assert (r["n_a"], r["n_b"]) == (2, 2)
    # |CDF gap| at v=0 is 1 over a gap of 1: numerator = |2*2-0*2|*1 = 4
    assert r["w1_numerator"] == 4 and r["w1_q6"] == 1_000_000

    # identical: 0
    df2 = spark.createDataFrame(
        [(5, True), (7, True), (5, False), (7, False)],
        "v bigint, a boolean",
    )
    r2 = drift_wasserstein1(
        df2, value_column="v", cohort_column="a"
    ).collect()[0]
    assert r2["w1_q6"] == 0

    # A = {0}, B = {2}: W1 = 2 (distance matters — KS would be 1 in
    # both this and the unit-shift case)
    df3 = spark.createDataFrame(
        [(0, True), (2, False)], "v bigint, a boolean"
    )
    r3 = drift_wasserstein1(
        df3, value_column="v", cohort_column="a"
    ).collect()[0]
    assert r3["w1_q6"] == 2_000_000

    # binned: W1 in bin units — {0..9} vs {10..19} at 2 bins -> 1 bin
    rows = [(float(i), True) for i in range(10)] + [
        (float(i + 10), False) for i in range(10)
    ]
    df4 = spark.createDataFrame(rows, "v double, a boolean")
    r4 = drift_wasserstein1(
        df4, value_column="v", cohort_column="a", bins=2
    ).collect()[0]
    assert r4["w1_q6"] == 1_000_000

    # empty cohort -> NULL metric
    df5 = spark.createDataFrame([(1, True)], "v bigint, a boolean")
    r5 = drift_wasserstein1(
        df5, value_column="v", cohort_column="a"
    ).collect()[0]
    assert r5["w1_q6"] is None and r5["n_b"] == 0


def test_difference_in_differences_hand_computed(spark):
    """Constructed parallel-trends panel: control rises by 5, treated
    by 5 + a true effect of 3 -> DiD = 3 exactly; the python mirror
    pins the SE; an empty cell refuses."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        difference_in_differences,
    )

    rows = []
    # control: pre 10/12, post 15/17 (both +5)
    rows += [(10.0, False, False), (12.0, False, False),
             (15.0, False, True), (17.0, False, True)]
    # treated: pre 20/22, post 28/30 (+5 trend +3 effect)
    rows += [(20.0, True, False), (22.0, True, False),
             (28.0, True, True), (30.0, True, True)]
    df = spark.createDataFrame(rows, "y double, t boolean, p boolean")
    r = difference_in_differences(
        df, metric_column="y", cohort_column="t", period_column="p"
    ).collect()[0]
    assert r["did_q6"] == 3_000_000
    assert (r["n_treat_pre"], r["n_treat_post"]) == (2, 2)

    # python mirror of the SE (every cell has population var 1 in q6^2
    # units: values ±1 around the mean, n=2 -> var/n = 0.5e12)
    se = math.sqrt(4 * (1e12 / 2))
    assert r["se_q6"] == math.floor(se + 0.5)
    z = 1.959963984540054
    assert r["ci_lo_q6"] == math.floor(3_000_000 - z * se + 0.5)

    # empty treated-post cell: estimate refused
    df2 = spark.createDataFrame(
        [row for row in rows if not (row[1] and row[2])],
        "y double, t boolean, p boolean",
    )
    r2 = difference_in_differences(
        df2, metric_column="y", cohort_column="t", period_column="p"
    ).collect()[0]
    assert r2["did_q6"] is None and r2["se_q6"] is None
    assert r2["n_treat_post"] == 0


def test_required_sample_size_continuous_mirror(spark):
    """Textbook check: mean 100, sd 10, 10% relative MDE (delta 10) ->
    n = 2*(z_a+z_b)^2 * (sd/delta)^2 ~ 15.7 -> ceil 16; zero-variance
    and zero-mean frames refuse."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        required_sample_size_continuous,
    )

    # values 90/110 around mean 100 -> population var 100 (sd 10)
    rows = [(90.0,), (110.0,)] * 50
    df = spark.createDataFrame(rows, "y double")
    r = required_sample_size_continuous(
        df, metric_column="y", mde_rel_ppm=100_000
    ).collect()[0]
    assert r["n_observed"] == 100
    assert r["mean_q6"] == 100_000_000
    assert r["sd_q6"] == 10_000_000
    z = 1.959963984540054 + 0.8416212335729143
    # q6 units cancel in var/delta^2
    expect = math.ceil(2.0 * (z * z) * (1e14 / (1e7 * 1e7)))
    assert r["n_required_per_arm"] == expect == 16

    # constant metric: sigma = 0 -> refuse
    c = spark.createDataFrame([(5.0,)] * 4, "y double")
    rc = required_sample_size_continuous(
        c, metric_column="y", mde_rel_ppm=100_000
    ).collect()[0]
    assert rc["n_required_per_arm"] is None and rc["sd_q6"] == 0

    # zero mean: a relative MDE has no scale -> refuse
    zm = spark.createDataFrame([(-1.0,), (1.0,)], "y double")
    rz = required_sample_size_continuous(
        zm, metric_column="y", mde_rel_ppm=100_000
    ).collect()[0]
    assert rz["n_required_per_arm"] is None

    # degenerate MDE refuses (the r7 ADVICE class)
    rm = required_sample_size_continuous(
        df, metric_column="y", mde_rel_ppm=0
    ).collect()[0]
    assert rm["n_required_per_arm"] is None


def test_cochran_armitage_trend_mirror(spark):
    """Monotone dose-response scores positive z pinned by a python
    mirror; a flat rate scores ~0; reversed dose flips the sign;
    single-score and all-success frames refuse."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        cochran_armitage_trend,
    )

    # rates rise with x: 20% / 50% / 80% at x = 0/1/2, n=10 each
    rows = []
    for x, s in ((0, 2), (1, 5), (2, 8)):
        rows += [(x, True)] * s + [(x, False)] * (10 - s)
    df = spark.createDataFrame(rows, "x bigint, y boolean")
    r = cochran_armitage_trend(
        df, score_column="x", success_column="y"
    ).collect()[0]
    N, S = 30, 15
    sx = 0 * 2 + 1 * 5 + 2 * 8
    nx = 10 * (0 + 1 + 2)
    nxx = 10 * (0 + 1 + 4)
    p = S / N
    tstat = sx - p * nx
    var = p * (1.0 - p) * (nxx - (nx * nx) / N)
    assert r["z_q6"] == math.floor(tstat / math.sqrt(var) * 1e6 + 0.5)
    assert r["z_q6"] > 2_000_000  # clearly positive trend
    assert (r["n_total"], r["n_success"], r["n_scores"]) == (30, 15, 3)

    # reversed dose: sign flips exactly
    rev = spark.createDataFrame(
        [(2 - x, y) for x, y in rows], "x bigint, y boolean"
    )
    rr = cochran_armitage_trend(
        rev, score_column="x", success_column="y"
    ).collect()[0]
    assert rr["z_q6"] == -r["z_q6"]

    # flat rate: z ~ 0
    flat = []
    for x in (0, 1, 2):
        flat += [(x, True)] * 5 + [(x, False)] * 5
    rf = cochran_armitage_trend(
        spark.createDataFrame(flat, "x bigint, y boolean"),
        score_column="x", success_column="y",
    ).collect()[0]
    assert rf["z_q6"] == 0

    # single score class: var 0 -> refuse
    one = spark.createDataFrame(
        [(1, True), (1, False)], "x bigint, y boolean"
    )
    ro = cochran_armitage_trend(
        one, score_column="x", success_column="y"
    ).collect()[0]
    assert ro["z_q6"] is None


def test_mantel_haenszel_mirror_and_simpson(spark):
    """Python mirror over two hand strata; and the Simpson check: a
    within-stratum OR of exactly 1 pools to 1 even when the MARGINAL
    table shows an association from confounded stratum sizes."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        mantel_haenszel_or,
    )

    # stratum 1: a=8 b=2 c=4 d=1  (OR = 8*1/(2*4) = 1)
    # stratum 2: a=1 b=4 c=2 d=8  (OR = 8/8 = 1)
    rows = []
    rows += [("s1", True, True)] * 8 + [("s1", True, False)] * 2
    rows += [("s1", False, True)] * 4 + [("s1", False, False)] * 1
    rows += [("s2", True, True)] * 1 + [("s2", True, False)] * 4
    rows += [("s2", False, True)] * 2 + [("s2", False, False)] * 8
    df = spark.createDataFrame(rows, "st string, c boolean, y boolean")
    r = mantel_haenszel_or(
        df, stratum_column="st", cohort_column="c", success_column="y"
    ).collect()[0]

    def q9(x):
        return math.floor(x * 1e9 + 0.5)

    sn = sd = se = sv = 0
    for a, b, c, d in ((8, 2, 4, 1), (1, 4, 2, 8)):
        n = float(a + b + c + d)
        sn += q9(a * d / n)
        sd += q9(b * c / n)
        se += q9((a + b) * (a + c) / n)
        sv += q9((a + b) * (c + d) * (a + c) * (b + d)
                 / (n * n * (n - 1.0)))
    assert r["or_mh_q6"] == math.floor(sn / sd * 1e6 + 0.5)
    # both strata have OR exactly 1 -> pooled OR exactly 1
    assert r["or_mh_q6"] == 1_000_000
    sa = 8 + 1
    chi2 = (sa - se / 1e9) ** 2 / (sv / 1e9)
    assert r["chi2_q6"] == math.floor(chi2 * 1e6 + 0.5)
    assert (r["n_strata"], r["n_rows"]) == (2, 30)
    # ... while the MARGINAL (collapsed) table is confounded away
    # from OR=1: a=9 b=6 c=6 d=9 -> OR = 81/36 = 2.25
    marg = mantel_haenszel_or(
        df.withColumn("st", F.lit("all")),
        stratum_column="st", cohort_column="c", success_column="y",
    ).collect()[0]
    assert marg["or_mh_q6"] == 2_250_000


def test_kruskal_wallis_mirror_and_reductions(spark):
    """Textbook no-tie fixture pinned against the closed form, the
    2-group case cross-checked against scipy-free hand H, ties flow
    through the correction, and degenerate frames refuse."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        kruskal_wallis,
    )

    # three groups, no ties: values 1..9, groups get {1,4,7},{2,5,8},
    # {3,6,9} -> rank sums 12/15/18
    rows = [(float(v), "g" + str(v % 3)) for v in range(1, 10)]
    df = spark.createDataFrame(rows, "v double, g string")
    r = kruskal_wallis(
        df, value_column="v", group_column="g"
    ).collect()[0]
    n = 9
    rsums = {0: 3 + 6 + 9, 1: 1 + 4 + 7, 2: 2 + 5 + 8}
    s = sum(
        math.floor((2 * rs) ** 2 / (4.0 * 3) * 1e6 + 0.5)
        for rs in rsums.values()
    )
    h = 12.0 / (n * (n + 1.0)) * (s / 1e6) - 3.0 * (n + 1.0)
    assert r["h_q6"] == math.floor(h * 1e6 + 0.5)
    # no ties: corrected == raw
    assert r["h_tie_q6"] == r["h_q6"]
    assert (r["n_total"], r["n_groups"]) == (9, 3)

    # maximally separated groups approach the theoretical H bound
    sep = [(float(i), "lo") for i in range(10)] + [
        (float(i + 100), "hi") for i in range(10)
    ]
    rs = kruskal_wallis(
        spark.createDataFrame(sep, "v double, g string"),
        value_column="v", group_column="g",
    ).collect()[0]
    assert rs["h_q6"] > 14_000_000  # ~14.29 for n=20, k=2 split

    # all values tied: correction denominator 0 -> NULL corrected
    tied = spark.createDataFrame(
        [(1.0, "a"), (1.0, "b"), (1.0, "a")], "v double, g string"
    )
    rt = kruskal_wallis(
        tied, value_column="v", group_column="g"
    ).collect()[0]
    assert rt["h_tie_q6"] is None

    # single group: refuse
    one = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a")], "v double, g string"
    )
    ro = kruskal_wallis(
        one, value_column="v", group_column="g"
    ).collect()[0]
    assert ro["h_q6"] is None and ro["h_tie_q6"] is None


def test_friedman_test_mirror_and_contract(spark):
    """Textbook no-tie fixture (consistent treatment ordering across
    blocks -> maximal chi2 = b·(k−1) = 2·(k−1)·... pinned exactly via
    the integral form); incomplete blocks drop and are counted; a
    fully tied design refuses."""
    from pyspark_playground_spark.operators.profiling import (
        friedman_test,
    )

    # 3 blocks x 3 treatments, treatment C always best, A always worst
    rows = []
    for b, base in (("b1", 0.0), ("b2", 10.0), ("b3", 20.0)):
        rows += [(b, "A", base + 1.0), (b, "B", base + 2.0),
                 (b, "C", base + 3.0)]
    # plus one incomplete block (missing treatment C)
    rows += [("b4", "A", 1.0), ("b4", "B", 2.0)]
    df = spark.createDataFrame(rows, "b string, t string, v double")
    r = friedman_test(
        df, block_column="b", treatment_column="t", value_column="v"
    ).collect()[0]
    assert (r["n_blocks"], r["n_treatments"]) == (3, 3)
    assert r["n_blocks_dropped"] == 1
    # perfect consistency: R2 per treatment = b*(2r-? ) -> ranks 1/2/3
    # in every block; doubled ranks 2/4/6; R2 = (6, 12, 18); b(k+1)=12
    # S = 36+0+36 = 72; A2 = 3*(4+16+36) = 168; C2 = 3*3*16 = 144
    # chi2 = (k-1)*S/(A2-C2) = 2*72/24 = 6  (the b(k-1) maximum)
    assert r["chi2_q6"] == 6_000_000

    # fully tied: refuse
    tied = spark.createDataFrame(
        [(b, t, 1.0) for b in ("x", "y") for t in ("A", "B")],
        "b string, t string, v double",
    )
    rt = friedman_test(
        tied, block_column="b", treatment_column="t", value_column="v"
    ).collect()[0]
    assert rt["chi2_q6"] is None


def test_cochran_q_mirror_and_reductions(spark):
    """Hand 2x... fixture pinned against the closed form; the k=2 case
    agrees with McNemar's identity Q = (b-c)^2/(b+c); no-variation
    designs refuse; missing cells count as failure."""
    import math

    from pyspark_playground_spark.operators.profiling import cochran_q

    # blocks 1..4, treatments A/B/C; successes:
    # b1: A,B  b2: A  b3: A,B,C  b4: (none — missing rows = failures)
    rows = [
        (1, "A", True), (1, "B", True), (1, "C", False),
        (2, "A", True), (2, "B", False), (2, "C", False),
        (3, "A", True), (3, "B", True), (3, "C", True),
        (4, "A", False),  # b4 has no B/C rows at all
    ]
    df = spark.createDataFrame(rows, "b bigint, t string, y boolean")
    r = cochran_q(
        df, block_column="b", treatment_column="t", success_column="y"
    ).collect()[0]
    k = 3
    R = [2, 1, 3, 0]
    C = [3, 2, 1]
    N = sum(R)
    q = (k - 1) * (k * sum(c * c for c in C) - N * N) / (
        k * N - sum(x * x for x in R)
    )
    assert r["q_q6"] == math.floor(q * 1e6) or r["q_q6"] == (
        ((k - 1) * (k * sum(c * c for c in C) - N * N) * 1_000_000)
        // (k * N - sum(x * x for x in R))
    )
    assert (r["n_blocks"], r["n_treatments"]) == (4, 3)

    # k=2 reduces to McNemar's (b-c)^2/(b+c) on discordant pairs
    rows2 = [
        (1, "A", True), (1, "B", False),
        (2, "A", True), (2, "B", False),
        (3, "A", False), (3, "B", True),
        (4, "A", True), (4, "B", True),
    ]
    df2 = spark.createDataFrame(rows2, "b bigint, t string, y boolean")
    r2 = cochran_q(
        df2, block_column="b", treatment_column="t", success_column="y"
    ).collect()[0]
    # discordant: A-only = 2, B-only = 1 -> (2-1)^2/3
    assert r2["q_q6"] == (1 * 1_000_000) // 3

    # every block all-success: zero within-block variation -> refuse
    allsucc = spark.createDataFrame(
        [(b, t, True) for b in (1, 2) for t in ("A", "B")],
        "b bigint, t string, y boolean",
    )
    ra = cochran_q(
        allsucc, block_column="b", treatment_column="t",
        success_column="y",
    ).collect()[0]
    assert ra["q_q6"] is None


def test_concordance_correlation_fixtures(spark):
    """Identity agreement -> CCC = 1; pure scale bias keeps Pearson at
    1 while CCC drops below (the whole point); a location shift
    likewise; python mirror pins the shifted case; degenerate frames
    answer NULL."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        concordance_correlation,
    )

    base = [(float(v), float(v)) for v in range(1, 9)]
    df = spark.createDataFrame(base, "a double, b double")
    r = concordance_correlation(
        df, a_column="a", b_column="b"
    ).collect()[0]
    assert r["ccc_q6"] == 1_000_000 and r["pearson_q6"] == 1_000_000
    assert r["mean_diff_q6"] == 0

    # b = 2a: Pearson stays 1, CCC must drop
    scaled = spark.createDataFrame(
        [(float(v), 2.0 * v) for v in range(1, 9)], "a double, b double"
    )
    rs = concordance_correlation(
        scaled, a_column="a", b_column="b"
    ).collect()[0]
    assert rs["pearson_q6"] == 1_000_000
    assert rs["ccc_q6"] < 600_000

    # b = a + 3: shift penalized; python mirror in q6 units
    shifted = spark.createDataFrame(
        [(float(v), v + 3.0) for v in range(1, 9)], "a double, b double"
    )
    rv = concordance_correlation(
        shifted, a_column="a", b_column="b"
    ).collect()[0]
    aq = [v * 10**6 for v in range(1, 9)]
    n = len(aq)
    va = sum(x * x for x in aq) / n - (sum(aq) / n) ** 2
    md = -3e6
    ccc = 2.0 * va / (va + va + md * md)
    assert rv["ccc_q6"] == math.floor(ccc * 1e6 + 0.5)
    assert rv["pearson_q6"] == 1_000_000
    assert rv["mean_diff_q6"] == -3_000_000

    # single pair: refuse
    one = spark.createDataFrame([(1.0, 1.0)], "a double, b double")
    ro = concordance_correlation(
        one, a_column="a", b_column="b"
    ).collect()[0]
    assert ro["ccc_q6"] is None and ro["pearson_q6"] is None


def test_jonckheere_terpstra_mirror(spark):
    """Perfectly ordered groups hit the JT maximum (every cross-pair
    concordant); a python mirror pins JT2/E2/z on a tied fixture;
    reversed order flips below expectation; single group refuses."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        jonckheere_terpstra,
    )

    # groups 0/1/2 with fully separated values -> JT = n_i*n_j for
    # every ordered pair = 3*3*3 pairs = 27, JT2 = 54
    rows = [(g, float(g * 10 + i)) for g in range(3) for i in range(3)]
    df = spark.createDataFrame(rows, "g bigint, v double")
    r = jonckheere_terpstra(
        df, value_column="v", group_score_column="g"
    ).collect()[0]
    assert r["jt_x2"] == 2 * 27
    # E[JT]*2 = (N^2 - sum n^2)/2 = (81-27)/2 = 27
    assert r["e_x2"] == 27
    assert r["z_q6"] > 2_000_000
    assert (r["n_total"], r["n_groups"]) == (9, 3)

    # mirror with ties across groups
    rows2 = [(0, 1.0), (0, 2.0), (1, 2.0), (1, 3.0), (2, 3.0), (2, 4.0)]
    df2 = spark.createDataFrame(rows2, "g bigint, v double")
    r2 = jonckheere_terpstra(
        df2, value_column="v", group_score_column="g"
    ).collect()[0]
    jt2 = 0
    for gi, vi in rows2:
        for gj, vj in rows2:
            if gi < gj:
                jt2 += 2 if vi < vj else (1 if vi == vj else 0)
    assert r2["jt_x2"] == jt2
    n = 6
    e2 = (n * n - 3 * 4) / 2.0
    var = (n * n * (2 * n + 3) - 3 * (4 * (2 * 2 + 3))) / 72.0
    assert r2["z_q6"] == math.floor(
        (jt2 - e2) / (2.0 * math.sqrt(var)) * 1e6 + 0.5
    )

    # reversed ordering: JT2 below expectation, z negative
    rev = jonckheere_terpstra(
        df, value_column="v",
        group_score_column=(F.lit(2) - F.col("g")),
    ).collect()[0]
    assert rev["jt_x2"] == 0 and rev["z_q6"] < -2_000_000

    # single group: refuse
    one = spark.createDataFrame(
        [(1, 1.0), (1, 2.0)], "g bigint, v double"
    )
    ro = jonckheere_terpstra(
        one, value_column="v", group_score_column="g"
    ).collect()[0]
    assert ro["z_q6"] is None


def test_hodges_lehmann_shift_mirror(spark):
    """A python brute-force over all n_a*n_b pairwise differences pins
    the estimate on a tied fixture; a pure +5 location shift recovers
    exactly 5; one wild outlier in A moves the mean difference but NOT
    the HL estimate (robustness); empty group refuses with NULL."""
    from pyspark_playground_spark.operators.profiling import (
        hodges_lehmann_shift,
    )

    def run(a_vals, b_vals):
        rows = [("a", float(v)) for v in a_vals] + [
            ("b", float(v)) for v in b_vals
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        return hodges_lehmann_shift(
            df, value_column="v", group_column="g",
            group_a="a", group_b="b",
        ).collect()[0]

    def brute(a_vals, b_vals):
        ds = sorted(
            int(round(a * 1e6)) - int(round(b * 1e6))
            for a in a_vals for b in b_vals
        )
        tot = len(ds)
        cum = 0
        seen = {}
        for d in ds:
            cum += 1
            if d not in seen:
                seen[d] = cum - 1
        for d in sorted(seen):
            below_incl = seen[d] + ds.count(d)
            if below_incl * 2 >= tot:
                return d
        return ds[-1]

    a = [1, 2, 2, 3, 7]
    b = [0, 1, 1, 5]
    r = run(a, b)
    assert (r["n_a"], r["n_b"]) == (5, 4)
    assert r["hl_shift_q6"] == brute(a, b)

    shifted = run([v + 5 for v in b], b)
    assert shifted["hl_shift_q6"] == 5_000_000

    outlier = run([1, 2, 3, 4, 10_000], [1, 2, 3, 4, 5])
    clean = run([1, 2, 3, 4, 5], [1, 2, 3, 4, 5])
    assert outlier["hl_shift_q6"] == brute([1, 2, 3, 4, 10_000],
                                           [1, 2, 3, 4, 5])
    assert abs(outlier["hl_shift_q6"] - clean["hl_shift_q6"]) <= 1_000_000

    empty = run([], [1.0, 2.0])
    assert empty["hl_shift_q6"] is None and empty["n_a"] == 0


def test_platt_calibration_recovers_sigmoid(spark):
    """Data generated from a known sigmoid recovers (a, b) closely; a
    python Newton mirror (same census, q12 exp, 9-decimal DECIMAL
    sums) pins the quantized fit exactly; all-positive labels refuse;
    monotone-decreasing data fits a negative slope."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        platt_calibration,
    )

    def gen(a_true, b_true, n=3000, smax=100):
        rows = []
        for i in range(n):
            s = float(i % smax)
            p = 1.0 / (1.0 + math.exp(-(a_true * s + b_true)))
            u = ((i * 2654435761) % 2**32) / 2**32
            rows.append((s, u < p))
        return rows

    rows = gen(0.1, -5.0)
    df = spark.createDataFrame(rows, "s double, y boolean")
    r = platt_calibration(df, score_column="s", label_column="y")\
        .collect()[0]
    assert abs(r["a_q6"] / 1e6 - 0.1) < 0.02
    assert abs(r["b_q6"] / 1e6 + 5.0) < 1.0
    assert r["nll_q6"] > 0

    # python mirror with the identical recipe
    from collections import defaultdict
    from decimal import Decimal
    cen = defaultdict(lambda: [0, 0])
    for s, y in rows:
        cen[s][0] += 1
        cen[s][1] += int(y)

    def q9(x):
        return Decimal(str(round(x, 9)))

    def moments(a, b):
        g = [Decimal(0)] * 5
        for s, (n, k) in cen.items():
            enz = math.floor(math.exp(-(a * s + b)) * 1e12 + 0.5) / 1e12
            p = 1.0 / (1.0 + enz)
            w = n * p * (1.0 - p)
            g[0] += q9((k - n * p) * s)
            g[1] += q9(k - n * p)
            g[2] += q9(w * s * s)
            g[3] += q9(w * s)
            g[4] += q9(w)
        return [float(x) for x in g]

    a = b = 0.0
    for _ in range(10):
        ga, gb, haa, hab, hbb = moments(a, b)
        det = haa * hbb - hab * hab
        a, b = a + (ga * hbb - gb * hab) / det, \
            b + (gb * haa - ga * hab) / det
    assert r["a_q6"] == math.floor(a * 1e6 + 0.5)
    assert r["b_q6"] == math.floor(b * 1e6 + 0.5)

    # degenerate labels refuse
    allpos = spark.createDataFrame(
        [(float(i), True) for i in range(10)], "s double, y boolean"
    )
    z = platt_calibration(allpos, score_column="s", label_column="y")\
        .collect()[0]
    assert z["a_q6"] is None and z["n_pos"] == 10

    # decreasing relationship -> negative slope
    dec = spark.createDataFrame(
        [(float(s), s < 50) for s in range(100) for _ in range(5)],
        "s double, y boolean",
    )
    d = platt_calibration(dec, score_column="s", label_column="y")\
        .collect()[0]
    assert d["a_q6"] < 0


def test_brier_decomposition_identity_and_mirror(spark):
    """A python mirror pins all four components; the Murphy identity
    brier = rel - res + unc is returned as computed; a perfectly
    calibrated forecast has ~zero reliability; a constant forecast
    has zero resolution; empty labels refuse."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        brier_decomposition,
    )

    def run(rows):
        df = spark.createDataFrame(rows, "pct_ppm long, y boolean")
        return brier_decomposition(
            df, score_ppm_column="pct_ppm", label_column="y"
        ).collect()[0]

    def mirror(rows):
        from collections import defaultdict
        cen = defaultdict(lambda: [0, 0])
        for p, y in rows:
            cen[p][0] += 1
            cen[p][1] += int(y)
        N = sum(v[0] for v in cen.values())
        K = sum(v[1] for v in cen.values())
        srel = sres = 0
        for p, (n, k) in cen.items():
            srel += math.floor((n * p - k * 10**6) ** 2 / n + 0.5)
            sres += math.floor((k * N - K * n) ** 2 / n + 0.5)
        rel = math.floor(srel / N + 0.5)
        res = math.floor(sres * 1e12 / ((N * N) * N) + 0.5)
        unc = (K * (N - K) * 10**12) // (N * N)
        return rel, res, unc, rel - res + unc

    # perfectly calibrated two-level forecast: p=250000 with 1/4
    # positives, p=750000 with 3/4 positives
    cal = [(250_000, i % 4 == 0) for i in range(40)] + [
        (750_000, i % 4 != 0) for i in range(40)
    ]
    r = run(cal)
    assert (r["reliability_x12"], r["resolution_x12"],
            r["uncertainty_x12"], r["brier_x12"]) == mirror(cal)
    assert r["reliability_x12"] == 0          # exactly calibrated
    assert r["resolution_x12"] > 0            # and discriminating

    # constant forecast: zero resolution, brier == uncertainty + rel
    const = [(500_000, i % 3 == 0) for i in range(30)]
    c = run(const)
    assert c["resolution_x12"] == 0
    assert c["brier_x12"] == (
        c["reliability_x12"] - c["resolution_x12"] + c["uncertainty_x12"]
    )
    assert (c["reliability_x12"], c["resolution_x12"],
            c["uncertainty_x12"], c["brier_x12"]) == mirror(const)

    empty = run([])
    assert empty["n"] == 0 and empty["brier_x12"] is None


def test_permutation_mean_test_exact(spark):
    """A python mirror of the content-addressed margin-preserving
    permutations (rank by md5(u,b), top n_treat → treatment) pins
    n_extreme and p exactly; identical groups yield p = 1; permuted
    arm sizes equal the OBSERVED arm sizes even on a heavily
    unbalanced split (the ADVICE r9 calibration fix); one empty arm
    refuses."""
    import hashlib

    from pyspark_playground_spark.operators.profiling import (
        permutation_mean_test,
    )

    def mirror(units, B=199):
        N1 = sum(1 for _, _, t in units if t)
        S1 = sum(y for _, y, t in units if t)
        N0 = sum(1 for _, _, t in units if not t)
        S0 = sum(y for _, y, t in units if not t)
        c = 0
        for b in range(B):
            ranked = sorted(
                units,
                key=lambda r: (
                    hashlib.md5(f"{r[0]},{b}".encode()).hexdigest(),
                    r[0],
                ),
            )
            treated = ranked[:N1]
            control = ranked[N1:]
            n1, s1 = len(treated), sum(y for _, y, _ in treated)
            n0, s0 = len(control), sum(y for _, y, _ in control)
            assert (n1, n0) == (N1, N0)  # margin preservation
            if n1 == 0 or n0 == 0:
                c += 1
            elif abs(s1 * n0 - s0 * n1) * (N1 * N0) >= \
                    abs(S1 * N0 - S0 * N1) * (n1 * n0):
                c += 1
        return c, (1 + c) * 10**6 // (B + 1)

    def run(units):
        df = spark.createDataFrame(
            [(u, y / 1e6, t) for u, y, t in units],
            "uid bigint, y double, t boolean",
        )
        return permutation_mean_test(
            df, unit_column="uid", metric_column="y", cohort_column="t"
        ).collect()[0]

    # mixed fixture (y already in q6 integer units for the mirror)
    units = [(u, (u % 7) * 1_000_000 + (3_000_000 if u % 2 == 0 else 0),
              u % 2 == 0) for u in range(40)]
    r = run(units)
    c, p = mirror(units)
    assert (r["n_extreme"], r["p_ppm"]) == (c, p)
    assert r["n_perms"] == 199

    # no effect at all: every reassignment at least as extreme -> p = 1
    flat = [(u, 5_000_000, u % 2 == 0) for u in range(30)]
    f = run(flat)
    assert f["p_ppm"] == 1_000_000 and f["diff_q6"] == 0

    # heavily unbalanced split (5 treated / 35 control): the mirror's
    # margin-preservation assertion exercises every permutation, and
    # spark matches it exactly — the ADVICE r9 anti-conservative-p fix
    skew = [(u, (u % 5) * 1_000_000 + (8_000_000 if u < 5 else 0),
             u < 5) for u in range(40)]
    rs = run(skew)
    cs, ps = mirror(skew)
    assert (rs["n_extreme"], rs["p_ppm"]) == (cs, ps)
    assert (rs["n_treat"], rs["n_ctrl"]) == (5, 35)

    # one empty arm refuses
    solo = [(u, 1_000_000, True) for u in range(10)]
    s = run(solo)
    assert s["p_ppm"] is None and s["n_treat"] == 10


def test_breslow_day_homogeneity(spark):
    """Homogeneous strata (same OR in both) score a SMALL BD
    chi-square; one reversed stratum scores large; Tarone's corrected
    value never exceeds BD; expected counts satisfy the pooled-OR
    margin equations in a python mirror; all-one-cohort strata are
    uninformative."""
    from pyspark_playground_spark.operators.profiling import (
        breslow_day_test,
        mantel_haenszel_or,
    )

    def rows_for(st, a, b, c, d):
        out = []
        out += [(st, True, True)] * a
        out += [(st, True, False)] * b
        out += [(st, False, True)] * c
        out += [(st, False, False)] * d
        return out

    def run(strata):
        rows = [r for st, cells in strata for r in rows_for(st, *cells)]
        df = spark.createDataFrame(rows, "st string, c boolean, y boolean")
        return breslow_day_test(
            df, stratum_column="st", cohort_column="c",
            success_column="y",
        ).collect()[0]

    # two strata with the SAME OR = (20*40)/(10*20) = 4 at different
    # scales: homogeneous -> tiny chi-square
    homog = [("s1", (20, 10, 20, 40)), ("s2", (40, 20, 40, 80))]
    h = run(homog)
    assert h["n_informative"] == 2
    assert h["bd_chi2_q6"] is not None and h["bd_chi2_q6"] < 200_000
    assert h["tarone_chi2_q6"] <= h["bd_chi2_q6"]

    # reversed second stratum: OR 4 vs OR 1/4 -> large heterogeneity
    het = [("s1", (20, 10, 20, 40)), ("s2", (10, 20, 40, 20))]
    x = run(het)
    assert x["bd_chi2_q6"] > 5_000_000  # chi2 >> 3.84 (df=1, alpha=.05)
    assert x["tarone_chi2_q6"] <= x["bd_chi2_q6"]

    # mirror check on the homogeneous case: atil solves the fixed-margin
    # quadratic under the SAME quantized MH OR the MH entry reports
    mh = mantel_haenszel_or(
        spark.createDataFrame(
            [r for st, cells in homog for r in rows_for(st, *cells)],
            "st string, c boolean, y boolean",
        ),
        stratum_column="st", cohort_column="c", success_column="y",
    ).collect()[0]
    assert h["or_mh_q6"] == mh["or_mh_q6"]
    R = h["or_mh_q6"] / 1e6
    for a, b, c, d in (cells for _, cells in homog):
        r1, c1, n = a + b, a + c, a + b + c + d
        A, B, C = 1.0 - R, (n - r1 - c1) + R * (r1 + c1), -(R * r1 * c1)
        disc = B * B - 4.0 * A * C
        import math
        root1 = (-B + math.sqrt(disc)) / (2.0 * A)
        at = root1 if 0 <= root1 <= min(r1, c1) else \
            (-B - math.sqrt(disc)) / (2.0 * A)
        # margins reproduce the pooled OR exactly at the root
        lhs = at * ((n - r1 - c1) + at)
        rhs = R * (r1 - at) * (c1 - at)
        assert abs(lhs - rhs) < 1e-6 * max(1.0, abs(rhs))

    # a stratum with no control arm is uninformative
    degen = [("s1", (20, 10, 20, 40)), ("s2", (5, 5, 0, 0))]
    dg = run(degen)
    assert dg["n_strata"] == 2 and dg["n_informative"] == 1

    # empty input still yields ONE refusal row (ADVICE r9: the keyed
    # groupBy used to return zero rows against the one-row contract)
    empty_df = spark.createDataFrame([], "st string, c boolean, y boolean")
    er = breslow_day_test(
        empty_df, stratum_column="st", cohort_column="c",
        success_column="y",
    ).collect()
    assert len(er) == 1
    assert er[0]["n_strata"] == 0 and er[0]["n_informative"] == 0
    assert er[0]["bd_chi2_q6"] is None and er[0]["or_mh_q6"] is None


def test_qini_uplift_deciles_hand_computed(spark):
    """A constructed uplift signal (treatment helps ONLY the
    high-score half) puts all positive uplift in the top bands and a
    flat-zero tail; the Qini curve's final point equals total
    incremental conversions under equal arms; equal-population
    banding holds; a response-only signal yields ~zero uplift
    everywhere."""
    from pyspark_playground_spark.operators.profiling import (
        qini_uplift_deciles,
    )

    rows = []
    for i in range(400):
        score = float(399 - i)          # distinct scores, descending
        treated = i % 2 == 0
        high = i < 200                  # top half by score
        # treated high-scorers convert; control never; low never
        y = treated and high
        rows.append((score, treated, y))
    df = spark.createDataFrame(rows, "s double, t boolean, y boolean")
    out = {r["band"]: r for r in qini_uplift_deciles(
        df, score_column="s", cohort_column="t", outcome_column="y"
    ).collect()}
    assert sorted(out) == list(range(10))
    # equal-population bands (distinct scores, 400/10)
    assert all(out[b]["n_treat"] + out[b]["n_ctrl"] == 40 for b in out)
    # uplift concentrated in bands 0-4, zero in 5-9
    for b in range(5):
        assert out[b]["uplift_ppm"] == 1_000_000
    for b in range(5, 10):
        assert out[b]["uplift_ppm"] == 0
    # final qini = total incremental conversions (100, equal arms)
    assert out[9]["qini_cum_q6"] == 100 * 1_000_000

    # response-only signal: both arms convert at high scores -> no lift
    rows2 = [(float(399 - i), i % 2 == 0, i < 200) for i in range(400)]
    df2 = spark.createDataFrame(rows2, "s double, t boolean, y boolean")
    o2 = {r["band"]: r for r in qini_uplift_deciles(
        df2, score_column="s", cohort_column="t", outcome_column="y"
    ).collect()}
    assert all(o2[b]["uplift_ppm"] == 0 for b in o2)
    assert abs(o2[9]["qini_cum_q6"]) == 0


def test_spiegelhalter_z_mirror(spark):
    """A python mirror pins z exactly; a perfectly calibrated forecast
    scores |z| small; a systematically overconfident forecast (p=0.9
    when truth is 0.5) scores a large positive z (y-p mass against
    1-2p<0 ... sign per construction); degenerate all-0/1 forecasts
    refuse."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        spiegelhalter_z,
    )

    def run(rows):
        df = spark.createDataFrame(rows, "pct_ppm long, y boolean")
        return spiegelhalter_z(
            df, score_ppm_column="pct_ppm", label_column="y"
        ).collect()[0]

    def mirror(rows):
        num = den = 0
        for p, y in rows:
            num += (int(y) * 10**6 - p) * (10**6 - 2 * p)
            den += (10**6 - 2 * p) ** 2 * p * (10**6 - p)
        return math.floor(
            (num / 1e12) / math.sqrt(den / 1e24) * 1e6 + 0.5
        )

    cal = [(250_000, i % 4 == 0) for i in range(80)] + [
        (750_000, i % 4 != 0) for i in range(80)
    ]
    r = run(cal)
    assert r["z_q6"] == mirror(cal)
    assert abs(r["z_q6"]) < 2_000_000

    over = [(900_000, i % 2 == 0) for i in range(100)]
    o = run(over)
    assert o["z_q6"] == mirror(over)
    assert abs(o["z_q6"]) > 2_000_000

    degen = [(0, False)] * 5 + [(1_000_000, True)] * 5
    d = run(degen)
    assert d["z_q6"] is None and d["n"] == 10


def test_poststrat_ate_blocks_out_stratum_shift(spark):
    """A constant within-stratum effect is recovered exactly even when
    stratum LEVELS differ wildly and arms are unevenly split across
    strata (where the naive pooled difference is confounded); balanced
    no-effect data gives ate 0; an armless stratum drops from the
    weights; python mirror pins the quantized outputs."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        poststrat_ate,
    )

    def run(rows):
        df = spark.createDataFrame(rows, "st string, c boolean, y double")
        return poststrat_ate(
            df, stratum_column="st", cohort_column="c", metric_column="y"
        ).collect()[0]

    # stratum A level 0, stratum B level 1000; effect +5 everywhere;
    # treatment over-represented in the high-level stratum
    rows = []
    for i in range(40):
        rows.append(("A", i % 4 == 0, (5.0 if i % 4 == 0 else 0.0)))
    for i in range(40):
        rows.append(("B", i % 4 != 0, 1000.0 + (5.0 if i % 4 != 0 else 0.0)))
    r = run(rows)
    assert r["ate_q6"] == 5_000_000  # confound blocked exactly
    assert r["n_informative"] == 2 and r["n_units"] == 80
    # the naive pooled difference is badly confounded upward
    tr = [y for st, c, y in rows if c]
    ct = [y for st, c, y in rows if not c]
    naive = sum(tr) / len(tr) - sum(ct) / len(ct)
    assert naive > 400

    # no effect, balanced: ate exactly 0, CI covers 0
    flat = [("A", i % 2 == 0, 7.0) for i in range(20)]
    f = run(flat)
    assert f["ate_q6"] == 0 and f["se_q6"] == 0

    # stratum with one arm only is dropped from weights
    degen = rows + [("C", True, 123.0)]
    d = run(degen)
    assert d["n_strata"] == 3 and d["n_informative"] == 2
    assert d["n_units"] == 80 and d["ate_q6"] == 5_000_000


def test_holm_adjust_step_down(spark):
    """Textbook Holm on fixed p-values: adjusted values are the
    running max of (m-j+1)p capped at 1; Holm rejects a subset of
    (or equal to) BH's rejections at the same alpha but a superset of
    plain Bonferroni's; NULL p rows pass through unadjusted and do
    not count toward m."""
    from pyspark_playground_spark.operators.profiling import holm_adjust

    # m=4 tested; p (q9): .001, .012, .02, .9 and one degenerate NULL
    rows = [("a", 1_000_000), ("b", 12_000_000), ("c", 20_000_000),
            ("d", 900_000_000), ("e", None)]
    df = spark.createDataFrame(rows, "grp string, p_q9 long")
    out = {r["grp"]: r for r in holm_adjust(
        df, group_column="grp", p_column="p_q9", alpha_ppm=50_000
    ).collect()}
    # Holm: .001*4=.004; max(.004,.012*3=.036)=.036;
    # max(.036,.02*2=.04)=.04; max(.04,.9*1)=.9
    assert out["a"]["p_holm_q9"] == 4_000_000
    assert out["b"]["p_holm_q9"] == 36_000_000
    assert out["c"]["p_holm_q9"] == 40_000_000
    assert out["d"]["p_holm_q9"] == 900_000_000
    assert out["e"]["p_holm_q9"] is None
    assert out["e"]["reject_holm"] is None
    assert [out[g]["reject_holm"] for g in "abcd"] == [
        True, True, True, False
    ]
    # Bonferroni would fail c (.02*4=.08 > .05): Holm strictly gains
    assert out["c"]["p_q9"] * 4 > 50_000_000
    # cap at 1e9
    big = spark.createDataFrame(
        [("x", 600_000_000), ("y", 700_000_000)], "grp string, p_q9 long"
    )
    b = {r["grp"]: r for r in holm_adjust(
        big, group_column="grp", p_column="p_q9"
    ).collect()}
    assert b["x"]["p_holm_q9"] == 1_000_000_000
    assert b["y"]["p_holm_q9"] == 1_000_000_000
