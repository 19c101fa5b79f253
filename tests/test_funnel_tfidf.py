"""Funnel ordering semantics and TF-IDF hand-checked math."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pyspark_playground_spark.operators import funnel as fu
from pyspark_playground_spark.operators import text as tx


def _events(spark, rows):
    return spark.createDataFrame(
        [(u, float(t), s) for u, t, s in rows], "user_id bigint, ts double, event_type string"
    )


def test_funnel_requires_strict_order(spark):
    rows = [
        (1, 1, "view"), (1, 2, "click"), (1, 3, "purchase"),  # full depth
        (2, 5, "click"), (2, 6, "view"),                      # click BEFORE view
        (3, 7, "view"),                                        # depth 1
        (4, 9, "purchase"),                                    # never viewed: absent
    ]
    out = {
        r["user_id"]: (r["funnel_depth"], r["view_ts"], r["click_ts"], r["purchase_ts"])
        for r in fu.funnel(_events(spark, rows), ["view", "click", "purchase"]).collect()
    }
    assert out == {
        1: (3, 1.0, 2.0, 3.0),
        2: (1, 6.0, None, None),  # pre-view click doesn't count
        3: (1, 7.0, None, None),
    }


def test_funnel_same_ts_not_counted_and_earliest_wins(spark):
    rows = [(1, 1, "view"), (1, 1, "click"),  # simultaneous: not strictly after
            (1, 4, "click"), (1, 2, "click")]  # earliest qualifying click = 2
    out = fu.funnel(_events(spark, rows), ["view", "click"]).collect()[0]
    assert (out["view_ts"], out["click_ts"], out["funnel_depth"]) == (1.0, 2.0, 2)


def test_funnel_summary_counts(spark):
    rows = [
        (1, 1, "view"), (1, 2, "click"), (1, 3, "purchase"),
        (2, 1, "view"), (2, 2, "click"),
        (3, 1, "view"),
    ]
    got = {
        (r["stage_index"], r["stage"]): r["n_users"]
        for r in fu.funnel_summary(
            _events(spark, rows), ["view", "click", "purchase"]
        ).collect()
    }
    assert got == {(1, "view"): 3, (2, "click"): 2, (3, "purchase"): 1}


def test_tfidf_hand_example(spark):
    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "cherry cherry date")],
        "doc_id bigint, text string",
    )
    out = tx.tf_idf_top_terms(docs, k=2)
    rows = {(r["doc_id"], r["term"]): r for r in out.collect()}
    # doc 1: apple tf=2 df=1 ranks first; banana tf=1 df=2 second
    assert rows[(1, "apple")]["term_rank"] == 1
    assert rows[(1, "banana")]["term_rank"] == 2
    assert rows[(1, "apple")]["tf"] == 2 and rows[(1, "apple")]["doc_freq"] == 1
    assert math.isclose(rows[(1, "apple")]["score"], 2 * math.log(3 / 1))
    assert math.isclose(rows[(2, "banana")]["score"], math.log(3 / 2))
    # rank never exceeds k and restarts per doc
    assert out.groupBy("doc_id").agg(F.max("term_rank").alias("m")) \
              .where("m > 2").count() == 0


def test_unigram_logprob_hand_example(spark):
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: r
        for r in tx.unigram_logprob_scores(docs).collect()
    }
    # counts: a=2 b=2 c=1, total=5
    assert got[1]["n_tokens"] == 3 and got[2]["n_tokens"] == 2
    assert abs(got[1]["avg_logprob"] - math.log(0.4)) < 1e-6
    expect2 = (math.log(0.4) + math.log(0.2)) / 2
    assert abs(got[2]["avg_logprob"] - expect2) < 1e-6
    # rare-token doc scores lower than common-token doc
    assert got[2]["avg_logprob"] < got[1]["avg_logprob"]


def test_bigram_logprob_hand_example(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a a")], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: r for r in tx.bigram_logprob_scores(docs).collect()
    }
    # c1: a=4 b=2 (total 6); c2: (a,b)=2 (b,a)=1 (a,a)=1
    assert got[1]["n_tokens"] == 4 and got[2]["n_tokens"] == 2
    d1 = math.log(4 / 6) + math.log(2 / 4) + math.log(1 / 2) + math.log(2 / 4)
    d2 = math.log(4 / 6) + math.log(1 / 4)
    assert abs(got[1]["avg_logprob"] - d1 / 4) < 1e-6
    assert abs(got[2]["avg_logprob"] - d2 / 2) < 1e-6


def test_bigram_logprob_sees_transposition_unigram_cannot(spark):
    """Two documents with IDENTICAL token multisets — one natural, one
    shuffled — tie under the unigram LM but the shuffled one must score
    lower under the bigram LM (its transitions are rarer in the corpus)."""
    natural = "the cat sat on the mat"
    rows = [(i, natural) for i in range(1, 6)] + [(9, "mat the on sat cat the")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    uni = {r["doc_id"]: r["avg_logprob"]
           for r in tx.unigram_logprob_scores(docs).collect()}
    bi = {r["doc_id"]: r["avg_logprob"]
          for r in tx.bigram_logprob_scores(docs).collect()}
    assert abs(uni[9] - uni[1]) < 1e-12       # unigram: indistinguishable
    assert bi[9] < bi[1] - 0.1                # bigram: clearly flagged


def test_zipf_slope_synthetic_power_law(spark):
    """A corpus whose token frequencies follow f(r) = C / r exactly must
    regress to slope ~= -1."""
    # term t_r appears round(1000/r) times, r = 1..30
    words = []
    for r in range(1, 31):
        words += [f"t{r:02d}"] * round(1000 / r)
    text = " ".join(words)
    df = spark.createDataFrame([(1, "s", text)], "doc_id int, source string, text string")
    row = tx.zipf_slope(df, group_column="source").collect()[0]
    assert row["n_terms"] == 30
    assert abs(row["zipf_slope"] + 1.0) < 0.05


def test_multitouch_attribution_hand_computed(spark):
    """Two conversions with known touch sets split credit exactly 1e6
    DIV k; the lookback excludes stale touches; a touchless conversion
    lands in the auditable (untouched) row; credit mass reconciles."""
    import datetime as dt

    from pyspark_playground_spark.operators.funnel import (
        multitouch_attribution,
    )

    t0 = dt.datetime(2024, 3, 1, 12, 0)
    h = lambda k: t0 + dt.timedelta(hours=k)  # noqa: E731
    rows = [
        # user 1: view+click then purchase -> k=2, 500000 each
        (1, 1, h(0), "view"),
        (2, 1, h(1), "click"),
        (3, 1, h(2), "purchase"),
        # user 2: only a view, but 100h before purchase (outside 72h)
        (4, 2, h(0), "view"),
        (5, 2, h(100), "purchase"),
        # user 3: three distinct touches -> 333333 each
        (6, 3, h(0), "view"),
        (7, 3, h(1), "click"),
        (8, 3, h(2), "signup"),
        (9, 3, h(3), "purchase"),
        # duplicate touch types count ONCE
        (10, 3, h(1, ), "view"),
        # NULL-id touch still carries credit (user 4's only touch);
        # NULL-id conversion is dropped (no credit grain)
        (None, 4, h(0), "click"),
        (11, 4, h(1), "purchase"),
        (None, 5, h(0), "view"),
        (None, 5, h(1), "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp,"
        " event_type string"
    )
    out = {r["touch_type"]: r for r in multitouch_attribution(
        df, conversion_type="purchase", lookback_hours=72).collect()}
    assert out["view"]["credit_q6"] == 500_000 + 333_333
    # user 4's NULL-id click still earns full credit for conversion 11
    assert out["click"]["credit_q6"] == 500_000 + 333_333 + 1_000_000
    assert out["signup"]["credit_q6"] == 333_333
    assert out["(untouched)"]["conversions_touched"] == 1
    assert out["(untouched)"]["credit_q6"] == 1_000_000
    # credit mass: 4 keyed conversions x ~1e6 (user 5's NULL-id
    # conversion is dropped), short only the DIV k rounding
    total = sum(r["credit_q6"] for r in out.values())
    assert 4_000_000 - 3 <= total <= 4_000_000
    assert out["view"]["conversions_touched"] == 2
    assert out["click"]["conversions_touched"] == 3


def test_markov_attribution_hand_computed(spark):
    """Five journeys with a closed-form chain: P(conv)=0.6 exactly
    (1/5 direct + 3/5 view path + 1/5 click path); removing click
    kills the view path too (removal 2/3), removing view leaves the
    direct and click paths (removal 1/3); journeys split at each
    purchase; a user's post-purchase tail is its own (lost) journey."""
    import datetime as dt

    from pyspark_playground_spark.operators.funnel import (
        markov_attribution,
        markov_transition_census,
    )

    t0 = dt.datetime(2024, 3, 1, 12, 0)
    h = lambda k: t0 + dt.timedelta(hours=k)  # noqa: E731
    rows = [
        (1, h(0), "view"), (1, h(1), "click"), (1, h(2), "purchase"),
        (2, h(0), "view"),
        (3, h(0), "click"), (3, h(1), "purchase"), (3, h(2), "view"),
        (4, h(0), "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_type string"
    )
    census = {
        (r["src"], r["dst"]): r["n"]
        for r in markov_transition_census(df).collect()
    }
    assert census == {
        ("START", "CONV"): 1, ("START", "click"): 1, ("START", "view"): 3,
        ("click", "CONV"): 2, ("view", "NULL"): 2, ("view", "click"): 1,
    }
    out = {r["channel"]: r for r in markov_attribution(df).collect()}
    assert set(out) == {"view", "click"}
    # P = 0.6, quantized q9 with ppm-floored transition probabilities
    assert abs(out["click"]["p_conv_q9"] - 600_000_000) < 1_000
    assert abs(out["click"]["p_conv_without_q9"] - 200_000_000) < 1_000
    assert abs(out["view"]["p_conv_without_q9"] - 400_000_000) < 1_000
    assert out["click"]["removal_effect_q6"] == 666_666
    assert out["view"]["removal_effect_q6"] == 333_333
    assert out["click"]["attribution_q6"] == 666_666
    assert out["view"]["attribution_q6"] == 333_333

    # no conversions anywhere -> NULL effects (refusal, not a crash)
    lost = spark.createDataFrame(
        [(1, h(0), "view"), (1, h(1), "click")],
        "user_id bigint, ts timestamp, event_type string",
    )
    out0 = {r["channel"]: r for r in markov_attribution(lost).collect()}
    assert all(r["removal_effect_q6"] is None for r in out0.values())
    assert all(r["p_conv_q9"] == 0 for r in out0.values())


def test_markov_conversion_type_with_quote_and_backslash(spark):
    """A conversion type holding ``'`` and ``\\`` is compared as a value,
    not spliced into SQL text: the census and the attribution equal those
    of the same journeys with a plain conversion type."""
    import datetime as dt

    from pyspark_playground_spark.operators.funnel import (
        markov_attribution,
        markov_transition_census,
    )

    t0 = dt.datetime(2024, 3, 1, 12, 0)
    h = lambda k: t0 + dt.timedelta(hours=k)  # noqa: E731
    odd = "it's a \\'buy\\"
    rows = [
        (1, h(0), "view"), (1, h(1), "click"), (1, h(2), "purchase"),
        (2, h(0), "view"),
        (3, h(0), "click"), (3, h(1), "purchase"), (3, h(2), "view"),
        (4, h(0), "purchase"),
    ]
    schema = "user_id bigint, ts timestamp, event_type string"
    plain = spark.createDataFrame(rows, schema)
    quoted = spark.createDataFrame(
        [(u, t, odd if e == "purchase" else e) for u, t, e in rows], schema
    )

    def census(df, conversion_type):
        return sorted(
            tuple(r) for r in markov_transition_census(
                df, conversion_type=conversion_type).collect()
        )

    def attribution(df, conversion_type):
        return sorted(
            tuple(r) for r in markov_attribution(
                df, conversion_type=conversion_type).collect()
        )

    assert census(quoted, odd) == census(plain, "purchase")
    assert ("view", "NULL", 2) in census(quoted, odd)
    assert attribution(quoted, odd) == attribution(plain, "purchase")


def test_kneser_ney_bigram_hand_computed(spark):
    """Python mirror pins every smoothed probability; the classic
    continuation effect holds: 'francisco' is as frequent as 'york'
    but follows only ONE distinct context, so its continuation mass
    (what an unseen context would inherit) is lower; per-context
    probabilities stay in (0, 1] and never exceed the raw MLE + D."""
    text = (
        "san francisco san francisco san francisco "
        "new york old york in york"
    )
    docs = spark.createDataFrame([(1, text)], "doc_id int, text string")
    rows = {(r["w1"], r["w2"]): r
            for r in tx.kneser_ney_bigram(docs).collect()}

    toks = text.split()
    bi = list(zip(toks, toks[1:]))
    from collections import Counter
    c2 = Counter(bi)
    ctx = Counter(); n1l = Counter(); n1r = Counter()
    for (a, b), n in c2.items():
        ctx[a] += n; n1l[a] += 1; n1r[b] += 1
    nb = len(c2)
    import math
    for (a, b), n in c2.items():
        p = max(n - 0.75, 0.0) / ctx[a] + ((0.75 * n1l[a]) / ctx[a]) * (
            n1r[b] / nb
        )
        got = rows[(a, b)]
        assert got["c2"] == n and got["ctx_count"] == ctx[a]
        assert got["p_kn_q9"] == math.floor(p * 1e9 + 0.5), (a, b)
        assert 0 < got["p_kn_q9"] <= 10**9
    # continuation counts: 'york' follows 3 distinct contexts,
    # 'francisco' only 1 -> lower continuation share despite equal c2
    assert rows[("san", "francisco")]["n1plus_right"] == 1
    assert rows[("new", "york")]["n1plus_right"] == 3


def test_lexical_concentration_hand_computed(spark):
    """Closed-form pins on a tiny census (K, D exact; C = lnV/lnN);
    a template-spam source scores higher K and D than a diverse one
    of the SAME token volume (the TTR-confound the metrics fix)."""
    import math

    # source a: 'x x x y' -> N=4, c={x:3, y:1}
    # source b: 'p q r s' -> N=4, all distinct
    docs = spark.createDataFrame(
        [(1, "a", "x x x y"), (2, "b", "p q r s")],
        "doc_id int, source string, text string",
    )
    out = {r["source"]: r
           for r in tx.lexical_concentration(docs).collect()}
    a, b = out["a"], out["b"]
    assert (a["n_tokens"], a["vocab"]) == (4, 2)
    # K = 1e4*(sum c^2 - N)/N^2 = 1e4*(10-4)/16
    assert a["yule_k_q6"] == math.floor(1e4 * 6 / 16 * 1e6 + 0.5)
    # D = sum c(c-1) / (N(N-1)) = 6/12 exactly
    assert a["simpson_d_q9"] == 500_000_000
    assert a["herdan_c_q9"] == math.floor(
        (math.floor(math.log(2) * 1e12 + 0.5) / 1e12)
        / (math.floor(math.log(4) * 1e12 + 0.5) / 1e12) * 1e9 + 0.5
    )
    # all-distinct source: sum c^2 == N exactly -> K = 0, D = 0
    assert b["simpson_d_q9"] == 0 and b["yule_k_q6"] == 0
    assert a["yule_k_q6"] > b["yule_k_q6"]
    assert a["simpson_d_q9"] > b["simpson_d_q9"]
