"""Sliding-window RAG chunking and dataset-level source similarity."""

import math

import pytest

from pyspark_playground_spark.operators import packing as pk
from pyspark_playground_spark.operators import similarity as sim
from pyspark_playground_spark.operators import text as tx


def test_chunks_cover_and_overlap(spark):
    # 10 tokens, chunk 4, overlap 2 → starts 0,2,4,6,8
    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = sorted(
        pk.sliding_window_chunks(df, chunk_tokens=4, overlap=2).collect(),
        key=lambda r: r.chunk_index,
    )
    assert [r.chunk_start for r in rows] == [0, 2, 4, 6, 8]
    assert rows[0].chunk_text == "t0 t1 t2 t3"
    assert rows[1].chunk_text == "t2 t3 t4 t5"
    # tail chunk is short, never empty
    assert rows[-1].chunk_text == "t8 t9"
    assert rows[-1].n_chunk_tokens == 2
    # reconstruction: stepping chunks by (chunk-overlap) re-covers the doc
    assert all(r.n_chunk_tokens >= 1 for r in rows)


def test_empty_and_whitespace_docs_yield_no_chunks(spark):
    df = spark.createDataFrame([(1, ""), (2, "   "), (3, "one")],
                               ["doc_id", "text"])
    rows = pk.sliding_window_chunks(df, chunk_tokens=4, overlap=2).collect()
    assert {r.doc_id for r in rows} == {3}
    assert rows[0].chunk_text == "one"


def test_overlap_must_be_smaller_than_chunk(spark):
    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        pk.sliding_window_chunks(df, chunk_tokens=4, overlap=4)


def test_source_similarity_exact_counts(spark):
    rows = [
        (1, "a", "x x y"),
        (2, "b", "x y y"),
        (3, "c", "z z z"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {(r.source_a, r.source_b): r for r in
           tx.source_similarity(df).collect()}
    # a = {x:2, y:1}, b = {x:1, y:2}: dot = 2*1 + 1*2 = 4, |a|²=5, |b|²=5
    r = out[("a", "b")]
    assert r.dot == 4
    assert r.cosine == pytest.approx(4 / (math.sqrt(5) * math.sqrt(5)))
    # disjoint vocab → no row at all (sparse join)
    assert ("a", "c") not in out and ("b", "c") not in out


def _numpy_lloyd(vecs, k, iterations):
    import numpy as np

    x = np.asarray(vecs, dtype=np.float64)
    cents = {i: x[i].copy() for i in range(k)}

    def assign():
        out = []
        for v in x:
            best = min(
                cents, key=lambda c: (float(((v - cents[c]) ** 2).sum()), c)
            )
            out.append(best)
        return out

    for _ in range(iterations):
        a = assign()
        new = {}
        for c in set(a):
            members = x[[i for i, ci in enumerate(a) if ci == c]]
            new[c] = members.mean(axis=0)
        cents = new
    return assign()


def test_kmeans_lloyd_matches_numpy_on_separated_blobs(spark):
    import random

    random.seed(7)
    # 3 well-separated 4-d blobs; ids 0..2 land in distinct blobs so the
    # deterministic vec_id<k init seeds one centroid per blob
    centers = [[0.0, 0.0, 0.0, 0.0], [10.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 10.0]]
    rows = []
    for i in range(60):
        c = centers[i % 3]
        rows.append(
            (i, [c[j] + random.uniform(-0.5, 0.5) for j in range(4)])
        )
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {
        r.vec_id: r.cluster_id
        for r in sim.kmeans_lloyd(df, k=3, iterations=2).collect()
    }
    ref = _numpy_lloyd([v for _, v in rows], k=3, iterations=2)
    assert got == {i: ref[i] for i in range(60)}


def test_kmeans_lloyd_empty_cluster_disappears(spark):
    # seed 0 is an outlier that immediately loses its only member: after
    # the first update its centroid moves INTO the pack's mean, so the
    # contract to pin is just "assignments come from the final centroid
    # table" — every row keeps a cluster and dist2 is finite
    rows = [(0, [100.0, 100.0])] + [
        (i, [float(i % 3), 0.0]) for i in range(1, 12)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = sim.kmeans_lloyd(df, k=2, iterations=2).collect()
    assert len(out) == 12
    assert {r.cluster_id for r in out} <= {0, 1}
    assert all(r.dist2_r6 >= 0.0 for r in out)


def test_rrf_fuse_hand_example(spark):
    from pyspark_playground_spark.operators import similarity as sim

    a = spark.createDataFrame(
        [(1, 9.0), (2, 8.0), (3, 7.0)], "doc_id long, s double"
    )
    b = spark.createDataFrame(
        [(3, 0.9), (4, 0.8), (1, 0.7)], "doc_id long, s double"
    )
    out = {r["doc_id"]: r for r in
           sim.rrf_fuse([(a, "s"), (b, "s")], top_n=2, k=60).collect()}
    # top_n=2 cuts doc 3 from list a and doc 1 from list b
    assert out[1]["n_lists"] == 1 and out[3]["n_lists"] == 1
    assert out[2]["n_lists"] == 1 and out[4]["n_lists"] == 1
    assert float(out[1]["rrf_score"]) == round(1 / 61, 9)
    assert float(out[2]["rrf_score"]) == round(1 / 62, 9)
    assert float(out[3]["rrf_score"]) == round(1 / 61, 9)
    # both-list membership sums contributions
    c = spark.createDataFrame([(1, 5.0), (2, 4.0)], "doc_id long, s double")
    both = {r["doc_id"]: float(r["rrf_score"]) for r in
            sim.rrf_fuse([(a, "s"), (c, "s")], top_n=3, k=60).collect()}
    assert both[1] == round(1 / 61, 9) * 2
    # the candidate cut is TakeOrdered, never a corpus global sort
    plan = (
        sim.rrf_fuse([(a, "s")], top_n=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_int8_recall_report_known_sets_and_rank_flip(spark):
    """Two pinned scenarios for the quantization ship gate:

    1. Clear gaps: exact and int8 top-2 agree -> recall 1.0.
    2. Near-tie flip (THE failure mode this gate exists for): exact
       cosines 0.7001 vs 0.6999 collapse to the same int8 component
       (round(0.7001*127) == round(0.6999*127) == 89), the quant tie
       breaks by neighbor_id asc toward the exact LOSER -> recall@1 = 0.

    A zero-norm corpus vector and a zero-norm query are excluded from
    both sides (cosine undefined): the dead corpus row never appears as
    a neighbor, the dead query produces no output row.
    """
    import math

    # --- scenario 1: unambiguous ranking, recall@2 = 1 ---
    corpus1 = spark.createDataFrame(
        [
            ("c1", [1.0, 0.0]),
            ("c2", [0.9, 0.1]),
            ("c3", [0.0, 1.0]),
            ("dead", [0.0, 0.0]),
        ],
        "vec_id string, embedding array<double>",
    )
    queries1 = spark.createDataFrame(
        [("q1", [1.0, 0.0]), ("qdead", [0.0, 0.0])],
        "vec_id string, embedding array<double>",
    )
    out1 = {
        r["query_id"]: r
        for r in sim.int8_recall_report(corpus1, queries1, k=2).collect()
    }
    assert set(out1) == {"q1"}  # zero-norm query excluded entirely
    assert out1["q1"]["n_hits"] == 2
    assert out1["q1"]["recall_q6"] == 1_000_000

    # --- scenario 2: near-tie rank flip -> recall@1 = 0 ---
    hi = [0.7001, math.sqrt(1 - 0.7001**2), 0.0, 0.0]
    lo = [0.6999, math.sqrt(1 - 0.6999**2), 0.0, 0.0]
    corpus2 = spark.createDataFrame(
        # exact winner gets the LATER-sorting id so the int8 tie-break
        # (neighbor_id asc) picks the exact loser
        [("z_hi", hi), ("a_lo", lo), ("far", [0.0, 0.0, 1.0, 0.0])],
        "vec_id string, embedding array<double>",
    )
    queries2 = spark.createDataFrame(
        [("q1", [1.0, 0.0, 0.0, 0.0])],
        "vec_id string, embedding array<double>",
    )
    r2 = sim.int8_recall_report(corpus2, queries2, k=1).collect()[0]
    assert r2["n_hits"] == 0 and r2["recall_q6"] == 0


def test_retrieval_eval_report_hand_computed(spark):
    """Query q (label 1) against 4 corpus vectors on the x-axis spread:
    exact top-3 by cosine = [c1(rel), c2(not), c3(rel)] -> rel pattern
    [1, 0, 1]: dcg_q6 = g(1) + g(3) = 1000000 + 500000. q is EXTERNAL
    (not a corpus member), so membership detection must NOT subtract a
    self-match: both label-1 corpus rows are relevant -> n_rel_corpus=2,
    idcg_q6 = g(1) + g(2) = 1000000 + 630930; first_rel_rank=1, rr=1e6.
    Forcing queries_in_corpus=True reproduces the member convention
    (count minus one)."""
    import math

    corpus = spark.createDataFrame(
        [
            ("c1", [1.0, 0.0], 1),
            ("c2", [0.9, 0.1], 2),
            ("c3", [0.5, 0.5], 1),
            ("c4", [0.0, 1.0], 3),
        ],
        "vec_id string, embedding array<double>, label int",
    )
    queries = spark.createDataFrame(
        [("q", [1.0, 0.0], 1)],
        "vec_id string, embedding array<double>, label int",
    )
    r = sim.retrieval_eval_report(
        corpus, queries, label_column="label", k=3
    ).collect()[0]
    g = lambda i: math.floor(1e6 / math.log2(i + 1.0) + 0.5)  # noqa: E731
    # external query: census count 2 for label 1, no self-subtraction
    assert r["n_rel_corpus"] == 2
    assert r["n_rel_topk"] == 2
    assert r["dcg_q6"] == g(1) + g(3) == 1000000 + 500000
    # idcg truncates at min(k, n_rel_corpus) = 2
    assert r["idcg_q6"] == g(1) + g(2) == 1000000 + 630930
    assert r["ndcg_x6"] == (r["dcg_q6"] * 1000000) // r["idcg_q6"]
    assert r["first_rel_rank"] == 1 and r["rr_q6"] == 1000000
    # the explicit member convention still subtracts the self-match
    r_mem = sim.retrieval_eval_report(
        corpus, queries, label_column="label", k=3, queries_in_corpus=True
    ).collect()[0]
    assert r_mem["n_rel_corpus"] == 1
    assert r_mem["idcg_q6"] == g(1) == 1000000
    # id collision with a DIFFERENTLY-labeled corpus row (r8 ADVICE):
    # the id-excluded self row was not relevant, so auto-detection must
    # NOT subtract from the label census — n_rel_corpus stays 2
    collided = corpus.union(
        spark.createDataFrame(
            [("q", [0.0, 1.0], 9)],  # same id as the query, label 9 != 1
            "vec_id string, embedding array<double>, label int",
        )
    )
    r_col = sim.retrieval_eval_report(
        collided, queries, label_column="label", k=3
    ).collect()[0]
    assert r_col["n_rel_corpus"] == 2


def test_retrieval_eval_report_self_exclusion_and_no_relevant(spark):
    """When the query IS a corpus member, its own row is excluded from
    both the ranking and the relevant count; a query whose label has no
    other members gets NULL idcg/ndcg and rr_q6 = 0."""
    corpus = spark.createDataFrame(
        [
            ("q", [1.0, 0.0], 7),   # the query itself
            ("c1", [0.9, 0.1], 2),
            ("c2", [0.5, 0.5], 2),
        ],
        "vec_id string, embedding array<double>, label int",
    )
    queries = corpus.filter("vec_id = 'q'")
    r = sim.retrieval_eval_report(
        corpus, queries, label_column="label", k=2
    ).collect()[0]
    assert r["n_rel_corpus"] == 0  # label-7 census count 1, minus self
    assert r["n_rel_topk"] == 0 and r["dcg_q6"] == 0
    assert r["idcg_q6"] is None and r["ndcg_x6"] is None
    assert r["first_rel_rank"] is None and r["rr_q6"] == 0


def test_pq_recall_perfect_when_codebook_is_exact(spark):
    """When every corpus vector IS one of the k seed vectors (per
    subspace), PQ encoding is lossless, ADC == exact L2, and recall@k
    is 1.0 for every query."""
    import itertools

    # 8 vectors = all corners of a cube in each 2-dim subspace, ids 0..7
    pts = list(itertools.product([0.0, 1.0], repeat=3))
    corpus = spark.createDataFrame(
        [(i, [a, b, c, a]) for i, (a, b, c) in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    out = sim.pq_recall_report(
        corpus, corpus.filter("vec_id < 3"),
        dim=4, m=2, k=8, iterations=1, topk=3,
    ).collect()
    assert len(out) == 3
    assert all(r["recall_q6"] == 1_000_000 for r in out)
    assert all(r["n_hits"] == 3 for r in out)


def test_pq_train_encode_shapes_and_determinism(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), float(i % 7), float(i % 2)])
         for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    codes, book = sim.pq_train_encode(corpus, dim=4, m=2, k=4, iterations=2)
    c = codes.collect()
    assert len(c) == 60  # m rows per vector
    assert {r["subspace"] for r in c} == {0, 1}
    assert all(0 <= r["code"] < 4 for r in c)
    b = book.collect()
    assert len(b) <= 8 and all(len(r["cvec"]) == 2 for r in b)
    # deterministic: a second run returns identical codes
    codes2, _ = sim.pq_train_encode(corpus, dim=4, m=2, k=4, iterations=2)
    assert sorted(map(tuple, c)) == sorted(map(tuple, codes2.collect()))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="divisible"):
        sim.pq_train_encode(corpus, dim=4, m=3, k=2)

    # seed contract: sparse ids (no 0..k-1 run) must raise, not degrade
    from pyspark.sql import functions as F

    sparse = corpus.withColumn("vec_id", F.col("vec_id") + 100)
    with _pytest.raises(ValueError, match="seed"):
        sim.pq_train_encode(sparse, dim=4, m=2, k=4)


def test_ivf_pq_full_probe_lossless_codebook_is_exact(spark):
    """When every corpus vector is its own PQ seed (k == corpus size)
    AND every cell is probed (nprobe == coarse_k), IVF×PQ degenerates to
    the exact ranking: recall@k is 1.0 for every query."""
    import itertools

    pts = list(itertools.product([0.0, 1.0], repeat=3))
    corpus = spark.createDataFrame(
        [(i, [a, b, c, a]) for i, (a, b, c) in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    out = sim.ivf_pq_recall_report(
        corpus, corpus.filter("vec_id < 3"),
        dim=4, coarse_k=2, coarse_iterations=1, nprobe=2,
        m=2, k=8, iterations=1, topk=3,
    ).collect()
    assert len(out) == 3
    assert all(r["recall_q6"] == 1_000_000 for r in out)


def test_ivf_pq_probe_prunes_to_nearest_cells(spark):
    """Two well-separated clusters around (0,0) and (100,100); with
    coarse_k=2 / nprobe=1 a query in cluster A must only surface
    cluster-A neighbors — the far cluster's candidates are pruned by
    the probe, never scored."""
    # coarse seeds are ids 0 and 1 — place id 0 in cluster A and id 1
    # in cluster B so one Lloyd round converges to the obvious split
    a_ids, b_ids = [0, 2, 3, 4, 5, 6], [1, 7, 8, 9, 10, 11]
    rows = [(i, [float(j % 3) * 0.1, float(j % 2) * 0.1])
            for j, i in enumerate(a_ids)]
    rows += [(i, [100.0 + (j % 3) * 0.1, 100.0 + (j % 2) * 0.1])
             for j, i in enumerate(b_ids)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sim.ivf_pq_topk(
        corpus, corpus.filter("vec_id = 0"),
        dim=2, coarse_k=2, coarse_iterations=1, nprobe=1,
        m=1, k=6, iterations=1, topk=10,
    ).collect()
    got = {r["neighbor_id"] for r in out}
    assert got == {2, 3, 4, 5, 6}  # only cluster A, self excluded
    # ranks are contiguous from 1 and adist quantized non-negative
    ranks = sorted(r["rank"] for r in out)
    assert ranks == list(range(1, len(ranks) + 1))
    assert all(r["adist_q6"] >= 0 for r in out)


def test_ivf_pq_residual_full_probe_lossless_is_exact(spark):
    """IVFADC twin of the raw-vector degeneracy test: when every coarse
    RESIDUAL is its own PQ seed (k == corpus size) and every cell is
    probed, residual ADC == exact L2 -> recall 1.0; and the residual
    ranking differs from raw only through the codebooks, so both
    degenerate variants agree."""
    import itertools

    pts = list(itertools.product([0.0, 1.0], repeat=3))
    corpus = spark.createDataFrame(
        [(i, [a, b, c, a]) for i, (a, b, c) in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    out = sim.ivf_pq_recall_report(
        corpus, corpus.filter("vec_id < 3"),
        dim=4, coarse_k=2, coarse_iterations=1, nprobe=2,
        m=2, k=8, iterations=1, topk=3, residual=True,
    ).collect()
    assert len(out) == 3
    assert all(r["recall_q6"] == 1_000_000 for r in out)


def test_ivf_pq_frozen_search_matches_direct(spark):
    """The train→freeze→search split is lossless: ivf_pq_train +
    ivf_pq_search_with_model produces EXACTLY ivf_pq_topk's output on
    the same corpus/parameters (training is deterministic, the search
    plan is the same extracted block), for both the raw-vector and the
    IVFADC residual variants."""
    import itertools

    pts = list(itertools.product([0.0, 1.0, 2.0], repeat=2))
    corpus = spark.createDataFrame(
        [(i, [a, b, a + b, a - b]) for i, (a, b) in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    panel = corpus.filter("vec_id < 3")
    kw = dict(dim=4, coarse_k=2, coarse_iterations=1, m=2, k=4,
              iterations=1)
    for residual in (False, True):
        direct = sorted(
            map(
                tuple,
                sim.ivf_pq_topk(
                    corpus, panel, nprobe=1, topk=5, residual=residual,
                    **kw,
                ).collect(),
            )
        )
        coarse, book = sim.ivf_pq_train(corpus, residual=residual, **kw)
        frozen = sorted(
            map(
                tuple,
                sim.ivf_pq_search_with_model(
                    corpus, panel, coarse, book, nprobe=1, topk=5,
                    residual=residual,
                ).collect(),
            )
        )
        assert frozen == direct and len(direct) > 0


def test_ivf_pq_frozen_model_survives_storage_roundtrip(spark, tmp_path):
    """The frozen model is a plain pair of frames: written to parquet
    and read back, the search result is unchanged — the contract that
    lets a production index train offline and serve from storage."""
    corpus = spark.createDataFrame(
        [(i, [float(i % 4), float(i % 3), float(i), 1.0])
         for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    panel = corpus.filter("vec_id < 2")
    kw = dict(dim=4, coarse_k=2, coarse_iterations=1, m=2, k=4,
              iterations=1)
    coarse, book = sim.ivf_pq_train(corpus, **kw)
    before = sorted(
        map(
            tuple,
            sim.ivf_pq_search_with_model(
                corpus, panel, coarse, book, nprobe=1, topk=5
            ).collect(),
        )
    )
    cpath, bpath = str(tmp_path / "coarse"), str(tmp_path / "book")
    coarse.write.parquet(cpath)
    book.write.parquet(bpath)
    after = sorted(
        map(
            tuple,
            sim.ivf_pq_search_with_model(
                corpus,
                panel,
                spark.read.parquet(cpath),
                spark.read.parquet(bpath),
                nprobe=1,
                topk=5,
            ).collect(),
        )
    )
    assert after == before and len(before) > 0


def test_ivf_pq_search_with_model_validates_model(spark):
    """Malformed frozen models raise instead of searching wrong: empty
    coarse/book frames, non-contiguous subspaces, and codebook widths
    that do not tile the coarse dimension."""
    corpus = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0, 2.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    panel = corpus.filter("vec_id < 2")
    coarse, book = sim.ivf_pq_train(
        corpus, dim=4, coarse_k=2, coarse_iterations=1, m=2, k=4,
        iterations=1,
    )
    empty_c = coarse.filter("cluster_id < 0")
    empty_b = book.filter("subspace < 0")
    with pytest.raises(ValueError, match="empty coarse"):
        sim.ivf_pq_search_with_model(corpus, panel, empty_c, book)
    with pytest.raises(ValueError, match="empty codebook"):
        sim.ivf_pq_search_with_model(corpus, panel, coarse, empty_b)
    from pyspark.sql import functions as F

    gapped = book.withColumn(
        "subspace", F.col("subspace") * 2
    )  # {0, 2}: not contiguous
    with pytest.raises(ValueError, match="not\\s+contiguous"):
        sim.ivf_pq_search_with_model(corpus, panel, coarse, gapped)
    halved = book.withColumn("cvec", F.slice("cvec", 1, 1))
    with pytest.raises(ValueError, match="tile"):
        sim.ivf_pq_search_with_model(corpus, panel, coarse, halved)


def test_ivf_pq_precoded_serve_matches_frozen(spark, tmp_path):
    """The persisted-codes serve path is lossless end to end:
    encode_corpus under the frozen model, round-trip the codes through
    cell-partitioned parquet, and search_precoded over the read-back
    frame produces EXACTLY ivf_pq_search_with_model's output — for both
    the raw-vector and IVFADC-residual encodings. Also: the codes frame
    is one int row per vector, and a codes frame missing a code column
    refuses."""
    import itertools

    pts = list(itertools.product([0.0, 1.0, 2.0], repeat=2))
    corpus = spark.createDataFrame(
        [(i, [a, b, a + b, a - b]) for i, (a, b) in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    panel = corpus.filter("vec_id < 3")
    kw = dict(dim=4, coarse_k=2, coarse_iterations=1, m=2, k=4,
              iterations=1)
    for residual in (False, True):
        coarse, book = sim.ivf_pq_train(corpus, residual=residual, **kw)
        frozen = sorted(
            map(
                tuple,
                sim.ivf_pq_search_with_model(
                    corpus, panel, coarse, book, nprobe=1, topk=5,
                    residual=residual,
                ).collect(),
            )
        )
        codes = sim.ivf_pq_encode_corpus(
            corpus, coarse, book, residual=residual
        )
        assert codes.columns == ["vec_id", "cell", "code_0", "code_1"]
        assert codes.count() == corpus.count()
        path = str(tmp_path / f"codes_{int(residual)}")
        codes.write.partitionBy("cell").parquet(path)
        precoded = sorted(
            map(
                tuple,
                sim.ivf_pq_search_precoded(
                    spark.read.parquet(path), panel, coarse, book,
                    nprobe=1, topk=5, residual=residual,
                ).collect(),
            )
        )
        assert precoded == frozen and len(frozen) > 0

    coarse, book = sim.ivf_pq_train(corpus, **kw)
    bad = sim.ivf_pq_encode_corpus(corpus, coarse, book).drop("code_1")
    with pytest.raises(ValueError, match="missing.*code_1"):
        sim.ivf_pq_search_precoded(bad, panel, coarse, book)


def test_ivf_pq_precoded_exclude_self_contract(spark):
    """ADVICE r10: the precoded serve's self-exclusion is a documented
    contract with an escape hatch — by default query ids sharing the
    corpus id space never see themselves as neighbors; with
    ``exclude_self=False`` (an EXTERNAL panel whose ids merely collide
    with corpus ids) the colliding corpus row is a legitimate candidate
    and the non-self rows are exactly the default output."""
    import itertools

    pts = list(itertools.product([0.0, 1.0, 2.0], repeat=2))
    corpus = spark.createDataFrame(
        [(i, [a, b, a + b, a - b]) for i, (a, b) in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    panel = corpus.filter("vec_id < 3")
    coarse, book = sim.ivf_pq_train(
        corpus, dim=4, coarse_k=2, coarse_iterations=1, m=2, k=4,
        iterations=1,
    )
    codes = sim.ivf_pq_encode_corpus(corpus, coarse, book)
    # topk=len(corpus): both runs keep EVERY candidate in the probed
    # cells, so the only difference can be the self rows themselves
    dflt = sim.ivf_pq_search_precoded(
        codes, panel, coarse, book, nprobe=1, topk=len(pts)
    ).collect()
    incl = sim.ivf_pq_search_precoded(
        codes, panel, coarse, book, nprobe=1, topk=len(pts),
        exclude_self=False,
    ).collect()
    assert all(r["neighbor_id"] != r["query_id"] for r in dflt)
    self_rows = [r for r in incl if r["neighbor_id"] == r["query_id"]]
    assert {r["query_id"] for r in self_rows} == {0, 1, 2}
    assert {(r["query_id"], r["neighbor_id"]) for r in dflt} == {
        (r["query_id"], r["neighbor_id"])
        for r in incl
        if r["neighbor_id"] != r["query_id"]
    }


def test_rbo_report_identical_disjoint_and_model(spark):
    """Identical top-k lists -> normalized RBO of 1e9 (up to per-term
    quantization); disjoint lists -> 0; a hand case matches the pure
    Python mirror of the same quantized arithmetic."""
    import math

    a = spark.createDataFrame(
        [(1, i, r) for r, i in enumerate([10, 20, 30], start=1)],
        "query_id int, neighbor_id int, rank int",
    )
    same = sim.rbo_report(a, a, depth=3, p_ppm=900_000).collect()[0]
    assert same["n_common"] == 3
    assert abs(same["rbo_q9"] - 1_000_000_000) <= 5

    b = spark.createDataFrame(
        [(1, i, r) for r, i in enumerate([40, 50, 60], start=1)],
        "query_id int, neighbor_id int, rank int",
    )
    dis = sim.rbo_report(a, b, depth=3, p_ppm=900_000).collect()[0]
    assert dis["n_common"] == 0 and dis["rbo_q9"] == 0

    # partial agreement: lists [10,20,30] vs [20,10,30]
    c = spark.createDataFrame(
        [(1, i, r) for r, i in enumerate([20, 10, 30], start=1)],
        "query_id int, neighbor_id int, rank int",
    )
    got = sim.rbo_report(a, c, depth=3, p_ppm=900_000).collect()[0]
    # entry depths: 10 -> max(1,2)=2, 20 -> max(2,1)=2, 30 -> 3
    # overlap_d: d=1:0, d=2:2, d=3:3
    p, k = 0.9, 3
    const = 0.1 / (1.0 - p ** k)
    expect = sum(
        math.floor(const * round(p ** (d - 1), 7) * ov / d * 1e9 + 0.5)
        for d, ov in [(1, 0), (2, 2), (3, 3)]
        if ov > 0
    )
    assert got["rbo_q9"] == expect and got["n_common"] == 3


def test_pq_encode_with_book_frozen_contract(spark):
    """Encoding against the returned frozen book reproduces the training
    encode exactly; a later batch's codes are the matching subset of a
    full re-encode (the incremental-ingest invariant); empty and
    non-contiguous books raise."""
    import pytest as _pytest

    corpus = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), float(i % 7), float(i % 2)])
         for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    codes, book = sim.pq_train_encode(corpus, dim=4, m=2, k=4, iterations=2)
    re_enc = sim.pq_encode_with_book(corpus, book)
    assert sorted(map(tuple, codes.collect())) == sorted(
        map(tuple, re_enc.collect())
    )
    # incremental batch == the matching subset of the full encode
    batch = sim.pq_encode_with_book(corpus.filter("vec_id >= 10"), book)
    full = {t for t in map(tuple, codes.collect()) if t[0] >= 10}
    assert set(map(tuple, batch.collect())) == full

    with _pytest.raises(ValueError, match="empty"):
        sim.pq_encode_with_book(corpus, book.filter("subspace < 0"))
    with _pytest.raises(ValueError, match="contiguous"):
        sim.pq_encode_with_book(corpus, book.filter("subspace = 1"))


def test_ivf_cell_balance_hand_computed(spark):
    """6 points in cell A, 2 in cell B: shares 750000/250000 ppm and
    imbalance = max/mean = 6/4 = 1.5e6, repeated on both rows."""
    rows = [(i, [0.0 + 0.01 * i, 0.0]) for i in (0, 2, 3, 4, 5, 6)]
    rows += [(1, [10.0, 10.0]), (7, [10.1, 10.0])]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = {r["cluster_id"]: r for r in sim.ivf_cell_balance_report(
        corpus, coarse_k=2, coarse_iterations=1
    ).collect()}
    assert out[0]["n_vectors"] == 6 and out[1]["n_vectors"] == 2
    assert out[0]["share_ppm"] == 750_000
    assert out[1]["share_ppm"] == 250_000
    assert all(r["imbalance_x6"] == 1_500_000 for r in out.values())


def test_ivf_nprobe_recall_curve_hand_computed(spark):
    """One query in cell A whose exact top-3 spans both cells (2 A
    members + the nearest B point): recall@1 = 2/3, recall@2 = 1 —
    and the curve is monotone, ending at 1.0 at full probe."""
    rows = [
        (0, [0.0, 0.0]), (2, [0.2, 0.0]), (3, [0.0, 0.2]),
        (1, [4.0, 0.0]), (4, [4.2, 0.0]), (5, [4.0, 0.2]),
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = sorted(
        sim.ivf_nprobe_recall_curve(
            corpus, corpus.filter("vec_id = 0"),
            coarse_k=2, coarse_iterations=1, topk=3,
        ).collect(),
        key=lambda r: r["nprobe"],
    )
    assert [r["nprobe"] for r in out] == [1, 2]
    assert out[0]["n_hits_covered"] == 2 and out[0]["n_hits_total"] == 3
    assert out[0]["recall_q6"] == 666_667
    assert out[1]["n_hits_covered"] == 3
    assert out[1]["recall_q6"] == 1_000_000


def test_silhouette_centroid_hand_computed(spark):
    """Two 2-point clusters with centroids (1,0) and (11,0): the four
    per-point silhouettes are (11-1)/11 and (9-1)/9 in each cluster,
    so both cluster means are floor((909091+888889)/2 + .5) = 898990;
    a clustering with one surviving centroid raises."""
    rows = [
        (0, [0.0, 0.0]), (2, [2.0, 0.0]),
        (1, [10.0, 0.0]), (3, [12.0, 0.0]),
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = {r["cluster_id"]: r for r in sim.silhouette_centroid_report(
        corpus, k=2, iterations=1
    ).collect()}
    assert out[0]["n_points"] == 2 and out[1]["n_points"] == 2
    assert out[0]["mean_silhouette_q6"] == 898_990
    assert out[1]["mean_silhouette_q6"] == 898_990

    with pytest.raises(ValueError, match="at least 2"):
        sim.silhouette_centroid_report(corpus, k=1, iterations=1)


def test_ivf_assignment_drift_hand_computed(spark):
    """Model frozen on two centroids at (0,0) and (10,0); a drifted
    batch puts 3 points near cell 0 (d2 = 0, 1, 4 -> mean 1666667 q6)
    and 1 point at (14,0) in cell 1 (d2 = 16); empty-model errors."""
    coarse = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 0.0])],
        "cluster_id int, cvec array<double>",
    )
    batch = spark.createDataFrame(
        [
            (0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [2.0, 0.0]),
            (3, [14.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r["cluster_id"]: r for r in sim.ivf_assignment_drift_report(
        batch, coarse
    ).collect()}
    assert out[0]["n_vectors"] == 3 and out[1]["n_vectors"] == 1
    assert out[0]["share_ppm"] == 750_000
    # mean of quantized d2: (0 + 1e6 + 4e6) / 3 -> 1666667
    assert out[0]["mean_d2_q6"] == 1_666_667
    assert out[1]["mean_d2_q6"] == 16_000_000

    # a model cell with no batch members stays visible with NULL mean
    far = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 0.0]), (2, [99.0, 0.0])],
        "cluster_id int, cvec array<double>",
    )
    out2 = {r["cluster_id"]: r for r in sim.ivf_assignment_drift_report(
        batch, far
    ).collect()}
    assert out2[2]["n_vectors"] == 0 and out2[2]["mean_d2_q6"] is None

    with pytest.raises(ValueError, match="empty coarse"):
        sim.ivf_assignment_drift_report(
            batch, coarse.filter("cluster_id < 0")
        )

    # EMPTY batch (a scheduled monitor run with no ingest): NULL shares
    # and means, never a divide-by-zero
    out3 = sim.ivf_assignment_drift_report(
        batch.filter("vec_id < 0"), coarse
    ).collect()
    assert len(out3) == 2
    assert all(
        r["n_vectors"] == 0
        and r["share_ppm"] is None
        and r["mean_d2_q6"] is None
        for r in out3
    )


def test_pq_code_utilization_hand_computed(spark):
    """A frozen 1-subspace book with 4 codes where the corpus only ever
    uses 2 of them (3:1): n_codes_used=2, top share 750000, entropy =
    ln(4) - (3 ln 3 + 1 ln 1)/4 = 0.562335 nats (q6)."""
    import math

    book = spark.createDataFrame(
        [(0, c, [float(10 * c), 0.0]) for c in range(4)],
        "subspace int, cluster_id int, cvec array<double>",
    )
    corpus = spark.createDataFrame(
        [(i, [0.1 * i, 0.0]) for i in range(3)] + [(3, [10.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    r = sim.pq_code_utilization_report(corpus, book).collect()
    assert len(r) == 1
    row = r[0]
    assert row["subspace"] == 0
    assert row["n_codes_book"] == 4 and row["n_codes_used"] == 2
    assert row["top_code_share_ppm"] == 750_000
    expect = math.floor(
        (math.log(4.0) - round(3.0 * math.log(3.0), 7) / 4.0) * 1e6 + 0.5
    )
    assert row["entropy_q6"] == expect


def test_mmr_diversified_topk_hand_computed(spark):
    """Query at the origin; candidates a=(1,0), b=(1.1,0) (a's near-dup)
    and c=(0,2). Plain top-2 is [a, b]; MMR at lambda=.5 swaps the
    near-dup for the diverse c: score(b) = .5*1.21 - .5*0.01 = 0.6,
    score(c) = .5*4 - .5*5 = -0.5 -> c wins round 2. lambda=1 degrades
    to pure relevance [a, b]; k > candidates raises."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.1, 0.0]), (3, [0.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(10, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = sorted(
        sim.mmr_diversified_topk(
            corpus, queries, candidates=3, k=2, lambda_ppm=500_000
        ).collect(),
        key=lambda r: r["mmr_rank"],
    )
    assert [(r["neighbor_id"], r["mmr_rank"]) for r in out] == [
        (1, 1), (3, 2)
    ]
    pure = sorted(
        sim.mmr_diversified_topk(
            corpus, queries, candidates=3, k=2, lambda_ppm=1_000_000
        ).collect(),
        key=lambda r: r["mmr_rank"],
    )
    assert [(r["neighbor_id"], r["mmr_rank"]) for r in pure] == [
        (1, 1), (2, 2)
    ]
    with pytest.raises(ValueError, match="must be in"):
        sim.mmr_diversified_topk(corpus, queries, candidates=3, k=4)


def test_cluster_validity_hand_computed(spark):
    """Two clean 2D blobs: the partition is obvious, every quantity is
    mirrored by hand through the same quantized arithmetic; a smeared
    variant must score WORSE on both indices (higher DB, lower CH)."""
    import math

    from pyspark_playground_spark.operators import similarity as sim

    # seeds at ids 0/1; two tight blobs around (0,0) and (10,10)
    pts = {
        0: (0.0, 0.0), 1: (10.0, 10.0),
        2: (0.0, 1.0), 3: (1.0, 0.0),
        4: (10.0, 11.0), 5: (11.0, 10.0),
    }
    df = spark.createDataFrame(
        [(i, list(v)) for i, v in pts.items()],
        "vec_id bigint, embedding array<double>",
    )
    r = sim.cluster_validity_report(df, k=2, iterations=1).collect()[0]
    assert r["n_points"] == 6 and r["k_clusters"] == 2

    # independent mirror: one Lloyd step from seeds (0,0)/(10,10)
    # assigns {0,2,3} / {1,4,5}; trained centroids = blob means;
    # reassignment keeps the split; partition means likewise
    mu0 = ((0 + 0 + 1) / 3, (0 + 1 + 0) / 3)
    mu1 = ((10 + 10 + 11) / 3, (10 + 11 + 10) / 3)
    w6 = 0
    wi = {0: 0, 1: 0}
    for i, v in pts.items():
        mu = mu0 if i in (0, 2, 3) else mu1
        d2 = (v[0] - mu[0]) ** 2 + (v[1] - mu[1]) ** 2
        q = math.floor(d2 * 1e6 + 0.5)
        w6 += q
        wi[0 if i in (0, 2, 3) else 1] += q
    assert r["within_ss_q6"] == w6
    gbar = tuple((3 * a + 3 * b) / 6 for a, b in zip(mu0, mu1))
    b6 = sum(
        math.floor(
            3 * ((m[0] - gbar[0]) ** 2 + (m[1] - gbar[1]) ** 2) * 1e6 + 0.5
        )
        for m in (mu0, mu1)
    )
    assert r["between_ss_q6"] == b6
    assert r["ch_x3"] == (b6 * (6 - 2) * 1000) // (w6 * (2 - 1))
    s0 = math.sqrt(wi[0] / 1e6 / 3)
    s1 = math.sqrt(wi[1] / 1e6 / 3)
    m = math.sqrt((mu0[0] - mu1[0]) ** 2 + (mu0[1] - mu1[1]) ** 2)
    r01 = math.floor((s0 + s1) / m * 1e6 + 0.5)
    assert r["db_q6"] == math.floor((r01 + r01) / 2 + 0.5)

    # smear the blobs toward each other: DB up, CH down
    smear = {
        0: (0.0, 0.0), 1: (10.0, 10.0),
        2: (4.0, 5.0), 3: (5.0, 4.0),
        4: (6.0, 5.0), 5: (5.0, 6.0),
    }
    df2 = spark.createDataFrame(
        [(i, list(v)) for i, v in smear.items()],
        "vec_id bigint, embedding array<double>",
    )
    r2 = sim.cluster_validity_report(df2, k=2, iterations=1).collect()[0]
    assert r2["db_q6"] > r["db_q6"]
    assert r2["ch_x3"] < r["ch_x3"]

    # all-identical points collapse to one cluster: refused
    import pytest

    dup = spark.createDataFrame(
        [(i, [1.0, 1.0]) for i in range(4)],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="at least 2"):
        sim.cluster_validity_report(dup, k=2, iterations=1)


def test_lsh_scurve_plan_values(spark):
    """Closed-form check at exact grid points: p(0)=0, p(1)=1, the
    b=16/r=4 curve holds >=0.9997 at s=0.8 (the corrected minhash
    plateau claim), and a python fold mirror pins every point."""
    import math

    from pyspark_playground_spark.operators.dedup import lsh_scurve_plan

    out = {r["s_x2"]: r["p_candidate_q9"] for r in
           lsh_scurve_plan(spark, bands=16, rows_per_band=4,
                           step_x2=2).collect()}
    assert out[0] == 0 and out[100] == 10**9
    assert out[80] >= 999_700_000

    for s_x2, got in out.items():
        s = s_x2 / 100.0
        s_r = 1.0
        for _ in range(4):
            s_r = s_r * s
        miss = 1.0
        for _ in range(16):
            miss = miss * (1.0 - s_r)
        assert got == math.floor((1.0 - miss) * 1e9 + 0.5), s_x2

    import pytest

    with pytest.raises(ValueError, match="bands"):
        lsh_scurve_plan(spark, bands=0)
    # a step that does not divide 100 would silently drop s=1.0
    with pytest.raises(ValueError, match="divide 100"):
        lsh_scurve_plan(spark, step_x2=3)
