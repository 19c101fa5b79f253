#!/usr/bin/env python
"""Scale probe: run the core paths at ~10× bench scale (synthesized).

Synthesizes ~6M lineitem rows / ~1.5M orders / 50k documents by replicating
the sf0.1 tables with perturbed keys (written to /tmp, testdata stays
untouched), then measures the operators whose cost profile matters at
100 TB:

- scan+agg (q1 shape) — pure codegen throughput;
- hub load (hash + distinct + anti-join) — the per-batch vault hot path;
- satellite idempotent re-append — anti-join against an existing table;
- MinHash-LSH dedup — explode/agg + banded self-join;
- windowed aggregation over events.

Prints one JSON line per measurement; exercised rows/sec is the number to
compare across scales (flat rows/sec from sf0.1 → 10× means the plan
scales linearly; a falling rate exposes a super-linear stage).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pyspark_playground_spark import queries as Q
from pyspark_playground_spark.operators import dedup as dd
from pyspark_playground_spark.operators import raw_vault as rv
from pyspark_playground_spark.session import get_spark

WORK = os.environ.get("SCALE_PROBE_DIR", "/tmp/scale_probe")
FACTOR = int(os.environ.get("SCALE_PROBE_FACTOR", "10"))
SF_DIR = "/root/testdata/sf0.1"


def synthesize(spark) -> None:
    """Replicate sf0.1 tables FACTOR× with shifted keys (distinct entities,
    same distributions)."""
    reps = spark.range(FACTOR).select(F.col("id").alias("__rep"))
    for table, key_cols in (
        ("lineitem", ["l_orderkey"]),
        ("orders", ["o_orderkey", "o_custkey"]),
        ("customer", ["c_custkey"]),
        ("documents", ["doc_id"]),
        ("embeddings", ["vec_id"]),
    ):
        out = f"{WORK}/{table}.parquet"
        if os.path.exists(out):
            continue
        df = Q.load(spark, SF_DIR, table).crossJoin(reps)
        for k in key_cols:
            df = df.withColumn(k, F.col(k) + F.col("__rep") * F.lit(100_000_000))
        if table == "documents":
            # perturb text so documents are near- rather than exact dups
            df = df.withColumn(
                "text", F.concat(F.col("text"), F.lit(" rep"), F.col("__rep"))
            )
        df.drop("__rep").write.mode("overwrite").parquet(out)


#: comma-separated probe names to run (default: all) — lets the slow
#: 100× factor runs target just the headline cost profiles
ONLY = {
    s for s in os.environ.get("SCALE_PROBE_ONLY", "").split(",") if s
}


def timed(name: str, rows: int, fn) -> None:
    if ONLY and name not in ONLY:
        return
    t0 = time.time()
    fn()
    dt = time.time() - t0
    print(json.dumps({
        "probe": name, "rows": rows, "sec": round(dt, 2),
        "rows_per_sec": int(rows / dt) if dt > 0 else None,
    }))


def main() -> None:
    fresh = os.environ.get("SCALE_PROBE_FRESH") == "1"
    if fresh and os.path.exists(WORK):
        shutil.rmtree(WORK)
    os.makedirs(WORK, exist_ok=True)
    spark = get_spark(app_name="scale-probe", warehouse_dir=f"{WORK}/wh")
    synthesize(spark)

    li = spark.read.parquet(f"{WORK}/lineitem.parquet")
    docs = spark.read.parquet(f"{WORK}/documents.parquet")
    cust = spark.read.parquet(f"{WORK}/customer.parquet")
    n_li, n_docs, n_cust = li.count(), docs.count(), cust.count()

    # 1. scan + aggregate (q1 shape)
    def q1():
        price = F.col("l_extendedprice").cast("decimal(12,2)")
        disc = F.col("l_discount").cast("decimal(4,2)")
        (li.filter(F.col("l_shipdate") <= F.lit(datetime(1998, 9, 2)))
           .groupBy("l_returnflag", "l_linestatus")
           .agg(F.sum(price * (F.lit(1) - disc)).alias("s"), F.count(F.lit(1)).alias("n"))
           .write.format("noop").mode("overwrite").save())
    timed("q1_scan_agg", n_li, q1)

    # 2. hub load: hash + distinct (first batch: no existing side)
    staged = rv.prepare_staging(
        cust.withColumn("__ld", F.lit(datetime(2026, 1, 1))),
        load_date_column="__ld", operation_column=None,
        record_source="probe", hkey_columns=["c_custkey"],
    )
    def hub():
        rv.hub_rows(staged, ["c_custkey"], load_ts=datetime(2026, 1, 2),
                    record_source="probe").write.format("noop").mode("overwrite").save()
    timed("hub_load", n_cust, hub)

    # 3. idempotent satellite re-append: anti-join vs an equal-size existing
    existing = rv.satellite_rows(staged, ["c_name", "c_mktsegment"])
    def sat_reappend():
        rv.satellite_rows(staged, ["c_name", "c_mktsegment"], existing=existing) \
            .write.format("noop").mode("overwrite").save()
    timed("satellite_idempotent_reappend", n_cust, sat_reappend)

    # 3b. multilink load at replicated lineitem scale — both hash configs.
    #     The plan is linear (hash + distinct, no join); the md5-vs-xxh
    #     delta isolates hash compute, pinning the compute-bound claim.
    from pyspark_playground_spark.conventions import LinkedHubDefinition

    li_staged = rv.prepare_staging(
        li.withColumn("__ld", F.lit(datetime(2026, 1, 1))),
        load_date_column="__ld", operation_column=None,
        record_source="probe", hkey_columns=["l_orderkey"],
    )
    members = [
        LinkedHubDefinition("orders", "l_orderkey"),
        LinkedHubDefinition("part", "l_partkey"),
        LinkedHubDefinition("supplier", "l_suppkey"),
    ]

    def multilink_md5():
        rv.multilink_rows(
            li_staged, members, load_ts=datetime(2026, 1, 2),
            record_source="probe",
        )[0].write.format("noop").mode("overwrite").save()

    def multilink_xxh():
        rv.multilink_rows(
            li_staged, members, load_ts=datetime(2026, 1, 2),
            record_source="probe", hash_function="xxhash64",
        )[0].write.format("noop").mode("overwrite").save()

    timed("multilink_md5", n_li, multilink_md5)
    timed("multilink_xxh", n_li, multilink_xxh)

    # 3c. q3/q5 join shape at replicated scale: customer ⋈ orders ⋈
    #     lineitem with no broadcast hints — AQE must keep choosing sane
    #     strategies as every side grows (the r2 scale-killer regression
    #     surface).
    orders = spark.read.parquet(f"{WORK}/orders.parquet")
    n_ord = orders.count()

    def q3_joins():
        (cust.filter(F.col("c_mktsegment") == "BUILDING")
             .join(orders, F.col("c_custkey") == F.col("o_custkey"))
             .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
             .groupBy("o_orderkey", "o_orderdate")
             .agg(F.sum(
                 F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
             ).alias("rev"))
             .orderBy(F.col("rev").desc()).limit(10)
             .write.format("noop").mode("overwrite").save())

    timed("q3_join_shape", n_li + n_ord + n_cust, q3_joins)

    # 4. MinHash-LSH dedup over the replicated corpus
    def minhash():
        dd.minhash_dedup_pairs(docs, threshold=0.5).count()
    timed("minhash_lsh_dedup", n_docs, minhash)

    # 5. events windowed aggregation at source scale (not replicated —
    #    included for the cross-scale comparison)
    events = Q.load_events(spark, SF_DIR)
    n_ev = events.count()
    def win():
        (events.groupBy(F.window("ts", "1 hour"), "event_type")
               .agg(F.count(F.lit(1)).alias("n"))
               .write.format("noop").mode("overwrite").save())
    timed("events_hourly_window", n_ev, win)

    # 6. sub-document chunk dedup over the replicated corpus (keep-first
    #    window on the chunk hash + reassembly — two key shuffles)
    def chunkdedup():
        dd.token_chunk_dedup(docs, chunk_tokens=8).write.format(
            "noop"
        ).mode("overwrite").save()
    timed("token_chunk_dedup", n_docs, chunkdedup)

    # 7. hot-key as-of: ALL probe rows on ONE user, bucketed vs not.
    #    The unbucketed plan serializes the key into a single task; the
    #    bucketed plan spreads it over per-hour partitions.
    from pyspark_playground_spark.operators import temporal as tp

    hot_n = int(os.environ.get("SCALE_PROBE_HOT_ROWS", "4000000"))
    hot = (
        spark.range(hot_n)
        .select(
            F.lit(1).alias("user_id"),
            F.timestamp_micros(
                (F.lit(1_700_000_000_000_000) + F.col("id") * 2_000_000).cast("long")
            ).alias("ts"),
            (F.col("id") % 97).alias("v"),
        )
    )
    lhs = hot.select("user_id", "ts")
    rhs = hot.select("user_id", F.expr("ts - INTERVAL 1 SECOND").alias("ts"), "v")
    def asof_plain():
        tp.asof_join(lhs, rhs, "ts", "user_id").write.format("noop").mode(
            "overwrite"
        ).save()
    def asof_bucketed():
        tp.asof_join(lhs, rhs, "ts", "user_id", bucket="1 hour").write.format(
            "noop"
        ).mode("overwrite").save()
    timed("asof_hot_key_unbucketed", hot_n, asof_plain)
    timed("asof_hot_key_bucketed_1h", hot_n, asof_bucketed)

    # 8. tokenizer statistics over the replicated corpus: the word census
    #    collapses before the pair explode, so rows/sec should hold at 10×
    from pyspark_playground_spark.operators import text as tx

    def bpe():
        tx.bpe_pair_counts(docs, k=50).count()
    timed("bpe_pair_counts", n_docs, bpe)

    def pmi():
        tx.pmi_collocations(docs, min_count=5, k=50).count()
    timed("pmi_collocations", n_docs, pmi)

    # 9. embedding decontamination: 10×-replicated corpus vs a 100-vector
    #    benchmark — the fold-over-broadcast plan has no shuffle to grow
    from pyspark_playground_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    reps2 = spark.range(FACTOR).select(F.col("id").alias("__rep"))
    embx = (
        emb.crossJoin(reps2)
        .withColumn("vec_id", F.col("vec_id") + F.col("__rep") * 100_000_000)
        .drop("__rep")
    )
    n_embx = embx.count()
    bench_set = emb.filter(F.col("label") == 0).filter(F.col("vec_id") < 200)

    def contam():
        sim.benchmark_contamination(embx, bench_set, threshold=0.35).write.format(
            "noop"
        ).mode("overwrite").save()
    timed("embedding_contamination", n_embx, contam)

    # 10. fixed-point PageRank on a synthetic 500k-node / 5M-edge hash graph
    from pyspark_playground_spark.operators import graph as gr

    n_edges = int(os.environ.get("SCALE_PROBE_PR_EDGES", "5000000"))
    edges = spark.range(n_edges).select(
        (F.xxhash64(F.col("id")) % 500_000).alias("src"),
        (F.xxhash64(F.col("id") + 7_777_777) % 500_000).alias("dst"),
    )

    def pr():
        gr.pagerank_fixed_point(edges, iterations=3).write.format("noop").mode(
            "overwrite"
        ).save()
    timed("pagerank_3iter_5m_edges", n_edges, pr)

    # 11. blocked fuzzy linkage on the part catalog with perturbed names
    #    (distinct-name census grows 10×; block sizes stay bounded)
    from pyspark_playground_spark.operators import linkage as lk

    part = Q.load(spark, SF_DIR, "part")
    partx = (
        part.crossJoin(reps2)
        .withColumn("p_name", F.concat(F.col("p_name"), F.lit(" v"), F.col("__rep")))
        .drop("__rep")
    )
    n_part = partx.count()

    def fuzzy():
        lk.blocked_fuzzy_pairs(partx, "p_name", max_dist=4).count()
    timed("blocked_fuzzy_linkage", n_part, fuzzy)

    # 12. stride-1 span-duplication census (the heaviest new op: one row
    #     per token position through two key shuffles)
    def span_dup():
        dd.span_duplication_stats(docs, span_tokens=20).write.format(
            "noop"
        ).mode("overwrite").save()
    timed("span_duplication_stats", n_docs, span_dup)

    # 13. exact heavy hitters (the deliberate Python-candidate slow path:
    #     per-partition Misra-Gries in mapInPandas, exact recount after)
    from pyspark_playground_spark.operators import profiling as pf

    def hh():
        pf.heavy_hitters(li, "l_returnflag", k=4).write.format("noop").mode(
            "overwrite"
        ).save()
    timed("heavy_hitters_6m_rows", n_li, hh)

    # 14. distributed global rank (curriculum re-key) over the replicated
    #     corpus keyed on document length
    from pyspark_playground_spark.operators import packing as pk

    def drank():
        pk.distributed_rank(
            docs.select("doc_id", "n_chars"),
            order_column="n_chars",
            buckets=64,
        ).write.format("noop").mode("overwrite").save()
    timed("distributed_rank", n_docs, drank)

    # 15. q2 shape: double agg on (part,supp) + min-equality join back —
    #     three co-partitioned shuffles on l_partkey, replicated lineitem
    part = Q.load(spark, SF_DIR, "part")

    def q2_shape():
        p = part.filter(
            (F.col("p_type") == "LARGE") & (F.col("p_size") <= 5)
        ).select("p_partkey")
        unit = F.col("l_extendedprice").cast("double") / F.col(
            "l_quantity"
        ).cast("double")
        cost = (
            li.join(p, li.l_partkey == F.col("p_partkey"))
            .groupBy("p_partkey", "l_suppkey")
            .agg(F.min(unit).alias("unit_cost"))
        )
        best = cost.groupBy("p_partkey").agg(F.min("unit_cost").alias("mc"))
        cost.join(
            best.withColumnRenamed("p_partkey", "bp"),
            (F.col("p_partkey") == F.col("bp"))
            & (F.col("unit_cost") == F.col("mc")),
        ).write.format("noop").mode("overwrite").save()
    timed("q2_min_cost_shape", n_li, q2_shape)

    # 16. q16 shape: derived-set anti-join + per-group distinct count
    def q16_shape():
        p = part.filter(F.col("p_size").isin(1, 5, 10, 15, 20, 25)).select(
            "p_partkey", "p_brand", "p_type", "p_size"
        )
        excluded = (
            li.filter(
                (F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 49.0)
            )
            .select("l_suppkey")
            .distinct()
        )
        (
            li.join(p, li.l_partkey == F.col("p_partkey"))
            .join(excluded, "l_suppkey", "left_anti")
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("n"))
            .write.format("noop").mode("overwrite").save()
        )
    timed("q16_anti_distinct_shape", n_li, q16_shape)

    # 17-18. replicated events (FACTOR× users — per-key work constant,
    #        group count scales: the right axis for per-key recursions)
    from pyspark_playground_spark.operators import temporal as tp

    ev_rep = events.crossJoin(reps_frame(spark)).select(
        (F.col("user_id") + F.col("__rep") * F.lit(10_000_000)).alias(
            "user_id"
        ),
        "ts",
        "event_type",
        "value",
        (F.col("event_id") + F.col("__rep") * F.lit(1_000_000_000)).alias(
            "event_id"
        ),
    )
    n_evr = n_ev * FACTOR

    def psi_probe():
        pf.drift_psi(
            ev_rep,
            value_column="value",
            cohort_column=F.col("event_type") == "purchase",
            bins=64,
        ).write.format("noop").mode("overwrite").save()
    timed("psi_drift_binned", n_evr, psi_probe)

    def ewma_probe():
        tp.ewma(
            ev_rep,
            key_column="user_id",
            ts_column="ts",
            value_column="value",
            alpha=0.125,
            tiebreak_column="event_id",
        ).write.format("noop").mode("overwrite").save()
    timed("ewma_per_key", n_evr, ewma_probe)

    # 19. exact prefix-filtered Jaccard join over the replicated corpus —
    #     the scale question is prefix-collision candidate growth (the
    #     synthesized docs are near-dups of each other across reps, a
    #     deliberately adversarial candidate load)
    def prefix_jaccard():
        dd.prefix_filter_jaccard_join(docs, threshold=0.5).write.format(
            "noop"
        ).mode("overwrite").save()
    timed("prefix_jaccard_join", n_docs, prefix_jaccard)

    # 20. one-pass multi-cohort KS over the replicated events (every user
    #     bucket vs rest — group count scales with FACTOR)
    def ks_by_group():
        pf.drift_ks_by_group(
            ev_rep.withColumn("cohort", F.col("user_id") % 50),
            group_column="cohort",
            value_column="value",
            bins=64,
        ).write.format("noop").mode("overwrite").save()
    timed("ks_drift_by_group", n_evr, ks_by_group)

    # 21. Count-Min sketch build + estimates (portable md5 hashing)
    def cms():
        sk = pf.count_min_sketch(ev_rep, "user_id", width=1024, depth=4)
        pf.count_min_estimates(
            ev_rep, sk, "user_id", width=1024, depth=4
        ).write.format("noop").mode("overwrite").save()
    timed("cms_build_estimate", n_evr, cms)

    # 22. maximal duplicated-span extraction + the cut over the replicated
    #     corpus — one row per token position through two digest shuffles
    #     plus a doc-bounded island window; the cut adds the interval
    #     attach + ordered reassembly (state = one document per group)
    def dup_spans():
        dd.duplicated_spans(docs, min_tokens=8).write.format("noop").mode(
            "overwrite"
        ).save()
    timed("duplicated_spans", n_docs, dup_spans)

    def dup_cut():
        dd.remove_duplicated_spans(docs, min_tokens=8).write.format(
            "noop"
        ).mode("overwrite").save()
    timed("remove_duplicated_spans", n_docs, dup_cut)

    # 23. stream-shape interval join over the replicated events: per-user
    #     views x purchases within 2h — the symmetric-hash-join shape whose
    #     cost is the matched-pair count, scaling with users (FACTOR), not
    #     pairs-per-user
    from pyspark_playground_spark.streaming import cdc as stc

    views_r = ev_rep.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id",
        F.col("ts").alias("view_ts"),
    )
    buys_r = ev_rep.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("purchase_ts"),
    )

    def ij():
        stc.interval_join(
            views_r, buys_r, on="user_id", left_ts="view_ts",
            right_ts="purchase_ts", lower="0 seconds", upper="2 hours",
        ).write.format("noop").mode("overwrite").save()
    timed("interval_join_attribution", n_evr, ij)

    # 24. bigram-LM scoring over the replicated corpus: two censuses +
    #     two equi-joins, all rows-linear
    def bigram():
        tx.bigram_logprob_scores(docs).write.format("noop").mode(
            "overwrite"
        ).save()
    timed("bigram_logprob", n_docs, bigram)

    # 25. exact ROC-AUC over the replicated corpus: one score-group
    #     shuffle then the range-bucket prefix-sum (cost is the distinct-
    #     score cardinality, never pairs)
    from pyspark_playground_spark.operators import profiling as pfo

    def auc():
        pfo.exact_auc(
            docs, score_column="n_chars",
            label_column=F.col("lang") == "en",
        ).write.format("noop").mode("overwrite").save()
    timed("exact_auc", n_docs, auc)

    # 26. mutual information lang×source: one joint-count groupBy; the
    #     persisted cell frame bounds everything downstream
    def mi():
        pfo.mutual_information(
            docs, x_column="lang", y_column="source"
        ).write.format("noop").mode("overwrite").save()
    timed("mutual_information", n_docs, mi)

    # 27. Spearman over two derived integer scores: joint-count shuffle +
    #     two range-bucketed marginal rank branches off the persisted cell
    #     frame — the heaviest evaluation-statistic shape
    from pyspark_playground_spark.operators import text as txo

    spear_in = docs.filter(F.col("text").isNotNull()).select(
        F.col("n_chars").alias("a"), txo.token_count_expr("text").alias("b")
    )

    def spear():
        pfo.spearman_correlation(
            spear_in, x_column="a", y_column="b"
        ).write.format("noop").mode("overwrite").save()
    timed("spearman", n_docs, spear)

    # 28. dataset card: one wide agg pass (3 exact distincts + token sum)
    #     + the distributed-rank quantile frame
    def card():
        pfo.dataset_card(docs).write.format("noop").mode(
            "overwrite"
        ).save()
    timed("dataset_card", n_docs, card)

    # 29. byte-balanced shard planning: range-bucket prefix sum over the
    #     full corpus — the writer-side path whose cost must stay linear
    from pyspark_playground_spark.operators import layout as lyo

    def shards():
        lyo.plan_shards(
            docs.select("doc_id", "n_chars"),
            bytes_column="n_chars", target_bytes=65536,
            order_column="doc_id",
        ).write.format("noop").mode("overwrite").save()
    timed("plan_shards", n_docs, shards)

    # 30. token-budget selection: distinct-score cumulative + score-
    #     partitioned intra window — the budget gate must stay linear
    from pyspark_playground_spark.operators import packing as pko

    sel_in = docs.select(
        "doc_id", "n_chars", txo.token_count_expr("text").alias("n_toks")
    )

    def budget_sel():
        pko.select_token_budget(
            sel_in, score_column="n_chars", tokens_column="n_toks",
            id_column="doc_id", budget=1_000_000,
        ).write.format("noop").mode("overwrite").save()
    timed("token_budget_selection", n_docs, budget_sel)

    # 31. pairwise JSD matrix across sources: token-count groupBy +
    #     vocabulary-keyed self-join — cost is |vocab|·|sources|² cells,
    #     never corpus pairs; must stay linear in total tokens
    def jsd():
        obs = docs.select(
            "source", F.explode(txo.tokens_expr("text")).alias("token")
        )
        pfo.js_divergence_matrix(
            obs, group_column="source", value_column="token"
        ).write.format("noop").mode("overwrite").save()
    timed("jsd_source_matrix", n_docs, jsd)

    # 32. Cohen's kappa lang×source stand-in: one joint-count groupBy
    #     onto the bounded cell frame (same envelope as MI)
    def kappa():
        pfo.cohen_kappa(
            docs, a_column="lang", b_column="source"
        ).write.format("noop").mode("overwrite").save()
    timed("cohen_kappa", n_docs, kappa)

    # 33. deterministic Lloyd k-means on synthesized embeddings: per
    #     round one broadcast assignment fold + one (cluster, dim)
    #     exchange — assignment cost k·d FLOPs/row, no corpus shuffle
    emb_km = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .crossJoin(reps_frame(spark))
        .withColumn(
            "vec_id", F.col("vec_id") + F.col("__rep") * F.lit(100_000_000)
        )
        .drop("__rep", "label")
    )
    n_emb_km = emb_km.count()

    def kmeans():
        sim.kmeans_lloyd(emb_km, k=8, iterations=2).write.format(
            "noop"
        ).mode("overwrite").save()
    timed("kmeans_lloyd", n_emb_km, kmeans)

    # 34. trigram novelty per source: one dedup shuffle + one
    #     vocabulary-keyed min — both keyed on the gram, rows-linear
    def novelty():
        txo.ngram_novelty(
            docs, group_column="source", n=3
        ).write.format("noop").mode("overwrite").save()
    timed("ngram_novelty", n_docs, novelty)

    # 35. label propagation (2 rounds) on the 500k-node hash graph: per
    #     round one dst-keyed join + one (node,label) count + a per-node
    #     argmax window — every frame keyed on the node
    def lpa():
        gr.label_propagation(edges, iterations=2).write.format(
            "noop"
        ).mode("overwrite").save()
    timed("label_propagation_2iter_5m_edges", n_edges, lpa)

    # 36. per-language corpus census + trigram vocab growth: token-TYPE
    #     space aggregations — the census collapses before any join, so
    #     rows/sec must hold as the corpus (not the vocabulary) grows
    def lang_census():
        txo.lang_corpus_stats(docs).write.format("noop").mode(
            "overwrite"
        ).save()
    timed("lang_corpus_stats", n_docs, lang_census)

    def vgrowth():
        txo.vocab_growth(docs, buckets=10, n=3).write.format("noop").mode(
            "overwrite"
        ).save()
    timed("vocab_growth_trigram", n_docs, vgrowth)

    # 37. closed-form interleave: one per-source rank window + an
    #     O(sources) collected size table folded into codegen — no
    #     global sort anywhere
    from pyspark_playground_spark.operators import sampling as smo

    def interleave():
        smo.interleave_by_group(
            docs.select("doc_id", "source"),
            group_column="source", order_column="doc_id",
        ).write.format("noop").mode("overwrite").save()
    timed("interleave_by_group", n_docs, interleave)

    # 38. exact Gini of doc lengths: distributed rank + one broadcast
    #     totals frame — same envelope as distributed_rank
    def gini():
        pfo.gini_coefficient(
            docs, value_column="n_chars", id_column="doc_id"
        ).write.format("noop").mode("overwrite").save()
    timed("gini_doc_lengths", n_docs, gini)

    # 39. Kaplan-Meier over the replicated events: per-user agg then the
    #     value-cardinality-bounded step fold
    from pyspark_playground_spark.operators import survival as svo

    def km():
        svo.kaplan_meier(
            svo.user_lifetimes(ev_rep, churn_horizon_hours=24)
        ).write.format("noop").mode("overwrite").save()
    timed("kaplan_meier", n_evr, km)

    # 40. k-anonymity census over replicated customers: one QI groupBy
    from pyspark_playground_spark.operators import privacy as pvo

    custx = spark.read.parquet(f"{WORK}/customer.parquet")
    n_custx = custx.count()

    def kanon():
        pvo.k_anonymity_census(
            custx,
            [F.col("c_nationkey"), F.col("c_mktsegment"),
             F.floor(F.col("c_acctbal") / 1000.0).cast("int").alias("band")],
            k=5,
        ).write.format("noop").mode("overwrite").save()
    timed("k_anonymity_census", n_custx, kanon)

    # 41. Matryoshka prefix-energy report over replicated embeddings:
    #     per-vector folds + one label shuffle of quantized BIGINTs
    def prefix_energy():
        sim.prefix_energy_report(
            embx, prefixes=(8, 16, 32)
        ).write.format("noop").mode("overwrite").save()
    timed("prefix_energy_report", n_embx, prefix_energy)

    # 42. windowed heavy hitters over replicated events: one windowed
    #     count + the per-window bounded rank finish
    def hh_win():
        stc.top_k_per_window(
            stc.windowed_type_counts(ev_rep), k=3
        ).write.format("noop").mode("overwrite").save()
    timed("windowed_top_types", n_evr, hh_win)

    # 43. DSIR importance weights + Gumbel-top-k select over the
    #     replicated corpus: explode → bounded 4096-bucket census →
    #     broadcast model join → per-doc groupBy → TakeOrdered k
    from pyspark_playground_spark.operators import sampling as sp

    def dsir():
        w = sp.dsir_importance_weights(docs, F.col("lang") == "en")
        sp.dsir_gumbel_select(w, k=100).write.format("noop").mode(
            "overwrite"
        ).save()
    timed("dsir_weights_select", n_docs, dsir)

    # 44. BM25 scoring: query-filtered token stream + broadcast idf
    from pyspark_playground_spark.operators import text as txp

    def bm25():
        txp.bm25_scores(docs, ["hash", "join", "vector"]).write.format(
            "noop"
        ).mode("overwrite").save()
    timed("bm25_scores", n_docs, bm25)

    # 45. JL Rademacher projection 64->8 over replicated embeddings: a
    #     pure map stage (sign matrix folded into the plan), zero shuffle
    def jlproj():
        sim.rademacher_project(embx, dim=64, out_dim=8).write.format(
            "noop"
        ).mode("overwrite").save()
    timed("jl_project", n_embx, jlproj)

    # 46. grid-density screen: one cell-key shuffle + one key join back
    #     (counts side bounded by occupied-cell cardinality)
    def gdens():
        sim.grid_density(embx, dims=2, cell_width=0.25).write.format(
            "noop"
        ).mode("overwrite").save()
    timed("grid_density", n_embx, gdens)

    # 47. mutual-NN via LSH bucket candidates (the 100 TB path: scoring
    #     bounded by bucket co-membership, mutual join linear in corpus).
    #     Bucket count must scale with the corpus — fixed buckets make the
    #     candidate set O(n²/buckets); +4 planes per 10× keeps the average
    #     bucket size (and so per-bucket pair work) constant, the LSH
    #     analogue of scaling shuffle partitions with data volume.
    def mnn():
        planes = 8 if FACTOR <= 1 else (12 if FACTOR <= 10 else 16)
        cand = sim.embedding_near_dup_pairs(
            embx, threshold=-1.0, num_planes=planes
        ).select("id_a", "id_b")
        sim.mutual_nn_pairs(embx, candidates=cand).write.format(
            "noop"
        ).mode("overwrite").save()
    timed("mutual_nn_lsh", n_embx, mnn)

    # 48. link prediction on the 500k-node hash graph (1M edges so the
    #     wedge fan-out stays probe-sized; centers capped at 64 — the
    #     documented hub remedy on a random multigraph)
    n_lp_edges = 1_000_000
    lp_edges = spark.range(n_lp_edges).select(
        (F.xxhash64(F.col("id")) % 500_000).alias("src"),
        (F.xxhash64(F.col("id") + 7_777_777) % 500_000).alias("dst"),
    )

    def linkpred():
        gr.link_prediction_scores(
            lp_edges, max_center_degree=64
        ).write.format("noop").mode("overwrite").save()
    timed("link_prediction_1m_edges", n_lp_edges, linkpred)

    # 49. CCNet boilerplate removal over the replicated corpus, 8-token
    #     chunk segmentation: digest census + bounded drop-list join +
    #     doc-key reassembly (the sub-document dedup envelope)
    from pyspark_playground_spark.operators import dedup as ddp

    def boiler():
        toks = F.split(F.col("text"), " ")
        nseg = F.ceil(F.size(toks) / F.lit(8)).cast("int")
        chunked = docs.select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), nseg - 1),
                    lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
                ),
                "\n",
            ).alias("text"),
        )
        ddp.frequent_segment_removal(
            chunked, separator="\n", max_doc_freq=3
        ).write.format("noop").mode("overwrite").save()
    timed("boilerplate_removal", n_docs, boiler)

    # 50. fixed-round k-core peel on the 500k-node hash graph (3 rounds;
    #     per round one degree count + two semi-joins, edges shrink)
    def kcore():
        gr.k_core(lp_edges, k=6, rounds=3).write.format("noop").mode(
            "overwrite"
        ).save()
    timed("k_core_3rounds_1m_edges", n_lp_edges, kcore)

    # 51. random-pair cosine histogram over replicated embeddings:
    #     distributed_rank pairing + one pair join + bounded bin agg
    def coshist():
        sim.cosine_pair_histogram(embx).write.format("noop").mode(
            "overwrite"
        ).save()
    timed("cosine_pair_histogram", n_embx, coshist)

    # 52. LTTB downsampling over replicated events (FACTOR x users): one
    #     span agg + bounded centroid agg + (key,bucket) argmax window
    from pyspark_playground_spark.operators import temporal as tpo

    ev_lt = ev_rep
    n_evlt = n_evr

    def lttb():
        tpo.lttb_downsample(
            ev_lt, key_column="user_id", time_column="ts",
            value_column="value", buckets=20,
        ).write.format("noop").mode("overwrite").save()
    timed("lttb_downsample", n_evlt, lttb)

    # 53. modularity of the hash partition on the 1M-edge graph: two
    #     label joins + three bounded aggregations
    lp_labels = spark.range(500_000).select(
        F.col("id").alias("node"), (F.col("id") % 64).alias("label")
    )

    def modq():
        gr.modularity(lp_edges, lp_labels).write.format("noop").mode(
            "overwrite"
        ).save()
    timed("modularity_1m_edges", n_lp_edges, modq)

    # 54. HITS (3 iterations) on the 1M-edge hash graph: two key joins +
    #     two sums + two broadcast max-normalizations per round
    def hits():
        gr.hits_fixed_point(lp_edges, iterations=3).write.format(
            "noop"
        ).mode("overwrite").save()
    timed("hits_3iter_1m_edges", n_lp_edges, hits)

    # 55. multi-source BFS (4 hops) on the 1M-edge hash graph, 1k seeds:
    #     frontier join + anti-join + distinct per hop
    def bfs():
        seeds = spark.range(1000).select((F.col("id") * 500).alias("node"))
        gr.bfs_distances(lp_edges, seeds, max_hops=4).write.format(
            "noop"
        ).mode("overwrite").save()
    timed("bfs_4hops_1m_edges", n_lp_edges, bfs)

    # 56. exact PR sweep over the replicated corpus: score census +
    #     fused two-column range-bucket cumulative (r6 — output bounded
    #     by distinct-score cardinality, never corpus size)
    from pyspark_playground_spark.operators import profiling as pf

    def prcurve():
        pf.pr_curve(
            docs, score_column="n_chars",
            label_column=F.col("lang") == "en",
        ).write.format("noop").mode("overwrite").save()
    timed("pr_curve_sweep", n_docs, prcurve)

    # 57. chi-square independence source×lang at corpus scale: one
    #     contingency census groupBy, everything after is margin-sized
    def chi2():
        pf.chi_square_independence(
            docs, a_column="source", b_column="lang"
        ).write.format("noop").mode("overwrite").save()
    timed("chi2_independence", n_docs, chi2)

    # 58. retrieval eval (nDCG@10 + RR) — bounded 25-query panel against
    #     the replicated embedding corpus; the corpus streams through the
    #     broadcast ranking, never shuffles
    from pyspark_playground_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{WORK}/embeddings.parquet")
    n_emb = emb.count()

    def retr():
        sim.retrieval_eval_report(
            emb, emb.filter(F.col("vec_id") < 25), label_column="label",
            k=10, queries_in_corpus=True,
        ).write.format("noop").mode("overwrite").save()
    timed("retrieval_eval_ndcg", n_emb, retr)

    # 59. PQ train+encode+ADC recall over the replicated embedding
    #     corpus (r6): per-subspace Lloyd on broadcast centroids, encode
    #     via one broadcast join, ADC from a model-sized LUT — the
    #     32x-compression vector path; corpus never shuffles raw vectors
    def pq():
        sim.pq_recall_report(
            emb, emb.filter(F.col("vec_id") < 10),
            dim=64, m=2, k=8, iterations=1, topk=10,
        ).write.format("noop").mode("overwrite").save()
    timed("pq_recall", n_emb, pq)

    # 60. composed IVF×PQ search (r7): coarse-cell probe prunes the
    #     candidate scan to nprobe/coarse_k of the corpus; cell + codes
    #     come from ONE shuffle-free literal-model projection. The scan
    #     is corpus-linear (training included here — it re-runs per call)
    def ivfpq():
        sim.ivf_pq_topk(
            emb, emb.filter(F.col("vec_id") < 10),
            dim=64, coarse_k=8, coarse_iterations=1, nprobe=2,
            m=4, k=16, iterations=1, topk=10,
        ).write.format("noop").mode("overwrite").save()
    timed("ivf_pq_topk", n_emb, ivfpq)

    # 62. one-way ANOVA price-by-priority at replicated orders scale:
    #     one exact-integer group census, margin-sized everything after
    def anova():
        pf.anova_oneway(
            orders, value_column="o_totalprice",
            group_column="o_orderpriority",
        ).write.format("noop").mode("overwrite").save()
    timed("anova_oneway", n_ord, anova)

    # 63. paired sign-flip permutation test, 200 flips (r7): one corpus
    #     pass exploding 200 content-addressed signs, map-side combined
    #     to 200 rows — the poisson_bootstrap exchange shape
    from pyspark_playground_spark.operators import sampling as smp
    from pyspark_playground_spark.operators.text import tokens_expr

    def signflip():
        smp.sign_flip_test(
            docs,
            diff_column=F.size(tokens_expr("text"))
            - F.expr("n_chars DIV 5"),
            key_columns=["doc_id"],
            permutations=200,
        ).write.format("noop").mode("overwrite").save()
    timed("sign_flip_test", n_docs, signflip)

    # 64. JSD drift monitor over replicated events values (r7): the
    #     drift_psi plan with log2 terms — one count shuffle, B-row agg
    def jsd_probe():
        pf.drift_jsd(
            ev_rep, value_column="value",
            cohort_column=F.col("event_type") == "purchase", bins=64,
        ).write.format("noop").mode("overwrite").save()
    timed("jsd_drift_binned", n_evr, jsd_probe)

    # 65. RBO cosine-vs-L2 on the replicated embedding corpus (r7):
    #     two bounded-panel exact rankings (the documented
    #     O(corpus x panel) envelope) + a depth-bounded overlap census
    def rbo_probe():
        ra = sim.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10),
                                  k=10)
        rb = sim.brute_force_topk_l2(
            emb, emb.filter(F.col("vec_id") < 10), k=10)
        sim.rbo_report(ra, rb, depth=10).write.format("noop").mode(
            "overwrite").save()
    timed("rbo_cosine_vs_l2", n_emb, rbo_probe)

    # 66. frozen-book incremental PQ encode (r7): train once on the
    #     original 2k vectors, encode the whole replicated corpus as one
    #     shuffle-free literal-argmin projection (0 exchanges)
    def pq_inc():
        _, book = sim.pq_train_encode(
            emb.filter(F.col("vec_id") < 2000), dim=64, m=2, k=8,
            iterations=1,
        )
        sim.pq_encode_with_book(emb, book).write.format("noop").mode(
            "overwrite").save()
    timed("pq_incremental_encode", n_emb, pq_inc)

    # 67. Theil-Sen hourly trend over replicated events (r7): corpus
    #     work is ONE hourly-count groupBy; the pair frame is bounded by
    #     the time range squared (hours never replicate with FACTOR)
    from pyspark_playground_spark.operators.temporal import theil_sen_slope

    def theil():
        hr = (ev_rep.filter(F.col("ts").isNotNull())
              .groupBy((F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
                        / F.lit(3600)).cast("long").alias("x"))
              .agg(F.count(F.lit(1)).alias("y")))
        theil_sen_slope(hr, x_column="x", y_column="y").write.format(
            "noop").mode("overwrite").save()
    timed("theil_sen_hourly", n_evr, theil)

    # 68. CUPED adjusted effect over replicated events (r7): one user
    #     groupBy + one conditional moment aggregate
    def cuped():
        e2 = ev_rep.filter(F.col("value").isNotNull()
                           & F.col("ts").isNotNull())
        half = F.dayofmonth("ts") <= 15
        dec = F.round(F.col("value"), 9).cast("decimal(28,10)")
        u = e2.groupBy("user_id").agg(
            F.coalesce(F.sum(F.when(half, dec)),
                       F.lit(0).cast("decimal(38,10)")).cast("double")
            .alias("x"),
            F.coalesce(F.sum(F.when(~half, dec)),
                       F.lit(0).cast("decimal(38,10)")).cast("double")
            .alias("y"),
            F.coalesce(F.max(F.when(half & (F.col("event_type")
                                            == "purchase"), F.lit(True))),
                       F.lit(False)).alias("a"),
        )
        pf.cuped_adjusted_effect(
            u, metric_column="y", covariate_column="x", cohort_column="a",
        ).write.format("noop").mode("overwrite").save()
    timed("cuped_effect", n_evr, cuped)

    # 69. binary-segmentation changepoint over replicated events (r7):
    #     corpus work is the hourly groupBy; candidates bounded by hours
    from pyspark_playground_spark.operators.temporal import (
        binary_segmentation_changepoint,
    )

    def chgpt():
        hr = (ev_rep.filter(F.col("ts").isNotNull())
              .groupBy((F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
                        / F.lit(3600)).cast("long").alias("x"))
              .agg(F.count(F.lit(1)).alias("y")))
        binary_segmentation_changepoint(
            hr, x_column="x", y_column="y"
        ).write.format("noop").mode("overwrite").save()
    timed("changepoint_hourly", n_evr, chgpt)

    # 70. frozen-model IVF×PQ search (r8): train ONCE on the original
    #     2k vectors, serve the search over the whole replicated corpus
    #     against the frozen model — the production latency the per-call
    #     training in probe 60 hides; pure candidate-pruned scan
    coarse_m, book_m = sim.ivf_pq_train(
        emb.filter(F.col("vec_id") < 2000),
        dim=64, coarse_k=8, coarse_iterations=1, m=4, k=16, iterations=1,
    )

    def ivf_frozen():
        sim.ivf_pq_search_with_model(
            emb, emb.filter(F.col("vec_id") < 10), coarse_m, book_m,
            nprobe=2, topk=10,
        ).write.format("noop").mode("overwrite").save()
    timed("ivf_pq_frozen_search", n_emb, ivf_frozen)

    # 71. IVF cell-balance census (r8): one shuffle-free literal-argmin
    #     projection + a coarse_k-bounded count — the partition-skew
    #     ship gate; corpus-linear by construction
    def cell_bal():
        sim.ivf_cell_balance_report(
            emb, coarse_k=8, coarse_iterations=1,
        ).write.format("noop").mode("overwrite").save()
    timed("ivf_cell_balance", n_emb, cell_bal)

    # 72. nprobe recall curve (r8): bounded-panel exact ranking (the
    #     documented O(corpus x panel) recall-gate envelope) + a
    #     hits x coarse_k census
    def nprobe_curve():
        sim.ivf_nprobe_recall_curve(
            emb, emb.filter(F.col("vec_id") < 10),
            coarse_k=8, coarse_iterations=1, topk=10,
        ).write.format("noop").mode("overwrite").save()
    timed("ivf_nprobe_curve", n_emb, nprobe_curve)

    # 73. simplified silhouette (r8): Lloyd training + ONE two-minimum
    #     literal fold per row + a k-bounded census — the O(n) variant
    #     of the O(n^2) clustering-quality score
    def silhouette():
        sim.silhouette_centroid_report(
            emb, k=8, iterations=1,
        ).write.format("noop").mode("overwrite").save()
    timed("silhouette_centroid", n_emb, silhouette)

    # 74. assignment drift vs the frozen coarse model (r8): ONE literal
    #     fold per batch row (assignment + distance), cell-bounded census
    def drift():
        sim.ivf_assignment_drift_report(emb, coarse_m).write.format(
            "noop").mode("overwrite").save()
    timed("ivf_assignment_drift", n_emb, drift)

    # 75. PQ code-utilization census vs the frozen book (r8): the
    #     0-exchange frozen-book encode + two m*k-bounded censuses
    def code_util():
        sim.pq_code_utilization_report(emb, book_m).write.format(
            "noop").mode("overwrite").save()
    timed("pq_code_utilization", n_emb, code_util)

    # 76. MMR diversified top-k (r8): bounded-panel exact candidate
    #     ranking (the documented O(corpus x panel) envelope) + k-1
    #     panel-bounded greedy rounds composed into one lazy plan
    def mmr():
        sim.mmr_diversified_topk(
            emb, emb.filter(F.col("vec_id") < 5),
            candidates=10, k=5, lambda_ppm=700_000,
        ).write.format("noop").mode("overwrite").save()
    timed("mmr_diversified_topk", n_emb, mmr)

    # 77. directed containment join (r8): A-side rare-first prefix vs
    #     the FULL B-side inverted index — costs more than the Jaccard
    #     join by construction (that asymmetry is what reaches
    #     small-A-in-big-B pairs); rare-first ordering bounds collisions
    def containment():
        dd.containment_join(docs, threshold=0.8).write.format(
            "noop").mode("overwrite").save()
    timed("containment_join", n_docs, containment)

    # 78. ratio-metric delta-method + bucket-jackknife CIs over the
    #     replicated events (r8): corpus work is ONE per-user aggregate;
    #     the delta method reduces to a 1-row moment frame, the
    #     jackknife to B=32 bucket rows + a broadcast of one row
    def ratio_cis():
        e2 = ev_rep.filter(F.col("value").isNotNull())
        dec = F.round(F.col("value"), 9).cast("decimal(28,10)")
        u = e2.groupBy("user_id").agg(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", dec)),
                F.lit(0).cast("decimal(38,10)"),
            ).cast("double").alias("y"),
            F.count(F.lit(1)).cast("double").alias("x"),
        )
        pf.delta_method_ratio_ci(
            u, numerator_column="y", denominator_column="x"
        ).write.format("noop").mode("overwrite").save()
        pf.jackknife_ratio_buckets(
            u, numerator_column="y", denominator_column="x",
            key_columns=["user_id"], buckets=32,
        ).write.format("noop").mode("overwrite").save()
    timed("ratio_delta_jackknife", n_evr, ratio_cis)

    # 79. t-closeness census over the replicated orders (r8): two hash
    #     aggregations on (QI)/(QI, band) + an m-row broadcast grid and
    #     a class-partitioned cumulative window — exact integer EMD
    from pyspark_playground_spark.operators import privacy as pv

    def tclose():
        o = orders.filter(F.col("o_totalprice").isNotNull()).withColumn(
            "__band",
            F.floor(F.col("o_totalprice") / F.lit(50000)).cast("bigint"),
        )
        pv.t_closeness_census(
            o, ["o_orderstatus", "o_orderpriority"], "__band",
            t_ppm=200_000,
        ).write.format("noop").mode("overwrite").save()
    timed("t_closeness", n_ord, tclose)

    # 80. cluster-validity indices (r8): training + exactly two corpus
    #     passes (value-sorted mean folds, quantized ||x-mu||^2 census
    #     over a broadcast means join); k-row collect, k^2 driver tail
    def validity():
        sim.cluster_validity_report(
            emb, k=8, iterations=1,
        ).write.format("noop").mode("overwrite").save()
    timed("cluster_validity", n_emb, validity)

    # 81. rolling-origin CV folds over the replicated events (r8): one
    #     1-row bounds broadcast, one segment census + bounded
    #     cumulative, one (unit, segment) distinct + per-unit reduce
    def rocv():
        smp.rolling_origin_folds(
            ev_rep, "ts", n_folds=5, unit_column="user_id",
        ).write.format("noop").mode("overwrite").save()
    timed("rolling_origin_cv", n_evr, rocv)

    # 82. BH-FDR two-proportion scan over replicated events (r8): one
    #     map-side-combined group census; rank + running-min windows
    #     run over the census, never the corpus
    def fdr_bh():
        pf.fdr_bh_two_proportion(
            ev_rep.filter(F.col("value").isNotNull()),
            group_column="event_type",
            cohort_column=smp.hash_bucket_expr(["user_id"], 2) == 0,
            success_column=F.col("value") > 100,
            alpha_ppm=50_000,
        ).write.format("noop").mode("overwrite").save()
    timed("fdr_bh_two_proportion", n_evr, fdr_bh)

    # 83. perceptual-hash media near-dup (r8): zero-UDF hex-slice
    #     signatures materialized once, chunk-bucket candidates,
    #     bit_count(xor) verify — never all-pairs
    from pyspark_playground_spark.operators import multimodal as mm

    def ahash():
        d = mm.attach_media_column(docs, "text")
        mm.ahash_near_dup_pairs(d, "doc_id", max_hamming=8).write.format(
            "noop").mode("overwrite").save()
    timed("ahash_near_dup", n_docs, ahash)

    # 84. Fellegi-Sunter probabilistic linkage over the replicated part
    #     catalog (r8): exact u-censuses to 1-row constant broadcasts;
    #     the block self-join is the only quadratic surface and the
    #     (noun x price band) key keeps block size constant
    from pyspark_playground_spark.operators.linkage import (
        fellegi_sunter_pairs,
    )

    part_rep = (
        Q.load(spark, SF_DIR, "part")
        .crossJoin(reps_frame(spark))
        .select(
            (F.col("p_partkey") + F.col("__rep") * F.lit(10_000_000))
            .alias("p_partkey"),
            "p_name", "p_brand", "p_type", "p_size",
            (F.col("p_retailprice") + F.col("__rep") * F.lit(100_000))
            .alias("p_retailprice"),
        )
    )
    n_part_rep = part_rep.count()

    def fs_linkage():
        blk = F.concat(
            F.element_at(F.split(F.col("p_name"), " "), -1),
            F.lit("|"),
            F.floor(F.col("p_retailprice") / F.lit(10))
            .cast("long").cast("string"),
        )
        fellegi_sunter_pairs(
            part_rep, "p_partkey", ["p_brand", "p_type", "p_size"],
            block=blk, m_ppm=950_000, threshold_q6=0,
        ).write.format("noop").mode("overwrite").save()
    timed("fellegi_sunter", n_part_rep, fs_linkage)

    # 85. rolling-origin MASE backtest over replicated events (r8):
    #     corpus cost is ONE hourly census; the seasonal self-join and
    #     fold windows run on census-sized frames, all exact integers
    from pyspark_playground_spark.operators.temporal import (
        forecast_backtest_mase,
    )

    def backtest():
        forecast_backtest_mase(
            ev_rep, n_folds=4, season_hours=24,
        ).write.format("noop").mode("overwrite").save()
    timed("forecast_backtest_mase", n_evr, backtest)

    # 86. exact Wasserstein-1 drift over the replicated corpus (r8):
    #     one per-value census; cumulative + lead windows run over
    #     distinct values only
    def w1():
        pf.drift_wasserstein1(
            docs, value_column="n_chars",
            cohort_column=F.length(F.col("source")) == 4,
        ).write.format("noop").mode("overwrite").save()
    timed("wasserstein1_drift", n_docs, w1)

    # 87. uniform-Shapley multi-touch attribution over replicated
    #     events (r8): one user-keyed conversions x earlier-touches
    #     join (time-bounded by the lookback), distinct, two censuses
    from pyspark_playground_spark.operators.funnel import (
        multitouch_attribution,
    )

    def shapley():
        multitouch_attribution(
            ev_rep, conversion_type="purchase", lookback_hours=72,
        ).write.format("noop").mode("overwrite").save()
    timed("multitouch_attribution", n_evr, shapley)

    # 88. difference-in-differences over replicated events (r8): one
    #     per-(user, period) aggregate then ONE conditional moment
    #     aggregate to a single row — zero windows, zero joins
    def did():
        dec = F.round(F.col("value"), 9).cast("decimal(28,10)")
        u = (ev_rep.filter(F.col("value").isNotNull()
                           & F.col("ts").isNotNull())
             .groupBy("user_id", (F.dayofmonth("ts") > 15).alias("p"))
             .agg(F.coalesce(F.sum(dec),
                             F.lit(0).cast("decimal(38,10)"))
                  .cast("double").alias("y")))
        pf.difference_in_differences(
            u, metric_column="y",
            cohort_column=smp.hash_bucket_expr(["user_id"], 2) == 0,
            period_column="p",
        ).write.format("noop").mode("overwrite").save()
    timed("difference_in_differences", n_evr, did)

    # 89. ordered/stratified categorical pair over replicated orders
    #     (r8): both are one conditional census aggregate + a bounded
    #     reduce — the Cochran-Armitage trend and Mantel-Haenszel OR
    def ca_mh():
        pf.cochran_armitage_trend(
            ord_rep2,
            score_column=F.substring("o_orderpriority", 1, 1)
            .cast("long"),
            success_column=F.col("o_orderstatus") == "F",
        ).write.format("noop").mode("overwrite").save()
        pf.mantel_haenszel_or(
            ord_rep2,
            stratum_column=F.date_trunc("month", "o_orderdate"),
            cohort_column=smp.hash_bucket_expr(["o_custkey"], 2) == 0,
            success_column=F.col("o_orderstatus") == "F",
        ).write.format("noop").mode("overwrite").save()
    ord_rep2 = (
        Q.load(spark, SF_DIR, "orders")
        .crossJoin(reps_frame(spark))
        .select(
            (F.col("o_custkey") + F.col("__rep") * F.lit(10_000_000))
            .alias("o_custkey"),
            "o_orderpriority", "o_orderstatus", "o_orderdate",
        )
    )
    n_ord2 = ord_rep2.count()
    timed("trend_and_mh", n_ord2, ca_mh)

    # 90. Kruskal-Wallis over the replicated corpus (r8): (value,
    #     group) census + one census-bounded cumulative; per-group q6
    #     terms summed order-free
    def kw():
        pf.kruskal_wallis(
            docs, value_column="n_chars", group_column="source",
        ).write.format("noop").mode("overwrite").save()
    timed("kruskal_wallis", n_docs, kw)

    # 91. blocked repeated-measures pair over replicated events (r8):
    #     Friedman's k^2-per-block midrank self-join (k bounded by the
    #     event-type domain) + Cochran's Q distinct-cell censuses
    def blocked_pair():
        dec = F.round(F.col("value"), 9).cast("decimal(28,10)")
        ev2 = ev_rep.filter(F.col("value").isNotNull()
                            & F.col("event_type").isNotNull())
        cells = ev2.groupBy("user_id", "event_type").agg(
            (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("v"))
        pf.friedman_test(
            cells, block_column="user_id",
            treatment_column="event_type", value_column="v",
        ).write.format("noop").mode("overwrite").save()
        pf.cochran_q(
            ev2, block_column="user_id",
            treatment_column="event_type",
            success_column=F.col("value") > 100,
        ).write.format("noop").mode("overwrite").save()
    timed("friedman_cochran_q", n_evr, blocked_pair)

    # 92. Jonckheere-Terpstra ordered-alternative test over replicated
    #     orders (r8): (group, value) census; the dense value x group
    #     grid and the ordered-pair join are census-bounded (k groups
    #     x distinct values)
    ord_jt = (
        Q.load(spark, SF_DIR, "orders")
        .crossJoin(reps_frame(spark))
        .select(
            "o_orderpriority",
            (F.col("o_totalprice") + F.col("__rep"))
            .alias("o_totalprice"),
        )
    )
    n_jt = ord_jt.count()

    def jt():
        pf.jonckheere_terpstra(
            ord_jt, value_column="o_totalprice",
            group_score_column=F.substring("o_orderpriority", 1, 1)
            .cast("long"),
        ).write.format("noop").mode("overwrite").save()
    timed("jonckheere_terpstra", n_jt, jt)


def reps_frame(spark):
    return spark.range(FACTOR).select(F.col("id").alias("__rep"))


if __name__ == "__main__":
    main()

