"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Beyond-reference surface (BASELINE.json north star). Scale design:

- **Exact**: hash-groupBy — one shuffle on a 16-byte key, fully parallel.
- **MinHash+LSH**: per-row signature computation is pure column expressions
  (array_min over xxhash64 of shingles — JVM codegen, no shuffle); banding
  turns all-pairs O(n²) into groupBy(band, band_hash) buckets, so the only
  shuffles are the bucket exchange and the candidate-pair verify join. This
  is the standard web-scale near-dup pipeline (Broder'97 resemblance
  sketches; G. Lee et al. "Deduplicating Training Data Makes Language
  Models Better" uses the same shape).
- **SimHash**: 64-bit signature via per-row array aggregation (no shuffle),
  candidate generation by 16-bit chunk equality (any pair within Hamming
  distance 3 shares ≥1 of 4 chunks), verify with bit_count(xor).
- **n-gram Jaccard**: exact verify metric on candidate pairs; also usable
  standalone within small blocking groups.

All-pairs variants here take a ``within`` blocking column for oracle-sized
data; at 100 TB always go through LSH banding instead.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyspark_playground_spark.operators.text import tokens_expr


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_duplicate_groups(
    df: DataFrame, id_column: str = "doc_id", text_column: str = "text"
) -> DataFrame:
    """Group identical texts by md5; keep the smallest id as canonical."""
    return (
        df.groupBy(F.md5(F.col(text_column)).alias("text_hash"))
        .agg(
            F.min(id_column).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def exact_dedup(
    df: DataFrame, id_column: str = "doc_id", text_column: str = "text"
) -> DataFrame:
    """Drop exact duplicates, keeping the smallest id per text."""
    keep = exact_duplicate_groups(df, id_column, text_column).select(
        F.col("keep_id").alias(id_column)
    )
    return df.join(keep, id_column, "left_semi")


def exact_dup_histogram(
    df: DataFrame, text_column: str = "text"
) -> DataFrame:
    """Cluster-size histogram of exact duplicates: how many texts occur
    once, twice, k times — the shape that tells you WHAT KIND of
    duplication a corpus carries (a fat tail of huge clusters =
    boilerplate/templates worth a targeted rule; a thin 2-3× band =
    ordinary crawl overlap exact dedup handles) and sizes the dedup win
    (``Σ (size−1)·n_clusters`` rows removable) before running it.

    Plan: hash-groupBy on the 16-byte md5 (one shuffle, map-side
    combined), then a ≤distinct-sizes-row second groupBy. NULL texts are
    excluded. Returns ``(cluster_size, n_clusters)``.
    """
    h = (
        df.filter(F.col(text_column).isNotNull())
        .groupBy(F.md5(F.col(text_column)).alias("__k"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return h.groupBy(F.col("__c").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


def cross_split_gram_leakage(
    df: DataFrame,
    *,
    split_column: str = "split",
    text_column: str = "text",
    n: int = 8,
    left: str = "train",
    right: str = "test",
) -> DataFrame:
    """Post-split integrity audit: how many distinct token ``n``-grams the
    ``left`` and ``right`` splits SHARE — the eval-leakage a
    decontamination pass (or a cluster-disjoint split) should have driven
    to ~zero, measured rather than assumed. Run it after any split that
    wasn't leakage-free by construction.

    Plan: explode distinct per-doc shingles once, ONE groupBy on the
    gram (map-side combined presence bits per split), one bounded final
    aggregate — no self-join, no per-pair work. Returns one row
    ``(n_grams, n_left_grams, n_right_grams, n_shared)``.
    """
    e = df.select(
        F.col(split_column).alias("__split"),
        F.explode(shingles_expr(text_column, n)).alias("__gram"),
    )
    d = e.groupBy("__gram").agg(
        (
            F.sum(F.when(F.col("__split") == left, 1).otherwise(0)) > 0
        ).alias("__hl"),
        (
            F.sum(F.when(F.col("__split") == right, 1).otherwise(0)) > 0
        ).alias("__hr"),
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("__hl"), 1).otherwise(0)).alias("n_left_grams"),
        F.sum(F.when(F.col("__hr"), 1).otherwise(0)).alias("n_right_grams"),
        F.sum(
            F.when(F.col("__hl") & F.col("__hr"), 1).otherwise(0)
        ).alias("n_shared"),
    )


# ---------------------------------------------------------------------------
# shingles & MinHash
# ---------------------------------------------------------------------------

def shingles_expr(text: str | Column, n: int = 3) -> Column:
    """Distinct token n-gram shingles of a document."""
    toks = tokens_expr(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    return F.array_distinct(grams)


def _materialize(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Materialize and break lineage for a reused branch.

    Default: ``localCheckpoint`` — fastest, but blocks live on executor
    disk, so an executor loss mid-job kills the lineage with no recompute
    path. For cluster runs pass ``checkpoint_dir`` (HDFS/S3 path) to take a
    reliable checkpoint that survives executor loss; or persist the branch
    to a table yourself and pass the re-read DataFrame in.

    The local checkpoint is LAZY (r11): the caller's next action — in
    the pipeline operators, the query's own execution — is the job that
    materializes it, instead of a separate sequential job per
    materialization at plan-build time (each such job left the cluster
    idle during job launch/teardown; measured on the day-2 increment:
    every paired round faster lazy, identical pair sets). Blocks are
    persisted on first computation, so every downstream consumer still
    reads the materialized copy rather than recomputing lineage. The
    reliable-checkpoint path stays eager: a lazy reliable checkpoint
    recomputes its lineage when writing the checkpoint files, doubling
    the branch's work on a cluster.
    """
    if checkpoint_dir is not None:
        sc = df.sparkSession.sparkContext
        sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=False)


def _minhash_agg(
    df: DataFrame,
    id_column: str,
    text_column: str,
    num_perms: int,
    shingle_size: int,
) -> DataFrame:
    """Shared signature pipeline: explode shingles, hash each shingle
    string ONCE, then per-permutation map-side-combined min aggregates
    over the (10× cheaper) seeded long re-hash. Output: one row per doc
    with columns ``__h0..__h{num_perms-1}``.

    The shuffle carries one partial row of ``num_perms`` longs per
    (doc, mapper) — the layout that holds at 100 TB; the final
    aggregation is an exchange barrier, so downstream projections cannot
    re-inline the shingle computation.
    """
    # small-file sources arrive as one partition; spread the docs so the
    # shingle+hash work uses every core. The partition count is explicit —
    # AQE would coalesce a column-only repartition back to one partition
    # (the bytes are tiny, the compute per byte is not).
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    ex = df.repartition(n_parts, F.col(id_column)).select(
        F.col(id_column),
        F.explode_outer(shingles_expr(text_column, shingle_size)).alias("__sh"),
    ).withColumn("__h", F.xxhash64("__sh"))
    # one parsed SQL string per aggregate instead of nested F.* calls:
    # the per-element py4j construction was the signature build's
    # largest driver cost (r11; bare {i} is an INT literal — the same
    # type F.lit(i) produced, so every xxhash64 value is bit-identical)
    aggs = [
        F.expr(f"min(xxhash64({i}, __h))").alias(f"__h{i}")
        for i in range(num_perms)
    ]
    return ex.groupBy(id_column).agg(*aggs)


def minhash_signatures(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    *,
    num_perms: int = 64,
    shingle_size: int = 3,
) -> DataFrame:
    """MinHash signatures as one array column — the persistable form
    (write this to parquet and feed ``incremental_minhash_pairs``
    later). See ``_minhash_agg`` for the scale shape."""
    return _minhash_agg(df, id_column, text_column, num_perms, shingle_size).select(
        F.col(id_column),
        F.array(*[F.col(f"__h{i}") for i in range(num_perms)]).alias("minhash"),
    )


def _band_structs(sql_at, num_perms: int, bands: int) -> Column:
    """Array of (band, bucket) structs; ``sql_at(i)`` yields the i-th
    signature component as a SQL fragment (string). Rendered as ONE
    parsed expression: the former per-element ``F.struct``/``F.xxhash64``
    construction paid hundreds of py4j round trips per call (r11;
    measured 0.18 s → <1 ms warm). Band literals stay bare ints — the
    same INT type ``F.lit(b)`` produced."""
    rows_per_band = num_perms // bands
    parts = [
        "struct({b} AS band, xxhash64({cols}) AS bucket)".format(
            b=b,
            cols=", ".join(
                sql_at(b * rows_per_band + r) for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    ]
    return F.expr("array(" + ", ".join(parts) + ")")


def _pairs_from_banded(banded: DataFrame, id_column: str) -> DataFrame:
    """Self-join a (id, band, bucket) relation into distinct id_a < id_b
    candidate pairs — the classic LSH bucket join."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_column}") < F.col(f"b.{id_column}")),
        )
        .select(
            F.col(f"a.{id_column}").alias("id_a"),
            F.col(f"b.{id_column}").alias("id_b"),
        )
        .distinct()
    )


def minhash_band_buckets(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    *,
    num_perms: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
) -> DataFrame:
    """Fused signature→banding: ``(id, band, bucket)`` emitted directly from
    the signature aggregation output.

    Same shingle/min-agg pipeline as ``minhash_signatures``, but the band
    bucket hashes are computed in the aggregation's output projection —
    the ``num_perms``-long signature array is never constructed, which
    drops one projection over the (wide) aggregate and shrinks what gets
    materialized downstream to 3 small columns per (doc, band).
    """
    return (
        _minhash_agg(df, id_column, text_column, num_perms, shingle_size)
        .select(
            F.col(id_column),
            F.explode(
                _band_structs(lambda i: f"__h{i}", num_perms, bands)
            ).alias("bb"),
        )
        .select(id_column, "bb.band", "bb.bucket")
    )


def minhash_banded_store(
    signatures: DataFrame,
    id_column: str = "doc_id",
    *,
    num_perms: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Explode a persisted ``(id, minhash)`` signature store into its
    persistable BANDED form ``(id, band, bucket)`` — the state layout
    that makes daily increments cheapest: the band-bucket xxhash64 of
    every stored signature is computed ONCE here (write the output next
    to the signatures), and :func:`incremental_minhash_pairs` with
    ``existing_banded=`` then scans 3 small ints per (doc, band)
    instead of re-exploding and re-hashing the ``num_perms``-long
    arrays on EVERY batch — the residual corpus-linear term SCALE.md
    probe 121 measures for the signature-store path.

    INVARIANT: the store is only comparable to batches banded with the
    SAME ``(num_perms, bands)`` — bucket values are xxhash64 of
    signature slices, so a mismatched layout makes old and new buckets
    incomparable and silently drops every old↔new pair (recall loss
    with no error). Persist :func:`minhash_banded_store_metadata` next
    to the store and pass it back as ``existing_banded_meta=`` so
    :func:`incremental_minhash_pairs` can refuse a mismatched store
    instead of silently under-recalling (ADVICE r10).
    """
    return signatures.select(
        id_column,
        F.explode(
            _band_structs(lambda i: f"minhash[{i}]", num_perms, bands)
        ).alias("bb"),
    ).select(id_column, "bb.band", "bb.bucket")


def minhash_banded_store_metadata(
    spark,
    *,
    num_perms: int = 64,
    bands: int = 16,
) -> DataFrame:
    """One-row companion frame ``(num_perms, bands)`` to persist NEXT TO
    a :func:`minhash_banded_store` output. Bucket values are layout-
    dependent (xxhash64 over ``num_perms // bands``-long signature
    slices), so the store is self-describing only together with this
    row; :func:`incremental_minhash_pairs` validates it against the
    call's parameters and raises on mismatch rather than silently
    dropping old↔new duplicate pairs."""
    return spark.createDataFrame(
        [(int(num_perms), int(bands))], "num_perms INT, bands INT"
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    *,
    num_perms: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    threshold: float = 0.8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates →
    exact Jaccard verify on the candidate pairs only.

    ``checkpoint_dir`` (cluster runs): materialize the two reused branches
    as reliable checkpoints instead of executor-local ones, so the pipeline
    survives executor loss at scale."""
    # fused signature→banding (no signature-array projection); the banded
    # relation is materialized once so the a/b self-join sides below don't
    # each recompute the shingle+hash pipeline
    banded = _materialize(
        minhash_band_buckets(
            df, id_column, text_column,
            num_perms=num_perms, bands=bands, shingle_size=shingle_size,
        ),
        checkpoint_dir,
    )
    # candidate pairs are tiny relative to the corpus; materialize them once
    # so the id-pruning below doesn't re-run the LSH pipeline per consumer
    cands = _materialize(_pairs_from_banded(banded, id_column), checkpoint_dir)
    # shingle only the docs that appear in a candidate pair — LSH typically
    # prunes the corpus by orders of magnitude, so the verify stage should
    # not re-tokenize everything
    cand_ids = (
        cands.select(F.col("id_a").alias(id_column))
        .union(cands.select("id_b"))
        .distinct()
    )
    docs = df.join(cand_ids, id_column, "left_semi").select(
        F.col(id_column), shingles_expr(text_column, shingle_size).alias("sh")
    )
    a = docs.select(F.col(id_column).alias("id_a"), F.col("sh").alias("sh_a"))
    b = docs.select(F.col(id_column).alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


# ---------------------------------------------------------------------------
# benchmark contamination
# ---------------------------------------------------------------------------

def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    n: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Exact token n-gram contamination of a training corpus against a
    benchmark/eval set (the GPT-3 appendix-C / PaLM decontamination shape:
    a document is contaminated if it shares any length-``n`` token n-gram
    with any benchmark document).

    Scale shape: the benchmark gram set is small (eval sets are thousands
    of documents) and broadcast; the corpus explodes its distinct grams
    once and inner-joins — one scan, no corpus shuffle besides the per-doc
    count. Set ``broadcast_benchmark=False`` for giant benchmark unions and
    let AQE choose.

    Returns one row per contaminated document:
    ``(id_column, n_contaminated_grams)``.
    """
    bench = (
        benchmark.select(
            F.explode(shingles_expr(text_column, n)).alias("__gram")
        ).distinct()
    )
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    ex = corpus.select(
        F.col(id_column),
        F.explode(shingles_expr(text_column, n)).alias("__gram"),
    )
    return (
        ex.join(bench, "__gram")
        .groupBy(id_column)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )


def bloom_ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    n: int = 8,
    bits_per_item: int = 20,
    num_hashes: int = 5,
    expected_items: int | None = None,
    max_literal_words: int = 65_536,
) -> DataFrame:
    """``ngram_contamination`` with a Bloom-filter prefilter on the corpus
    side — the injected-runtime-filter shape Spark itself uses for bloom
    joins, built from public DataFrame ops since ``bloom_filter_agg`` is
    not registered as a public SQL function.

    When it beats the plain broadcast join: the broadcast hash relation
    keeps every benchmark gram *string* in executor memory; the bloom
    sketch is a fixed ``expected_items * bits_per_item`` bit array
    (~128 KiB per 50k grams) probed with ``num_hashes`` codegen'd xxhash64
    calls. For a SMALL benchmark (thousands of grams) the hash relation is
    cache-resident and measured wall time is parity with the plain join
    (10× probe, SCALE.md) — use ``ngram_contamination``. The bloom path is
    for the LARGE-benchmark regime (the union of every eval/test/holdout
    set — tens of millions of grams), where the string hash relation is a
    multi-GB broadcast that OOMs or thrashes executors while the sketch
    stays ~100 MB with O(1) probes. Only bloom survivors (true hits + fpp
    false positives) reach the exact-verify join, so the **result is
    exact** — the bloom is purely a prefilter, which is what makes this
    oracle-checkable.

    Sketch build: benchmark grams → ``num_hashes`` bit positions each →
    ``bit_or`` per 64-bit word → collect O(bits/64) longs driver-side (the
    sketch is *designed* to be driver-sized; this is not a data collect).
    Pass ``expected_items`` to skip the driver-side count of benchmark
    grams (one scalar agg otherwise).

    Returns ``(id_column, n_contaminated_grams)`` — identical output to
    ``ngram_contamination``.

    Probe transport: up to ``max_literal_words`` 64-bit words (default
    64k words = 512 KiB) the sketch rides the plan as an array literal and
    the probe is pure codegen. Beyond that a plan literal would be
    shipped/compiled with every task, so the sketch switches to a
    ``SparkContext.broadcast`` NumPy array probed by an Arrow-batched
    pandas UDF — bit POSITIONS are still computed JVM-side with the same
    ``xxhash64``, so build and probe hashes agree and results are
    identical on both paths (pinned by a parity test).
    """
    bench_grams = (
        benchmark.select(
            F.explode(shingles_expr(text_column, n)).alias("__gram")
        ).distinct()
    )
    bench_grams = _materialize(bench_grams)
    if expected_items is None:
        expected_items = bench_grams.count()
    m = max(64, ((max(expected_items, 1) * bits_per_item + 63) // 64) * 64)
    n_words = m // 64

    # build: every (gram, seed) -> bit position -> OR into 64-bit words
    seeds = F.array(*[F.lit(i) for i in range(num_hashes)])
    pos = F.pmod(F.xxhash64(F.col("__gram"), F.col("__seed")), F.lit(m))
    built = (
        bench_grams.select(F.col("__gram"), F.explode(seeds).alias("__seed"))
        .select(
            F.shiftright(pos, 6).cast("int").alias("__word"),
            F.expr("cast(1 as bigint)").alias("__one"),
            F.pmod(pos, F.lit(64)).cast("int").alias("__bit"),
        )
        .groupBy("__word")
        .agg(F.bit_or(F.expr("shiftleft(__one, __bit)")).alias("__mask"))
        .collect()
    )
    words = [0] * n_words
    for row in built:
        words[row["__word"]] = row["__mask"]

    grams = corpus.select(
        F.col(id_column),
        F.explode(shingles_expr(text_column, n)).alias("__gram"),
    )
    seed_list = ",".join(str(i) for i in range(num_hashes))
    if n_words <= max_literal_words:
        # probe: all num_hashes bits set. Each position is hashed ONCE
        # (the transform binds it to a lambda variable); shiftleft with a
        # column bit count is only reachable through SQL text — the
        # Python wrapper requires an int — so the whole probe is one expr.
        hit = F.expr(
            f"forall(transform(array({seed_list}),"
            f"                 s -> pmod(xxhash64(__gram, s), {m})),"
            f"       p -> (element_at(__bf, cast(shiftright(p, 6) as int) + 1)"
            f"             & shiftleft(cast(1 as bigint), cast(pmod(p, 64) as int)))"
            f"            != 0)"
        )
        survivors = (
            grams.withColumn("__bf", F.lit(words)).filter(hit).drop("__bf")
        )
    else:
        # Large-sketch path: a multi-million-element plan literal would be
        # serialized and codegen'd with every task, so ship the words once
        # as a SparkContext broadcast. Positions stay JVM-side xxhash64
        # (same hash as the build); only the bit test crosses to Python,
        # Arrow-batched.
        import numpy as np

        bc = corpus.sparkSession.sparkContext.broadcast(
            np.asarray(words, dtype=np.int64)
        )

        @F.pandas_udf("boolean")
        def _probe(pos: pd.Series) -> pd.Series:
            w = bc.value

            def check(plist) -> bool:
                for p in plist:
                    p = int(p)
                    if (int(w[p >> 6]) >> (p & 63)) & 1 == 0:
                        return False
                return True

            return pos.apply(check)

        pos_col = F.expr(
            f"transform(array({seed_list}), s -> pmod(xxhash64(__gram, s), {m}))"
        )
        survivors = (
            grams.withColumn("__pos", pos_col)
            .filter(_probe(F.col("__pos")))
            .drop("__pos")
        )

    # exact verify: only bloom survivors reach the join, result is exact
    return (
        survivors.join(F.broadcast(bench_grams), "__gram")
        .groupBy(id_column)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_expr(text: str | Column, *, portable: bool = False) -> Column:
    """SimHash of the token set, as a bigint.

    Per-row array aggregation: each token's hash contributes ±1 to each bit
    counter; the sign of each counter becomes the output bit. No shuffle,
    no UDF — the whole thing is one codegen'd expression.

    Default: 64 bits from ``xxhash64`` (fastest, JVM-side — the 100 TB
    configuration). ``portable=True``: 60 bits derived from the md5 hex
    digest — bit-for-bit reproducible in any engine with md5 (DuckDB,
    Trino, ...), which is what the driver's cross-engine oracle checks.
    """
    toks = F.array_distinct(tokens_expr(text))
    if portable:
        num_bits = 60  # 15 hex chars → fits a signed long exactly
        token_hash = lambda t: (  # noqa: E731
            F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
        )
    else:
        num_bits = 64
        token_hash = lambda t: F.xxhash64(t)  # noqa: E731
    # hash each token ONCE up front — referencing token_hash(t) inside the
    # per-bit lanes would recompute it num_bits× per token (md5+conv is the
    # expensive part of portable mode); the aggregate's lambda variable h
    # is a bound value, so the unrolled lanes below only pay bit shifts
    hashes = F.transform(toks, token_hash)
    # shift amounts must be Python ints (shiftleft/shiftright take literal
    # bit counts), so the bit lanes are unrolled as an array literal
    bit_votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), num_bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (
                        F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1
                    ).cast("long")
                    for b in range(num_bits)
                ]
            ),
            lambda x, y: x + y,
        ),
    )
    packed = F.lit(0).cast("long")
    for b in range(num_bits):
        weight = (1 << b) if b < 63 else -(1 << 63)  # bit 63 = sign bit of long
        packed = packed.bitwiseOR(
            F.when(bit_votes[b] > 0, F.lit(weight).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return packed


def simhash_signatures(
    df: DataFrame, id_column: str = "doc_id", text_column: str = "text",
    *, portable: bool = False,
) -> DataFrame:
    """SimHash per document via explode + map-side-combined vote sums.

    Same output as ``simhash_expr`` but the per-bit ±1 votes are plain
    ``sum`` aggregates over exploded (doc, token-hash) rows — whole-stage
    codegen with partial aggregation (the shuffle carries one row of
    ``num_bits`` longs per (doc, mapper)), where the per-row array
    aggregate is interpreted. Same design as ``minhash_signatures``; ~3×
    faster on the fixture corpus and the shape that holds at 100 TB.
    """
    if portable:
        num_bits = 60
        token_hash = F.conv(
            F.substring(F.md5(F.col("__t")), 1, 15), 16, 10
        ).cast("long")
    else:
        num_bits = 64
        token_hash = F.xxhash64(F.col("__t"))
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    ex = (
        df.repartition(n_parts, F.col(id_column))
        .select(
            F.col(id_column),
            F.explode_outer(F.array_distinct(tokens_expr(text_column))).alias("__t"),
        )
        .withColumn("__h", token_hash)
    )
    aggs = [
        F.sum(
            F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"__b{b}")
        for b in range(num_bits)
    ]
    votes = ex.groupBy(id_column).agg(*aggs)
    packed = F.lit(0).cast("long")
    for b in range(num_bits):
        weight = (1 << b) if b < 63 else -(1 << 63)
        packed = packed.bitwiseOR(
            F.when(F.col(f"__b{b}") > 0, F.lit(weight).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return votes.select(F.col(id_column), packed.alias("simhash"))


def _sig_chunks(
    sigs: DataFrame, id_column: str, *, chunk_bits: int
) -> DataFrame:
    """Explode a ``(id, simhash)`` relation into its 4 chunk buckets."""
    chunk_mask = (1 << chunk_bits) - 1
    return sigs.select(
        id_column,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * chunk_bits)
                        .bitwiseAND(F.lit(chunk_mask))
                        .alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select(id_column, "simhash", "cc.chunk", "cc.val")


def _simhash_pairs_from_sigs(
    sigs: DataFrame,
    id_column: str,
    *,
    chunk_bits: int,
    max_hamming: int,
    active_sigs: DataFrame | None = None,
) -> DataFrame:
    """Chunk-bucket candidate generation + Hamming verify over a
    ``(id, simhash)`` relation (pigeonhole: any pair within Hamming
    distance 3 shares ≥1 of 4 chunks).

    ``active_sigs`` (the incremental path): prune the corpus-sized
    chunk relation to buckets containing at least one of these
    signatures before the self-join — any pair touching one of them
    shares a chunk bucket with it by construction, so the pruned join
    emits the identical new-touching pair set at
    O(batch × bucket neighborhood) instead of O(corpus) per batch. No
    broadcast hint: the active set is batch-sized and AQE broadcasts
    it when it fits.
    """
    chunks = _sig_chunks(sigs, id_column, chunk_bits=chunk_bits)
    if active_sigs is not None:
        active = _sig_chunks(
            active_sigs, id_column, chunk_bits=chunk_bits
        ).select("chunk", "val").distinct()
        chunks = chunks.join(active, ["chunk", "val"], "left_semi")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{id_column}") < F.col(f"b.{id_column}")),
        )
        .select(
            F.col(f"a.{id_column}").alias("id_a"),
            F.col(f"b.{id_column}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_dedup_pairs(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    *,
    max_hamming: int = 3,
    portable: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """SimHash near-dup: candidates share one of four signature chunks
    (pigeonhole: any pair within Hamming distance 3 shares ≥1 of 4 chunks,
    so recall at ``max_hamming <= 3`` is exactly 1), verified with
    bit_count(xor). Chunks are 16 bits (64-bit default) or 15 bits
    (``portable`` 60-bit signatures)."""
    chunk_bits = 15 if portable else 16
    # the signature is one large interpreted aggregate; the chunk explode
    # and the a/b self-join would otherwise re-inline it ~10× per row
    # (5 column references × 2 join sides) — materialize it once
    sigs = _materialize(
        simhash_signatures(df, id_column, text_column, portable=portable),
        checkpoint_dir,
    )
    return _simhash_pairs_from_sigs(
        sigs, id_column, chunk_bits=chunk_bits, max_hamming=max_hamming
    )


def incremental_simhash_pairs(
    existing_signatures: DataFrame,
    new_docs: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    *,
    max_hamming: int = 3,
    portable: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Incremental SimHash near-dup (the ``incremental_minhash_pairs``
    pattern): only the new batch is signed, signatures persisted from
    prior batches (``(id, simhash)`` as written by ``simhash_signatures``)
    are reused, and only pairs touching a new document are emitted. No
    ``corpus`` argument — SimHash verification is bit_count over the
    signatures themselves, so no text is ever revisited.
    """
    chunk_bits = 15 if portable else 16
    sigs_new = _materialize(
        simhash_signatures(
            new_docs, id_column, text_column, portable=portable
        ),
        checkpoint_dir,
    )
    # re-ingest safety: a re-submitted id must not keep its stale
    # signature beside the fresh one (contradictory duplicate pairs);
    # the new batch wins
    sigs = _materialize(
        existing_signatures.join(
            new_docs.select(id_column), id_column, "left_anti"
        ).unionByName(sigs_new),
        checkpoint_dir,
    )
    # active-bucket pruning: the candidate join touches only chunk
    # buckets containing a new signature — identical new-touching
    # output, O(batch) not O(corpus) per increment
    pairs = _simhash_pairs_from_sigs(
        sigs, id_column, chunk_bits=chunk_bits, max_hamming=max_hamming,
        active_sigs=sigs_new,
    )
    new_ids = new_docs.select(id_column)
    return (
        pairs.join(
            new_ids.select(F.col(id_column).alias("id_a")).withColumn(
                "__na", F.lit(True)
            ),
            "id_a", "left",
        )
        .join(
            new_ids.select(F.col(id_column).alias("id_b")).withColumn(
                "__nb", F.lit(True)
            ),
            "id_b", "left",
        )
        .where(F.col("__na").isNotNull() | F.col("__nb").isNotNull())
        .select("id_a", "id_b", "hamming")
    )


def incremental_minhash_pairs(
    corpus: DataFrame,
    existing_signatures: DataFrame | None,
    new_docs: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    *,
    num_perms: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    threshold: float = 0.8,
    checkpoint_dir: str | None = None,
    existing_banded: DataFrame | None = None,
    existing_banded_meta: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dedup: sign ONLY the new batch, reuse stored
    signatures for the rest of the corpus, and emit only pairs that touch
    a new document.

    The daily-increment shape of a 100 TB corpus pipeline: yesterday's
    signatures (``existing_signatures``: ``(id, minhash)`` as persisted by
    ``minhash_signatures``) are batch-size-independent state; per batch
    the expensive shingle+hash pipeline runs over ``new_docs`` only, the
    banded join is PRUNED TO ACTIVE BUCKETS — only (band, bucket) cells
    containing at least one new doc can produce a new-touching pair
    (any surviving pair shares a bucket with its new member by
    construction), so the per-batch candidate join costs
    O(batch × bucket-collision neighborhood), NOT O(corpus) — and known
    old-old pairs are filtered out before the verify stage re-shingles
    the (few) docs that appear in a surviving candidate pair.
    ``corpus`` supplies text for verification (must contain both sides
    of every candidate). The active-bucket semi-join carries no
    broadcast hint: the active set is batch-sized (≤ bands × |new|
    rows) and AQE broadcasts it when it fits, which is the daily-batch
    case; a backfill-sized batch degrades to a shuffle semi-join
    instead of blowing driver memory.

    State layout: pass ``existing_banded`` (the ``(id, band, bucket)``
    frame :func:`minhash_banded_store` persists — then
    ``existing_signatures`` may be ``None``) to skip re-exploding and
    re-hashing the stored signature arrays on every batch; the banded
    store is the cheapest daily-increment state (3 small ints scanned
    per (doc, band), the band hashes paid once at store-write time).

    INVARIANT (ADVICE r10): a banded store is only comparable to the
    current batch when it was built with the SAME ``(num_perms,
    bands)`` — bucket values are xxhash64 over ``num_perms // bands``-
    long signature slices, so a mismatched layout silently drops every
    old↔new pair. Persist :func:`minhash_banded_store_metadata` next to
    the store and pass it as ``existing_banded_meta=``: a one-row
    driver-side check then REFUSES a mismatched store with
    ``ValueError`` instead of under-recalling. Independently, a lazy
    per-row guard raises at execution time if any stored ``band`` falls
    outside ``[0, bands)`` (the detectable half of the mismatch — a
    store built with MORE bands); a store built with FEWER bands is
    structurally invisible per-row, which is why the metadata row is
    the recommended contract.
    """
    if existing_banded is not None:
        if existing_banded_meta is not None:
            meta = existing_banded_meta.select(
                "num_perms", "bands"
            ).collect()
            if len(meta) != 1:
                raise ValueError(
                    "incremental_minhash_pairs: existing_banded_meta "
                    f"must be exactly one row, got {len(meta)}"
                )
            if (
                int(meta[0]["num_perms"]) != int(num_perms)
                or int(meta[0]["bands"]) != int(bands)
            ):
                raise ValueError(
                    "incremental_minhash_pairs: banded store layout "
                    f"(num_perms={meta[0]['num_perms']}, "
                    f"bands={meta[0]['bands']}) does not match the call "
                    f"(num_perms={num_perms}, bands={bands}); bucket "
                    "values are incomparable across layouts — re-band "
                    "the signature store"
                )
        banded_existing = existing_banded.select(
            id_column,
            F.when(
                (F.col("band") < 0) | (F.col("band") >= bands),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "incremental_minhash_pairs: stored band "
                        ),
                        F.col("band").cast("string"),
                        F.lit(
                            f" outside [0, {bands}) — the banded store "
                            "was built with a different bands= layout"
                        ),
                    )
                ).cast("int"),
            )
            .otherwise(F.col("band"))
            .alias("band"),
            "bucket",
        )
    elif existing_signatures is not None:
        banded_existing = minhash_banded_store(
            existing_signatures, id_column,
            num_perms=num_perms, bands=bands,
        )
    else:
        raise ValueError(
            "incremental_minhash_pairs: pass existing_signatures or "
            "existing_banded"
        )
    banded_new = minhash_band_buckets(
        new_docs, id_column, text_column,
        num_perms=num_perms, bands=bands, shingle_size=shingle_size,
    )
    new_ids = new_docs.select(id_column)
    # re-ingest safety: a re-submitted id keeps only its FRESH bands.
    # ONE materialization for the merged store (r11: banded_new was
    # materialized separately first — an extra sequential job whose only
    # additional consumer, the active-bucket set, can be read back out
    # of the merged store instead: the anti-join guarantees the new ids'
    # rows in ``banded`` are exactly ``banded_new``)
    banded = _materialize(
        banded_existing.join(
            new_ids, id_column, "left_anti"
        ).unionByName(banded_new),
        checkpoint_dir,
    )
    active = (
        banded.join(new_ids, id_column, "left_semi")
        .select("band", "bucket")
        .distinct()
    )
    banded = banded.join(active, ["band", "bucket"], "left_semi")
    cands = _materialize(
        _pairs_from_banded(banded, id_column)
        .join(
            new_ids.select(F.col(id_column).alias("id_a")).withColumn(
                "__na", F.lit(True)
            ),
            "id_a", "left",
        )
        .join(
            new_ids.select(F.col(id_column).alias("id_b")).withColumn(
                "__nb", F.lit(True)
            ),
            "id_b", "left",
        )
        .where(F.col("__na").isNotNull() | F.col("__nb").isNotNull())
        .select("id_a", "id_b"),
        checkpoint_dir,
    )
    cand_ids = (
        cands.select(F.col("id_a").alias(id_column))
        .union(cands.select("id_b"))
        .distinct()
    )
    docs = corpus.join(cand_ids, id_column, "left_semi").select(
        F.col(id_column), shingles_expr(text_column, shingle_size).alias("sh")
    )
    a = docs.select(F.col(id_column).alias("id_a"), F.col("sh").alias("sh_a"))
    b = docs.select(F.col(id_column).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# sub-document (paragraph / chunk) exact dedup
# ---------------------------------------------------------------------------

def _keep_first_and_reassemble(
    segs: DataFrame,
    id_column: str,
    text_column: str,
    joiner: str,
    min_chars: int,
) -> DataFrame:
    """Core of sub-document dedup: ``segs`` is ``(id, pos, seg, __norm)``;
    keep the first corpus-wide occurrence of each distinct ``__norm``
    (order = (id, pos)), always keep segments shorter than ``min_chars``,
    and reassemble each document from its surviving segments in order.

    Shuffle profile: one exchange on the normalized-segment md5 for the
    keep-first window, one exchange on the document id for reassembly —
    both plain key shuffles; per-segment state is one row. The norm text
    itself is dropped before the shuffle (rows carry the 16-byte digest
    plus the original segment, not norm + segment — ~half the bytes for
    long paragraphs); md5-collision risk at 10¹² distinct segments is
    ~1e-15, the same bet ``exact_dedup`` makes. Every input document
    appears in the output (``n_kept`` may be 0, text then "").
    """
    from pyspark.sql import Window

    segs = segs.withColumn("__k", F.md5(F.col("__norm"))).withColumn(
        "__nlen", F.length("__norm")
    ).drop("__norm")
    w = Window.partitionBy("__k").orderBy(
        F.col(id_column).asc(), F.col("pos").asc()
    )
    segs = segs.withColumn(
        "__keep",
        (F.col("__nlen") < F.lit(min_chars))
        | (F.row_number().over(w) == 1),
    )
    kept_struct = F.when(
        F.col("__keep"), F.struct(F.col("pos"), F.col("seg"))
    )
    return (
        segs.groupBy(id_column)
        .agg(
            F.concat_ws(
                joiner,
                F.transform(
                    F.sort_array(F.collect_list(kept_struct)),
                    lambda s: s["seg"],
                ),
            ).alias(text_column),
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        )
        .select(id_column, text_column, "n_segments", "n_kept")
    )


def paragraph_dedup(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    *,
    separator: str = "\n",
    joiner: str | None = None,
    min_chars: int = 1,
) -> DataFrame:
    """Paragraph/line-level exact dedup (the Lee et al. "Deduplicating
    Training Data Makes Language Models Better" sub-document recipe):
    split each document on ``separator`` (a regex), normalize each segment
    (lowercase, collapse whitespace, trim), keep only the FIRST corpus-wide
    occurrence of each distinct normalized segment, reassemble documents
    from their surviving segments joined by ``joiner`` (default: the
    separator verbatim).

    Segments whose normalized form is shorter than ``min_chars`` are
    always kept — short structural lines (headers, blanks) are not
    boilerplate to strip here.

    Returns ``(id, text, n_segments, n_kept)`` with one row per input
    document.
    """
    segs = df.select(
        F.col(id_column),
        F.posexplode_outer(F.split(F.col(text_column), separator)).alias(
            "pos", "seg"
        ),
    ).withColumn(
        "__norm",
        F.trim(F.regexp_replace(F.lower(F.col("seg")), r"\s+", " ")),
    )
    return _keep_first_and_reassemble(
        segs, id_column, text_column, joiner if joiner is not None else separator,
        min_chars,
    )


def token_chunk_dedup(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    *,
    chunk_tokens: int = 10,
    min_chars: int = 1,
) -> DataFrame:
    """Fixed-width token-chunk exact dedup — the granularity Lee et al.'s
    substring dedup approximates without the suffix array: documents are
    cut into consecutive ``chunk_tokens``-token chunks (split on single
    spaces), each distinct chunk survives only at its first corpus-wide
    occurrence, and documents are reassembled from surviving chunks.

    Same two-key-shuffle profile as ``paragraph_dedup``; chunk state is
    one row per distinct chunk, so memory is bounded by distinct-chunk
    count per partition, never by document size.
    """
    toks = F.split(F.col(text_column), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunks = F.when(F.size(toks) > 0, F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens)
        ),
    )).otherwise(F.array().cast("array<string>"))
    segs = df.select(
        F.col(id_column),
        F.posexplode_outer(chunks).alias("pos", "seg"),
    ).withColumn(
        "__norm",
        F.trim(F.regexp_replace(F.lower(F.col("seg")), r"\s+", " ")),
    )
    return _keep_first_and_reassemble(segs, id_column, text_column, " ", min_chars)


# ---------------------------------------------------------------------------
# n-gram Jaccard (blocked all-pairs)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    *,
    within: str | None = None,
    shingle_size: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over token n-gram sets for all pairs inside a blocking
    group (``within`` column). Use only with small blocks — the scale path
    is ``minhash_dedup_pairs``."""
    docs = df.select(
        F.col(id_column),
        *( [F.col(within)] if within else [] ),
        shingles_expr(text_column, shingle_size).alias("sh"),
    )
    a = docs.select(
        *( [F.col(within).alias("__blk")] if within else [] ),
        F.col(id_column).alias("id_a"),
        F.col("sh").alias("sh_a"),
    )
    b = docs.select(
        *( [F.col(within).alias("__blk_b")] if within else [] ),
        F.col(id_column).alias("id_b"),
        F.col("sh").alias("sh_b"),
    )
    cond = F.col("id_a") < F.col("id_b")
    if within:
        joined = a.join(b, (F.col("__blk") == F.col("__blk_b")) & cond)
    else:
        joined = a.crossJoin(b).filter(cond)
    out = joined.withColumn(
        "jaccard",
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
    ).filter(F.col("jaccard") >= threshold)
    cols = ["id_a", "id_b", "jaccard"]
    if within:
        out = out.withColumnRenamed("__blk", within)
        cols = [within] + cols
    return out.select(*cols)


def span_duplication_stats(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    span_tokens: int = 20,
) -> DataFrame:
    """Per-document duplicated-span statistics — the ExactSubstr signal of
    Lee et al., "Deduplicating Training Data Makes Language Models Better"
    (stride-1 spans, NOT chunk-aligned like ``token_chunk_dedup``).

    A position's span is the ``span_tokens``-gram starting there; a span
    is *duplicated* if the identical token run occurs anywhere else in the
    corpus (other doc, or again in the same doc). The reference recipe
    builds a corpus suffix array on one machine; the distributed shape is
    a stride-1 span census:

    1. explode every position's span (md5 digest, not the text — shuffle
       bytes stay constant in span length);
    2. count spans (map-side combined — repeated spans collapse early);
    3. join counts back per position, aggregate per document.

    Cost is O(total tokens) rows through two key shuffles — the same
    asymptotic budget ExactSubstr's suffix array pays, but partitionable.
    Documents shorter than ``span_tokens`` report zero spans (ppm 0).

    Output: (id, n_spans, n_dup_spans, dup_ppm) with
    ``dup_ppm = n_dup_spans * 1e6 div n_spans`` (exact integers end to
    end, engine-comparable).
    """
    from pyspark_playground_spark.operators.text import tokens_expr

    toks = df.select(
        F.col(id_column).alias("id"), tokens_expr(text_column).alias("__t")
    )
    spans = toks.select(
        "id",
        F.explode(
            # sequence(1, 0) would DESCEND in Spark — short docs need an
            # explicit empty-array branch, not a clamped upper bound
            F.expr(
                f"transform(CASE WHEN size(__t) >= {span_tokens}"
                f" THEN sequence(1, size(__t) - {span_tokens} + 1)"
                f" ELSE CAST(array() AS ARRAY<INT>) END,"
                f" i -> md5(array_join(slice(__t, i, {span_tokens}), ' ')))"
            )
        ).alias("__span"),
    )
    census = spans.groupBy("__span").agg(F.count(F.lit(1)).alias("__n"))
    per_doc = (
        spans.join(census, "__span")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("__n") > 1).cast("long")).alias("n_dup_spans"),
        )
    )
    return (
        toks.select("id")
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.expr(
                "CAST(CASE WHEN coalesce(n_spans, 0) = 0 THEN 0"
                " ELSE (coalesce(n_dup_spans, 0) * 1000000) DIV n_spans"
                " END AS BIGINT)"
            ).alias("dup_ppm"),
        )
    )


def duplicated_spans(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    min_tokens: int = 8,
) -> DataFrame:
    """Extract the MAXIMAL duplicated regions per document — the spans a
    training-data pipeline would actually cut (Lee et al.'s ExactSubstr
    remediation step; :func:`span_duplication_stats` reports the per-doc
    ratios, this returns the intervals).

    A (1-based) position's window is the ``min_tokens``-gram starting
    there; a window is duplicated if the identical token run occurs
    anywhere else in the corpus (keyed by md5 of the token run — the
    repo-wide identity convention, 2⁻⁶⁴-collision-exact). Guarantees:
    every duplicated substring of ≥ ``min_tokens`` tokens lies inside a
    reported span, and every reported token is covered by some duplicated
    window. Overlapping/adjacent duplicated windows merge into disjoint
    maximal intervals (uniform window length makes the classic island
    rule exact: same island iff start_gap ≤ ``min_tokens``).

    Plan: stride-1 window census (map-side combined groupBy on a 16-byte
    digest), a semi join marking duplicated positions (shuffle on the
    digest), then ONE per-document window (partitioned by doc id — frame
    bounded by document length, never corpus-sized) for the island merge.
    O(total tokens) rows through two key shuffles, fully partitioned —
    the distributed shape of the single-machine suffix-array recipe.

    Returns ``(id, span_start, span_end, span_tokens, n_dup_windows)``
    with 1-based inclusive token positions.
    """
    k = min_tokens
    toks = df.select(
        F.col(id_column).alias("id"), tokens_expr(text_column).alias("__t")
    )
    wins = toks.select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(CASE WHEN size(__t) >= {k}"
                f" THEN sequence(1, size(__t) - {k} + 1)"
                f" ELSE CAST(array() AS ARRAY<INT>) END,"
                f" i -> md5(array_join(slice(__t, i, {k}), ' ')))"
            )
        ).alias("__i", "__wh"),
    ).select("id", (F.col("__i") + 1).alias("__pos"), "__wh")
    dup = (
        wins.groupBy("__wh")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
    )
    hits = wins.join(dup.select("__wh"), "__wh", "left_semi")
    w = Window.partitionBy("id").orderBy("__pos")
    brk = F.when(
        F.col("__pos") - F.lag("__pos").over(w) > k, F.lit(1)
    ).otherwise(F.lit(0))
    isl = hits.withColumn(
        "__isl",
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        isl.groupBy("id", "__isl")
        .agg(
            F.min("__pos").cast("long").alias("span_start"),
            (F.max("__pos") + k - 1).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_windows"),
        )
        .select(
            "id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_dup_windows",
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    min_tokens: int = 8,
    output_column: str = "clean_text",
) -> DataFrame:
    """Apply the ExactSubstr cut: rebuild every document with its
    :func:`duplicated_spans` intervals removed — the remediation step of
    Lee et al.'s training-data dedup (detect with ``duplicated_spans``,
    cut with this).

    The output text is TOKEN-NORMALIZED (lowercased, single-spaced): the
    cut operates on the same token stream the detector hashed, which is
    the right granularity for a pipeline whose downstream tokenizer is
    the same — byte-exact surface preservation would need span-to-byte
    offset mapping the whitespace tokenizer deliberately discards.

    Plan: spans aggregate to ONE interval array per document (bounded by
    spans-per-doc), attach via a single equi join on the doc id, and each
    token tests membership with an ``exists`` over that array — no
    token × span row fan-out. Reassembly is the repo's standard ordered
    fold: collect (pos, token) structs, ``array_sort``, join — one
    per-doc aggregation whose state is the document itself, exactly the
    granularity any reconstruction must touch.

    Returns ``(id, clean_text, n_tokens_kept, n_tokens_removed)`` for
    EVERY input document (no-span docs pass through whole; empty docs
    yield an empty string).
    """
    spans = duplicated_spans(
        df, id_column=id_column, text_column=text_column, min_tokens=min_tokens
    )
    iv = spans.groupBy("id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__iv")
    )
    toks = df.select(
        F.col(id_column).alias("id"), tokens_expr(text_column).alias("__t")
    )
    pos = toks.select(
        "id", F.posexplode_outer("__t").alias("__i", "__tok")
    ).select("id", (F.col("__i") + 1).alias("__pos"), "__tok")
    marked = pos.join(iv, "id", "left").select(
        "id",
        "__pos",
        "__tok",
        F.when(F.col("__iv").isNull(), F.lit(False))
        .otherwise(
            F.exists(
                "__iv",
                lambda s: (F.col("__pos") >= s["span_start"])
                & (F.col("__pos") <= s["span_end"]),
            )
        )
        .alias("__cut"),
    )
    return (
        marked.groupBy("id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("__cut") & F.col("__tok").isNotNull(),
                                F.struct("__pos", "__tok"),
                            )
                        )
                    ),
                    lambda s: s["__tok"],
                ),
            ).alias(output_column),
            F.sum(
                F.when(
                    ~F.col("__cut") & F.col("__tok").isNotNull(), 1
                ).otherwise(0)
            ).alias("n_tokens_kept"),
            F.sum(F.when(F.col("__cut"), 1).otherwise(0)).alias(
                "n_tokens_removed"
            ),
        )
    )


def prefix_filter_jaccard_join(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    *,
    shingle_size: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering (the AllPairs
    algorithm, Bayardo et al. WWW'07): every pair with shingle-set
    Jaccard ≥ ``threshold`` — exact recall, unlike MinHash-LSH (which
    misses pairs with probability depending on band geometry) and unlike
    ``ngram_jaccard_pairs`` (exact but all-pairs within a block, so only
    usable on small blocks).

    The pruning that makes exact feasible at scale:

    1. **Canonical rare-first order** — a global document-frequency
       census orders every doc's shingles (df asc, shingle asc), so
       prefixes are built from the RAREST shingles and collide seldom.
    2. **Prefix filter** — with set size ``s`` and prefix length
       ``p = s − ⌈t·s⌉ + 1``: if ``J(a,b) ≥ t`` then
       ``|a∩b| ≥ t·max(sa,sb)``, and the canonically smallest common
       shingle must lie within BOTH prefixes (otherwise all common
       shingles sit in a suffix of size ``⌈t·s⌉−1 < ⌈t·s⌉``) — so an
       equi-join of exploded prefixes finds every qualifying pair.
    3. **Length filter** — ``t·sa ≤ sb ≤ sa/t`` on candidates (a pair
       violating it cannot reach the overlap bound), applied before the
       verify join.
    4. **Positional filter** (the PPJoin upgrade, Xiao et al. WWW'08) —
       a matched prefix token at (1-indexed) positions ``(i, j)`` bounds
       the overlap by ``1 + min(sa−i, sb−j)``; the FIRST common token of
       a qualifying pair must satisfy ``bound ≥ t·(sa+sb)/(1+t)``, so
       dropping occurrences that fail it keeps every qualifying pair
       (non-first occurrences that sneak past the bound merely add
       candidates). Every float comparison in steps 2–4 carries a 1e-6
       slack so float edges only ever ADMIT extras — exactness rests on
       the verify, never on the filter arithmetic.
    5. **Exact verify** — Jaccard via array_intersect/union on candidate
       pairs only.

    Shuffle census: one token-census groupBy, one per-doc re-sort
    groupBy, the prefix equi-join (bounded by rare-first collisions),
    and a candidates-only verify join.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.
    """
    # Shingle AFTER a repartition and persist the result: the sets branch
    # feeds three consumers (census, re-sort, verify), and a single-file
    # input would otherwise shingle the whole corpus on one core, three
    # times (measured 31.7 s → 13.4 s at sf0.1 for this block alone).
    # The persisted frame is DATA-SIZED and stays pinned after the result
    # materializes (a lazy return can't unpersist eagerly) — long-lived
    # sessions calling this repeatedly should unpersist via
    # spark.catalog.clearCache() or rely on LRU eviction.
    par = df.sparkSession.sparkContext.defaultParallelism
    sets = (
        df.select(F.col(id_column).alias("__id"), F.col(text_column))
        .repartition(par, "__id")
        .select(
            "__id", shingles_expr(text_column, shingle_size).alias("__sh")
        )
        .filter(F.size("__sh") > 0)
        .persist()
    )
    toks = sets.select("__id", F.explode("__sh").alias("__tok"))
    census = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    ordered = (
        toks.join(census, "__tok")
        .groupBy("__id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__df"), F.col("__tok")))
                ),
                lambda st: st["__tok"],
            ).alias("__sorted")
        )
    )
    # Every float comparison below carries a 1e-6 slack pushing the edge
    # toward ADMITTING extras: fl(t)·s can overshoot the exact rational
    # t·s by a few ulp (e.g. fl(0.07)·100 = 7.000000000000001, whose
    # unslacked ceil shortens the prefix and the length filter rejects
    # sb = 7 — silently dropping a J-exactly-t pair). 1e-6 dominates the
    # ~2-ulp error for set sizes up to ~10^9 while never admitting a
    # genuinely sub-threshold SIZE CLASS (it can admit extra candidate
    # pairs, which the exact verify discards). Exactness must never rest
    # on the filter arithmetic.
    s = F.size("__sorted")
    p = (s - F.ceil(F.lit(threshold) * s - F.lit(1e-6)) + 1).cast("int")
    pre = ordered.select(
        F.col("__id"),
        s.alias("__s"),
        F.posexplode(F.slice("__sorted", F.lit(1), p)).alias("__pos", "__tok"),
    )
    a = pre.select(
        F.col("__id").alias("id_a"),
        F.col("__s").alias("__sa"),
        F.col("__pos").alias("__pa"),
        "__tok",
    )
    b = pre.select(
        F.col("__id").alias("id_b"),
        F.col("__s").alias("__sb"),
        F.col("__pos").alias("__pb"),
        "__tok",
    )
    # positional overlap upper bound at this matched token (__pos is
    # 0-indexed, so remaining-after = s - pos - 1)
    ubound = (
        F.lit(1)
        + F.least(
            F.col("__sa") - F.col("__pa") - 1, F.col("__sb") - F.col("__pb") - 1
        )
    ).cast("double")
    alpha = (
        F.lit(threshold)
        * (F.col("__sa") + F.col("__sb")).cast("double")
        / F.lit(1.0 + threshold)
    )
    cand = (
        a.join(b, "__tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("__sb") >= F.lit(threshold) * F.col("__sa") - F.lit(1e-6))
            & (F.col("__sa") >= F.lit(threshold) * F.col("__sb") - F.lit(1e-6))
        )
        .filter(ubound >= alpha - F.lit(1e-6))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sets.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a"))
    sb = sets.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
            / F.size(F.array_union("__sh_a", "__sh_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_join(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    *,
    shingle_size: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT directed set-CONTAINMENT self-join: every ordered pair
    with ``|A∩B| / |A| ≥ threshold`` — the asymmetric near-dup relation
    Jaccard structurally misses: a short document quoted inside a long
    one has containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so no Jaccard
    threshold finds it (:func:`prefix_filter_jaccard_join` can't; this
    is the quote/boilerplate-inclusion detector that complements it).

    Same AllPairs machinery, containment-adapted:

    1. **Canonical rare-first order** — global df census, shingles
       sorted (df asc, shingle asc) so prefixes collide seldom.
    2. **A-side prefix filter** — containment needs integer overlap
       ``≥ ⌈t·sa⌉``, which depends on |A| ONLY, so A explodes its first
       ``sa − ⌈t·sa⌉ + 1`` canonical shingles while B explodes ALL of
       its shingles: any qualifying pair's canonically-smallest common
       shingle lies inside A's prefix. (The B side is the whole
       inverted index — that asymmetry is what keeps small-A-in-big-B
       pairs reachable, and why this costs more than the Jaccard join.)
    3. **Length filter** — ``sb ≥ t·sa`` (B must hold the overlap).
    4. **Exact verify** on candidates only. Float comparisons in 2–3
       carry the 1e-6 admit-extras slack; exactness rests on the
       verify (an exact-integer-ratio double, bit-identical
       cross-engine), never on filter arithmetic.

    Returns DIRECTED ``(id_a, id_b, containment_a)`` with
    ``id_a != id_b``; both directions appear when both qualify.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    sets = (
        df.select(F.col(id_column).alias("__id"), F.col(text_column))
        .repartition(par, "__id")
        .select(
            "__id", shingles_expr(text_column, shingle_size).alias("__sh")
        )
        .filter(F.size("__sh") > 0)
        .persist()
    )
    toks = sets.select("__id", F.explode("__sh").alias("__tok"))
    census = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    ordered = (
        toks.join(census, "__tok")
        .groupBy("__id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__df"), F.col("__tok")))
                ),
                lambda st: st["__tok"],
            ).alias("__sorted")
        )
    )
    s = F.size("__sorted")
    p = (s - F.ceil(F.lit(threshold) * s - F.lit(1e-6)) + 1).cast("int")
    a = ordered.select(
        F.col("__id").alias("id_a"),
        s.alias("__sa"),
        F.explode(F.slice("__sorted", F.lit(1), p)).alias("__tok"),
    )
    b = ordered.select(
        F.col("__id").alias("id_b"),
        s.alias("__sb"),
        F.explode("__sorted").alias("__tok"),
    )
    cand = (
        a.join(b, "__tok")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(
            F.col("__sb") >= F.lit(threshold) * F.col("__sa") - F.lit(1e-6)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sets.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a"))
    sb = sets.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment_a",
            F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
            / F.size("__sh_a").cast("double"),
        )
        .filter(F.col("containment_a") >= threshold)
        .select("id_a", "id_b", "containment_a")
    )


def frequent_segment_removal(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    *,
    separator: str = "\n",
    joiner: str | None = None,
    max_doc_freq: int = 1,
    min_chars: int = 1,
) -> DataFrame:
    """CCNet-style boilerplate removal (Wenzek et al., LREC'20 — the
    'deduplicating lines across shards' pass): a segment whose normalized
    form occurs in MORE THAN ``max_doc_freq`` DISTINCT documents is
    treated as boilerplate (headers, navbars, cookie banners, license
    blurbs) and dropped from EVERY document; rarer segments survive
    everywhere. The frequency-threshold complement of
    :func:`paragraph_dedup` (keep-first): there the first copy survives,
    here the frequent line vanishes corpus-wide.

    Normalization matches ``paragraph_dedup`` (lowercase, collapse
    whitespace, trim); segments shorter than ``min_chars`` are always
    kept (blank/structural lines are layout, not boilerplate).

    Shuffle profile: one exchange on the 16-byte segment digest for the
    distinct-doc count (map-side partial on (digest, doc) pairs), one
    join of the drop-list back onto the segment stream — the drop-list
    is bounded by the count of distinct FREQUENT segments, tiny under
    any real threshold, so AQE broadcasts it — and one exchange on the
    doc id for reassembly. Same md5-collision bet as ``exact_dedup``.

    Returns ``(id, text, n_segments, n_kept)``, one row per input doc.
    """
    joiner = joiner if joiner is not None else separator
    segs = (
        df.select(
            F.col(id_column),
            F.posexplode_outer(F.split(F.col(text_column), separator)).alias(
                "pos", "seg"
            ),
        )
        .withColumn(
            "__norm",
            F.trim(F.regexp_replace(F.lower(F.col("seg")), r"\s+", " ")),
        )
        .withColumn("__k", F.md5(F.col("__norm")))
        .withColumn("__nlen", F.length("__norm"))
        .drop("__norm")
    )
    drop_list = (
        segs.filter(F.col("__nlen") >= min_chars)
        .groupBy("__k")
        .agg(F.count_distinct(F.col(id_column)).alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("__k", F.lit(True).alias("__drop"))
    )
    segs = segs.join(drop_list, "__k", "left").withColumn(
        "__keep",
        (F.col("__nlen") < F.lit(min_chars)) | F.col("__drop").isNull(),
    )
    kept_struct = F.when(
        F.col("__keep"), F.struct(F.col("pos"), F.col("seg"))
    )
    return segs.groupBy(id_column).agg(
        F.concat_ws(
            joiner,
            F.transform(
                F.sort_array(F.collect_list(kept_struct)),
                lambda s: s["seg"],
            ),
        ).alias(text_column),
        F.count(F.lit(1)).alias("n_segments"),
        F.count(F.when(F.col("__keep"), 1)).alias("n_kept"),
    )


def lsh_scurve_plan(
    spark,
    *,
    bands: int = 16,
    rows_per_band: int = 4,
    step_x2: int = 2,
) -> DataFrame:
    """The MinHash-LSH S-curve — ``P(candidate | sim = s) = 1 − (1 −
    s^r)^b`` (Leskovec-Rajaraman-Ullman, Mining of Massive Datasets,
    ch. 3, public construction) — tabulated over a similarity grid for
    a (bands, rows-per-band) configuration. The parameter-planning
    companion to :func:`minhash_dedup_pairs`: read the curve, check
    the candidate probability at your dedup threshold (the b=16, r=4
    default holds ≥0.99978 at s ≥ 0.8 — this table is the receipt for
    the dedup docstring's plateau claim), and see how much sub-threshold mass the bands let through.

    Pure closed-form arithmetic on a literal grid (``s = i/100`` at
    ``step_x2`` percent steps): both powers are FIXED-ORDER
    multiplication folds (integer exponents — no ``pow``, whose libm
    varies across engines), quantized q9. No data input; the frame is
    a Range leaf — bounded by construction.

    Output per grid point: (s_x2, p_candidate_q9).
    """
    if bands < 1 or rows_per_band < 1:
        raise ValueError(
            f"bands/rows_per_band must be >= 1: {bands}, {rows_per_band}"
        )
    if step_x2 < 1 or 100 % step_x2 != 0:
        # a non-divisor step would silently drop the s=1.0 endpoint
        raise ValueError(f"step_x2 must divide 100: {step_x2}")
    grid = spark.range(0, 101, step_x2).select(
        F.col("id").cast("int").alias("s_x2")
    )
    s = F.col("s_x2").cast("double") / F.lit(100.0)
    s_r = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(rows_per_band))),
        F.lit(1.0),
        lambda acc, _: acc * s,
    )
    one_minus = F.lit(1.0) - s_r
    miss_all = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(bands))),
        F.lit(1.0),
        lambda acc, _: acc * one_minus,
    )
    p = F.lit(1.0) - miss_all
    return grid.select(
        "s_x2",
        F.floor(p * F.lit(1e9) + F.lit(0.5)).cast("long").alias(
            "p_candidate_q9"
        ),
    )
