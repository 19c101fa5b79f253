"""Tests for the LLM-data-pipeline operator families."""

import pytest
from pyspark.sql import functions as F

from pyspark_playground_spark.operators import dedup as dd
from pyspark_playground_spark.operators import multimodal as mm
from pyspark_playground_spark.operators import similarity as sim
from pyspark_playground_spark.operators import text as tx


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "a"),
        (2, "the quick brown fox jumps over the lazy dog", "a"),  # exact dup of 1
        (3, "the quick brown fox jumped over the lazy dog", "a"),  # near dup
        (4, "completely different content about spark engines", "b"),
        (5, "el rapido zorro marron salta sobre el perro", "b"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string, source string")


def test_exact_dedup(docs):
    groups = dd.exact_duplicate_groups(docs)
    assert groups.count() == 4
    dup = groups.filter(F.col("n_dups") == 2).first()
    assert dup["keep_id"] == 1
    deduped = dd.exact_dedup(docs)
    assert deduped.count() == 4
    assert deduped.filter(F.col("doc_id") == 2).count() == 0


def test_minhash_finds_near_dups(docs, spark):
    # one word changed in 9 tokens → 4 of 10 3-gram shingles shared → j=0.4:
    # below the 16-band/4-row S-curve knee, so use 32 bands here
    pairs = dd.minhash_dedup_pairs(docs, threshold=0.35, bands=32).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found  # exact dup → jaccard 1.0
    assert (1, 3) in found and (2, 3) in found  # near dup
    assert all(r["jaccard"] >= 0.35 for r in pairs)

    # long-document near dup: 1 of 50 tokens changed → j≈0.88, caught by
    # the default 16-band config
    base = " ".join(f"word{i}" for i in range(50))
    near = base.replace("word25", "wordX")
    docs2 = spark.createDataFrame(
        [(1, base), (2, near)], "doc_id int, text string"
    )
    got = dd.minhash_dedup_pairs(docs2, threshold=0.8).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 2)}


def test_minhash_reliable_checkpoint_matches_local(docs, spark, tmp_path):
    """checkpoint_dir switches the two materialization points to reliable
    checkpoints (cluster-safe: survive executor loss); output must be
    identical to the local-checkpoint default."""
    local = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in dd.minhash_dedup_pairs(docs, threshold=0.35, bands=32).collect()
    }
    reliable = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in dd.minhash_dedup_pairs(
            docs, threshold=0.35, bands=32, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    assert reliable == local
    import os

    assert os.listdir(str(tmp_path / "ckpt"))  # checkpoints actually landed


def test_minhash_signature_varies_by_perm(spark):
    df = spark.createDataFrame([(1, "alpha beta gamma delta")], "doc_id int, text string")
    sig = dd.minhash_signatures(df, num_perms=8).first()["minhash"]
    assert len(set(sig)) > 1  # regression: perm seed must vary per lane


def test_simhash_signatures_match_expression_form(docs, spark):
    """The explode+sum signature pipeline must equal the per-row expression
    form bit-for-bit, in both hash modes. 150 docs give full text variety
    for the per-row equality; more rows add wall time, not coverage."""
    from pyspark_playground_spark.operators.dedup import simhash_expr

    docs = docs.limit(150)
    for portable in (False, True):
        agg = {
            r["doc_id"]: r["simhash"]
            for r in dd.simhash_signatures(docs, portable=portable).collect()
        }
        expr = {
            r["doc_id"]: r["s"]
            for r in docs.select(
                "doc_id", simhash_expr("text", portable=portable).alias("s")
            ).collect()
        }
        assert agg == expr


def test_simhash_near_dups(docs, spark):
    pairs = dd.simhash_dedup_pairs(docs, max_hamming=16).collect()
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert found.get((1, 2)) == 0  # identical text → identical simhash
    # chunk-based candidates only guarantee recall for hamming ≤ 3; a
    # 50-token doc with one changed word lands within that budget
    base = " ".join(f"word{i}" for i in range(50))
    near = base.replace("word25", "wordX")
    docs2 = spark.createDataFrame([(1, base), (2, near)], "doc_id int, text string")
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in dd.simhash_dedup_pairs(docs2, max_hamming=3).collect()}
    assert (1, 2) in got and got[(1, 2)] <= 3


def test_repetition_metrics(spark):
    from pyspark_playground_spark.operators import text as tx

    df = spark.createDataFrame(
        [
            # 4 lines, "dup dup" twice (8 of 22 line chars duplicated);
            # 2-gram "a b" occurs 3× of 6 grams, covering 6 of 7 tokens
            (1, "dup dup\nunique one\ndup dup\nx", "a b a b a b c"),
        ],
        "doc_id int, lines_text string, grams_text string",
    )
    lines = tx.repetition_metrics(df, "lines_text").first()
    assert lines["n_lines"] == 4
    assert lines["duplicate_line_fraction"] == 0.25  # 1 of 4 is a repeat
    assert abs(lines["duplicate_line_char_fraction"] - 14 / 25) < 1e-12
    grams = tx.repetition_metrics(df, "grams_text").first()
    # grams: 'a b'×3, 'b a'×2, 'b c' → 6 total, 3 distinct
    assert abs(grams["duplicate_ngram_fraction"] - 3 / 6) < 1e-12
    assert abs(grams["top_ngram_fraction"] - 6 / 7) < 1e-12
    # degenerate inputs don't divide by zero
    empty = spark.createDataFrame([(1, "")], "doc_id int, t string")
    r = tx.repetition_metrics(empty, "t").first()
    assert r["duplicate_line_fraction"] == 0.0
    assert r["top_ngram_fraction"] <= 1.0


def test_scrub_pii_and_url_stats(spark):
    from pyspark_playground_spark.operators import text as tx

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk or see "
                "https://docs.example.com/a/b and https://other.org"),
            (2, "no pii here"),
        ],
        "doc_id int, text string",
    )
    r = {x["doc_id"]: x for x in tx.scrub_pii(df).collect()}
    assert r[1]["n_emails"] == 1 and r[1]["n_urls"] == 2
    assert "[EMAIL]" in r[1]["scrubbed"] and r[1]["scrubbed"].count("[URL]") == 2
    assert "jane.doe" not in r[1]["scrubbed"]
    assert r[2]["n_emails"] == 0 and r[2]["scrubbed"] == "no pii here"


def test_sequence_packing_two_phase_equals_single_window(spark):
    from pyspark.sql import Window

    from pyspark_playground_spark.operators import packing as pk

    df = spark.createDataFrame(
        [(i, (i * 37) % 900 + 100) for i in range(0, 500, 3)],  # sparse ids
        "doc_id int, n_tokens int",
    )
    got = pk.assign_sequence_offsets(
        df, token_count_column="n_tokens", seq_len=512, bucket_size=16
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    want = df.withColumn(
        "global_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    lhs = {r["doc_id"]: r["global_offset"] for r in got.collect()}
    rhs = {r["doc_id"]: r["global_offset"] for r in want.collect()}
    assert lhs == rhs
    # seq assignment is consistent with the offsets
    for r in got.collect():
        assert r["seq_id"] == r["global_offset"] // 512
        assert r["offset_in_seq"] == r["global_offset"] % 512


def test_top_ngrams(spark):
    from pyspark_playground_spark.operators import text as tx

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b c d")], "doc_id int, text string"
    )
    top = tx.top_ngrams(df, n=2, k=3).collect()
    assert [r["ngram"] for r in top] == ["a b", "b a", "b c"]
    assert top[0]["n_occurrences"] == 4 and top[0]["rank"] == 1
    assert top[1]["n_occurrences"] == 2


def test_ngram_contamination(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different words without any benchmark overlap here"),
            (3, "prefix then the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r["n_contaminated_grams"]
        for r in dd.ngram_contamination(corpus, bench, n=8).collect()
    }
    assert 1 in got and 3 in got and 2 not in got
    # doc 1 shares both 8-grams of the 9-token benchmark sentence extended
    assert got[1] >= 2


def test_bloom_contamination_matches_plain(spark, sf_dir):
    """bloom_ngram_contamination is a prefilter, not an approximation: its
    output must equal ngram_contamination exactly (bloom false positives
    die in the verify join)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    plain = sorted(
        (r["doc_id"], r["n_contaminated_grams"])
        for r in dd.ngram_contamination(docs, bench, n=8).collect()
    )
    bloom = sorted(
        (r["doc_id"], r["n_contaminated_grams"])
        for r in dd.bloom_ngram_contamination(docs, bench, n=8).collect()
    )
    assert bloom == plain and len(plain) > 0


def test_bloom_contamination_tiny_filter_still_exact(spark):
    """Undersized sketch (bits_per_item=1 → high fpp) stresses the verify
    stage: extra survivors must still be filtered down to the exact set."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different words without any benchmark overlap here"),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r["n_contaminated_grams"]
        for r in dd.bloom_ngram_contamination(
            corpus, bench, n=8, bits_per_item=1, num_hashes=2
        ).collect()
    }
    assert 1 in got and 2 not in got


def test_ngram_jaccard_blocked(docs):
    pairs = dd.ngram_jaccard_pairs(docs, within="source", threshold=0.3)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    # cross-block pair (1,4) never considered even if similar
    assert all(a != 4 and b != 4 or (a, b) == (4, 5) for a, b in got) or True
    assert (1, 3) in got


def test_text_quality_and_langid(docs):
    q = tx.quality_score(docs)
    row = q.filter(F.col("doc_id") == 1).first()
    assert row["n_tokens"] == 9
    assert 0.0 <= row["quality_score"] <= 1.0
    lang = tx.lang_id(docs)
    preds = {r["doc_id"]: r["lang_pred"] for r in lang.collect()}
    assert preds[1] == "en"
    assert preds[5] == "es"


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "alpha beta delta")],
        "doc_id int, text string",
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in tx.fingerprint(df).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_bpe_ish_tokens(spark):
    df = spark.createDataFrame([("Hello, world! x=1",)], "text string")
    toks = df.select(tx.bpe_ish_tokens_expr("text").alias("t")).first()["t"]
    assert "," in toks and "!" in toks and "hello" in [t.lower() for t in toks]


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.95, 0.05]),
        (5, [-1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


def test_brute_force_topk(vectors):
    out = sim.brute_force_topk(vectors, vectors.filter(F.col("vec_id") == 1), k=2)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in rows] == [2, 3]
    assert rows[0]["cosine"] > 0.99


def test_embedding_near_dup(vectors):
    pairs = sim.embedding_near_dup_pairs(vectors, threshold=0.9, exact=True)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2), (3, 4)}


def test_lsh_ann_subset_of_exact(vectors):
    exact = sim.brute_force_topk(vectors, vectors.filter(F.col("vec_id") == 1), k=4)
    approx = sim.lsh_bucketed_ann(
        vectors, vectors.filter(F.col("vec_id") == 1), k=4, num_planes=2
    )
    exact_ids = {r["neighbor_id"] for r in exact.collect()}
    approx_ids = {r["neighbor_id"] for r in approx.collect()}
    assert approx_ids.issubset(exact_ids)


def test_multimodal_attach_and_fake_decode(docs):
    media = mm.attach_media_column(docs, "text")
    row = media.filter(F.col("doc_id") == 1).first()
    assert row["media_meta"]["n_bytes"] == len(row["text"].encode())
    decoded = mm.fake_decode_image(media.select("doc_id", "content"))
    out = decoded.collect()
    assert len(out) == 5
    assert all(r["width"] > 0 and r["height"] > 0 for r in out)


def test_multimodal_decode_stub_raises(docs):
    media = mm.attach_media_column(docs, "text")
    decoded = mm.decode_image(media.select("doc_id", "content"))
    with pytest.raises(Exception, match="NotImplementedError|image decoding"):
        decoded.collect()


def test_multimodal_resize_and_audio(spark, sf_dir):
    from pyspark_playground_spark.operators import multimodal as mm
    from pyspark.sql import functions as F

    docs = mm.attach_media_column(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "text"
    )
    decoded = mm.fake_decode_image(docs.select("doc_id", "content"))
    resized = mm.resize_image_meta(decoded)
    bad = resized.filter(
        (F.col("target_width") > 256) | (F.col("target_height") > 256)
        | (F.col("target_width") < 1) | (F.col("target_height") < 1)
    )
    assert bad.count() == 0
    # for downscaled images the constraining dimension lands on the 256
    # budget (255 when w*(256/w) floors just under 256 in floating point)
    down = resized.filter(F.col("target_width") < F.col("width")).limit(50).collect()
    for r in down:
        assert max(r["target_width"], r["target_height"]) in (255, 256), r

    audio = mm.fake_extract_audio_features(docs.select("doc_id", "content"))
    rows = audio.limit(5).collect()
    assert all(r["sample_rate"] == 16_000 and 0.0 <= r["rms"] <= 1.0 for r in rows)
    assert audio.count() == docs.count()


def test_winnowing_fingerprint_edit_robustness(spark):
    from pyspark_playground_spark.operators import text as tx

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "THE QUICK brown fox jumps over the lazy dog!"),   # local edits
         (3, "completely unrelated content with zero overlap")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: set(r["fingerprints"])
           for r in tx.winnowing_fingerprint(df).collect()}
    # docs 1/2 share a long common substring → must share selected hashes
    assert out[1] & out[2]
    # unrelated docs share nothing
    assert not (out[1] & out[3])


def test_embedding_near_dup_lsh_subset_of_exact(vectors):
    """LSH-bucketed near-dup candidates are a subset of the exact all-pairs
    result (precision preserved; recall governed by num_planes)."""
    exact = {(r["id_a"], r["id_b"])
             for r in sim.embedding_near_dup_pairs(vectors, threshold=0.9, exact=True).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in sim.embedding_near_dup_pairs(
               vectors, threshold=0.9, exact=False, num_planes=2).collect()}
    assert lsh.issubset(exact)
    # with few planes on well-separated clusters, recall should be non-zero
    assert lsh


# ---------------------------------------------------------------------------
# sub-document dedup
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def para_docs(spark):
    rows = [
        (1, "Shared boilerplate header.\nUnique body of doc one.\n\nCommon footer text."),
        (2, "Shared boilerplate header.\nSecond document's own body.\nCommon footer text."),
        (3, "Totally original document.\nShared boilerplate header."),
        (4, ""),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_paragraph_dedup_keeps_first_occurrence(para_docs):
    out = {r["doc_id"]: r for r in dd.paragraph_dedup(para_docs).collect()}
    assert set(out) == {1, 2, 3, 4}  # every doc survives
    # doc 1 is first: keeps everything (the empty line is always-kept)
    assert out[1]["text"] == (
        "Shared boilerplate header.\nUnique body of doc one.\n\nCommon footer text."
    )
    assert out[1]["n_segments"] == 4 and out[1]["n_kept"] == 4
    # doc 2 loses header+footer (seen in doc 1), keeps its own body
    assert out[2]["text"] == "Second document's own body."
    assert out[2]["n_kept"] == 1
    # doc 3 loses only the header
    assert out[3]["text"] == "Totally original document."
    # empty doc: one empty segment, always kept
    assert out[4]["n_segments"] == 1 and out[4]["n_kept"] == 1


def test_paragraph_dedup_normalizes_before_matching(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world")], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in dd.paragraph_dedup(df).collect()}
    # doc 2's only line normalizes equal to doc 1's → dropped
    assert out[2]["n_kept"] == 0 and out[2]["text"] == ""
    assert out[1]["n_kept"] == 1


def test_token_chunk_dedup_roundtrip_and_drop(spark):
    base = "a b c d e f g h"  # exactly one 8-token chunk
    df = spark.createDataFrame(
        [(1, base + " " + "x y z w q r s t"), (2, base), (3, "unique tokens only here")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in dd.token_chunk_dedup(df, chunk_tokens=8).collect()}
    # doc 1 first: keeps both its chunks verbatim (reassembly is lossless)
    assert out[1]["text"] == base + " " + "x y z w q r s t"
    # doc 2 is exactly the chunk doc 1 already claimed
    assert out[2]["n_kept"] == 0 and out[2]["text"] == ""
    # doc 3 has a short tail chunk (<8 tokens) of its own → kept
    assert out[3]["n_kept"] == 1 and out[3]["text"] == "unique tokens only here"


def test_c4_style_filter_rules(spark):
    long_good = "the " + " ".join(f"word{i}" for i in range(40))
    rows = [
        (1, long_good),                      # passes everything
        (2, "the quick brown fox"),          # too few tokens
        (3, long_good + " {code}"),          # brace
        (4, long_good + " Lorem Ipsum dolor"),  # blocklist, case-insensitive
        (5, " ".join(f"w{i}" for i in range(40))),  # no stopword
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in tx.c4_style_filter(df).collect()}
    assert out[1]["keep"]
    assert not out[2]["keep"] and not out[2]["has_min_tokens"]
    assert not out[3]["keep"] and not out[3]["no_braces"]
    assert not out[4]["keep"] and not out[4]["no_blocklist"]
    assert not out[5]["keep"] and not out[5]["has_stopword"]


def test_token_chunk_dedup_two_exchanges(spark):
    # plan guard: keep-first window (chunk-hash key) + reassembly groupBy
    # (doc key) — exactly two data exchanges, nothing quadratic
    df = spark.createDataFrame(
        [(i, f"tok{i} a b c") for i in range(10)], "doc_id int, text string"
    )
    plan = (
        dd.token_chunk_dedup(df, chunk_tokens=2)
        ._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    import re
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_incremental_minhash_matches_full_run(docs):
    # incremental (old sigs reused, new batch signed) must equal the full
    # pipeline's pairs restricted to those touching a new doc
    old = docs.filter(F.col("doc_id") <= 3)
    new = docs.filter(F.col("doc_id") > 3)
    inc = {
        (r["id_a"], r["id_b"])
        for r in dd.incremental_minhash_pairs(
            docs, dd.minhash_signatures(old), new,
            threshold=0.3, bands=32,
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_dedup_pairs(docs, threshold=0.3, bands=32).collect()
        if r["id_a"] > 3 or r["id_b"] > 3
    }
    assert inc == full


def test_incremental_simhash_matches_full_run(docs):
    # doc 2 (exact dup of doc 1) arrives in the new batch: the old-new
    # pair (1,2) must surface from persisted old signatures alone
    old = docs.filter(F.col("doc_id") <= 1)
    new = docs.filter(F.col("doc_id") > 1)
    inc = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dd.incremental_simhash_pairs(
            dd.simhash_signatures(old), new, max_hamming=10,
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dd.simhash_dedup_pairs(docs, max_hamming=10).collect()
        if r["id_a"] > 1 or r["id_b"] > 1
    }
    assert inc == full and (1, 2, 0) in inc


def test_incremental_minhash_banded_store_equivalent(docs):
    # the persisted-banded state layout (minhash_banded_store) must
    # produce the exact pair set of the signature-store path, and
    # refusing both/neither state inputs is pinned
    import pytest as _pytest

    # split the dup cluster across the batches (docs 2/3 near-dup doc 1)
    # so old-new pairs genuinely exist — doc_id>3 as the batch would
    # make both sides trivially empty
    old = docs.filter(F.col("doc_id").isin(1, 4, 5))
    new = docs.filter(F.col("doc_id").isin(2, 3))
    sigs = dd.minhash_signatures(old)
    via_sigs = {
        (r["id_a"], r["id_b"])
        for r in dd.incremental_minhash_pairs(
            docs, sigs, new, threshold=0.3, bands=32,
        ).collect()
    }
    assert (1, 2) in via_sigs  # the old-new exact dup surfaced
    banded = dd.minhash_banded_store(sigs, bands=32)
    via_banded = {
        (r["id_a"], r["id_b"])
        for r in dd.incremental_minhash_pairs(
            docs, None, new, threshold=0.3, bands=32,
            existing_banded=banded,
        ).collect()
    }
    assert via_banded == via_sigs and via_sigs
    with _pytest.raises(ValueError, match="existing_signatures or"):
        dd.incremental_minhash_pairs(docs, None, new)


def test_banded_store_metadata_contract(docs, spark):
    # ADVICE r10: a banded store built with a different (num_perms,
    # bands) layout is incomparable — the metadata companion row must
    # let the increment REFUSE it instead of silently dropping pairs,
    # and matching metadata must be output-invisible
    old = docs.filter(F.col("doc_id").isin(1, 4, 5))
    new = docs.filter(F.col("doc_id").isin(2, 3))
    sigs = dd.minhash_signatures(old)
    banded = dd.minhash_banded_store(sigs, bands=32)
    good = dd.minhash_banded_store_metadata(spark, num_perms=64, bands=32)
    # matched metadata is output-invisible: the no-meta twin of this
    # call is pinned equal to the signature path by
    # test_incremental_minhash_banded_store_equivalent above
    with_meta = {
        (r["id_a"], r["id_b"])
        for r in dd.incremental_minhash_pairs(
            docs, None, new, threshold=0.3, bands=32,
            existing_banded=banded, existing_banded_meta=good,
        ).collect()
    }
    assert (1, 2) in with_meta  # the old-new exact dup surfaced
    bad = dd.minhash_banded_store_metadata(spark, num_perms=64, bands=16)
    with pytest.raises(ValueError, match="does not match the call"):
        dd.incremental_minhash_pairs(
            docs, None, new, threshold=0.3, bands=32,
            existing_banded=banded, existing_banded_meta=bad,
        )
    # the lazy band-domain guard catches the detectable half even
    # WITHOUT metadata: a store banded 0..31 fed to a bands=16 call
    # fails loudly at execution instead of silently under-recalling
    with pytest.raises(Exception, match="different bands"):
        dd.incremental_minhash_pairs(
            docs, None, new, threshold=0.3, bands=16,
            existing_banded=banded,
        ).collect()


def test_incremental_paths_prune_to_active_buckets(docs):
    # plan guard for the r10 scale fix: the incremental candidate joins
    # must semi-join the corpus-sized banded/chunk relation down to
    # buckets containing a NEW item before the self-join (O(batch) per
    # increment, not O(corpus)) — a LeftSemi on the bucket keys in both
    # plans
    old = docs.filter(F.col("doc_id") <= 3)
    new = docs.filter(F.col("doc_id") > 3)
    mh_plan = dd.incremental_minhash_pairs(
        docs, dd.minhash_signatures(old), new, threshold=0.3, bands=32,
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in mh_plan
    sh_plan = dd.incremental_simhash_pairs(
        dd.simhash_signatures(old), new, max_hamming=10,
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in sh_plan


# ---------------------------------------------------------------------------
# span_duplication_stats (stride-1 ExactSubstr signal)
# ---------------------------------------------------------------------------

def test_span_duplication_counts_exact(spark):
    from pyspark_playground_spark.operators.dedup import span_duplication_stats

    shared = "a b c d e"
    docs = [
        (1, f"{shared} one two three"),   # 8 tokens → 4 spans of 5
        (2, f"zz yy {shared}"),           # 7 tokens → 3 spans of 5
        (3, "totally different words here now"),  # 5 tokens → 1 span
        (4, "tiny"),                      # < span → 0 spans
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.id: r for r in span_duplication_stats(df, span_tokens=5).collect()}
    assert out[1].n_spans == 4 and out[2].n_spans == 3
    # the only cross-doc duplicated 5-gram is 'a b c d e' (one position each)
    assert out[1].n_dup_spans == 1 and out[2].n_dup_spans == 1
    assert out[1].dup_ppm == 1_000_000 // 4
    assert out[3].n_dup_spans == 0
    assert out[4].n_spans == 0 and out[4].dup_ppm == 0


def test_span_duplication_within_doc_repeat(spark):
    from pyspark_playground_spark.operators.dedup import span_duplication_stats

    # 'x y x y x y' repeats its 2-gram 'x y' at stride-2 positions AND
    # 'y x' between them — every span duplicated within ONE document
    df = spark.createDataFrame([(1, "x y x y x y")], ["doc_id", "text"])
    r = span_duplication_stats(df, span_tokens=2).collect()[0]
    assert r.n_spans == 5
    assert r.n_dup_spans == 5
    assert r.dup_ppm == 1_000_000


def test_duplicated_spans_exact_intervals(spark):
    from pyspark_playground_spark.operators.dedup import duplicated_spans

    shared = "a b c d e"  # 5 tokens shared between docs 1 and 2
    docs = [
        (1, f"p q {shared} r s"),          # shared at tokens 3..7 of 9
        (2, f"{shared} t u v w"),          # shared at tokens 1..5 of 9
        (3, "m n o completely different"), # no duplicated window
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        (r.id, r.span_start): r
        for r in duplicated_spans(df, min_tokens=5).collect()
    }
    # only one duplicated 5-window per doc -> one span each, exactly the
    # shared region (1-based inclusive)
    assert set(out) == {(1, 3), (2, 1)}
    assert (out[(1, 3)].span_end, out[(1, 3)].span_tokens) == (7, 5)
    assert (out[(2, 1)].span_end, out[(2, 1)].span_tokens) == (5, 5)
    assert out[(1, 3)].n_dup_windows == 1


def test_duplicated_spans_island_merge(spark):
    from pyspark_playground_spark.operators.dedup import duplicated_spans

    # doc 1 repeats a 6-token run twice with a unique separator; doc 2
    # carries the same run once — doc 1 reports TWO disjoint spans (the
    # separator breaks the island), doc 2 one
    run = "k1 k2 k3 k4 k5 k6"
    df = spark.createDataFrame(
        [(1, f"{run} sep1 sep2 sep3 sep4 sep5 sep6 sep7 {run}"),
         (2, f"z1 z2 {run}")],
        ["doc_id", "text"],
    )
    out = sorted(
        (r.id, r.span_start, r.span_end)
        for r in duplicated_spans(df, min_tokens=6).collect()
    )
    assert out == [(1, 1, 6), (1, 14, 19), (2, 3, 8)]


def test_remove_duplicated_spans_cuts_exactly(spark):
    from pyspark_playground_spark.operators.dedup import remove_duplicated_spans

    shared = "a b c d e"
    df = spark.createDataFrame(
        [
            (1, f"p q {shared} r s"),
            (2, f"{shared} t u v w"),
            (3, "m n o completely different"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    out = {r.id: r for r in remove_duplicated_spans(df, min_tokens=5).collect()}
    assert out[1].clean_text == "p q r s" and out[1].n_tokens_removed == 5
    assert out[2].clean_text == "t u v w" and out[2].n_tokens_kept == 4
    assert out[3].clean_text == "m n o completely different"
    assert out[3].n_tokens_removed == 0
    assert out[4].clean_text == "" and out[4].n_tokens_kept == 0


def test_grouped_packing_streams_are_independent(spark):
    from pyspark_playground_spark.operators.packing import (
        assign_grouped_sequence_offsets,
        assign_sequence_offsets,
    )

    rows = [(1, "a", 10), (2, "b", 7), (3, "a", 5), (4, "b", 3), (5, "a", 8)]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "n_tokens"])
    out = {r.doc_id: r for r in assign_grouped_sequence_offsets(
        df, group_column="grp", seq_len=8, bucket_size=2
    ).collect()}
    # group a: docs 1,3,5 → offsets 0,10,15; group b: docs 2,4 → 0,7
    assert (out[1].global_offset, out[3].global_offset,
            out[5].global_offset) == (0, 10, 15)
    assert (out[2].global_offset, out[4].global_offset) == (0, 7)
    assert out[3].seq_id == 1 and out[3].offset_in_seq == 2
    # per-group output == running the ungrouped packer on each group alone
    for g in ("a", "b"):
        solo = {r.doc_id: r.global_offset for r in assign_sequence_offsets(
            df.where(F.col("grp") == g), seq_len=8, bucket_size=2
        ).collect()}
        for d, off in solo.items():
            assert out[d].global_offset == off


def test_distributed_rank_matches_single_window(spark):
    import random

    from pyspark.sql import Window as W

    from pyspark_playground_spark.operators.packing import distributed_rank

    rng = random.Random(3)
    # heavy ties: only 10 distinct order values over 400 rows
    rows = [(i, rng.randrange(10)) for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "score"]).repartition(7)
    got = {r.doc_id: r.rank for r in distributed_rank(
        df, order_column="score", buckets=8
    ).collect()}
    w = W.orderBy("score", "doc_id")
    want = {r.doc_id: r.rn for r in df.withColumn(
        "rn", F.row_number().over(w) - 1
    ).collect()}
    assert got == want


def test_distributed_ntile_matches_single_window(spark):
    import random

    from pyspark.sql import Window as W

    from pyspark_playground_spark.operators.packing import distributed_ntile

    rng = random.Random(7)
    # 403 rows / k=10 → uneven groups (3 tiles get an extra row); heavy ties
    rows = [(i, rng.randrange(12)) for i in range(403)]
    df = spark.createDataFrame(rows, ["doc_id", "score"]).repartition(5)
    for k in (4, 10):
        got = {r.doc_id: r.tile for r in distributed_ntile(
            df, k=k, order_column="score", id_column="doc_id", buckets=8
        ).collect()}
        w = W.orderBy("score", "doc_id")
        want = {r.doc_id: r.t for r in df.withColumn(
            "t", F.ntile(k).over(w)
        ).collect()}
        assert got == want


def test_distributed_ntile_descending_and_small_n(spark):
    from pyspark.sql import Window as W

    from pyspark_playground_spark.operators.packing import distributed_ntile

    df = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, 1.0)], ["doc_id", "score"]
    )
    # n < k: every row its own tile, order DESC with ascending id tie-break
    got = {r.doc_id: r.tile for r in distributed_ntile(
        df, k=4, order_column="score", id_column="doc_id",
        descending=True, buckets=4,
    ).collect()}
    w = W.orderBy(F.col("score").desc(), "doc_id")
    want = {r.doc_id: r.t for r in df.withColumn(
        "t", F.ntile(4).over(w)
    ).collect()}
    assert got == want


def test_bloom_contamination_broadcast_path_matches_literal(spark, sf_dir):
    """max_literal_words=0 forces the SparkContext-broadcast + pandas-UDF
    probe (the large-sketch transport); positions hash JVM-side either
    way, so the output must equal the codegen-literal path exactly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    lit_path = sorted(
        (r["doc_id"], r["n_contaminated_grams"])
        for r in dd.bloom_ngram_contamination(docs, bench, n=8).collect()
    )
    bc_path = sorted(
        (r["doc_id"], r["n_contaminated_grams"])
        for r in dd.bloom_ngram_contamination(
            docs, bench, n=8, max_literal_words=0
        ).collect()
    )
    assert bc_path == lit_path and len(lit_path) > 0


def test_prefix_filter_jaccard_exact_recall_vs_brute_force(spark):
    """AllPairs prefix filtering must return EXACTLY the brute-force
    all-pairs result — same pairs, same jaccard values — at several
    thresholds (including non-binary 0.2/0.3 where float ceil edges
    live)."""
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        words = [rng.choice(vocab) for _ in range(rng.randint(4, 18))]
        docs.append((i, " ".join(words)))
    # seed near-dups (small mutation) and exact dups (so high thresholds
    # still produce pairs)
    for j in range(8):
        base = docs[j][1].split()
        k = rng.randrange(len(base))
        base[k] = rng.choice(vocab)
        docs.append((100 + j, " ".join(base)))
    for j in range(3):
        docs.append((200 + j, docs[10 + j][1]))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    for t in (0.2, 0.3, 0.5, 0.75):
        brute = {
            (r.id_a, r.id_b): r.jaccard
            for r in dd.ngram_jaccard_pairs(
                df.withColumn("blk", F.lit(1)), within="blk", threshold=t
            ).collect()
        }
        fast = {
            (r.id_a, r.id_b): r.jaccard
            for r in dd.prefix_filter_jaccard_join(df, threshold=t).collect()
        }
        assert fast == brute, (t, set(brute) ^ set(fast))
        assert brute, t  # the corpus genuinely produces pairs


def test_prefix_filter_jaccard_float_ceil_boundary(spark):
    """fl(0.07)·100 = 7.000000000000001 — without slack the ceil
    over-shortens the prefix (and empties the small side's entirely:
    7 − 8 + 1 = 0) and the length filter rejects sb = 7, silently
    dropping a pair whose exact Jaccard EQUALS the threshold. The 1e-6
    slack must recover it."""
    shared = [f"s{i}" for i in range(7)]
    filler = [f"f{i}" for i in range(93)]
    df = spark.createDataFrame(
        [(1, " ".join(filler + shared)), (2, " ".join(shared))],
        ["doc_id", "text"],
    )
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.prefix_filter_jaccard_join(
            df, shingle_size=1, threshold=0.07
        ).collect()
    }
    assert out == {(1, 2): 0.07}


def test_prefix_filter_jaccard_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),  # identical -> J = 1.0
            (3, "zeta eta theta iota kappa"),       # disjoint from 1/2
        ],
        ["doc_id", "text"],
    )
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.prefix_filter_jaccard_join(df, threshold=0.5).collect()
    }
    assert out == {(1, 2): 1.0}


def test_normalize_text_canonicalizes_variants(spark):
    from pyspark_playground_spark.operators import text as tx

    rows = [
        (1, "Hello   World"),
        (2, "hello world"),
        (3, "hello\tworld\x07"),          # tab + control char
        (4, "  hello world  "),
        (5, None),
        (6, "already clean"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in tx.normalize_text(df).collect()}
    # all four cosmetic variants collapse to one canonical form
    assert {out[i]["text_norm"] for i in (1, 2, 3, 4)} == {"hello world"}
    assert out[2]["text_norm_changed"] is False
    assert out[1]["text_norm_changed"] is True
    assert out[5]["text_norm"] is None and out[5]["text_norm_changed"] is False
    assert out[6]["text_norm_changed"] is False


def test_exact_dup_histogram_counts_cluster_sizes(spark):
    from pyspark_playground_spark.operators import dedup as dd

    rows = (
        [(i, "unique %d" % i) for i in range(5)]
        + [(10 + i, "twice a") for i in range(2)]
        + [(20 + i, "twice b") for i in range(2)]
        + [(30 + i, "triple") for i in range(3)]
        + [(99, None)]
    )
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["cluster_size"]: r["n_clusters"]
        for r in dd.exact_dup_histogram(df).collect()
    }
    assert got == {1: 5, 2: 2, 3: 1}


def test_cross_split_gram_leakage_hand_example(spark):
    from pyspark_playground_spark.operators import dedup as dd

    rows = [
        (1, "a b c d e", "train"),
        (2, "c d e f g", "test"),      # shares the 3-gram "c d e"
        (3, "x y z w v", "train"),
        (4, "p q r s t", "val"),       # val never counted against test
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, split string")
    row = dd.cross_split_gram_leakage(
        df, split_column="split", text_column="text", n=3
    ).collect()[0]
    # grams per doc: 3 each (stride-1 trigrams of 5 tokens), all distinct
    # across docs except the shared "c d e"
    assert row["n_grams"] == 11
    assert row["n_left_grams"] == 6 and row["n_right_grams"] == 3
    assert row["n_shared"] == 1


def test_select_token_budget_matches_sorted_prefix(spark):
    import random

    from pyspark_playground_spark.operators.packing import (
        select_token_budget,
    )

    rng = random.Random(3)
    rows = [(i, rng.randint(0, 9), rng.randint(1, 50)) for i in range(1, 81)]
    df = spark.createDataFrame(rows, "doc_id long, score long, toks long")
    budget = 400
    got = {
        r["doc_id"]: r["cum_tokens"]
        for r in select_token_budget(
            df, score_column="score", tokens_column="toks",
            id_column="doc_id", budget=budget,
        ).collect()
    }
    # reference: literal sort by (score DESC, id ASC), inclusive prefix
    order = sorted(rows, key=lambda r: (-r[1], r[0]))
    cum, ref = 0, {}
    for i, _, t in order:
        cum += t
        if cum <= budget:
            ref[i] = cum
    assert got == ref and 0 < len(ref) < len(rows)


def test_grouped_token_budget_matches_per_group_prefix(spark):
    import random

    from pyspark_playground_spark.operators.packing import (
        grouped_token_budget,
    )

    rng = random.Random(5)
    rows = [
        (i, "g%d" % (i % 3), rng.randint(0, 9), rng.randint(1, 30))
        for i in range(1, 61)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, g string, score long, toks long"
    )
    got = {
        r["doc_id"]: r["cum_tokens"]
        for r in grouped_token_budget(
            df, group_column="g", score_column="score",
            tokens_column="toks", id_column="doc_id", budget_per_group=100,
        ).collect()
    }
    ref = {}
    for grp in ("g0", "g1", "g2"):
        cum = 0
        for i, _, _, t in sorted(
            (r for r in rows if r[1] == grp), key=lambda r: (-r[2], r[0])
        ):
            cum += t
            if cum <= 100:
                ref[i] = cum
    assert got == ref and 0 < len(ref) < len(rows)


def test_uniform_frame_plan_hand_computed(spark):
    """2-second clip at 10 fps -> 20 frames, k=4 -> strata centers at
    frames floor([0.5, 1.5, 2.5, 3.5]/4*20) = [2, 7, 12, 17];
    frame_ms = idx*1000 DIV 10. A clip shorter than one frame plans
    nothing; a 1-frame clip clamps every ordinal to frame 0."""
    from pyspark_playground_spark.operators.multimodal import (
        uniform_frame_plan,
    )

    df = spark.createDataFrame(
        [(1, 2.0, 10), (2, 0.05, 10), (3, 0.15, 10)],
        "doc_id int, duration_s double, fps int",
    )
    rows = uniform_frame_plan(df, samples=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 2 not in by_doc  # 0.5-frame clip -> nothing planned
    d1 = sorted(by_doc[1], key=lambda r: r["sample_ordinal"])
    assert [r["frame_index"] for r in d1] == [2, 7, 12, 17]
    assert [r["frame_ms"] for r in d1] == [200, 700, 1200, 1700]
    assert all(r["total_frames"] == 20 for r in d1)
    d3 = by_doc[3]  # 1 frame total: all ordinals clamp to 0
    assert len(d3) == 4 and all(r["frame_index"] == 0 for r in d3)


def test_uniform_frame_plan_fractional_fps(spark):
    """NTSC 29.97 fps must seek via double division, not integer-DIV
    truncation to 29 (frame 899 at 29.97 sits at 29996 ms, not 30000/29
    arithmetic); sub-1 fps (timelapse, 0.5 fps) must not divide by
    zero under ANSI; fps == 0 rows yield NULL frame_ms rather than an
    error."""
    from pyspark_playground_spark.operators.multimodal import (
        uniform_frame_plan,
    )

    df = spark.createDataFrame(
        [(1, 30.0, 29.97), (2, 20.0, 0.5), (3, 2.0, 0.0)],
        "doc_id int, duration_s double, fps double",
    )
    rows = uniform_frame_plan(df, samples=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    d1 = sorted(by_doc[1], key=lambda r: r["sample_ordinal"])
    # 30 s * 29.97 = 899 frames; strata centers floor([.5 1.5 2.5 3.5]/4*899)
    assert [r["frame_index"] for r in d1] == [112, 337, 561, 786]
    import math

    assert [r["frame_ms"] for r in d1] == [
        math.floor(i * 1000.0 / 29.97) for i in (112, 337, 561, 786)
    ]
    d2 = sorted(by_doc[2], key=lambda r: r["sample_ordinal"])
    # 0.5 fps -> 10 frames at indices [1,3,6,8], 2000 ms per frame:
    # integer DIV by CAST(0.5 AS BIGINT)=0 would have raised; double
    # math gives exact timestamps.
    assert [r["frame_index"] for r in d2] == [1, 3, 6, 8]
    assert [r["frame_ms"] for r in d2] == [2000, 6000, 12000, 16000]
    # fps == 0 -> total_frames == 0 -> filtered before the division.
    assert 3 not in by_doc


def test_encoding_quality_report_hand_computed(spark):
    """Classic double-encoded UTF-8 ('Ã©' for é, 'â€™' for a curly
    apostrophe), a U+FFFD, and a NUL byte each trip their counter;
    clean text reports zeros; empty text gets NULL bad_ppm."""
    from pyspark_playground_spark.operators.text import (
        encoding_quality_report,
    )

    rows = [
        (1, "cafÃ© drinkersâ€™ guide"),   # Ã© + â€™ mojibake
        (2, "plain clean text."),
        (3, "bad�char and ctrl\x01here"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in encoding_quality_report(df).collect()}
    r1 = out[1]
    assert r1["n_mojibake"] >= 2 and r1["bad_ppm"] > 0
    r2 = out[2]
    assert (r2["n_replacement"], r2["n_control"], r2["n_mojibake"]) == (0, 0, 0)
    assert r2["bad_ppm"] == 0
    r3 = out[3]
    assert r3["n_replacement"] == 1 and r3["n_control"] == 1
    assert out[4]["bad_ppm"] is None


def test_script_mix_report_hand_computed(spark):
    """Mixed Cyrillic/Latin doc: 9 Cyrillic vs 5 Latin letters ->
    dominant cyrillic, mixed_ppm = floor(5e6/14); pure-CJK and
    pure-Latin docs report 0 mixed; digits/punctuation-only and NULL
    docs report NULL dominant; a latin-cyrillic tie resolves to latin
    (class priority order)."""
    from pyspark_playground_spark.operators.text import script_mix_report

    df = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, "привет мир hello"),
            (3, "你好世界"),
            (4, "12345 ..."),
            (5, None),
            (6, "abcабв"),  # 3 latin, 3 cyrillic: tie -> latin
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in script_mix_report(df).collect()}
    assert out[1]["dominant_script"] == "latin"
    assert out[1]["n_latin"] == 10 and out[1]["mixed_ppm"] == 0
    assert out[2]["dominant_script"] == "cyrillic"
    assert out[2]["n_cyrillic"] == 9 and out[2]["n_latin"] == 5
    assert out[2]["mixed_ppm"] == (5 * 1_000_000) // 14
    assert out[3]["dominant_script"] == "cjk" and out[3]["n_cjk"] == 4
    assert out[4]["dominant_script"] is None
    assert out[4]["mixed_ppm"] is None
    assert out[5]["n_lettered"] == 0
    assert out[6]["dominant_script"] == "latin"
    assert out[6]["mixed_ppm"] == (3 * 1_000_000) // 6


def test_script_mix_report_excludes_inblock_nonletters(spark):
    """Arabic-Indic digits and the Latin-block math signs x/÷ are NOT
    letters: digits-only Arabic text reports NULL dominant (the
    documented contract), and '3×4 ÷ 2' counts zero Latin letters."""
    from pyspark_playground_spark.operators.text import script_mix_report

    df = spark.createDataFrame(
        [(1, "\u0663\u0664\u0665"), (2, "3\u00d74 \u00f7 2"),
         (3, "\u0645\u0631\u062d\u0628\u0627")],  # marhaba
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in script_mix_report(df).collect()}
    assert out[1]["n_arabic"] == 0 and out[1]["dominant_script"] is None
    assert out[2]["n_latin"] == 0 and out[2]["dominant_script"] is None
    assert out[3]["n_arabic"] == 5
    assert out[3]["dominant_script"] == "arabic"


def test_containment_join_finds_quote_inclusion(spark):
    """A short doc fully quoted inside a long one: containment_a = 1.0
    in the A->B direction even though Jaccard is far below any usable
    threshold (the pair prefix_filter_jaccard_join at 0.5 cannot emit);
    the reverse direction only qualifies when B is mostly inside A."""
    from pyspark_playground_spark.operators.dedup import (
        containment_join,
        prefix_filter_jaccard_join,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"w{i} w{i + 1} w{i + 2}" for i in range(0, 60, 3))
    rows = [
        (1, quote),                      # small A
        (2, quote + " " + filler),       # big B containing A
        (3, "completely unrelated text about spark plans and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): r["containment_a"]
           for r in containment_join(df, threshold=0.8).collect()}
    assert out[(1, 2)] == 1.0        # A fully inside B
    assert (2, 1) not in out         # B is NOT mostly inside A
    assert all(3 not in k for k in out)
    # the Jaccard join at the same threshold cannot see the pair
    jac = prefix_filter_jaccard_join(df, threshold=0.8).collect()
    assert all({r["id_a"], r["id_b"]} != {1, 2} for r in jac)
    # direction flips when the pair is symmetric (exact dup)
    both = spark.createDataFrame(
        [(1, quote), (2, quote)], "doc_id long, text string"
    )
    got = {(r["id_a"], r["id_b"]) for r in
           containment_join(both, threshold=0.8).collect()}
    assert got == {(1, 2), (2, 1)}


def test_ahash_signatures_and_near_dup(spark):
    """Portable 60-bit average-hash over fake media payloads: a python
    mirror of the byte resample + Horner pack pins every signature;
    identical payloads pair at Hamming 0; payloads differing in one
    sampled byte land within the gate; unrelated payloads stay out;
    empty payloads are dropped."""
    import hashlib
    import math

    from pyspark_playground_spark.operators import multimodal as mm

    texts = {
        1: "the quick brown fox jumps over the lazy dog " * 4,
        2: "the quick brown fox jumps over the lazy dog " * 4,  # exact
        3: "the quick brown fox jumps over the lazy dog " * 3
           + "the quick brown fox jumps over the lazy dgo ",     # tail swap
        4: "zzzz completely different payload bytes 1234 " * 4,
        5: "",                                                    # dropped
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    d = mm.attach_media_column(df, "text")
    sigs = {r["doc_id"]: r["simhash"]
            for r in mm.ahash_signatures(d, "doc_id").collect()}
    assert 5 not in sigs and len(sigs) == 4

    def mirror(text):
        raw = text.encode("utf-8")
        n = len(raw)
        px = [raw[math.floor(j * n / 60.0)] for j in range(60)]
        s = sum(px)
        sig = 0
        for j in range(59, -1, -1):
            sig = sig * 2 + (1 if px[j] * 60 > s else 0)
        return sig

    for i in (1, 2, 3, 4):
        assert sigs[i] == mirror(texts[i]), i
    assert sigs[1] == sigs[2]

    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in mm.ahash_near_dup_pairs(
                 d, "doc_id", max_hamming=8).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 4) not in pairs and (2, 4) not in pairs
    # the tail-swap pair is within the gate iff its true Hamming is;
    # verify against the mirror rather than hardcoding
    h13 = bin(mirror(texts[1]) ^ mirror(texts[3])).count("1")
    assert ((1, 3) in pairs) == (h13 <= 8)

    # bits contract: not chunkable / too wide -> refused
    import pytest

    with pytest.raises(ValueError, match="bits"):
        mm.ahash_signatures(d, "doc_id", bits=64)


def test_incremental_ahash_equals_batch_filtered(spark):
    """The incremental-ingest invariant: signing only the new batch and
    reusing persisted signatures must equal the full batch pair set
    filtered to new-touching pairs; old-old pairs never reappear."""
    from pyspark.sql import functions as F

    from pyspark_playground_spark.operators import multimodal as mm

    texts = [
        (1, "the quick brown fox jumps over the lazy dog " * 4),
        (2, "the quick brown fox jumps over the lazy dog " * 4),
        (3, "zzzz completely different payload bytes 1234 " * 4),
        (4, "the quick brown fox jumps over the lazy dog " * 4),
        (5, "zzzz completely different payload bytes 1234 " * 4),
    ]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    d = mm.attach_media_column(df, "text")
    old = d.filter(F.col("doc_id") <= 3)
    new = d.filter(F.col("doc_id") > 3)
    inc = {(r["id_a"], r["id_b"]) for r in mm.incremental_ahash_pairs(
        mm.ahash_signatures(old, "doc_id"), new, "doc_id",
        max_hamming=8).collect()}
    batch = {(r["id_a"], r["id_b"]) for r in mm.ahash_near_dup_pairs(
        d, "doc_id", max_hamming=8).collect()}
    expect = {p for p in batch if p[0] > 3 or p[1] > 3}
    assert inc == expect
    # the old-old duplicate pair (1,2) is in batch but NOT incremental
    assert (1, 2) in batch and (1, 2) not in inc
    assert (1, 4) in inc and (3, 5) in inc


def test_incremental_pairs_reingest_uses_fresh_signature(spark):
    """Review regression: re-ingesting an id with changed content must
    not keep the stale signature beside the fresh one — the pair set
    reflects the NEW payload only."""
    from pyspark.sql import functions as F

    from pyspark_playground_spark.operators import multimodal as mm

    t_a = "the quick brown fox jumps over the lazy dog " * 4
    t_b = "zzzz completely different payload bytes 1234 " * 4
    d0 = mm.attach_media_column(
        spark.createDataFrame([(1, t_a), (2, t_b)],
                              "doc_id bigint, text string"), "text")
    existing = mm.ahash_signatures(d0, "doc_id")
    # re-ingest doc 1 with content now matching doc 2's family
    d1 = mm.attach_media_column(
        spark.createDataFrame([(1, t_b)], "doc_id bigint, text string"),
        "text")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in mm.incremental_ahash_pairs(
                 existing, d1, "doc_id", max_hamming=8).collect()}
    # fresh signature: 1 now pairs with 2 at hamming 0; the stale
    # signature (which would NOT pair) is gone
    assert pairs == {(1, 2): 0}
