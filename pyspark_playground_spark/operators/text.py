"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference surface (BASELINE.json north star): language ID, quality
scoring, token counting, document fingerprinting. Everything is built-in
``pyspark.sql.functions`` column expressions — JVM-side, whole-stage
codegen, zero Python in the hot path — so a 100 TB corpus scan stays a
single codegen'd stage over the parquet scan with full column pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny multilingual stopword profiles for the n-gram/marker language
#: heuristic; deliberately small — a real deployment swaps in fastText-style
#: profiles via the same scoring shape.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une"],
    "de": ["der", "die", "und", "das", "ein", "nicht", "mit", "ist"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不"],
}

STOPWORDS_EN = ["the", "a", "an", "of", "and", "or", "to", "in", "is", "it"]


def tokens_expr(text: str | Column) -> Column:
    """Whitespace tokenization of lower-cased text; empty tokens are
    dropped, so leading/trailing whitespace of ANY kind (``F.trim`` only
    strips ASCII spaces — newlines/tabs slip through) and an all-whitespace
    document both behave: no phantom ``''`` token inflating counts or
    leaking into n-grams. Matches Python ``str.split()`` semantics."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != F.lit(""))


def bpe_ish_tokens_expr(text: str | Column) -> Column:
    """BPE-ish sub-word segmentation: split on whitespace AND punctuation
    boundaries, keeping punctuation runs as their own tokens — the cheap
    regex approximation of a byte-pair tokenizer's pre-tokenization."""
    col = F.col(text) if isinstance(text, str) else text
    spaced = F.regexp_replace(col, r"([^\w\s]+)", r" $1 ")
    return F.filter(F.split(F.trim(spaced), r"\s+"), lambda t: t != F.lit(""))


def token_count_expr(text: str | Column) -> Column:
    return F.size(tokens_expr(text))


def ngrams_expr(text: str | Column, n: int = 2) -> Column:
    """Token n-grams (non-distinct, in order; a short document yields its
    full token run as one gram).

    For the common ``n == 2`` the grams come from ``zip_with`` over the
    token array and its shifted self — zip_with *arguments* are evaluated
    once per expression evaluation, unlike expressions captured inside a
    lambda, which re-evaluate per element (the projection-collapse trap:
    a captured ``split`` re-tokenizes the document per gram, measured ~20×
    slower on the fixture corpus).
    """
    toks = tokens_expr(text)
    n_tokens = F.size(toks)
    if n == 2:
        paired = F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(n_tokens - 1, F.lit(1))),
            lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b)).otherwise(a),
        )
        return F.slice(paired, 1, F.greatest(n_tokens - 1, F.lit(1)))
    idx = F.sequence(F.lit(0), F.greatest(n_tokens - n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    # A token-less document yields no grams (not [''], which sequence(0,0)
    # over an empty token array would otherwise produce).
    return F.when(n_tokens == 0, F.array().cast("array<string>")).otherwise(grams)


def top_ngrams(
    df: DataFrame, text_column: str = "text", *, n: int = 2, k: int = 100
) -> DataFrame:
    """Corpus-wide most frequent token n-grams (vocabulary / BPE-seed
    census). One explode + one count shuffle; the top-k itself is
    ``orderBy(...).limit(k)``, which Spark executes as TakeOrdered (per-
    partition heaps + driver merge of k rows) — no single-task global sort
    even with a billion-gram vocabulary. Rank is stamped on the k-row
    result with a deterministic (count desc, gram asc) tie-break.
    """
    from pyspark.sql import Window

    ex = df.select(F.explode(ngrams_expr(text_column, n)).alias("ngram"))
    counts = ex.groupBy("ngram").agg(F.count(F.lit(1)).alias("n_occurrences"))
    top = counts.orderBy(
        F.col("n_occurrences").desc(), F.col("ngram").asc()
    ).limit(k)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
    return top.withColumn("rank", F.row_number().over(w))


def quality_features(df: DataFrame, text_column: str = "text") -> DataFrame:
    """Length / punctuation / stopword quality signals per document.

    Ratios are computed as double divisions of exact integer counts, so
    values are reproducible bit-for-bit across engines.
    """
    toks = tokens_expr(text_column)
    n_chars = F.length(F.col(text_column))
    n_tokens = F.size(toks)
    n_punct = F.length(F.regexp_replace(F.col(text_column), r"[\w\s]", ""))
    stop_list = ",".join(f"'{w}'" for w in STOPWORDS_EN)
    n_stop = F.size(
        F.expr(
            f"filter(split(trim(lower({text_column})), '\\\\s+'),"
            f" x -> x in ({stop_list}))"
        )
    )
    return df.select(
        "*",
        n_chars.alias("n_chars_text"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stopwords"),
        (n_punct.cast("double") / n_chars.cast("double")).alias("punct_ratio"),
        (n_stop.cast("double") / n_tokens.cast("double")).alias("stopword_ratio"),
        (n_chars.cast("double") / n_tokens.cast("double")).alias("avg_token_len"),
    )


def quality_score(df: DataFrame, text_column: str = "text") -> DataFrame:
    """Composite 0-1 quality score from the individual signals: long enough,
    not punctuation soup, plausible natural-language stopword density."""
    feats = quality_features(df, text_column)
    length_ok = F.when(F.col("n_tokens") >= 20, 1.0).otherwise(
        F.col("n_tokens").cast("double") / 20.0
    )
    punct_ok = F.when(F.col("punct_ratio") <= 0.2, 1.0).otherwise(
        F.greatest(F.lit(0.0), 1.0 - (F.col("punct_ratio") - 0.2) * 2.0)
    )
    stop_ok = F.when(F.col("stopword_ratio") >= 0.05, 1.0).otherwise(
        F.col("stopword_ratio") / 0.05
    )
    return feats.withColumn(
        "quality_score", (length_ok + punct_ok + stop_ok) / F.lit(3.0)
    )


def lang_id(df: DataFrame, text_column: str = "text") -> DataFrame:
    """Marker-word language identification.

    Scores each language by the count of its marker words among the tokens
    (plus substring hits for space-free scripts), then argmaxes with a
    stable alphabetical tie-break. Pure column expressions → one codegen'd
    projection, no shuffle, no UDF.
    """
    toks = tokens_expr(text_column)
    scores = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        marker_list = ",".join(f"'{m}'" for m in markers)
        token_hits = F.size(
            F.expr(
                f"filter(split(trim(lower({text_column})), '\\\\s+'),"
                f" x -> x in ({marker_list}))"
            )
        )
        substr_hits = sum(
            (
                F.when(F.col(text_column).contains(m), 1).otherwise(0)
                for m in markers
                if not m.isascii()
            ),
            F.lit(0),
        )
        scores.append((lang, token_hits + substr_hits))
    best = F.greatest(*[s for _, s in scores])
    pred = F.lit("und")
    # reversed so earlier (alphabetically smaller) languages win ties
    for lang, score in reversed(scores):
        pred = F.when(score == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    out = df.withColumn("lang_pred", pred)
    return out.withColumn("n_tokens", F.size(toks))


#: deliberately simple patterns valid in both Java regex (Spark) and RE2
#: (DuckDB/production scrubbers) — no backrefs, no lookaround
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_PATTERN = r"https?://[^\s]+"
URL_DOMAIN_PATTERN = r"https?://([^/\s]+)"


def scrub_pii(
    df: DataFrame,
    text_column: str = "text",
    *,
    email_replacement: str = "[EMAIL]",
    url_replacement: str = "[URL]",
) -> DataFrame:
    """Training-data redaction pass: mask emails and URLs, count what was
    masked (the C4/Pile-style scrub, reduced to engine-portable regexes —
    a production deployment swaps in its full pattern set through the same
    columns). Pure ``regexp_replace``/``regexp_count`` projections: no
    shuffle, no UDF, runs inside the scan's codegen stage at 100 TB.

    Adds ``n_emails``, ``n_urls``, and ``scrubbed`` (masked text).
    """
    col = F.col(text_column)
    return df.select(
        "*",
        F.regexp_count(col, F.lit(EMAIL_PATTERN)).alias("n_emails"),
        F.regexp_count(col, F.lit(URL_PATTERN)).alias("n_urls"),
        F.regexp_replace(
            F.regexp_replace(col, EMAIL_PATTERN, email_replacement),
            URL_PATTERN,
            url_replacement,
        ).alias("scrubbed"),
    )


def normalize_text(
    df: DataFrame,
    text_column: str = "text",
    *,
    out: str = "text_norm",
    lowercase: bool = True,
) -> DataFrame:
    """Deterministic text canonicalization — the cleanup run BEFORE
    hashing/dedup/shingling so cosmetic variants (case, control chars,
    whitespace runs) collapse to one canonical form and stop defeating
    exact dedup: optional lowercase → strip control characters
    (``[\\x00-\\x1f\\x7f]`` → space) → collapse whitespace runs to one
    space → trim. Engine-portable regexes in this exact op order (the
    oracle mirrors them verbatim); pure projections, no shuffle, runs
    inside the scan's codegen stage at 100 TB.

    Adds ``out`` (canonical text) and ``<out>_changed``.
    """
    col = F.col(text_column)
    src = F.lower(col) if lowercase else col
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(src, "[\\x00-\\x1f\\x7f]", " "), "\\s+", " "
        )
    )
    return df.select(
        "*",
        norm.alias(out),
        (~norm.eqNullSafe(col)).alias(f"{out}_changed"),
    )


def repetition_metrics(
    df: DataFrame, text_column: str = "text", *, ngram_n: int = 2
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, §A1.1 quality
    filters): documents dominated by repeated lines or n-grams are
    low-quality training data.

    Adds per-document:

    - ``n_lines`` and ``duplicate_line_fraction`` — lines occurring more
      than once / total lines;
    - ``duplicate_line_char_fraction`` — characters inside duplicated lines
      / total line characters;
    - ``duplicate_ngram_fraction`` — token ``ngram_n``-gram instances that
      are repeats of an earlier instance (1 - distinct/total);
    - ``top_ngram_fraction`` — tokens covered by the single most frequent
      n-gram (count × n / token count).

    All ratios are exact integer counts divided as doubles — reproducible
    bit-for-bit across engines. Everything is per-row column expressions
    (no shuffle, no UDF); the occurrence counts are O(len²) comparisons
    within one document's line/gram lists, bounded by document size — the
    right trade at 100 TB, where a shuffle per metric would dominate.
    """
    # Expression-shape rule applied throughout (see SNIPPETS/memory:
    # projection-collapse): higher-order functions are interpreted, not
    # codegen'd, and every *capture* of an outer expression inside a lambda
    # re-evaluates it per element. So (a) lambdas below only touch their
    # bound variables, (b) occurrence counting is done as run lengths over
    # a sorted array (one aggregate, one pass) instead of
    # count-each-element-in-array (O(n) re-evaluations). The naive
    # transform(distinct, g -> count(grams, g)) form measured ~20× slower
    # on the fixture corpus.
    col = F.col(text_column)
    lines = F.filter(
        F.transform(F.split(col, "\n"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )
    n_lines = F.size(lines)
    dup_lines = n_lines - F.size(F.array_distinct(lines))
    line_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    # chars inside duplicated lines: run lengths over the sorted line array.
    # When a run reaches its 2nd element both occurrences start counting;
    # each further repeat adds one more line's characters.
    dup_line_chars = F.aggregate(
        F.array_sort(lines),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).cast("long").alias("chars"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            (
                acc["chars"]
                + F.when(
                    x.eqNullSafe(acc["prev"]),
                    F.when(acc["run"] == 1, F.length(x) * 2).otherwise(F.length(x)),
                ).otherwise(F.lit(0))
            ).alias("chars"),
        ),
        lambda acc: acc["chars"],
    )
    toks = tokens_expr(text_column)
    n_tokens = F.size(toks)
    grams = ngrams_expr(text_column, ngram_n)
    n_grams = F.size(grams)
    distinct_grams = F.array_distinct(grams)
    # top occurrence count = max run length over the sorted gram array
    run = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    top_count = run["best"]
    safe = lambda num, den: F.when(  # noqa: E731
        den > 0, num.cast("double") / den.cast("double")
    ).otherwise(F.lit(0.0))
    return df.select(
        "*",
        n_lines.alias("n_lines"),
        safe(dup_lines, n_lines).alias("duplicate_line_fraction"),
        safe(dup_line_chars, line_chars).alias("duplicate_line_char_fraction"),
        safe(n_grams - F.size(distinct_grams), n_grams).alias(
            "duplicate_ngram_fraction"
        ),
        F.least(safe(top_count * ngram_n, n_tokens), F.lit(1.0)).alias(
            "top_ngram_fraction"
        ),
    )


def fingerprint(df: DataFrame, text_column: str = "text") -> DataFrame:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token set. Robust to word reordering; cheap exact near-dup key."""
    toks = F.array_sort(F.array_distinct(tokens_expr(text_column)))
    return df.withColumn("fingerprint", F.md5(F.concat_ws(" ", toks)))


def winnowing_fingerprint(
    df: DataFrame,
    text_column: str = "text",
    *,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Rolling-hash winnowing fingerprint (Schleimer et al., MOSS).

    Hash every character k-gram, then keep the minimum hash of each sliding
    window of ``window`` consecutive k-gram hashes; the distinct selected
    hashes are the document's fingerprint set (robust to local edits —
    matching substrings of length ≥ k+window-1 always share a selected
    hash). The k-gram hashes are computed via substring+md5 rather than an
    explicit rolling recurrence — same output set, no UDF.

    Costs one shuffle (explode → window → group-by on the same key). Rows
    are replicated per k-gram during that shuffle, so project down to
    (id, text) before calling this on wide tables.

    Output adds ``fingerprints array<string>`` and a stable ``fingerprint``
    digest of the sorted set.
    """
    from pyspark.sql import Window

    col = F.col(text_column)
    n_grams = F.greatest(F.length(col) - F.lit(k - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.md5(col.substr(i, F.lit(k))),
    )
    # Explode the k-gram hashes and take sliding-window minima with a window
    # function instead of a nested transform-over-slice expression: the
    # nested form re-inlines the full gram computation per window position
    # (projection collapse), turning O(n) md5s into O(n·w) — measured 25×
    # slower. The explode keeps grams evaluated once and costs one shuffle,
    # shared by the window and the final group-by (same key).
    ex = df.select("*", F.posexplode(grams).alias("__pos", "__gram"))
    w_min = (
        Window.partitionBy(*df.columns)
        .orderBy("__pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    n_windows = F.greatest(
        F.length(col) - F.lit(k - 1) - F.lit(window - 1), F.lit(1)
    )
    selected = (
        ex.withColumn("__winmin", F.min("__gram").over(w_min))
        .filter(F.col("__pos") < n_windows)
        .groupBy(*df.columns)
        .agg(F.array_sort(F.collect_set("__winmin")).alias("fingerprints"))
    )
    return selected.withColumn(
        "fingerprint", F.md5(F.concat_ws(",", F.col("fingerprints")))
    )


def tf_idf_top_terms(
    df: DataFrame,
    k: int = 5,
    text_column: str = "text",
    id_column: str = "doc_id",
) -> DataFrame:
    """Top-k distinctive terms per document by TF-IDF.

    Corpus-wide term weighting in four declarative steps, all map-side
    combinable: explode tokens -> per-(doc, term) counts (``tf``) ->
    per-term document frequency (``doc_freq``; the (doc, term) grid is
    already distinct so a plain count suffices) -> score and rank.

    ``score = tf * ln(N / doc_freq)`` with N the corpus document count,
    carried as a broadcast one-row cross join — no driver collect, so the
    plan stays a single job at any corpus size. Ranking deliberately uses
    the all-integer key ``(tf DESC, doc_freq ASC, term ASC)`` — the same
    order TF-IDF induces for a fixed document, minus float comparisons,
    so results are reproducible bit-for-bit across engines and platforms.

    Shuffle census at 100 TB: one on ``(doc, term)``, one on ``term``
    (both with partial aggregation), the tf⋈doc_freq equi-join on
    ``term``, and the per-doc top-k window on ``doc`` — no broadcast of
    anything data-sized, no skew worse than the hottest term.
    """
    toks = df.select(
        F.col(id_column), F.explode(tokens_expr(text_column)).alias("term")
    )
    tf = toks.groupBy(id_column, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n = df.select(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf") * F.log(F.col("__n").cast("double") / F.col("doc_freq")),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_column).orderBy(
        F.col("tf").desc(), F.col("doc_freq").asc(), F.col("term").asc()
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= k)
        .select(id_column, "term_rank", "term", "tf", "doc_freq", "score")
    )


def unigram_logprob_scores(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    logp_decimals: int = 7,
) -> DataFrame:
    """Average token log-likelihood of each document under the corpus's
    own unigram LM — the classic perplexity-proxy quality signal (the
    cheap stand-in for a KenLM score in public corpus pipelines):
    rare-token-heavy / garbled documents score low, boilerplate scores
    high; filter or stratify on the tails.

    ``logp(t) = ln(count(t) / total_tokens)``; score = mean over the
    document's tokens (natural-log, so score = -cross-entropy in nats).

    Cross-engine determinism: float summation is order-dependent, so each
    token's logp is rounded to ``logp_decimals`` decimals and summed in
    exact DECIMAL arithmetic — identical in any engine regardless of row
    order — with a single double division at the end (render the result,
    don't compare raw doubles).

    Shuffle census at 100 TB: token-count groupBy on ``term`` (partial
    aggregation), the tokens⋈LM equi-join on ``term`` (skew bounded by the
    hottest token; broadcast the LM instead when the vocabulary is capped),
    and the per-doc groupBy. ``total_tokens`` rides a broadcast one-row
    cross join — no driver collect anywhere.
    """
    toks = df.select(
        F.col(id_column), F.explode(tokens_expr(text_column)).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("__cnt"))
    total = counts.agg(F.sum("__cnt").alias("__total"))
    lm = (
        counts.crossJoin(F.broadcast(total))
        .select(
            "term",
            F.round(
                F.log(F.col("__cnt").cast("double") / F.col("__total")),
                logp_decimals,
            )
            .cast("decimal(28,9)")
            .alias("__logp"),
        )
    )
    return (
        toks.join(lm, "term")
        .groupBy(id_column)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__logp").alias("__sum_logp"),
        )
        .select(
            id_column,
            "n_tokens",
            # exact decimal — render THIS cross-engine (the divided double
            # below can land on a printf rounding tie; seen at sf0.1)
            F.col("__sum_logp").alias("sum_logprob"),
            (F.col("__sum_logp").cast("double") / F.col("n_tokens")).alias(
                "avg_logprob"
            ),
        )
    )


def bigram_logprob_scores(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    logp_decimals: int = 7,
) -> DataFrame:
    """Average token log-likelihood under the corpus's own BIGRAM LM —
    one order up from :func:`unigram_logprob_scores` and the closest
    column-expression stand-in for the KenLM perplexity filters public
    corpus pipelines use (CCNet / Gopher): a document whose TRANSITIONS
    are unusual (word salad, shuffled boilerplate, wrong-language spans)
    scores low even when each token is individually common — exactly what
    the unigram score cannot see.

    Scoring (stupid backoff, Brants et al. '07): the first token pays the
    unigram cost ``ln(c1(w1)/total)``; every following token pays the
    conditional ``ln(c2(w_{i-1}, w_i) / c1(w_{i-1}))``. Because the
    corpus scores ITSELF, every bigram being scored was counted (c2 ≥ 1)
    and the backoff branch is provably dead — the expression stays
    join-only, no conditional.

    Cross-engine determinism: the unigram recipe — each term's ln is
    rounded to ``logp_decimals`` and summed in exact DECIMAL (order-free),
    one double division at the end.

    Plan at 100 TB: bigrams come from the token ARRAY (zip of two slices
    — no self-join, no window); one bigram census + one unigram census
    (both map-side combined), two equi-joins to attach counts (skew
    bounded by the hottest transition; broadcast the LM when the
    vocabulary is capped), ``total`` on a broadcast one-row cross join,
    one per-doc aggregation. Empty documents are absent from the output
    (nothing to score), matching the unigram operator.

    Returns ``(id, n_tokens, sum_logprob, avg_logprob)``.
    """
    base = df.select(
        F.col(id_column), tokens_expr(text_column).alias("__t")
    ).filter(F.size("__t") > 0)
    uni = base.select(id_column, F.explode("__t").alias("term"))
    c1 = uni.groupBy("term").agg(F.count(F.lit(1)).alias("__c1"))
    total = c1.agg(F.sum("__c1").alias("__total"))
    first = base.select(
        id_column, F.col("__t").getItem(0).alias("term")
    )
    first_terms = (
        first.join(c1, "term")
        .crossJoin(F.broadcast(total))
        .select(
            id_column,
            F.round(
                F.log(
                    F.col("__c1").cast("double")
                    / F.col("__total").cast("double")
                ),
                logp_decimals,
            )
            .cast("decimal(28,9)")
            .alias("__lp"),
        )
    )
    bi = base.filter(F.size("__t") >= 2).select(
        id_column,
        F.explode(
            F.arrays_zip(
                F.slice("__t", 1, F.size("__t") - 1).alias("prev"),
                F.slice("__t", 2, F.size("__t") - 1).alias("cur"),
            )
        ).alias("__bg"),
    ).select(id_column, F.col("__bg.prev").alias("prev"), F.col("__bg.cur").alias("cur"))
    c2 = bi.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("__c2"))
    bi_terms = (
        bi.join(c2, ["prev", "cur"])
        .join(c1.withColumnRenamed("term", "prev"), "prev")
        .select(
            id_column,
            F.round(
                F.log(
                    F.col("__c2").cast("double") / F.col("__c1").cast("double")
                ),
                logp_decimals,
            )
            .cast("decimal(28,9)")
            .alias("__lp"),
        )
    )
    return (
        first_terms.unionByName(bi_terms)
        .groupBy(id_column)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__lp").alias("sum_logprob"),
        )
        .select(
            id_column,
            "n_tokens",
            # exact decimal — render THIS cross-engine; the double below
            # is for human consumption
            "sum_logprob",
            (F.col("sum_logprob").cast("double") / F.col("n_tokens")).alias(
                "avg_logprob"
            ),
        )
    )


def c4_style_filter(
    df: DataFrame,
    text_column: str = "text",
    *,
    min_tokens: int = 30,
    mean_token_len_range: tuple[float, float] = (3.0, 10.0),
    blocklist: tuple[str, ...] = ("lorem ipsum",),
) -> DataFrame:
    """C4-style document quality filter (Raffel et al., "Exploring the
    Limits of Transfer Learning...", the C4 cleaning heuristics adapted to
    document granularity): per-rule boolean flags plus an overall ``keep``.

    Rules (all pure column expressions, zero Python in the row path):

    - ``has_min_tokens``  — at least ``min_tokens`` whitespace tokens;
    - ``token_len_ok``    — mean token length inside
      ``mean_token_len_range`` (C4 uses 3..10 as a gibberish guard);
    - ``no_braces``       — no ``{`` (C4 drops pages with code braces);
    - ``no_blocklist``    — none of ``blocklist`` as a substring
      (case-insensitive; C4 drops "lorem ipsum" pages);
    - ``has_stopword``    — contains at least one English stopword (C4's
      at-least-N-sentences rule recast for punctuation-free corpora);
    - ``keep``            — conjunction of all of the above.

    Adds the flag columns to every input row (filtering is the caller's
    one-line ``.where("keep")`` so rejected rows remain inspectable).
    """
    toks = tokens_expr(text_column)
    n_tokens = F.size(toks)
    nonspace = F.length(F.regexp_replace(F.col(text_column), r"\s+", ""))
    mean_len = nonspace.cast("double") / n_tokens.cast("double")
    lo, hi = mean_token_len_range
    lower_text = F.lower(F.col(text_column))
    no_block = F.lit(True)
    for phrase in blocklist:
        no_block = no_block & ~lower_text.contains(phrase.lower())
    has_stop = F.arrays_overlap(
        toks, F.array(*[F.lit(w) for w in STOPWORDS_EN])
    )
    out = (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("has_min_tokens", n_tokens >= min_tokens)
        .withColumn(
            "token_len_ok",
            (n_tokens > 0) & (mean_len >= lo) & (mean_len <= hi),
        )
        .withColumn("no_braces", ~F.col(text_column).contains("{"))
        .withColumn("no_blocklist", no_block)
        .withColumn("has_stopword", has_stop)
    )
    return out.withColumn(
        "keep",
        F.col("has_min_tokens") & F.col("token_len_ok") & F.col("no_braces")
        & F.col("no_blocklist") & F.col("has_stopword"),
    )


def bpe_pair_counts(
    df: DataFrame, text_column: str = "text", *, k: int = 100
) -> DataFrame:
    """Adjacent-character-pair census — the counting kernel of one BPE
    merge iteration (Sennrich et al., public BPE recipe).

    Two-level aggregation keeps it corpus-scale: words are counted FIRST
    (the word census collapses every repeated word to one row, and word
    frequency follows Zipf — the census is orders of magnitude smaller
    than the token stream), then character pairs explode over the DISTINCT
    words only, weighted by word count. Both aggregations are map-side
    combined JVM codegen; no Python in the loop.
    """
    from pyspark.sql import Window

    words = df.select(F.explode(tokens_expr(text_column)).alias("word"))
    wc = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcount"))
        .filter(F.length("word") >= 2)
    )
    pairs = wc.select(
        F.expr(
            "explode(transform(sequence(1, length(word)-1),"
            " i -> substring(word, i, 2)))"
        ).alias("pair"),
        F.col("wcount"),
    )
    counts = pairs.groupBy("pair").agg(F.sum("wcount").alias("n_occurrences"))
    top = counts.orderBy(
        F.col("n_occurrences").desc(), F.col("pair").asc()
    ).limit(k)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
    return top.withColumn("rank", F.row_number().over(w))


def pmi_collocations(
    df: DataFrame,
    text_column: str = "text",
    *,
    min_count: int = 5,
    k: int = 100,
) -> DataFrame:
    """Top collocations by a PMI-style lift over adjacent token pairs.

    ``lift_ppm = (c_xy * N_bigrams * 1e6) div (c_x * c_y)`` — the
    observed/expected ratio in parts-per-million, computed entirely in
    exact bigint arithmetic with floor division so both engines (and both
    row orders) produce identical values; float log-PMI is the documented
    variant for true 100 TB corpora where the bigint product would
    overflow (switch the last step to log-space doubles there).

    Plan shape: one bigram census + one unigram census (both map-side
    combined), two key joins to attach unigram counts, and a broadcast
    one-row cross join for the corpus total — no collect, no window over
    the corpus.
    """
    from pyspark.sql import Window

    toks = df.select(tokens_expr(text_column).alias("t"))
    uc = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = toks.filter(F.size("t") >= 2).select(
        F.expr(
            "explode(transform(sequence(0, size(t)-2),"
            " i -> struct(t[i] AS l, t[i+1] AS r)))"
        ).alias("p")
    ).select("p.l", "p.r")
    bc = bi.groupBy("l", "r").agg(F.count(F.lit(1)).alias("pair_count"))
    nb = bi.agg(F.count(F.lit(1)).alias("__n_b"))
    scored = (
        bc.crossJoin(F.broadcast(nb))
        .join(uc.select(F.col("w").alias("l"), F.col("c").alias("__c_l")), "l")
        .join(uc.select(F.col("w").alias("r"), F.col("c").alias("__c_r")), "r")
        .filter(F.col("pair_count") >= F.lit(min_count))
        .select(
            F.col("l").alias("left_token"),
            F.col("r").alias("right_token"),
            F.col("pair_count"),
            F.expr(
                "CAST((pair_count * __n_b * 1000000) DIV (__c_l * __c_r)"
                " AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    top = scored.orderBy(
        F.col("lift_ppm").desc(),
        F.col("left_token").asc(),
        F.col("right_token").asc(),
    ).limit(k)
    w = Window.orderBy(
        F.col("lift_ppm").desc(),
        F.col("left_token").asc(),
        F.col("right_token").asc(),
    )
    return top.withColumn("rank", F.row_number().over(w))


def source_similarity(
    df: DataFrame,
    group_column: str = "source",
    text_column: str = "text",
) -> DataFrame:
    """Pairwise cosine similarity between corpus slices (sources, dumps,
    domains) over their unigram count vectors — the dataset-level signal
    used to design training mixtures (near-identical sources are mixture
    redundancy; dissimilar ones add coverage).

    Dot products and squared norms are EXACT bigint sums over the shared
    vocabulary (sparse representation — only words present in both slices
    join), so the final ``dot / (√sq_a · √sq_b)`` double is reproducible
    bit-for-bit. Plan: one token census shuffle on (group, word), one
    equi-join on word between group vectors, one sum per pair — all
    map-side combined. Group count is assumed dimension-sized (dozens of
    sources, not millions); the word join is where the scale lives.
    """
    counts = (
        df.select(
            F.col(group_column).alias("grp"),
            F.explode(tokens_expr(text_column)).alias("word"),
        )
        .groupBy("grp", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    norms = counts.groupBy("grp").agg(
        F.sum(F.col("c") * F.col("c")).alias("sq")
    )
    a = counts.alias("a")
    b = counts.alias("b")
    dots = (
        a.join(b, (F.col("a.word") == F.col("b.word"))
               & (F.col("a.grp") < F.col("b.grp")))
        .groupBy(F.col("a.grp").alias("source_a"), F.col("b.grp").alias("source_b"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("dot"))
    )
    na = norms.select(F.col("grp").alias("source_a"), F.col("sq").alias("__sqa"))
    nb = norms.select(F.col("grp").alias("source_b"), F.col("sq").alias("__sqb"))
    return (
        dots.join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a",
            "source_b",
            "dot",
            (
                F.col("dot")
                / (F.sqrt(F.col("__sqa").cast("double"))
                   * F.sqrt(F.col("__sqb").cast("double")))
            ).alias("cosine"),
        )
    )


def zipf_slope(
    df: DataFrame,
    *,
    group_column: str = "source",
    text_column: str = "text",
    logp_decimals: int = 9,
) -> DataFrame:
    """Zipf exponent per group: OLS slope of ``ln(freq)`` on ``ln(rank)``
    over the group's token rank-frequency table. Natural text sits near
    slope ≈ -1; strong deviations flag templated/generated/garbled
    sources — a corpus-linguistics audit signal for source triage.

    Determinism: ranks and counts are integers with a total tie-break
    (count desc, term asc), each per-term ln / ln-product is rounded to
    ``logp_decimals`` and summed in exact DECIMAL, and the slope is one
    double expression rounded at the end — the same engine-stable moment
    recipe as the grouped OLS operator.

    Shuffle census: one groupBy on (group, term), one rank window on
    group, one groupBy on group — all key-partitioned.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(group_column), F.explode(tokens_expr(text_column)).alias("term")
    )
    freq = toks.groupBy(group_column, "term").agg(
        F.count(F.lit(1)).alias("__freq")
    )
    w = Window.partitionBy(group_column).orderBy(
        F.col("__freq").desc(), F.col("term").asc()
    )
    ranked = freq.withColumn("__rank", F.row_number().over(w))
    lnr = F.log(F.col("__rank").cast("double"))
    lnf = F.log(F.col("__freq").cast("double"))
    dec = lambda c: F.round(c, logp_decimals).cast("decimal(28,9)")  # noqa: E731
    m = ranked.groupBy(group_column).agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(dec(lnr)).alias("__sx"),
        F.sum(dec(lnf)).alias("__sy"),
        F.sum(dec(lnr * lnf)).alias("__sxy"),
        F.sum(dec(lnr * lnr)).alias("__sxx"),
    )
    n_d = F.col("n_terms").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    slope = (n_d * sxy - sx * sy) / (n_d * sxx - sx * sx)
    return m.select(
        group_column,
        "n_terms",
        F.round(slope, 6).alias("zipf_slope"),
    )


def bpe_learn_merges(
    df: DataFrame,
    text_column: str = "text",
    *,
    num_merges: int = 30,
    min_pair_count: int = 2,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Learn an ordered BPE merge list from the corpus — full distributed
    tokenizer TRAINING (Sennrich et al., public recipe), not just the
    one-iteration pair census of :func:`bpe_pair_counts`.

    The working state is the Zipf-collapsed word census (DISTINCT words ×
    counts, orders of magnitude smaller than the token stream) with each
    word held as a symbol array. Per merge iteration: one map-side-combined
    pair aggregation over the census + a 1-row ``TakeOrdered`` argmax
    (count desc, then lexicographic (left, right) — deterministic,
    engine-independent tie-break), then a map-only greedy left-to-right
    fold rewrites the symbol arrays. Only the argmax row ever reaches the
    driver (model-sized by construction); the census is
    ``localCheckpoint``-ed every ``checkpoint_every`` merges so lineage
    stays O(checkpoint_every) deep regardless of vocabulary size.

    Iterative driver-coordinated algorithm — inherently not expressible as
    one SQL query, so the registry entry is rows-only; correctness is
    pinned by an exact-equality test against a pure-Python reference BPE.

    Returns ``(merge_rank, left, right, pair_count)``, one row per learned
    merge in merge order.
    """
    spark = df.sparkSession
    words = df.select(F.explode(tokens_expr(text_column)).alias("word"))
    census = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcount"))
        .filter(F.length("word") >= 2)
        .select(
            F.filter(F.split(F.col("word"), ""), lambda c: c != F.lit("")).alias(
                "sym"
            ),
            "wcount",
        )
        .localCheckpoint(eager=True)
    )

    merges: list[tuple[int, str, str, int]] = []
    for i in range(num_merges):
        pairs = census.filter(F.size("sym") >= 2).select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(sym) - 1),"
                    " j -> struct(element_at(sym, j) AS l,"
                    "             element_at(sym, j + 1) AS r))"
                )
            ).alias("p"),
            "wcount",
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("wcount").alias("n"))
            .orderBy(F.col("n").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_pair_count:
            break
        left, right, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
        merges.append((i + 1, left, right, n))

        lcol, rcol, joined = F.lit(left), F.lit(right), F.lit(left + right)
        census = census.select(
            F.aggregate(
                F.col("sym"),
                F.expr("cast(array() as array<string>)"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == lcol)
                    & (x == rcol),
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1),
                        F.array(joined),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("sym"),
            "wcount",
        )
        if (i + 1) % checkpoint_every == 0:
            census = census.localCheckpoint(eager=True)

    return spark.createDataFrame(
        merges or [],
        "merge_rank int, left string, right string, pair_count long",
    )


def bpe_apply_merges(
    df: DataFrame,
    merges: list[tuple[str, str]],
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
) -> DataFrame:
    """Tokenize with a LEARNED BPE merge list (the apply side of
    :func:`bpe_learn_merges`): each word becomes its greedy left-to-right
    BPE segmentation under the ordered merges.

    Implementation is pure JVM string expressions — no Python, no
    shuffle, embarrassingly parallel map: per word, one
    ``F.aggregate`` greedy left-to-right fold per merge — the EXACT
    rewrite the trainer applies to its census, so train→apply
    segmentations agree by construction. (A delimiter-join +
    ``replace`` encoding is NOT used deliberately: substring replace can
    match a symbol *prefix* across the sentinel — ``an␣a`` matching into
    the next ``an`` — and its non-overlapping scan skips differently
    from greedy on runs like ``aaaaa``.) Plan depth grows by one
    codegen'd fold per merge — fine for model-sized merge lists; for
    thousand-merge vocabularies switch to an Arrow-batched mapInPandas.

    Returns ``(id_column, bpe_tokens array<string>, n_bpe_tokens)``.
    ``bpe_tokens_expr`` exposes the same segmentation as a bare Column
    for zero-shuffle composition (e.g. the pipeline ``tokenize_bpe``
    stage adds it with ``withColumn``).
    """
    toks = bpe_tokens_expr(merges, text_column)
    return df.select(
        F.col(id_column),
        toks.alias("bpe_tokens"),
        F.size(toks).alias("n_bpe_tokens"),
    )


def bpe_tokens_expr(
    merges: list[tuple[str, str]], text_column: str | Column = "text"
) -> Column:
    """The :func:`bpe_apply_merges` segmentation as a pure Column: greedy
    left-to-right fold per merge inside a per-word ``transform`` —
    map-only, composable into any projection."""

    def _segment(w):
        sym = F.filter(F.split(w, ""), lambda c: c != F.lit(""))
        for left, right in merges:
            lcol, rcol, joined = F.lit(left), F.lit(right), F.lit(left + right)
            sym = F.aggregate(
                sym,
                F.expr("cast(array() as array<string>)"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == lcol)
                    & (x == rcol),
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1),
                        F.array(joined),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            )
        return sym

    return F.flatten(F.transform(tokens_expr(text_column), _segment))


def ngram_novelty(
    df: DataFrame,
    *,
    group_column: str,
    text_column: str = "text",
    n: int = 3,
) -> DataFrame:
    """Marginal n-gram novelty per group — the coverage audit a mixture
    designer runs before paying for a new source: processing groups in a
    FIXED order (ascending group key, the deterministic stand-in for
    ingestion order), how many distinct n-grams does each group add that
    no earlier group already contributed? A source whose novelty ratio is
    near zero duplicates vocabulary the mix already has.

    "Gram g is novel for group s" ⇔ ``s = min(group)`` over every group
    containing g — so the greedy sequential definition collapses to one
    exact aggregation, no iteration, no order-dependent scan.

    Plan shape: explode n-grams → ONE dedup shuffle to the distinct
    (group, gram) frame, ``persist()``-ed because it feeds two bounded
    consumers — per-group distinct counts and the per-gram ``min(group)``
    first-contributor frame (a second shuffle keyed on gram, cardinality
    = corpus vocabulary). Counts are exact integers; the ratio takes one
    double cast per side. Groups whose documents yield zero grams don't
    appear (no distribution to audit).

    Returns one row per group:
    ``(group_column, n_distinct_ngrams, n_novel_ngrams, novelty_ratio)``.
    """
    ex = df.select(
        F.col(group_column).alias("__g"),
        F.explode(ngrams_expr(text_column, n)).alias("__gram"),
    ).filter(F.col("__g").isNotNull())
    pairs = ex.dropDuplicates(["__g", "__gram"]).persist()
    per_group = pairs.groupBy("__g").agg(
        F.count(F.lit(1)).alias("n_distinct_ngrams")
    )
    novel = (
        pairs.groupBy("__gram")
        .agg(F.min("__g").alias("__g"))
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__novel"))
    )
    return (
        per_group.join(novel, "__g", "left")
        .select(
            F.col("__g").alias(group_column),
            F.col("n_distinct_ngrams").cast("long").alias("n_distinct_ngrams"),
            F.coalesce(F.col("__novel"), F.lit(0))
            .cast("long")
            .alias("n_novel_ngrams"),
            (
                F.coalesce(F.col("__novel"), F.lit(0)).cast("double")
                / F.col("n_distinct_ngrams").cast("double")
            ).alias("novelty_ratio"),
        )
    )


def lang_corpus_stats(
    df: DataFrame,
    *,
    text_column: str = "text",
    lang_column: str = "lang",
) -> DataFrame:
    """Per-language corpus audit: document/token/char volume, vocabulary
    size (distinct token types), hapax count (types seen exactly once),
    corpus-level type-token ratio and character fertility (chars/token).

    The tokenizer-budget view of a mixture: languages with high
    chars-per-token need more bytes per unit of information, and a
    corpus-level TTR far from its per-document mean signals boilerplate
    (many docs, few types). Distinct from the per-document ``ttr`` and
    ``token_count`` operators — this is the grouped census over the
    token TYPE space, which no per-doc aggregate can derive.

    Plan: one token census (explode -> groupBy (lang, token), map-side
    combined), folded per language, joined to the per-language document
    aggregate — two shuffles on (lang, token) and lang, never a
    corpus-sized window. Ratios are quantized floor(x*1e6+0.5) -> BIGINT
    for a tie-proof cross-engine hash; a zero-token language yields NULL
    ratios.
    """
    lang = F.col(lang_column)
    base = df.where(lang.isNotNull())
    census = (
        base.select(lang.alias("lang"), F.explode(tokens_expr(text_column)).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab = census.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("n").alias("n_tokens"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    docs = base.groupBy(lang.alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length(text_column)).alias("n_chars"),
    )
    out = docs.join(vocab, "lang", "left")
    ratio = lambda a, b: F.when(  # noqa: E731
        F.col(b) > 0,
        F.floor(
            F.col(a).cast("double") / F.col(b).cast("double") * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long"),
    )
    return out.select(
        "lang",
        "n_docs",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "n_chars",
        F.coalesce("n_types", F.lit(0)).alias("n_types"),
        F.coalesce("n_hapax", F.lit(0)).alias("n_hapax"),
        ratio("n_types", "n_tokens").alias("ttr_q6"),
        ratio("n_chars", "n_tokens").alias("chars_per_token_q6"),
    )


def vocab_growth(
    df: DataFrame,
    *,
    text_column: str = "text",
    id_column: str = "doc_id",
    buckets: int = 10,
    n: int = 1,
) -> DataFrame:
    """Heaps'-law vocabulary growth curve: per corpus-position bucket
    (documents split into ``buckets`` equal id ranges), how many NEW
    token ``n``-gram types first appear there, plus the cumulative
    vocabulary (``n=1`` counts plain token types; larger ``n`` tracks
    phrase-level novelty, which saturates much later).

    A flattening curve means additional data stops contributing new
    vocabulary — the saturation signal that guides how much more of a
    source is worth ingesting. Exact: every type is attributed to the
    bucket of its first-occurrence document (``min(doc_id)`` per type).

    Plan: token census (explode -> groupBy token -> min id, map-side
    combined), bucket by ``first_id * buckets DIV (max_id + 1)`` against
    the broadcast one-row max frame, fold to ``buckets`` rows; the final
    cumulative window runs over the bucket-count frame only (bounded by
    ``buckets``, never data-sized).
    """
    ident = F.col(id_column)
    grams = tokens_expr(text_column) if n == 1 else ngrams_expr(text_column, n)
    first = (
        df.where(ident.isNotNull())
        .select(ident.alias("__id"), F.explode(grams).alias("token"))
        .groupBy("token")
        .agg(F.min("__id").alias("__fid"))
    )
    bound = df.agg((F.max(ident) + 1).alias("__n"))
    bucketed = first.join(F.broadcast(bound)).select(
        F.least(
            F.lit(buckets - 1),
            F.expr(f"__fid * {buckets} div __n").cast("int"),
        ).alias("bucket")
    )
    from pyspark.sql import Window

    counts = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("new_types"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return counts.select(
        "bucket",
        "new_types",
        F.sum("new_types").over(w).alias("cum_types"),
    )


def readability_scores(
    df: DataFrame,
    *,
    text_column: str = "text",
) -> DataFrame:
    """Flesch-reading-ease-style readability per document, from three
    pure-regex counts (no dictionary, no Python): whitespace words,
    sentence-ending punctuation runs (``[.!?]+``, floored at 1), and the
    vowel-group syllable heuristic (``[aeiouy]+`` runs in lowercased
    text — the standard cheap proxy; over-counts hiatus, under-counts
    silent-e, stable enough to RANK documents by reading difficulty):

    ``flesch = 206.835 - 1.015·(words/sentences) - 84.6·(syllables/words)``

    The quality-scoring feature family's complexity axis (length ratios
    say nothing about sentence structure). Zero-word documents yield a
    NULL score. All-codegen projections, zero shuffles; the score is
    quantized floor(x*1e4+0.5) -> BIGINT from exact integer counts with
    one fixed op order, so both engines hash identically (tie-proof,
    unlike printf).
    """
    words = token_count_expr(text_column)
    sentences = F.greatest(
        F.regexp_count(F.col(text_column), F.lit(r"[.!?]+")), F.lit(1)
    )
    syllables = F.regexp_count(F.lower(F.col(text_column)), F.lit("[aeiouy]+"))
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / words.cast("double"))
    )
    return df.select(
        "*",
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
        F.when(
            words > 0,
            F.floor(score * F.lit(1e4) + F.lit(0.5)).cast("long"),
        ).alias("flesch_q4"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    ln_decimals: int = 7,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a fixed query — the
    keyword-retrieval baseline that complements the ANN family (lexical
    match vs embedding similarity; production retrieval typically fuses
    both). Robertson's idf with the +1 floor (Lucene's variant, never
    negative)::

        idf(t)   = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)
        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Cross-engine determinism: each idf is rounded to ``ln_decimals``;
    the per-term saturation factor is pure IEEE arithmetic in a fixed op
    order (no accumulation); per-doc terms are rounded and summed in
    exact DECIMAL. Documents matching no query term are kept with
    score 0 (callers filter or rank).

    Shuffle census at 100 TB: tokens are filtered to the |query|-sized
    term set BEFORE any shuffle (only matching tokens move); the df/idf
    model is |query| rows on a broadcast; doc lengths ride the one
    per-doc groupBy; avgdl is a broadcast one-row fold. No global sort —
    rank with ``orderBy(...).limit(k)`` (TakeOrdered) downstream.
    """
    terms = [t.lower() for t in query_terms]
    dl = df.select(
        F.col(id_column), token_count_expr(text_column).alias("n_tokens")
    )
    totals = dl.agg(
        F.sum("n_tokens").alias("__total"), F.count(F.lit(1)).alias("__n")
    )
    toks = df.select(
        F.col(id_column), F.explode(tokens_expr(text_column)).alias("term")
    ).filter(F.col("term").isin(terms))
    tf = toks.groupBy(id_column, "term").agg(F.count(F.lit(1)).alias("__tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    idf = dfreq.crossJoin(F.broadcast(totals)).select(
        "term",
        F.round(
            F.log(
                (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
                + 1.0
            ),
            ln_decimals,
        ).alias("__idf"),
    )
    avgdl = F.col("__total").cast("double") / F.col("__n").cast("double")
    sat = (
        F.col("__tf").cast("double") * (1.0 + k1)
    ) / (
        F.col("__tf").cast("double")
        + k1 * (1.0 - b + b * F.col("n_tokens").cast("double") / avgdl)
    )
    term_score = F.round(F.col("__idf") * sat, 9).cast("decimal(28,10)")
    scored = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, id_column)
        .crossJoin(F.broadcast(totals))
        .groupBy(id_column)
        .agg(F.sum(term_score).alias("__s"))
    )
    return dl.join(scored, id_column, "left").select(
        id_column,
        "n_tokens",
        F.coalesce(F.col("__s"), F.lit(0).cast("decimal(28,10)")).alias(
            "bm25_score"
        ),
    )


def good_turing_spectrum(
    df: DataFrame,
    *,
    text_column: str = "text",
    max_r: int = 10,
) -> DataFrame:
    """Token frequency-of-frequencies spectrum with Good-Turing adjusted
    counts (Good, Biometrika'53): ``n_r`` = how many distinct token
    TYPES occur exactly ``r`` times, and for r ≤ ``max_r`` the adjusted
    count ``r* = (r+1)·n_{r+1}/n_r`` — the language-modeling mass
    estimate for unseen/rare events (n_1/N is the classic missing-mass
    estimate) and the quickest data-quality read on a corpus' tail
    (a censored spectrum — n_1 ≈ 0 — means the corpus was already
    frequency-filtered upstream).

    Plan: one token census (explode → groupBy token), one count on the
    FREQUENCY value (cardinality ≤ distinct frequencies — tiny), and a
    self-join of the spectrum on r+1 (bounded frame). The r* division
    is one exact-integer double division. Exact everywhere.

    Output: (r, n_r, r_star) for r ≤ max_r ordered by r; r_star NULL
    when n_{r+1} is absent (spectrum gap — Good-Turing needs smoothing
    there, which is the caller's modeling decision).
    """
    toks = df.select(
        F.explode(tokens_expr(F.col(text_column))).alias("__tok")
    )
    census = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__r"))
    spectrum = census.groupBy(F.col("__r").alias("r")).agg(
        F.count(F.lit(1)).alias("n_r")
    )
    nxt = spectrum.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("__n_next")
    )
    return (
        spectrum.filter(F.col("r") <= max_r)
        .join(nxt, "r", "left")
        .select(
            "r",
            "n_r",
            (
                (F.col("r") + 1).cast("double")
                * F.col("__n_next").cast("double")
                / F.col("n_r").cast("double")
            ).alias("r_star"),
        )
    )


def keyness_scores(
    df: DataFrame,
    target,
    *,
    text_column: str = "text",
    min_count: int = 2,
    ln_decimals: int = 7,
    out_decimals: int = 6,
) -> DataFrame:
    """Corpus keyness by Dunning log-likelihood (Dunning, CL'93): for
    every token, G² = 2·[a·ln(a/E_a) + b·ln(b/E_b)] comparing the
    TARGET slice (``target`` — a boolean Column) against the rest of
    the corpus — the standard "what words make this subcorpus itself"
    audit (source fingerprinting, contamination triage, register
    drift), preferred over raw frequency ratios because it does not
    explode on rare words.

    a/b are the token's counts in target/rest, E its expected counts
    from the marginals; zero-count sides contribute 0 (their limit).
    Determinism: expectations are single double divisions of exact
    integer products; each ln is rounded to ``ln_decimals`` before the
    multiply (the cross-engine libm recipe); G² renders rounded to
    ``out_decimals``. ``keyness_sign`` = +1 when the token is OVERUSED
    in the target.

    Plan: one token×side census (explode → groupBy token), one-row
    totals broadcast, pure column expressions after — the census
    envelope. ``min_count`` prunes the hapax tail before scoring.

    Output: (token, n_target, n_rest, keyness_sign, g2) — rank with
    ``orderBy(desc).limit(k)`` (TakeOrdered).
    """
    toks = df.select(
        target.alias("__t"),
        F.explode(tokens_expr(F.col(text_column))).alias("__tok"),
    )
    census = toks.groupBy("__tok").agg(
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("__t"), 0).otherwise(1)).alias("b"),
    ).filter(F.col("a") + F.col("b") >= min_count)
    totals = census.agg(
        F.sum("a").alias("__ta"), F.sum("b").alias("__tb")
    )
    j = census.crossJoin(F.broadcast(totals))
    a, b = F.col("a").cast("double"), F.col("b").cast("double")
    ta, tb = F.col("__ta").cast("double"), F.col("__tb").cast("double")
    tot = ta + tb
    ea = ta * (a + b) / tot
    eb = tb * (a + b) / tot
    term_a = F.when(
        F.col("a") > 0, a * F.round(F.log(a / ea), ln_decimals)
    ).otherwise(F.lit(0.0))
    term_b = F.when(
        F.col("b") > 0, b * F.round(F.log(b / eb), ln_decimals)
    ).otherwise(F.lit(0.0))
    return j.select(
        F.col("__tok").alias("token"),
        F.col("a").alias("n_target"),
        F.col("b").alias("n_rest"),
        F.when(a * tb > b * ta, F.lit(1)).otherwise(F.lit(-1)).alias(
            "keyness_sign"
        ),
        F.round(F.lit(2.0) * (term_a + term_b), out_decimals).alias("g2"),
    )


def code_switch_report(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    window_tokens: int = 32,
) -> DataFrame:
    """Mixed-language (code-switching) detection: run the marker-word
    :func:`lang_id` over NON-OVERLAPPING ``window_tokens`` windows of
    each document and report per-document disagreement — the filter for
    corpora where document-level language labels hide embedded
    second-language spans (boilerplate, quotes, spam), which poison
    monolingual training slices.

    Per document: ``n_windows``, ``n_langs`` (distinct non-``und``
    window predictions), ``dominant_lang`` (most windows; count-desc +
    alphabetical tie-break; ``und`` only when NO window identifies),
    and ``minority_x6`` — the exact integer fraction of
    language-identified windows disagreeing with the dominant (NULL
    when no window identifies a language).

    Plan: the chunker is one projection + explode (zero shuffle — maps
    over a corpus scan), lang-id is pure codegen per window, then ONE
    (doc, pred) count shuffle + a per-doc argmax over the
    language-count frame (bounded by |langs| rows per doc). No UDFs.
    """
    from pyspark_playground_spark.operators.packing import (
        sliding_window_chunks,
    )

    chunks = sliding_window_chunks(
        df.select(F.col(id_column), F.col(text_column)),
        text_column,
        id_column=id_column,
        chunk_tokens=window_tokens,
        overlap=0,
    )
    pred = lang_id(chunks, text_column="chunk_text").select(
        F.col(id_column), "lang_pred"
    )
    cc = pred.groupBy(id_column, "lang_pred").agg(
        F.count(F.lit(1)).alias("__c")
    )
    per_doc = cc.groupBy(id_column).agg(
        F.sum("__c").cast("long").alias("n_windows"),
        F.sum(F.when(F.col("lang_pred") != "und", F.col("__c")).otherwise(0))
        .cast("long")
        .alias("__n_lang"),
        F.count(F.when(F.col("lang_pred") != "und", 1)).cast("long").alias(
            "n_langs"
        ),
        # min over (-count, lang) == (count desc, lang asc) argmax
        F.min(
            F.when(
                F.col("lang_pred") != "und",
                F.struct((-F.col("__c")).alias("nc"), F.col("lang_pred")),
            )
        ).alias("__dom"),
    )
    staged = per_doc.select(
        id_column,
        "n_windows",
        "n_langs",
        F.coalesce(F.col("__dom.lang_pred"), F.lit("und")).alias(
            "dominant_lang"
        ),
        F.col("__n_lang").alias("__nl"),
        (-F.col("__dom.nc")).cast("long").alias("__domc"),
    )
    return staged.select(
        id_column,
        "n_windows",
        "n_langs",
        "dominant_lang",
        # exact integer ratio; NULL when no window identified a language
        F.expr(
            "CASE WHEN __nl > 0"
            " THEN ((__nl - __domc) * 1000000L) DIV __nl END"
        ).alias("minority_x6"),
    )


def encoding_quality_report(
    df: DataFrame,
    *,
    text_column: str = "text",
    id_column: str = "doc_id",
) -> DataFrame:
    """Encoding-artifact census per document — the mojibake screen web
    corpora run before any text model sees the bytes (the ftfy-class
    problem, reduced to engine-portable counting): double-encoded UTF-8
    read as Latin-1 leaves telltale lead bytes ('Ã', 'Â', 'â€¦'-style
    runs), decoder failures leave U+FFFD replacement characters, and
    binary-contaminated text carries C0/C1 control characters outside
    tab/newline/CR. Each is a plain regex count — one codegen'd
    projection, no shuffle, no UDF — and the summary ratio
    ``bad_ppm = (replacement + control + mojibake)·1e6 DIV n_chars``
    is an exact integer, NULL on empty text.

    This REPORTS; :func:`normalize_text` strips. Threshold on
    ``bad_ppm`` (e.g. drop > 1000) rather than any single counter: real
    mojibake always trips several signals at once.

    Output: (id, n_chars, n_replacement, n_control, n_mojibake,
    bad_ppm).
    """
    t = F.col(text_column)
    n_chars = F.length(t)
    n_repl = F.size(
        F.regexp_extract_all(t, F.lit("�"), F.lit(0))
    )
    n_ctrl = F.size(
        F.regexp_extract_all(
            t, F.lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"), F.lit(0)
        )
    )
    n_moji = F.size(
        F.regexp_extract_all(t, F.lit("Ã.|Â.|â€."), F.lit(0))
    )
    out = df.select(
        F.col(id_column),
        n_chars.cast("long").alias("n_chars"),
        n_repl.cast("long").alias("n_replacement"),
        n_ctrl.cast("long").alias("n_control"),
        n_moji.cast("long").alias("n_mojibake"),
    )
    return out.withColumn(
        "bad_ppm",
        F.expr(
            "CASE WHEN n_chars > 0 THEN ((n_replacement + n_control +"
            " n_mojibake) * 1000000L) DIV n_chars END"
        ),
    )


#: Major Unicode script classes as literal-range character classes, in
#: the PRIORITY ORDER the dominant-script tie-break uses. Literal chars
#: (not \p{Script=...}) so Java regex (Spark) and RE2 (DuckDB) compile
#: the identical pattern; ranges are mutually disjoint, so the lettered
#: total is a plain sum. Ranges are LETTER-focused block approximations:
#: Latin excludes the in-block math signs U+00D7/U+00F7, Arabic starts
#: past the block's punctuation and skips the Arabic-Indic digits
#: U+0660-0669 (digits-only text must report NULL dominant); the
#: remaining blocks carry a handful of in-block signs that count toward
#: their script — acceptable for routing, not a formal Script= property.
SCRIPT_CLASSES: tuple[tuple[str, str], ...] = (
    ("latin", "[A-Za-zÀ-ÖØ-öø-ɏ]"),
    ("cyrillic", "[Ѐ-ӿ]"),
    ("cjk", "[一-鿿぀-ヿ가-힣]"),
    ("arabic", "[ؠ-يٱ-ۓۺ-ۿ]"),
    ("greek", "[Ͱ-Ͽ]"),
    ("devanagari", "[ऀ-ॿ]"),
)


def script_mix_report(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
) -> DataFrame:
    """Per-document Unicode-script census — the ROUTING signal a
    multilingual pipeline needs before any per-language stage: lang-id
    (:func:`lang_id`) says what a document claims to be, this says what
    its characters actually are, and the two disagreeing (a 'ru' doc
    that is 90% Latin, a CJK doc full of Cyrillic) is the
    wrong-tokenizer / mojibake-survivor audit. ``mixed_ppm`` is the
    code-switching magnitude at the script level — the blunt cousin of
    :func:`code_switch_report`'s window-level detector, but zero-UDF
    and cheap enough to run on every ingest batch.

    Counts are per-character matches of literal-range classes
    (``SCRIPT_CLASSES`` — identical byte-for-byte pattern on Java regex
    and RE2; ranges disjoint); the dominant script resolves ties by the
    class priority order; ``mixed_ppm`` is the exact integer ppm of
    lettered characters OUTSIDE the dominant script. Documents with no
    lettered characters report NULL dominant/mixed. One zero-UDF
    projection — no shuffle at all.

    Output: (id, n_latin, n_cyrillic, n_cjk, n_arabic, n_greek,
    n_devanagari, n_lettered, dominant_script, mixed_ppm).
    """
    t = F.coalesce(F.col(text_column), F.lit(""))
    cols = {
        name: F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat in SCRIPT_CLASSES
    }
    base = df.select(F.col(id_column), *cols.values())
    names = [name for name, _ in SCRIPT_CLASSES]
    lettered = None
    for name in names:
        c = F.col(f"n_{name}")
        lettered = c if lettered is None else lettered + c
    base = base.withColumn("n_lettered", lettered.cast("long"))
    mx = F.greatest(*[F.col(f"n_{n}") for n in names])
    dominant = F.when(F.col("n_lettered") == 0, F.lit(None).cast("string"))
    for name in names:
        dominant = dominant.when(F.col(f"n_{name}") == mx, F.lit(name))
    return base.select(
        id_column,
        *[f"n_{n}" for n in names],
        "n_lettered",
        dominant.alias("dominant_script"),
        F.when(
            F.col("n_lettered") > 0,
            F.expr(
                f"((n_lettered - greatest({', '.join('n_' + n for n in names)}))"
                f" * 1000000L) DIV n_lettered"
            ),
        ).cast("long").alias("mixed_ppm"),
    )


def kneser_ney_bigram(
    df: DataFrame,
    *,
    text_column: str = "text",
    discount_ppm: int = 750_000,
) -> DataFrame:
    """Interpolated Kneser-Ney smoothed bigram LM (Kneser & Ney,
    ICASSP'95; Chen & Goodman '98 made it the reference smoothing —
    public construction) — the PRINCIPLED smoothing step up from the
    self-scored stupid backoff of :func:`bigram_logprob_scores` and the
    count-mass companion of the Good-Turing census: ``P(w₂|w₁) =
    max(c(w₁w₂)−D, 0)/c(w₁·) + D·N₁₊(w₁·)/c(w₁·) · P_cont(w₂)`` where
    the continuation probability ``P_cont(w₂) = N₁₊(·w₂)/N₁₊(··)``
    ranks words by how many DISTINCT contexts they follow — the famous
    "San Francisco" correction: "Francisco" is frequent but only ever
    follows "San", so its smoothed unseen-context probability is tiny
    where a raw-frequency backoff would overshoot.

    ``D`` is the fixed discount (default the canonical 0.75, passed as
    ppm). Cross-engine determinism: every count is an exact census
    integer; the closed form is ONE fixed-order double expression
    (greatest/divide/multiply only — no libm), quantized q9.

    Plan at 100 TB: bigrams from the token array (zip of two slices —
    no self-join); one bigram census (map-side combined) carries all
    corpus cost; the context and continuation censuses reduce FROM the
    bigram census (never re-touch the corpus); the type total is a
    broadcast one-row cross join. Join skew is bounded by the hottest
    context; the two side censuses are vocabulary-sized and broadcast
    under AQE.

    Output per observed bigram: (w1, w2, c2, ctx_count, n1plus_left,
    n1plus_right, p_kn_q9).
    """
    d = float(discount_ppm) / 1e6
    base = df.select(tokens_expr(text_column).alias("__t")).filter(
        F.size("__t") > 1
    )
    bi = base.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("__t"), 1, F.size("__t") - 1).alias("p"),
                F.slice(F.col("__t"), 2, F.size("__t") - 1).alias("c"),
            )
        ).alias("__z")
    ).select(F.col("__z.p").alias("__w1"), F.col("__z.c").alias("__w2"))
    c2 = bi.groupBy("__w1", "__w2").agg(F.count(F.lit(1)).alias("c2"))
    ctx = c2.groupBy("__w1").agg(
        F.sum("c2").alias("__ctx"), F.count(F.lit(1)).alias("__n1l")
    )
    rt = c2.groupBy("__w2").agg(F.count(F.lit(1)).alias("__n1r"))
    nb = c2.agg(F.count(F.lit(1)).alias("__nb"))
    c2d = F.col("c2").cast("double")
    ctxd = F.col("__ctx").cast("double")
    p_kn = F.greatest(c2d - F.lit(d), F.lit(0.0)) / ctxd + (
        (F.lit(d) * F.col("__n1l").cast("double")) / ctxd
    ) * (
        F.col("__n1r").cast("double") / F.col("__nb").cast("double")
    )
    return (
        c2.join(ctx, "__w1")
        .join(rt, "__w2")
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("__w1").alias("w1"),
            F.col("__w2").alias("w2"),
            F.col("c2").cast("long").alias("c2"),
            F.col("__ctx").cast("long").alias("ctx_count"),
            F.col("__n1l").cast("long").alias("n1plus_left"),
            F.col("__n1r").cast("long").alias("n1plus_right"),
            F.floor(p_kn * F.lit(1e9) + F.lit(0.5))
            .cast("long")
            .alias("p_kn_q9"),
        )
    )


def lexical_concentration(
    df: DataFrame,
    *,
    group_column: str = "source",
    text_column: str = "text",
) -> DataFrame:
    """Lexical concentration / repetitiveness metrics per group, all
    derived from one frequency-spectrum census (public constructions:
    Yule, Biometrika 1944; Simpson, Nature 1949; Herdan 1960) — the
    length-invariant companions to the corpus-stats TTR (which decays
    mechanically with volume; these don't, which is why K and D are
    the standard 'is this source template spam?' signals):

    - ``yule_k_q6``: K = 10⁴·(Σc² − N)/N² — repeated-token mass.
    - ``simpson_d_q9``: D = Σc(c−1)/(N(N−1)) — the probability two
      random tokens are the same type, EXACT integer rational.
    - ``herdan_c_q9``: C = ln V / ln N — log-log vocabulary slope.

    Determinism: the census is exact integers; D is one integer DIV;
    K is one fixed-order double quantized q6; C's two libm lns are
    quantized 1e-12 each. Refusals: D needs N>1, C needs N>1 (and
    reports 0 for V=1), K needs N>0.

    Plan: explode → (group, term) census → group reduce. Census
    bounded by group × vocabulary; no windows.

    Output per group: (group_column, n_tokens, vocab, yule_k_q6,
    simpson_d_q9, herdan_c_q9).
    """
    toks = df.select(
        F.col(group_column).alias("__g"),
        F.explode(tokens_expr(text_column)).alias("__t"),
    ).filter(F.col("__g").isNotNull())
    cen = toks.groupBy("__g", "__t").agg(F.count(F.lit(1)).alias("__c"))
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    red = cen.groupBy("__g").agg(
        F.sum("__c").alias("__n"),
        F.count(F.lit(1)).alias("__v"),
        F.sum(d38(F.col("__c")) * F.col("__c")).alias("__c2"),
        F.sum(d38(F.col("__c")) * (F.col("__c") - 1)).alias("__cc1"),
    )
    nd = F.col("__n").cast("double")
    q12 = lambda c: (  # noqa: E731
        F.floor(c * F.lit(1e12) + F.lit(0.5)) / F.lit(1e12)
    )
    k = (
        (F.col("__c2").cast("double") - nd) / (nd * nd)
    ) * F.lit(1e4)
    c_herdan = q12(F.log(F.col("__v").cast("double"))) / q12(F.log(nd))
    return red.select(
        F.col("__g").alias(group_column),
        F.col("__n").cast("long").alias("n_tokens"),
        F.col("__v").cast("long").alias("vocab"),
        F.when(
            F.col("__n") > 0,
            F.floor(k * F.lit(1e6) + F.lit(0.5)),
        ).cast("long").alias("yule_k_q6"),
        F.when(
            F.col("__n") > 1,
            F.expr(
                "(CAST(__cc1 AS DECIMAL(38,0)) * 1000000000)"
                " DIV (CAST(__n AS DECIMAL(38,0)) * (__n - 1))"
            ),
        ).cast("long").alias("simpson_d_q9"),
        F.when(
            F.col("__n") > 1,
            F.floor(c_herdan * F.lit(1e9) + F.lit(0.5)),
        ).cast("long").alias("herdan_c_q9"),
    )
