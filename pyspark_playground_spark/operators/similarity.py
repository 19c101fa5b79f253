"""Similarity search over embedding columns (array<float>).

Beyond-reference surface (BASELINE.json north star):

- **Brute-force cosine top-k** — the exact baseline: broadcast the query
  set, one codegen'd projection computes cosines, a window takes top-k.
  Cost is O(n·q·d) FLOPs with zero shuffle on the corpus side (queries are
  broadcast); at 100 TB this is the pattern for small query batches.
- **LSH-bucketed ANN** — the scale path: deterministic random-hyperplane
  signatures (sign of dot with ±1 planes derived from xxhash64) bucket the
  corpus; probing joins on bucket equality, so a query touches only its
  bucket instead of the full corpus. Standard SimHash-for-cosine LSH
  (Charikar'02).

All math is done in double precision with left-to-right accumulation so
results are reproducible and oracle-comparable bit-for-bit.
"""

from __future__ import annotations

import hashlib as _hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    """Left-to-right double dot product (deterministic accumulation)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


# --- fixed-dimension unrolled kernels -------------------------------------
#
# ``aggregate``/``zip_with`` folds are HigherOrderFunctions: Catalyst
# evaluates them through the interpreter (CodegenFallback) with a lambda
# dispatch per element — measured ~2.2x slower than the equivalent
# explicit add-chain, which whole-stage codegen compiles to straight-line
# arithmetic. When the caller declares the corpus dimension, the kernels
# below emit the unrolled chain IN THE SAME index order with the SAME
# leading 0.0 accumulator (bit-identical left-to-right accumulation,
# including the ``0.0 + (-0.0)`` edge), parsed once as a single SQL
# string (one py4j round trip instead of O(dim)). Every kernel is
# guarded per row by ``size(v) = dim``: a row that does not match the
# declared dimension falls back to the generic fold, so the result is
# identical to the fold for ANY input — the hint can only change speed,
# never values.


def _unrolled_dot_sql(a: str, b: str, dim: int, *, cast: bool = True) -> str:
    av = (lambda i: f"CAST({a}[{i}] AS DOUBLE)") if cast else (lambda i: f"{a}[{i}]")
    bv = (lambda i: f"CAST({b}[{i}] AS DOUBLE)") if cast else (lambda i: f"{b}[{i}]")
    terms = " + ".join(f"({av(i)} * {bv(i)})" for i in range(dim))
    return f"(0.0D + {terms})"


def _unrolled_sqdist_sql(a: str, b: str, dim: int, *, cast: bool = True) -> str:
    av = (lambda i: f"CAST({a}[{i}] AS DOUBLE)") if cast else (lambda i: f"{a}[{i}]")
    bv = (lambda i: f"CAST({b}[{i}] AS DOUBLE)") if cast else (lambda i: f"{b}[{i}]")
    terms = " + ".join(
        f"(({av(i)} - {bv(i)}) * ({av(i)} - {bv(i)}))" for i in range(dim)
    )
    return f"(0.0D + {terms})"


def _dim_guard(dim: int, *names: str) -> Column:
    g = F.size(F.col(names[0])) == dim
    for n in names[1:]:
        g = g & (F.size(F.col(n)) == dim)
    return g


def cosine_expr_fixed(a: str, b: str, dim: int) -> Column:
    """``cosine_expr`` over named columns with a declared dimension (same
    guarded-fallback contract as :func:`sqdist_expr_fixed`)."""
    fast = F.expr(
        f"({_unrolled_dot_sql(a, b, dim)}"
        f" / (SQRT({_unrolled_dot_sql(a, a, dim)})"
        f" * SQRT({_unrolled_dot_sql(b, b, dim)})))"
    )
    return F.when(_dim_guard(dim, a, b), fast).otherwise(
        cosine_expr(F.col(a), F.col(b))
    )


def sqdist_expr_fixed(
    a: str, b: str, dim: int, *, cast: bool = True
) -> Column:
    """Squared-L2 fold over named columns with a declared dimension:
    codegen'd unrolled chain when every ``size == dim``, the generic fold
    otherwise. ``cast=False`` skips the per-element DOUBLE cast for
    columns already double-typed."""
    fast = F.expr(_unrolled_sqdist_sql(a, b, dim, cast=cast))
    ac, bc = _as_double(F.col(a)), _as_double(F.col(b))
    fold = F.aggregate(
        F.zip_with(ac, bc, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(_dim_guard(dim, a, b), fast).otherwise(fold)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine, rank). Self-matches excluded.
    Ties broken by neighbor id — deterministic across engines.

    ``dim`` is a physical hint: when the corpus is declared
    fixed-dimension, the cosine kernel is unrolled for whole-stage
    codegen (:func:`cosine_expr_fixed`); rows of any other size fall
    back to the generic fold, so results are identical either way.
    """
    q = queries.select(
        F.col(id_column).alias("query_id"), F.col(vector_column).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_column).alias("neighbor_id"), F.col(vector_column).alias("c_vec")
    )
    cos = (
        cosine_expr_fixed("q_vec", "c_vec", dim)
        if dim is not None
        else cosine_expr(F.col("q_vec"), F.col("c_vec"))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cos)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hyperplane_signature_expr(
    vector: Column, *, num_planes: int = 16, dim: int | None = None
) -> Column:
    """Random-hyperplane LSH signature as an int bucket key.

    Plane p's component for dimension d is ±1 from xxhash64(p, d) — fully
    deterministic, no stored model. sign(dot(v, plane_p)) becomes bit p.
    """
    v = _as_double(vector)

    def plane_dot(p: int) -> Column:
        prods = F.zip_with(
            v,
            F.sequence(F.lit(0), F.size(v) - 1),
            lambda x, d: x
            * (F.xxhash64(F.lit(p), d).bitwiseAND(F.lit(1)) * 2 - 1).cast("double"),
        )
        return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)

    bits = [
        F.when(plane_dot(p) >= 0, F.shiftleft(F.lit(1), p)).otherwise(F.lit(0))
        for p in range(num_planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def lsh_bucketed_ann(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    k: int = 5,
    num_planes: int = 12,
    probe_radius: int = 0,
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's hyperplane
    bucket are scored. The bucket column is also the right physical
    partition key for a 100 TB corpus (bucket pruning ≙ partition pruning).

    ``probe_radius`` enables multi-probe LSH (Lv et al., VLDB'07): each
    query additionally probes every bucket within Hamming distance ≤ r of
    its own signature — recall rises monotonically with r at the cost of
    touching ``sum_i C(num_planes, i)`` buckets, without building more hash
    tables. ``probe_radius >= num_planes`` probes all buckets and therefore
    degenerates to exact brute force (the oracle-checkable configuration;
    same pinned property as IVF ``nprobe == num_centroids``).
    """
    sig = lambda df, name: df.select(  # noqa: E731
        F.col(id_column).alias(name),
        F.col(vector_column).alias(f"{name}_vec"),
        hyperplane_signature_expr(
            F.col(vector_column), num_planes=num_planes
        ).alias(f"{name}_bucket"),
    )
    c = sig(corpus, "neighbor_id")
    q = sig(queries, "query_id")
    if probe_radius > 0:
        # XOR masks with popcount <= radius enumerate the probed buckets.
        # The mask table is tiny (sum_i C(planes, i) rows) and broadcast;
        # each corpus row still lives in exactly one bucket, and probed
        # buckets are distinct per query, so no (query, neighbor) pair is
        # generated twice.
        masks = [
            (m,)
            for m in range(1 << num_planes)
            if bin(m).count("1") <= probe_radius
        ]
        mask_df = queries.sparkSession.createDataFrame(masks, "mask int")
        q = (
            q.crossJoin(F.broadcast(mask_df))
            .withColumn(
                "query_id_bucket",
                F.col("query_id_bucket").bitwiseXOR(F.col("mask")),
            )
            .drop("mask")
        )
    scored = (
        c.join(
            F.broadcast(q), F.col("neighbor_id_bucket") == F.col("query_id_bucket")
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine", cosine_expr(F.col("query_id_vec"), F.col("neighbor_id_vec"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 8,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ t).

    ``exact=True`` does all-pairs (oracle-sized data only); otherwise pairs
    are generated within LSH buckets first.
    """
    base = df.select(F.col(id_column), F.col(vector_column))
    if exact:
        a = base.select(
            F.col(id_column).alias("id_a"), F.col(vector_column).alias("va")
        )
        b = base.select(
            F.col(id_column).alias("id_b"), F.col(vector_column).alias("vb")
        )
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        sig = base.withColumn(
            "bucket",
            hyperplane_signature_expr(F.col(vector_column), num_planes=num_planes),
        )
        a = sig.select(
            F.col(id_column).alias("id_a"),
            F.col(vector_column).alias("va"),
            F.col("bucket"),
        )
        b = sig.select(
            F.col(id_column).alias("id_b"),
            F.col(vector_column).alias("vb"),
            F.col("bucket").alias("bucket_b"),
        )
        pairs = a.join(
            b, (F.col("bucket") == F.col("bucket_b")) & (F.col("id_a") < F.col("id_b"))
        )
    return (
        pairs.withColumn("cosine", cosine_expr(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def group_centroids(
    df: DataFrame,
    group_column: str,
    *,
    vector_column: str = "embedding",
) -> DataFrame:
    """Per-group mean embedding — class centroids for contrastive filtering,
    cluster seeding, or per-source drift monitoring.

    Shape: posexplode the vector → one exchange keyed on (group, dim) →
    per-(group, dim) sum over the VALUE-SORTED doubles, folded
    left-to-right. A plain ``F.sum`` of doubles depends on partition order
    (non-reproducible across reruns, cluster layouts, and engines); sorting
    first makes the accumulation order — and therefore every last bit of
    the result — deterministic. (Decimal-cast sums are not a fix here:
    double→decimal conversion itself rounds differently across engines for
    arbitrary doubles.) The per-cell ``collect_list`` holds one group's
    values for one dimension — bounded by group size, not corpus size.

    Returns ``(group_column, pos, centroid_v)`` — one row per dimension;
    reassemble with ``collect_list`` over a (group, pos) sort when an array
    is needed.
    """
    ex = df.select(
        F.col(group_column),
        F.posexplode(_as_double(F.col(vector_column))).alias("pos", "__v"),
    )
    ordered_sum = F.aggregate(
        F.array_sort(F.collect_list("__v")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        ex.groupBy(group_column, "pos")
        .agg((ordered_sum / F.count(F.lit(1))).alias("centroid_v"))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: KMeans coarse quantizer + nprobe search
# ---------------------------------------------------------------------------

def ivf_assignments(
    corpus: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    num_centroids: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Train a KMeans coarse quantizer and assign every corpus vector to its
    nearest centroid.

    Returns ``(assigned, centroids)``: the corpus with a ``centroid_id``
    column (the inverted-file key — at 100 TB this is the physical partition
    column, so a probe reads only nprobe partitions), and the centroid
    table ``(centroid_id, centroid)``.

    Uses Spark MLlib's distributed KMeans — the one stage of the pipeline
    that is iterative; everything downstream is plain DataFrame ops.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    featurized = corpus.select(
        F.col(id_column),
        F.col(vector_column),
        array_to_vector(_as_double(F.col(vector_column))).alias("__features"),
    )
    model = KMeans(
        k=num_centroids, seed=seed, featuresCol="__features", predictionCol="centroid_id"
    ).fit(featurized)
    assigned = model.transform(featurized).select(
        id_column, vector_column, "centroid_id"
    )
    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        f"centroid_id int, centroid array<double>",
    )
    return assigned, centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: score only corpus vectors whose centroid is
    among the query's ``nprobe`` nearest centroids.

    ``nprobe == num_centroids`` degenerates to exact brute force (useful as
    a correctness check); recall rises monotonically with nprobe.
    """
    assigned, centroids = ivf_assignments(
        corpus,
        id_column=id_column,
        vector_column=vector_column,
        num_centroids=num_centroids,
        seed=seed,
    )

    # route each query to its nprobe nearest centroids (tiny cross join:
    # |queries| × num_centroids rows, both sides broadcastable)
    q = queries.select(
        F.col(id_column).alias("query_id"), F.col(vector_column).alias("q_vec")
    )
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with(
                _as_double(F.col("q_vec")),
                F.col("centroid"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("__dist").asc(), F.col("centroid_id").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("__dist", l2)
        .withColumn("__pr", F.row_number().over(probe_w))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "q_vec", "centroid_id")
    )

    scored = (
        assigned.withColumnRenamed(id_column, "neighbor_id")
        .withColumnRenamed(vector_column, "c_vec")
        .join(F.broadcast(probes), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_expr(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-level decontamination: for every corpus vector, the
    closest benchmark (eval-set) vector by cosine, and a contamination
    flag at ``threshold``.

    The benchmark set is collapsed to ONE broadcast row holding a sorted
    array of (id, vector, norm) structs, and the per-corpus-row maximum is
    a single ``aggregate`` fold over that array — the corpus is never
    shuffled and no groupBy exists in the plan, so the operator scales as
    one codegen'd projection over 100 TB (benchmark sets are eval-sized by
    construction; the complement of ``ngram_contamination``'s exact-text
    check, catching paraphrased leakage).

    Ties on cosine resolve to the smallest benchmark id (the fold replaces
    only on strictly-greater cosine and the array is sorted by id).
    Output: (vec_id, benchmark_id, max_cosine, contaminated).
    """
    bench = benchmark.select(
        F.struct(
            F.col(id_column).cast("long").alias("bid"),
            _as_double(F.col(vector_column)).alias("bv"),
            norm_expr(F.col(vector_column)).alias("bnorm"),
        ).alias("s")
    )
    barr = bench.agg(F.array_sort(F.collect_list("s")).alias("__bench"))

    init = F.struct(
        F.lit(float("-inf")).alias("cos"), F.lit(-1).cast("long").alias("bid")
    )

    def step(acc, b):
        cos = dot_expr(F.col("__v"), b["bv"]) / (F.col("__cnorm") * b["bnorm"])
        return F.when(
            cos > acc["cos"],
            F.struct(cos.alias("cos"), b["bid"].alias("bid")),
        ).otherwise(acc)

    pre = corpus.crossJoin(F.broadcast(barr)).select(
        F.col(id_column).alias("vec_id"),
        _as_double(F.col(vector_column)).alias("__v"),
        norm_expr(F.col(vector_column)).alias("__cnorm"),
        F.col("__bench"),
    )
    best = pre.select(
        "vec_id", F.aggregate("__bench", init, step).alias("__best")
    )
    return best.select(
        "vec_id",
        F.col("__best.bid").alias("benchmark_id"),
        F.col("__best.cos").alias("max_cosine"),
        (F.col("__best.cos") >= F.lit(threshold)).alias("contaminated"),
    )


def gram_matrix_exact(
    df: DataFrame,
    *,
    vector_column: str = "embedding",
    id_column: str = "vec_id",
    product_decimals: int = 12,
) -> DataFrame:
    """Exact second-moment (Gram) matrix of an embedding column: one row
    per dimension pair ``(i, j), i <= j`` with the corpus sum of
    ``x_i · x_j`` — the input to covariance/PCA/whitening.

    Exactness: float32 mantissas are 24-bit, so each pairwise product is
    EXACT in a double; products are rounded to ``product_decimals`` and
    summed in DECIMAL — order-independent, engine-stable (rendered as the
    decimal string). This is the ORACLE path: it explodes d²/2 product
    rows per vector (d=64 → 2080×), which is the price of exactness.

    Shuffle census: one groupBy on (i, j) — d²/2 keys, map-side combined.
    """
    x = df.select(
        F.col(id_column).alias("__id"),
        F.posexplode(_as_double(F.col(vector_column))).alias("i", "xi"),
    )
    a, b = x.alias("a"), x.alias("b")
    prods = a.join(
        b,
        (F.col("a.__id") == F.col("b.__id")) & (F.col("b.i") >= F.col("a.i")),
    ).select(
        F.col("a.i").alias("i"),
        F.col("b.i").alias("j"),
        F.round(F.col("a.xi") * F.col("b.xi"), product_decimals)
        .cast("decimal(28,12)")
        .alias("__p"),
    )
    return prods.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("__p").alias("sxy"),
    )


def _assign_to_centroids(
    vectors: DataFrame, centroids: DataFrame, *, id_column: str
) -> DataFrame:
    """Nearest-centroid assignment (squared L2, index-order fold,
    ``cluster_id`` tie-break): ``vectors (id, __x: array<double>)`` ×
    broadcast ``centroids (cluster_id, cvec)`` → ``(id, cluster_id,
    __dist2)``. The centroid table is model-sized, so this is a broadcast
    cross join + per-row fold — no data-sized shuffle."""
    d = vectors.crossJoin(F.broadcast(centroids)).select(
        id_column,
        "cluster_id",
        F.aggregate(
            F.zip_with("__x", "cvec", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("__dist2"),
    )
    best = d.groupBy(id_column).agg(
        F.min(F.struct("__dist2", "cluster_id")).alias("__best")
    )
    return best.select(
        id_column,
        F.col("__best.cluster_id").alias("cluster_id"),
        F.col("__best.__dist2").alias("__dist2"),
    )


def kmeans_lloyd(
    df: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    k: int = 8,
    iterations: int = 2,
) -> DataFrame:
    """Explicit distributed Lloyd k-means — the clean-room clustering
    kernel (semantic bucketing, coreset construction, topic-ish corpus
    maps) with EVERY arithmetic step deterministic and therefore
    oracle-comparable bit-for-bit across engines, unlike MLlib's KMeans
    (random init, partition-order double sums), which
    :func:`ivf_assignments` uses when exactness isn't needed.

    Deterministic contract: init centroids are the vectors with
    ``id < k`` (``cluster_id = id``); each update recomputes per-cluster
    means with :func:`group_centroids`' value-sorted left-to-right fold
    (engine-stable double sums); each assignment folds squared-L2 in
    index order with a ``cluster_id`` tie-break. A cluster that loses all
    its points disappears (no reseeding), mirrored exactly by the oracle.

    Per iteration the plan is: broadcast the k×d centroid table onto the
    corpus (cross join + codegen'd fold — the corpus NEVER shuffles for
    assignment), then one (cluster, dim)-keyed exchange for the means;
    ``iterations`` is small and fixed (Lloyd converges fast; production
    IVF quantizers run 5-20 iterations on a sample). Returns the
    assignment under the FINAL centroids:
    ``(id_column, cluster_id, dist2_r6)`` — dist2 rounded to 6 so the
    row survives any sub-ulp engine drift.
    """
    x = df.select(
        F.col(id_column), _as_double(F.col(vector_column)).alias("__x")
    )
    centroids = df.filter(F.col(id_column) < k).select(
        F.col(id_column).cast("int").alias("cluster_id"),
        _as_double(F.col(vector_column)).alias("cvec"),
    )
    for _ in range(iterations):
        assigned = _assign_to_centroids(x, centroids, id_column=id_column)
        members = assigned.join(x, id_column).select("cluster_id", "__x")
        gc = group_centroids(members, "cluster_id", vector_column="__x")
        centroids = gc.groupBy("cluster_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid_v"))),
                lambda r: r["centroid_v"],
            ).alias("cvec")
        )
    final = _assign_to_centroids(x, centroids, id_column=id_column)
    return final.select(
        id_column, "cluster_id", F.round("__dist2", 6).alias("dist2_r6")
    )


def prefix_energy_report(
    df: DataFrame,
    *,
    vector_column: str = "embedding",
    label_column: str = "label",
    prefixes: tuple[int, ...] = (8, 16, 32),
) -> DataFrame:
    """Per-label Matryoshka audit: the average fraction of each vector's
    L2 energy carried by its first ``k`` dimensions, for each prefix
    length — the measurement behind Matryoshka-representation truncation
    ("can I store/search 16 of the 64 dims?"): for MRL-trained encoders
    the prefix-energy fraction is high and flat across labels; for plain
    encoders it is ~k/d, and a label whose fraction lags the rest will
    degrade first under truncation.

    Per-vector energies are sequential left-fold array expressions (the
    cross-engine-pinned recipe every embedding entry uses); the
    per-label MEAN quantizes each fraction to a 1e9-scaled BIGINT before
    summing (float accumulation across rows is order-dependent; integer
    sums are not). Zero-energy (dead) vectors are excluded — they have
    no energy to attribute. One pass, one shuffle on the label.
    """
    v = F.transform(F.col(vector_column), lambda x: x.cast("double"))
    tot = F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    base = df.select(
        F.col(label_column).alias("label"),
        tot.alias("__tot"),
        *[
            F.aggregate(
                F.slice(v, 1, k), F.lit(0.0), lambda a, x: a + x * x
            ).alias(f"__p{k}")
            for k in prefixes
        ],
    ).where(F.col("__tot") > 0)
    quant = base.select(
        "label",
        *[
            F.floor(
                (F.col(f"__p{k}") / F.col("__tot")) * F.lit(1e9) + F.lit(0.5)
            )
            .cast("long")
            .alias(f"__q{k}")
            for k in prefixes
        ],
    )
    aggs = [F.count(F.lit(1)).alias("n_vecs")] + [
        F.floor(
            F.sum(f"__q{k}").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1e9))
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long").alias(f"energy_frac_{k}_q6")
        for k in prefixes
    ]
    return quant.groupBy("label").agg(*aggs)


def rrf_fuse(
    rankings: list[tuple[DataFrame, str]],
    *,
    id_column: str = "doc_id",
    top_n: int = 100,
    k: int = 60,
    contrib_decimals: int = 9,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09) of
    several retrieval rankings — the standard hybrid-search finisher that
    merges a lexical ranker (``text.bm25_scores``) with a dense one (the
    ANN family) without score calibration: each list contributes
    ``1/(k + rank)`` per document, and documents high on ANY list rise.

    ``rankings`` is a list of ``(frame, score_column)`` pairs; each frame
    is cut to its ``top_n`` by ``(score desc, id)`` FIRST — retrieval
    fuses candidate lists, never whole-corpus rankings, which keeps every
    downstream frame bounded at ``top_n`` rows. The cut is
    ``orderBy().limit()`` = TakeOrderedAndProject (per-partition top-n +
    n-row merge; never a global sort); the rank window that follows runs
    unpartitioned but over the ALREADY-LIMITED ≤ ``top_n``-row frame — a
    single task sorting ≤ ``top_n`` rows, bounded by the constant, not
    the corpus.

    Determinism: ranks are exact integers (ties broken by id), each
    contribution ``1/(k+rank)`` is rounded to ``contrib_decimals`` and
    summed in exact DECIMAL — engine- and order-stable.

    Returns ``(id, rrf_score DECIMAL, n_lists)`` for every document on at
    least one list; rank downstream with ``orderBy(...).limit(...)``.
    """
    parts = []
    for df, score_column in rankings:
        top = df.orderBy(F.col(score_column).desc(), F.col(id_column)).limit(
            top_n
        )
        ranked = top.select(
            F.col(id_column),
            F.row_number()
            .over(Window.orderBy(F.col(score_column).desc(), F.col(id_column)))
            .alias("__rank"),
        )
        parts.append(
            ranked.select(
                id_column,
                F.round(F.lit(1.0) / (F.lit(k) + F.col("__rank")), contrib_decimals)
                .cast("decimal(18,9)")
                .alias("__c"),
            )
        )
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    return allc.groupBy(id_column).agg(
        F.sum("__c").alias("rrf_score"),
        F.count(F.lit(1)).cast("int").alias("n_lists"),
    )


def _rademacher_sign(seed: str, i: int, j: int) -> int:
    """±1 from md5(f"{seed}:{i}:{j}") parity — content-addressed, so any
    engine (or the DuckDB oracle) re-derives the identical matrix."""
    h = _hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()
    return 1 if int(h[:2], 16) % 2 == 0 else -1


def rademacher_project(
    df: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    dim: int,
    out_dim: int = 8,
    seed: str = "jl",
    term_decimals: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a Rademacher
    (±1) projection matrix (Achlioptas, JCSS'03): ``p_j = Σ_i s_ij · x_i``
    where ``s_ij`` is a deterministic ±1 from :func:`_rademacher_sign` —
    no stored model, the matrix is a pure function of ``(seed, i, j)``.
    The usual ``1/√out_dim`` scaling is omitted: it is a global constant
    that cancels in every downstream cosine / relative-distance
    comparison.

    Determinism: each term is ``round(±x_i, term_decimals)`` cast to
    DECIMAL, and the sum runs as an exact DECIMAL(38,6) fold — order-
    and engine-stable. Scale is fixed at 6 because that is Spark's
    MINIMUM_ADJUSTED_SCALE: a repeated decimal ``+`` at any higher scale
    silently drops a digit of scale when precision saturates at 38
    (the cross-engine render would then mismatch).

    Plan shape: the sign matrix is ``dim × out_dim`` Python ints folded
    into the plan as array literals (model-sized by design — 64×8 here,
    a few KB even at dim 4096), and each output coordinate is one
    codegen'd ``zip_with`` + ``aggregate`` fold over the vector: a pure
    map stage, zero shuffle, no row amplification — at 100 TB this is a
    scan-speed pass.

    Output: (id, p0..p{out_dim-1} DECIMAL(38,6)).
    """
    zero = F.lit(0).cast("decimal(38,6)")
    v = F.col(vector_column)
    cols: list[Column] = [F.col(id_column)]
    for j in range(out_dim):
        signs = F.lit([_rademacher_sign(seed, i, j) for i in range(dim)])
        terms = F.zip_with(
            v,
            signs,
            lambda x, s: F.round(x.cast("double") * s, term_decimals).cast(
                "decimal(38,6)"
            ),
        )
        cols.append(
            F.aggregate(
                terms, zero, lambda acc, t: (acc + t).cast("decimal(38,6)")
            ).alias(f"p{j}")
        )
    return df.select(*cols)


def grid_density(
    df: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    dims: int = 2,
    cell_width: float = 0.25,
    min_cell_count: int = 2,
) -> DataFrame:
    """Grid-histogram density screen over the leading ``dims`` embedding
    coordinates: quantize each coordinate to ``floor(x / cell_width)``,
    count vectors per cell, and flag members of cells thinner than
    ``min_cell_count`` — the cheap embedding-space outlier pass a corpus
    pipeline runs before the expensive ANN stages (isolated cells are
    mojibake / wrong-modality / broken-encoder candidates).

    Coordinates are rounded to 6 decimals before the divide so the cell
    id is stable across engines; ``cell_width`` should be a power of two
    or a short decimal so the division itself is exact IEEE.

    Plan shape: one map stage computes the cell key, one shuffle counts
    cells, one key join attaches the count back (the counts side is
    bounded by occupied-cell cardinality — tiny next to the corpus, AQE
    broadcasts it when it fits). No row amplification, no all-pairs.

    Output: (id, cell_0..cell_{dims-1}, cell_n, is_sparse).
    """
    v = F.col(vector_column)
    cell_cols = [
        F.floor(F.round(v[i].cast("double"), 6) / F.lit(float(cell_width)))
        .cast("long")
        .alias(f"cell_{i}")
        for i in range(dims)
    ]
    keys = [f"cell_{i}" for i in range(dims)]
    pts = df.select(F.col(id_column), *cell_cols)
    counts = pts.groupBy(*keys).agg(F.count(F.lit(1)).cast("int").alias("cell_n"))
    return pts.join(counts, keys).select(
        id_column,
        *keys,
        "cell_n",
        (F.col("cell_n") < min_cell_count).alias("is_sparse"),
    )


def mutual_nn_pairs(
    vectors: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Reciprocal nearest neighbors: pairs (a, b) where b is a's cosine
    top-1 AND a is b's top-1 — the high-precision dedup/alignment
    criterion (mutual-kNN is the filter step in image-text alignment and
    bitext mining pipelines; ties broken by neighbor id).

    ``candidates`` (optional) restricts scoring to a candidate-pair frame
    ``(id_a, id_b)`` — pass :func:`embedding_near_dup_pairs` output so the
    scored set is bucket-bounded; that is the 100 TB path. The default
    scores all pairs exactly (the oracle-checkable baseline — same
    regime note as :func:`brute_force_topk`).

    Plan shape: top-1 per query via a key-partitioned row_number window,
    then a self-join of the two directed top-1 frames on the pair key —
    both sides are |V| rows (one per query), so the mutual join is
    linear in the corpus, never in the candidate set.

    Output: (id_a, id_b, cosine) with id_a < id_b.
    """
    if candidates is None:
        scored = brute_force_topk(
            vectors,
            vectors,
            id_column=id_column,
            vector_column=vector_column,
            k=1,
        ).select("query_id", "neighbor_id", "cosine")
    else:
        ids = vectors.select(
            F.col(id_column).alias("__id"), F.col(vector_column).alias("__v")
        )
        both = candidates.select("id_a", "id_b").union(
            candidates.select(F.col("id_b"), F.col("id_a"))
        )
        pairs = (
            both.join(ids, both["id_a"] == ids["__id"])
            .select(F.col("id_a").alias("query_id"),
                    F.col("id_b").alias("neighbor_id"),
                    F.col("__v").alias("__qv"))
            .join(ids, F.col("neighbor_id") == ids["__id"])
            .select("query_id", "neighbor_id",
                    cosine_expr(F.col("__qv"), F.col("__v")).alias("cosine"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        scored = (
            pairs.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select("query_id", "neighbor_id", "cosine")
        )
    back = scored.select(
        F.col("neighbor_id").alias("query_id"), F.col("query_id").alias("neighbor_id")
    )
    return (
        scored.join(back, ["query_id", "neighbor_id"])
        .filter(F.col("query_id") < F.col("neighbor_id"))
        .select(
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            "cosine",
        )
    )


def k_occurrence_census(
    topk: DataFrame,
    corpus: DataFrame,
    *,
    id_column: str = "vec_id",
    neighbor_column: str = "neighbor_id",
) -> DataFrame:
    """Hubness census (Radovanović et al., JMLR'10): for each vector,
    its k-occurrence = how many OTHER vectors list it in their top-k;
    returns the distribution (k_occurrence → n_vectors), including the
    zero bucket (anti-hubs). A heavy right tail (hubs appearing in
    thousands of top-k lists) is the standard symptom of concentrated /
    low-quality embedding spaces and inflates every ANN-based dedup.

    Composes with ANY neighbor frame — brute, LSH, or IVF top-k — so the
    census itself is two bounded aggregations: one count on the neighbor
    key, one count on the occurrence value (cardinality ≤ distinct
    k-occurrence values ≤ corpus size, in practice tiny).

    Output: (k_occurrence, n_vectors) — exact.
    """
    occ = topk.groupBy(F.col(neighbor_column).alias("__id")).agg(
        F.count(F.lit(1)).cast("int").alias("__occ")
    )
    per_vec = (
        corpus.select(F.col(id_column).alias("__id"))
        .join(occ, "__id", "left")
        .select(F.coalesce(F.col("__occ"), F.lit(0)).alias("k_occurrence"))
    )
    return per_vec.groupBy("k_occurrence").agg(
        F.count(F.lit(1)).cast("int").alias("n_vectors")
    )


def cosine_pair_histogram(
    vectors: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    rank_buckets: int = 64,
) -> DataFrame:
    """Anisotropy audit (Ethayarajh, EMNLP'19): the cosine distribution
    of RANDOM vector pairs. In a healthy embedding space random-pair
    cosine centers near 0; a mean pushed toward 1 (anisotropy) shrinks
    the usable similarity range and inflates every threshold-based
    near-dup / retrieval stage — this histogram is the one-glance check.

    Pairing is content-addressed and exact: vectors ranked by the
    60-bit integer prefix of ``md5(id)`` (numeric, so
    ``packing.distributed_rank``'s percentile range-bucketing applies —
    NO single-task window; ties broken by id), then rank ``2k`` pairs
    with ``2k+1`` (an odd tail row is dropped). Same corpus → same
    pairs, on any engine, any partitioning.

    Output: one row per occupied decile-of-cosine bin —
    ``(bin, n_pairs)`` with ``bin = floor(round(cosine, 6) * 10)`` in
    [-10, 10] — plus exact pair count; join bins to plot. Bounded
    cardinality (≤ 21 bins), two key shuffles (rank + pair join).
    """
    from pyspark_playground_spark.operators.packing import distributed_rank

    keyed = vectors.select(
        F.col(id_column).alias("__id"), F.col(vector_column).alias("__v")
    ).withColumn(
        "__shuf",
        F.conv(
            F.substring(F.md5(F.col("__id").cast("string")), 1, 15), 16, 10
        ).cast("bigint"),
    )
    ranked = distributed_rank(
        keyed, order_column="__shuf", id_column="__id", buckets=rank_buckets
    ).select(
        F.struct("__id", "__v").alias("__row"),
        (F.col("rank") / 2).cast("long").alias("__pair"),
        (F.col("rank") % 2).alias("__side"),
    )
    # one groupBy on the pair key collects both sides — a left/right
    # filter + self-join would re-derive the whole rank pipeline twice
    # (first plan: 8 input scans; this shape: 1).
    both = ranked.groupBy("__pair").agg(
        F.max(F.when(F.col("__side") == 0, F.col("__row"))).alias("__a"),
        F.max(F.when(F.col("__side") == 1, F.col("__row"))).alias("__b"),
    )
    pairs = both.filter(F.col("__b").isNotNull()).select(
        cosine_expr(F.col("__a.__v"), F.col("__b.__v")).alias("__cos")
    )
    return pairs.groupBy(
        F.floor(F.round(F.col("__cos"), 6) * 10).cast("int").alias("bin")
    ).agg(F.count(F.lit(1)).cast("int").alias("n_pairs"))


def hard_negative_mining(
    vectors: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    label_column: str = "label",
    k: int = 1,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for each
    anchor, its ``k`` most-similar vectors with a DIFFERENT label — the
    negatives that actually move a contrastive loss (random negatives
    are trivially separable; the hardest ones sit just across the
    boundary). Standard practice in dense-retriever and embedding-model
    training (cf. DPR/ANCE-style hard negatives).

    Default scores all pairs exactly (the oracle-checkable baseline;
    same regime note as :func:`brute_force_topk`); pass a candidate
    pair frame ``(id_a, id_b)`` from :func:`embedding_near_dup_pairs`
    to bound scoring at 100 TB — the label filter then applies to
    candidates only.

    Plan shape: score → filter label mismatch → per-anchor top-k via a
    key-partitioned row_number. Ties broken by neighbor id.

    Output: (anchor_id, negative_id, cosine, rank) with rank ≤ k.
    """
    if candidates is None:
        # all-pairs scoring (not brute_force_topk): the label filter must
        # run BEFORE ranking, or a same-label neighbor could crowd a true
        # hard negative out of the inner top-k
        q = vectors.select(
            F.col(id_column).alias("anchor_id"),
            F.col(vector_column).alias("__qv"),
            F.col(label_column).alias("__qlab"),
        )
        c = vectors.select(
            F.col(id_column).alias("negative_id"),
            F.col(vector_column).alias("__cv"),
            F.col(label_column).alias("__clab"),
        )
        pairs = (
            c.crossJoin(F.broadcast(q))
            .filter(F.col("anchor_id") != F.col("negative_id"))
            .filter(F.col("__qlab") != F.col("__clab"))
            .select(
                "anchor_id",
                "negative_id",
                cosine_expr(F.col("__qv"), F.col("__cv")).alias("cosine"),
            )
        )
    else:
        ids = vectors.select(
            F.col(id_column).alias("__id"),
            F.col(vector_column).alias("__v"),
            F.col(label_column).alias("__l"),
        )
        both = candidates.select("id_a", "id_b").union(
            candidates.select(F.col("id_b"), F.col("id_a"))
        )
        pairs = (
            both.join(ids, both["id_a"] == ids["__id"])
            .select(
                F.col("id_a").alias("anchor_id"),
                F.col("id_b").alias("negative_id"),
                F.col("__v").alias("__qv"),
                F.col("__l").alias("__qlab"),
            )
            .join(ids, F.col("negative_id") == ids["__id"])
            .filter(F.col("__qlab") != F.col("__l"))
            .select(
                "anchor_id",
                "negative_id",
                cosine_expr(F.col("__qv"), F.col("__v")).alias("cosine"),
            )
        )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "negative_id", "cosine", "rank")
    )


def int8_recall_report(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Quantization-loss ship gate for int8 vector storage: per-query
    recall@k of the int8 symmetric-quantized dot-product ranking against
    the exact float-cosine ranking.

    The production trade this measures: storing ``sampling.
    quantize_int8_expr(l2_normalize_expr(v))`` instead of float32 cuts
    the vector footprint 4x, and candidate generation ranks by the
    INTEGER dot product of the quantized vectors (unit norm makes the
    int dot a cosine proxy). Before flipping a corpus to int8 you want
    the recall curve, not a vibe — this operator is that gate.

    Determinism: the int8 ranking key is an exact BIGINT (integer dot of
    int8 components, |term| <= 127*127*dim), ties broken by neighbor id;
    the exact ranking reuses :func:`brute_force_topk`'s left-fold cosine.
    ``recall_q6`` is ``floor(hits * 1e6 / k + 0.5)`` — IEEE primitives
    only, no printf. Zero-norm (dead) vectors are excluded from both
    sides (their cosine is undefined).

    Scale: recall evaluation runs on a BOUNDED query panel by design
    (the eval discipline every ANN entry here follows) — the corpus
    streams through one broadcast-join projection per ranking, top-k per
    query via per-query windows over candidate rows. The corpus itself
    is never shuffled.

    Output: (query_id, n_hits, recall_q6), one row per query.
    """
    from pyspark_playground_spark.operators.sampling import (
        l2_normalize_expr,
        quantize_int8_expr,
    )

    def prep(df: DataFrame, out_id: str, out_f: str, out_q: str) -> DataFrame:
        v = F.col(vector_column)
        return (
            df.where(norm_expr(v) > 0)
            .select(
                F.col(id_column).alias(out_id),
                v.alias(out_f),
                quantize_int8_expr(l2_normalize_expr(v)).alias(out_q),
            )
        )

    c = prep(corpus, "neighbor_id", "c_vec", "c_q")
    q = prep(queries, "query_id", "q_vec", "q_q")

    exact = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_expr(F.col("q_vec"), F.col("c_vec")))
    )
    w_exact = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    exact_topk = (
        exact.withColumn("rank", F.row_number().over(w_exact))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )

    int_dot = F.aggregate(
        F.zip_with(
            F.col("q_q"),
            F.col("c_q"),
            lambda x, y: x.cast("long") * y.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    quant = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("dot_i8", int_dot)
    )
    w_quant = Window.partitionBy("query_id").orderBy(
        F.col("dot_i8").desc(), F.col("neighbor_id").asc()
    )
    quant_topk = (
        quant.withColumn("rank", F.row_number().over(w_quant))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )

    hits = (
        exact_topk.join(quant_topk, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        q.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.floor(
                F.coalesce("n_hits", F.lit(0)).cast("double")
                * F.lit(1e6)
                / F.lit(float(k))
                + F.lit(0.5)
            ).cast("long").alias("recall_q6"),
        )
    )


def retrieval_eval_report(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    label_column: str = "label",
    k: int = 10,
    queries_in_corpus: bool | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Per-query retrieval quality — nDCG@k and reciprocal rank — of the
    exact cosine top-k against binary same-label relevance: the standard
    eval triplet (recall is :func:`int8_recall_report`'s job) before
    trusting an embedding column for retrieval-augmented filtering or
    hard-negative mining.

    ``queries_in_corpus`` controls the self-match correction on
    ``n_rel_corpus``: ``True`` (panel is drawn from the corpus — the
    common case) subtracts 1 from the label census for every query;
    ``False`` (external panel) subtracts nothing; ``None`` (default)
    detects membership per query with one extra broadcast-panel pass
    over the corpus ids, so mixed panels get the right count either
    way. An external query whose label has exactly one corpus match
    now reports n_rel_corpus=1 (and a real ndcg) instead of 0/NULL.

    All rank-position terms are per-row quantized integers, so every
    aggregate is an order-free BIGINT sum (no float accumulation):

    - ``gain_q6(rank) = floor(1e6 / log2(rank+1) + 0.5)`` — one
      fixed-order double per rank in [1, k], identical on any engine;
      ``dcg_q6 = sum(rel * gain_q6)``.
    - ``idcg_q6 = sum(gain_q6(i) for i in 1..min(k, n_rel_corpus))``
      from a per-rank unrolled sequence — ``n_rel_corpus`` (relevant
      candidates = same-label corpus rows minus self) comes from a
      label census (one tiny groupBy, broadcast back).
    - ``ndcg_x6 = (dcg_q6 * 1000000) DIV idcg_q6`` — exact integer
      ratio; NULL when the query's label has no other members.
    - ``rr_q6 = floor(1e6 / first_rel_rank + 0.5)``; 0 when no relevant
      neighbor appears in the top k (the penalty convention that makes
      the mean well-defined).

    Scale: bounded query panel broadcast against a streaming corpus
    (:func:`brute_force_topk`'s plan — the eval discipline every ANN
    entry follows); the label census is one groupBy bounded by label
    cardinality. The corpus is never shuffled.

    Output: (query_id, n_rel_corpus, n_rel_topk, dcg_q6, idcg_q6,
    ndcg_x6, first_rel_rank, rr_q6), one row per query that has at
    least one candidate.
    """
    topk = brute_force_topk(
        corpus, queries, id_column=id_column, vector_column=vector_column,
        k=k, dim=dim,
    )
    labels = corpus.select(
        F.col(id_column).alias("__lid"), F.col(label_column).alias("__lab")
    )
    census = labels.groupBy("__lab").agg(F.count(F.lit(1)).alias("__nlab"))
    qpanel = queries.select(
        F.col(id_column).alias("query_id"),
        F.col(label_column).alias("__qlab"),
    )
    if queries_in_corpus is None:
        # Detect corpus membership per query on (id, label) — not id
        # alone: brute_force_topk excludes the same-ID corpus row from
        # the candidates either way, but that row only removes a
        # RELEVANT candidate (and so only then shrinks n_rel_corpus)
        # when its label matches the query's. One streamed corpus pass
        # against the broadcast panel (bounded output — at most one row
        # per panel query), same plan discipline as brute_force_topk.
        member = (
            corpus.select(
                F.col(id_column).alias("__cid"),
                F.col(label_column).alias("__clab"),
            )
            .join(
                F.broadcast(qpanel),
                (F.col("__cid") == F.col("query_id"))
                & (F.col("__clab") == F.col("__qlab")),
            )
            .select("query_id")
            .distinct()
            .withColumn("__self", F.lit(1))
        )
        qpanel = qpanel.join(F.broadcast(member), "query_id", "left").select(
            "query_id",
            "__qlab",
            F.coalesce(F.col("__self"), F.lit(0)).alias("__self"),
        )
    else:
        qpanel = qpanel.withColumn(
            "__self", F.lit(1 if queries_in_corpus else 0)
        )
    qlab = (
        qpanel.join(
            F.broadcast(census),
            F.col("__qlab") == F.col("__lab"),
            "left",
        )
        .select(
            "query_id",
            "__qlab",
            # relevant candidates exclude the query itself only when it
            # is a corpus member (brute_force_topk drops self-matches)
            # greatest(0, ...) guards the claimed-member-but-absent-label
            # edge (census miss with __self=1 would otherwise go to -1)
            F.greatest(
                F.lit(0),
                F.coalesce(F.col("__nlab"), F.lit(0)) - F.col("__self"),
            ).alias("__nrel"),
        )
    )
    gain = lambda r: F.floor(  # noqa: E731
        F.lit(1e6) / F.log2(r.cast("double") + F.lit(1.0)) + F.lit(0.5)
    ).cast("long")
    scored = (
        topk.join(labels, topk["neighbor_id"] == labels["__lid"])
        .join(F.broadcast(qlab), "query_id")
        .select(
            "query_id",
            "__nrel",
            "rank",
            F.when(F.col("__lab") == F.col("__qlab"), 1)
            .otherwise(0)
            .alias("__rel"),
        )
        .withColumn("__gain_q6", gain(F.col("rank")))
    )
    per_q = scored.groupBy("query_id", "__nrel").agg(
        F.sum("__rel").cast("long").alias("n_rel_topk"),
        F.sum(F.col("__rel") * F.col("__gain_q6")).cast("long").alias("dcg_q6"),
        F.min(F.when(F.col("__rel") == 1, F.col("rank"))).alias(
            "first_rel_rank"
        ),
    )
    ideal_len = F.least(F.lit(k), F.col("__nrel")).cast("int")
    idcg = F.when(
        F.col("__nrel") > 0,
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), ideal_len),
                lambda i: gain(i),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    out = per_q.select(
        "query_id",
        F.col("__nrel").cast("long").alias("n_rel_corpus"),
        "n_rel_topk",
        "dcg_q6",
        idcg.alias("idcg_q6"),
        F.col("first_rel_rank").cast("long").alias("first_rel_rank"),
        F.coalesce(
            F.floor(
                F.lit(1e6) / F.col("first_rel_rank").cast("double")
                + F.lit(0.5)
            ).cast("long"),
            F.lit(0).cast("long"),
        ).alias("rr_q6"),
    )
    return out.select(
        "query_id",
        "n_rel_corpus",
        "n_rel_topk",
        "dcg_q6",
        "idcg_q6",
        F.expr("(dcg_q6 * 1000000L) DIV idcg_q6").alias("ndcg_x6"),
        "first_rel_rank",
        "rr_q6",
    )


def _subspace_slices(
    corpus: DataFrame, id_column: str, base_vec: Column, sub: int, m: int
) -> DataFrame:
    """The ``(id, subspace, __x)`` frame holding every row's m
    contiguous ``sub``-wide slices of ``base_vec`` —
    :func:`_fused_subspace_lloyd`'s training input, extracted so the
    fused-training path in :func:`_ivf_pq_train_lists` builds the
    identical frame."""
    return corpus.select(
        F.col(id_column),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("subspace"),
                        F.slice(base_vec, s * sub + 1, sub).alias("__x"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("__e"),
    ).select(id_column, "__e.subspace", "__e.__x")


def _subspace_seed_cents(seed_vectors: list, k: int, sub: int, m: int):
    """Per-subspace seed centroids from pre-collected full vectors —
    the ``seed_vectors`` branch of :func:`_fused_subspace_lloyd`,
    extracted for the fused-training path. Python list slicing of the
    collected doubles is the collected value of ``F.slice`` over the
    same rows (exact element selection). Same count contract and
    error as the trainer."""
    seed_rows = [
        (s, int(i), vec[s * sub : (s + 1) * sub])
        for i, vec in seed_vectors
        if i < k
        for s in range(m)
    ]
    if len(seed_rows) != m * k:
        raise ValueError(
            f"seed filter id < {k} matched "
            f"{len(seed_rows) // m if m else 0}"
            f" rows, expected exactly {k}: subspace Lloyd training requires "
            f"contiguous integer ids 0..k-1 (kmeans_lloyd's seed "
            f"convention)"
        )
    return [
        [(cid, vec) for s2, cid, vec in seed_rows if s2 == s]
        for s in range(m)
    ]


def _subspace_iter_agg(xs: DataFrame, cents, m: int) -> DataFrame:
    """ONE fused-subspace Lloyd update as a lazy
    ``(subspace, cluster_id, cvec)`` aggregate frame —
    :func:`_fused_subspace_lloyd`'s loop body before its collect (see
    :func:`_lloyd_iter_agg` for why it is exposed). Arithmetic
    unchanged: per-subspace literal argmin dispatched on the subspace
    column, (subspace, cluster, dim)-keyed value-sorted mean fold,
    position-sorted reassembly."""
    assign = None
    for s in range(m):
        cid = _argmin_literal_expr(F.col("__x"), cents[s])
        assign = (
            F.when(F.col("subspace") == s, cid)
            if assign is None
            else assign.when(F.col("subspace") == s, cid)
        )
    members = xs.select("subspace", assign.alias("cluster_id"), "__x")
    ex = members.select(
        "subspace",
        "cluster_id",
        F.posexplode("__x").alias("pos", "__v"),
    )
    gc = ex.groupBy("subspace", "cluster_id", "pos").agg(
        (
            F.aggregate(
                F.array_sort(F.collect_list("__v")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.count(F.lit(1))
        ).alias("centroid_v")
    )
    # model-sized reassembly in ONE task — see _lloyd_iter_agg (gc is
    # m×k×sub rows here, still bounded by the model)
    return gc.repartition(1).groupBy("subspace", "cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "centroid_v"))),
            lambda r: r["centroid_v"],
        ).alias("cvec")
    )


def _fused_subspace_lloyd(
    corpus: DataFrame,
    *,
    id_column: str,
    base_vec: Column,
    sub: int,
    m: int,
    k: int,
    iterations: int,
    seed_vectors: list | None = None,
) -> list:
    """Train m per-subspace Lloyd codebooks over ONE subspace-keyed
    frame (one seed collect; per iteration one literal-argmin
    projection + one (subspace, cluster, dim)-keyed exchange and a
    model-sized collect) — arithmetic identical to m separate
    :func:`kmeans_lloyd` runs over the slices of ``base_vec`` (groups
    are disjoint across subspaces, so every fold sees exactly the rows
    it would alone). ``base_vec`` may be any vector expression over the
    corpus row (raw vector, or the coarse residual for IVFADC).
    Enforces the id<k seed contract. Returns sorted
    ``[(subspace, cluster_id, [floats]), ...]``.

    ``seed_vectors`` (r11): optional pre-collected ``[(id, [floats])]``
    FULL ``base_vec`` rows for every id < k — the caller already holds
    them when ``base_vec`` is the raw vector a coarse trainer just
    collected seeds from. Python list slicing of the collected doubles
    is the collected value of ``F.slice`` over the same rows (both are
    exact element selection), so the per-subspace seeds derive locally
    and the dedicated seed-collect job is skipped."""
    xs = _subspace_slices(corpus, id_column, base_vec, sub, m)
    # seeds BEFORE persist (r11): the id < k predicate pushes below the
    # Generate to the source scan; the former persist-then-collect order
    # materialized the whole m×N exploded frame into cache just to read
    # the m×k seed rows. The cache pays off only when a second pass
    # reads it (iterations >= 2) — at iterations=1 the single
    # (subspace, cluster, dim) mean aggregate is the only consumer.
    by_sub = lambda rows: [  # noqa: E731
        [(cid, vec) for s2, cid, vec in rows if s2 == s] for s in range(m)
    ]
    if seed_vectors is not None:
        cents = _subspace_seed_cents(seed_vectors, k, sub, m)
    else:
        seed_rows = (
            xs.filter(F.col(id_column) < k)
            .select(
                "subspace",
                F.col(id_column).cast("int").alias("cluster_id"),
                F.col("__x").alias("cvec"),
            )
            .collect()
        )
        if len(seed_rows) != m * k:
            raise ValueError(
                f"seed filter {id_column} < {k} matched "
                f"{len(seed_rows) // m if m else 0}"
                f" rows, expected exactly {k}: subspace Lloyd training "
                f"requires contiguous integer ids 0..k-1 (kmeans_lloyd's "
                f"seed convention)"
            )
        cents = by_sub(
            [
                (r["subspace"], r["cluster_id"], list(r["cvec"]))
                for r in seed_rows
            ]
        )
    persisted = iterations > 1
    if persisted:
        xs = xs.persist()
    for _ in range(iterations):
        # per-subspace nearest-centroid assignment as a literal argmin
        # dispatched on the subspace column — the same index-order
        # squared-L2 fold and (dist2, cluster_id) tie-break as
        # _assign_to_centroids (pinned in _argmin_literal_struct), with
        # the per-iteration broadcast join + groupBy-(id, subspace)
        # exchange + join-back replaced by one shuffle-free projection
        # (see _lloyd_train_collect; the collected model re-enters the
        # plan via exact shortest-round-trip repr literals)
        trained = _subspace_iter_agg(xs, cents, m).collect()
        cents = by_sub(
            [(r["subspace"], r["cluster_id"], list(r["cvec"])) for r in trained]
        )
    if persisted:
        xs.unpersist()
    return sorted(
        (s, cid, vec) for s in range(m) for cid, vec in cents[s]
    )


def pq_train_encode(
    corpus: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    dim: int,
    m: int = 2,
    k: int = 8,
    iterations: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic Product Quantization: split ``dim`` into ``m``
    contiguous subspaces, run the clean-room Lloyd quantizer
    (:func:`kmeans_lloyd`'s exact arithmetic — id<k seeds, value-sorted
    mean folds, index-order distance folds, cluster-id tie-breaks) per
    subspace, and encode every corpus vector as its ``m`` nearest
    sub-centroid ids. THE 100 TB vector-storage path: ``m`` uint8 codes
    per vector instead of ``dim`` floats (32x at m=8/dim=64), with
    query-time scoring against a model-sized codebook instead of the
    raw vectors.

    Returns ``(codes, codebook)``:
    ``codes (id, subspace, code)`` — m rows per vector;
    ``codebook (subspace, cluster_id, cvec)`` — m*k rows, model-sized.

    Plan (r7 fused): training runs ONE frame holding all m slices keyed
    by subspace — one seed count, one broadcast-assignment + one
    (subspace, cluster, dim)-keyed exchange per iteration, ONE collect —
    instead of m separate chains (the per-subspace arithmetic is
    unchanged: groups are disjoint across subspaces, so every fold sees
    exactly the rows it did before). The encode pass is a SHUFFLE-FREE
    projection: the collected codebook compiles into per-subspace
    literal argmin folds (:func:`_argmin_literal_expr` — identical
    result to the groupBy-min assignment, same index-order fold and
    tie-break) + one explode to (id, subspace, code) rows.

    The ``id < k`` seed convention (kmeans_lloyd's documented contract)
    is ENFORCED here: non-contiguous or string ids that produce fewer
    than k seed vectors raise ``ValueError`` instead of silently
    training a degenerate codebook. Training materializes eagerly (the
    codebook is model-sized — m·k rows — and is collected to a local
    frame), so the persisted slice frame is unpersisted before
    returning and the returned frames carry no cached lineage.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    spark = corpus.sparkSession
    xv = _as_double(F.col(vector_column))
    book_rows = _fused_subspace_lloyd(
        corpus, id_column=id_column, base_vec=xv, sub=sub, m=m, k=k,
        iterations=iterations,
    )
    books = {
        s: [(cid, vec) for s2, cid, vec in book_rows if s2 == s]
        for s in range(m)
    }
    # shuffle-free encode: per-subspace literal argmin folds in ONE
    # projection, exploded to the (id, subspace, code) layout
    codes = corpus.select(
        F.col(id_column),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("subspace"),
                        _argmin_literal_expr(
                            F.slice(xv, s * sub + 1, sub), books[s]
                        ).alias("code"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("__e"),
    ).select(id_column, "__e.subspace", "__e.code")
    book = spark.createDataFrame(
        book_rows,
        T.StructType(
            [
                T.StructField("subspace", T.IntegerType(), False),
                T.StructField("cluster_id", T.IntegerType(), True),
                T.StructField("cvec", T.ArrayType(T.DoubleType()), True),
            ]
        ),
    )
    return codes, book


def pq_recall_report(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    dim: int,
    m: int = 2,
    k: int = 8,
    iterations: int = 1,
    topk: int = 10,
) -> DataFrame:
    """Recall@k of PQ asymmetric-distance (ADC) ranking against the
    exact squared-L2 ranking, per query — the ship gate before flipping
    a corpus to PQ codes (:func:`int8_recall_report`'s sibling for the
    codebook path). ADC: ``dist(q, x) ~= sum_s ||q_s - c_s(code_s(x))||^2``
    from a per-(query, subspace, code) lookup table of size
    ``|panel|*m*k`` — model-sized, broadcast; the corpus streams its
    codes through one broadcast join and never shuffles raw vectors.

    Determinism: every per-subspace distance is the index-order fold;
    the m per-subspace LUT terms are summed through a VALUE-SORTED fold
    (a plain sum of m doubles is addition-order-dependent), so the ADC
    ranking key is bit-identical cross-engine; ties break by neighbor
    id. Self-matches excluded from both rankings.

    Output: (query_id, n_hits, recall_q6), one row per query.
    """
    codes, book = pq_train_encode(
        corpus, id_column=id_column, vector_column=vector_column,
        dim=dim, m=m, k=k, iterations=iterations,
    )
    sub = dim // m
    q = queries.select(
        F.col(id_column).alias("query_id"),
        _as_double(F.col(vector_column)).alias("__qv"),
    )
    qsub = q.select(
        "query_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.alias("subspace"),
                    F.slice("__qv", s * sub + 1, sub).alias("qs"),
                ),
            )
        ).alias("__e"),
    ).select("query_id", "__e.subspace", "__e.qs")
    lut = qsub.join(F.broadcast(book), "subspace").select(
        "query_id",
        "subspace",
        F.col("cluster_id").alias("code"),
        sqdist_expr_fixed("qs", "cvec", sub, cast=False).alias("__pd"),
    )
    scored = (
        codes.withColumnRenamed(id_column, "neighbor_id")
        .join(F.broadcast(lut), ["subspace", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list("__pd")),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("__adist")
        )
    )
    w_pq = Window.partitionBy("query_id").orderBy(
        F.col("__adist").asc(), F.col("neighbor_id").asc()
    )
    pq_topk = (
        scored.withColumn("rank", F.row_number().over(w_pq))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id")
    )
    c = corpus.select(
        F.col(id_column).alias("neighbor_id"),
        _as_double(F.col(vector_column)).alias("__cv"),
    )
    exact = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            sqdist_expr_fixed("__qv", "__cv", dim, cast=False).alias("__d2"),
        )
    )
    w_ex = Window.partitionBy("query_id").orderBy(
        F.col("__d2").asc(), F.col("neighbor_id").asc()
    )
    exact_topk = (
        exact.withColumn("rank", F.row_number().over(w_ex))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id")
    )
    hits = (
        exact_topk.join(pq_topk, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        q.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.floor(
                F.coalesce("n_hits", F.lit(0)).cast("double")
                * F.lit(1e6)
                / F.lit(float(topk))
                + F.lit(0.5)
            ).cast("long").alias("recall_q6"),
        )
    )


def _double_sql(x: float) -> str:
    """A double literal as SQL text. ``repr`` is the shortest string
    that round-trips the IEEE value, and Spark's parser reads it back
    to the identical bits (pinned by test), so embedding models in ONE
    parsed expression string is value-identical to the per-element
    ``F.lit`` construction it replaces — at ~1/100 the driver cost
    (guide §7.3: plan construction is single-threaded driver work; a
    512-float model costs ~0.5 s as 512 py4j ``lit`` calls and ~4 ms
    as one parsed string)."""
    v = float(x)
    if v != v:  # NaN
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(v) + "D"


def _literal_centroid_array(cents) -> Column:
    """A literal ``[(cid int, cv array<double>)]`` model table as ONE
    parsed expression (see :func:`_double_sql` for why not per-element
    ``F.lit``). Centroids sorted by id — the fold order every argmin
    tie-break here contracts on."""
    parts = [
        "named_struct('cid', {cid}, 'cv', array({cv}))".format(
            cid=int(cid), cv=",".join(_double_sql(x) for x in vec)
        )
        for cid, vec in sorted(cents, key=lambda t: t[0])
    ]
    return F.expr("array(" + ",".join(parts) + ")")


def _argmin_literal_struct(v: Column, cents) -> Column:
    """The (distance², cluster_id) struct of ``v``'s nearest centroid
    over a LITERAL centroid list ``[(cluster_id, [floats]), ...]`` as
    ONE codegen'd fold — no crossJoin, no groupBy, no shuffle: the
    model is compiled into the expression. Identical arithmetic and
    tie-break to :func:`_assign_to_centroids` (index-order squared-L2
    fold; ties keep the smallest cluster_id — the fold iterates ids
    ascending and only replaces on strictly smaller distance). Fields:
    ``d`` (squared L2 to the winner), ``cid``."""
    arr = _literal_centroid_array(cents)
    # one (d, cid) struct per centroid via transform, then array_min:
    # struct ordering is lexicographic (d first, then cid), exactly the
    # min(struct(dist2, cluster_id)) the crossJoin formulation
    # aggregates — and each centroid's distance is computed ONCE. The
    # former when-fold referenced d2 twice per step, and higher-order-
    # function lambdas re-evaluate every subexpression per element
    # (no CSE inside aggregate) — each row paid the full distance fold
    # 2× per centroid (r11; measured ~1.5× the training wall).
    d2 = lambda c: F.aggregate(  # noqa: E731
        F.zip_with(v, c["cv"], lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda s, t: s + t,
    )
    return F.array_min(
        F.transform(
            arr,
            lambda c: F.struct(d2(c).alias("d"), c["cid"].alias("cid")),
        )
    )


def _argmin_literal_expr(v: Column, cents) -> Column:
    """Nearest-centroid id of ``v`` over a literal centroid list — the
    ``cid`` field of :func:`_argmin_literal_struct`'s fold.

    Measured dead end (r11), recorded so it is not retried: unrolling
    this argmin into an explicit per-term SQL chain (the
    ``sqdist_expr_fixed`` treatment) is 6-9x SLOWER at bench scale even
    after codegen warm-up — at k×dim = 8×64 or m×16×16 terms the
    guarded fast+fallback expression is too large for effective
    codegen, where the ~200-term distance kernels genuinely win. Keep
    the fold here."""
    return _argmin_literal_struct(v, cents)["cid"]


def _lloyd_iter_agg(x: DataFrame, cents) -> DataFrame:
    """ONE Lloyd update as a lazy ``(cluster_id, cvec)`` aggregate frame
    — :func:`_lloyd_train_collect`'s loop body before its collect,
    exposed so a caller holding two independent single-iteration
    trainings can union their aggregates into ONE job (see
    :func:`_ivf_pq_train_lists`). Arithmetic unchanged: literal-argmin
    assignment, :func:`group_centroids`' value-sorted mean fold,
    position-sorted reassembly."""
    members = x.select(
        _argmin_literal_expr(F.col("__x"), cents).alias("cluster_id"),
        "__x",
    )
    gc = group_centroids(members, "cluster_id", vector_column="__x")
    # model-sized reassembly in ONE task (r12, VERDICT r11 item 2): gc is
    # k×dim rows — bounded by the model, not the corpus — so cpus-many
    # shuffle tasks for the final collect_list are pure scheduling
    # overhead at any scale (the mechanism behind training lines running
    # FASTER at 8 cores than 32 in BENCH_r11's scaling block). The
    # data-sized (cluster, dim) mean aggregate above keeps its full
    # parallelism; only the bounded frame collapses.
    return gc.repartition(1).groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "centroid_v"))),
            lambda r: r["centroid_v"],
        ).alias("cvec")
    )


def _lloyd_train_collect(
    x: DataFrame,
    *,
    id_column: str,
    k: int,
    iterations: int,
    seed_vectors: list | None = None,
):
    """Run :func:`kmeans_lloyd`'s exact training arithmetic over an
    ``(id, __x: array<double>)`` frame and collect the FINAL centroid
    table locally — model-sized by design (k rows). Enforces the
    ``id < k`` seed contract (ValueError on sparse/non-integer ids).
    Returns ``[(cluster_id, [floats]), ...]``.

    Each update's centroids are collected (model-sized) and the next
    assignment is the LITERAL argmin projection the serving plans use
    (:func:`_argmin_literal_struct` — pinned bit-identical arithmetic
    and tie-break to :func:`_assign_to_centroids`): per iteration the
    former lazy-frame formulation paid a broadcast crossJoin, a
    groupBy-``id`` exchange of the corpus, and a join back onto the
    vectors (two more exchanges + sorts); the literal form is one
    shuffle-free projection feeding the (cluster, dim)-keyed mean
    exchange — 5 exchanges → 1 per iteration, and at ``iterations=1``
    (every registered training entry) the job count is unchanged
    (seed collect + final collect). The driver round trip is exact:
    collected doubles re-enter the plan via shortest-round-trip repr
    (:func:`_double_sql`, bit-identity pinned by test)."""
    # seeds BEFORE persist (r11): collected from the un-cached frame, the
    # id < k predicate pushes down to the source scan — the former
    # persist-then-collect order materialized the ENTIRE corpus frame
    # into cache just to read k seed rows (a cached frame evaluates
    # filters after caching each partition). The cache itself only pays
    # off when a second pass reads it, i.e. iterations >= 2 (at
    # iterations=1 the single mean-aggregate job is the only consumer).
    # ``seed_vectors`` (r11): pre-collected [(id, [floats])] rows of the
    # same ``__x`` values skip the collect job entirely.
    if seed_vectors is not None:
        seed_rows = [
            {"cluster_id": int(i), "cvec": vec}
            for i, vec in seed_vectors
            if i < k
        ]
    else:
        seed_rows = (
            x.filter(F.col(id_column) < k)
            .select(
                F.col(id_column).cast("int").alias("cluster_id"),
                F.col("__x").alias("cvec"),
            )
            .collect()
        )
    if len(seed_rows) != k:
        raise ValueError(
            f"seed filter {id_column} < {k} matched {len(seed_rows)} rows, "
            f"expected exactly {k}: Lloyd training requires contiguous "
            f"integer ids 0..k-1 (kmeans_lloyd's seed convention)"
        )
    persisted = iterations > 1
    if persisted:
        x = x.persist()
    cents = [(r["cluster_id"], list(r["cvec"])) for r in seed_rows]
    for _ in range(iterations):
        rows = _lloyd_iter_agg(x, cents).collect()
        cents = [(r["cluster_id"], list(r["cvec"])) for r in rows]
    if persisted:
        x.unpersist()
    return cents


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    dim: int,
    coarse_k: int = 8,
    coarse_iterations: int = 1,
    nprobe: int = 2,
    m: int = 2,
    k: int = 8,
    iterations: int = 1,
    topk: int = 10,
    residual: bool = False,
) -> DataFrame:
    """IVF×PQ composed approximate top-k — THE sublinear 100 TB
    similarity-search path: a deterministic Lloyd coarse quantizer
    partitions the corpus into ``coarse_k`` inverted cells, each vector
    is stored as ``m`` PQ codes (:func:`pq_train_encode`'s arithmetic),
    and a query scores — via the model-sized ADC lookup table — ONLY
    the codes of vectors in its ``nprobe`` nearest cells. At
    ``nprobe/coarse_k = 1/4`` the scan touches a quarter of the codes;
    on a real deployment the cell is the physical partition column, so
    the probe is partition pruning, not a filter.

    ``residual=False`` is the raw-vector PQ variant (codes quantize the
    vector itself — one shared codebook). ``residual=True`` is the
    classic IVFADC refinement (Jégou, Douze & Schmid 2011, public
    construction): codes quantize ``x − c_cell(x)``, the residual to the
    assigned coarse centroid — residual magnitudes are much smaller than
    vector magnitudes, so the same code budget quantizes finer. The ADC
    lookup table then becomes per-(query, probed cell): ``||(q −
    c_cell)_s − codebook_s(code)||²`` — ``|panel|·nprobe·m·k`` entries,
    still model-sized. Quality is gated by :func:`ivf_pq_recall_report`
    against the exact ranking, mirroring :func:`pq_recall_report`.

    Determinism: both quantizers train with :func:`kmeans_lloyd`'s exact
    arithmetic (id<k seeds, value-sorted mean folds, index-order
    distance folds, id tie-breaks), training materializes eagerly to
    model-sized local tables, and the search plan compiles those models
    into literal expressions: cell + m codes per corpus row are computed
    by ONE shuffle-free projection (:func:`_argmin_literal_expr`), the
    probed-cell filter is a broadcast join, and the only exchanges are
    the per-(query, neighbor) ADC fold and the bounded top-k window —
    no full-corpus crossJoin anywhere.

    Output: (query_id, neighbor_id, adist_q6, rank) — ``adist_q6`` is
    the value-sorted ADC fold quantized ``floor(ad·1e6+0.5)`` (the fold
    is bit-identical cross-engine, so the quantization is too).
    """
    coarse, books = _ivf_pq_train_lists(
        corpus, id_column=id_column, vector_column=vector_column,
        dim=dim, coarse_k=coarse_k, coarse_iterations=coarse_iterations,
        m=m, k=k, iterations=iterations, residual=residual,
    )
    return _ivf_pq_search(
        corpus, queries, coarse, books, id_column=id_column,
        vector_column=vector_column, dim=dim, nprobe=nprobe, topk=topk,
        residual=residual,
    )


def _coarse_residual_expr(coarse):
    """Literal centroid lookup (cid -> vector) compiled into a residual
    subtraction expression — model-sized map, no join."""
    coarse_sorted = sorted(coarse, key=lambda t: t[0])
    cmap = F.expr(
        "map_from_arrays(array({ids}), array({vecs}))".format(
            ids=",".join(str(int(cid)) for cid, _ in coarse_sorted),
            vecs=",".join(
                "array({})".format(
                    ",".join(_double_sql(x) for x in vec)
                )
                for _, vec in coarse_sorted
            ),
        )
    )

    def residual_expr(vec_col, cell_col):
        return F.zip_with(
            vec_col, F.element_at(cmap, cell_col), lambda a, b: a - b
        )

    return residual_expr


def _ivf_pq_train_lists(
    corpus: DataFrame,
    *,
    id_column: str,
    vector_column: str,
    dim: int,
    coarse_k: int,
    coarse_iterations: int,
    m: int,
    k: int,
    iterations: int,
    residual: bool,
) -> tuple[list, list]:
    """Train the IVF×PQ model (coarse Lloyd quantizer + m per-subspace
    PQ codebooks — over coarse residuals when ``residual``) and return
    it as local lists: ``(coarse [(cid, vec)], books [[(cid, vec)]*m])``.
    Training materializes eagerly; both results are model-sized by
    design (coarse_k rows; m·k rows). Arithmetic is exactly
    :func:`ivf_pq_topk`'s r7 training block (this is that block,
    extracted so the frozen-model path trains identically).

    (r11 note: under ``residual=False`` the two trainings are
    independent and COULD overlap from two driver threads — guide §2.6
    — but measured 2.2 s → 3.1 s warm on local[32]: the per-training
    driver work is GIL-bound expression construction, so threads add
    contention without overlapping anything. Kept sequential; revisit
    on a real cluster where executor time dominates.)"""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    xfull = corpus.select(
        F.col(id_column), _as_double(F.col(vector_column)).alias("__x")
    )
    # ONE seed collect serves both trainers (r11): coarse seeds are the
    # id < coarse_k raw vectors; under residual=False the book seeds
    # are SLICES of the id < k raw vectors — both derive locally from
    # one pushdown read of id < max(coarse_k, k). 4 sequential training
    # jobs → 3. (Residual book seeds depend on the trained coarse
    # model, so that path keeps its own collect.)
    seed_vectors = [
        (r[id_column], list(r["__x"]))
        for r in xfull.filter(
            F.col(id_column) < max(coarse_k, k)
        ).collect()
    ]

    if not residual and coarse_iterations == 1 and iterations == 1:
        # Fused single-job training (r11): under residual=False the two
        # trainings are independent, and at one iteration each is one
        # aggregate feeding a model-sized collect — so the coarse
        # aggregate (tagged subspace = -1) and the m-codebook aggregate
        # UNION into ONE action: 3 sequential training jobs → 2, and
        # the two aggregates' stages are independent subtrees of one
        # job, so the scheduler overlaps them (guide §2.6's idle-
        # capacity win WITHOUT driver threads — the threaded variant
        # measured slower here, GIL-bound; see the note above). Values
        # are bit-identical: each subtree is exactly the aggregate the
        # sequential trainer collects (pinned by
        # test_fused_training_union_matches_sequential_trainers), and
        # every consumer of the returned lists is centroid-order-
        # independent (_literal_centroid_array sorts by cid).
        coarse_seed = [
            (int(i), list(vec)) for i, vec in seed_vectors if i < coarse_k
        ]
        if len(coarse_seed) != coarse_k:
            raise ValueError(
                f"seed filter {id_column} < {coarse_k} matched "
                f"{len(coarse_seed)} rows, expected exactly {coarse_k}: "
                f"Lloyd training requires contiguous integer ids "
                f"0..k-1 (kmeans_lloyd's seed convention)"
            )
        book_cents = _subspace_seed_cents(seed_vectors, k, sub, m)
        coarse_agg = _lloyd_iter_agg(xfull, coarse_seed).select(
            F.lit(-1).alias("subspace"), "cluster_id", "cvec"
        )
        xs = _subspace_slices(
            corpus, id_column, _as_double(F.col(vector_column)), sub, m
        )
        book_agg = _subspace_iter_agg(xs, book_cents, m)
        rows = coarse_agg.unionByName(book_agg).collect()
        coarse = sorted(
            (int(r["cluster_id"]), list(r["cvec"]))
            for r in rows
            if r["subspace"] == -1
        )
        book_rows = sorted(
            (int(r["subspace"]), int(r["cluster_id"]), list(r["cvec"]))
            for r in rows
            if r["subspace"] >= 0
        )
        books = [
            [(cid, vec) for s2, cid, vec in book_rows if s2 == s]
            for s in range(m)
        ]
        return coarse, books

    coarse = _lloyd_train_collect(
        xfull, id_column=id_column, k=coarse_k,
        iterations=coarse_iterations, seed_vectors=seed_vectors,
    )
    base_vec = _as_double(F.col(vector_column))
    book_seeds = seed_vectors
    if residual:
        residual_expr = _coarse_residual_expr(coarse)
        base_vec = residual_expr(
            base_vec, _argmin_literal_expr(base_vec, coarse)
        )
        book_seeds = None
    book_rows = _fused_subspace_lloyd(
        corpus, id_column=id_column, base_vec=base_vec, sub=sub, m=m,
        k=k, iterations=iterations, seed_vectors=book_seeds,
    )
    books = [
        [(cid, vec) for s2, cid, vec in book_rows if s2 == s]
        for s in range(m)
    ]
    return coarse, books


def _ivf_pq_search(
    corpus: DataFrame,
    queries: DataFrame,
    coarse: list,
    books: list,
    *,
    id_column: str,
    vector_column: str,
    dim: int,
    nprobe: int,
    topk: int,
    residual: bool,
) -> DataFrame:
    """The candidate-pruned IVF×PQ search plan over an ALREADY-TRAINED
    local model (:func:`ivf_pq_topk`'s r7 search block, extracted): one
    shuffle-free literal-encode projection for cell + codes, broadcast
    probe join, broadcast ADC LUT, bounded top-k window — no
    full-corpus crossJoin. Composes the same three pieces the
    persisted-codes serving path reuses: query side, encode, ADC
    rank."""
    probes, lut, lut_keys = _ivf_pq_query_side(
        queries, coarse, books, id_column=id_column,
        vector_column=vector_column, dim=dim, nprobe=nprobe,
        residual=residual,
    )
    enc = _ivf_pq_encode_frame(
        corpus, coarse, books, id_column=id_column,
        vector_column=vector_column, residual=residual,
    )
    return _ivf_pq_rank_precoded(
        enc, probes, lut, lut_keys, m=len(books), topk=topk
    )


def _ivf_pq_query_side(
    queries: DataFrame,
    coarse: list,
    books: list,
    *,
    id_column: str,
    vector_column: str,
    dim: int,
    nprobe: int,
    residual: bool,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Probe assignment + ADC LUT for a query panel against a trained
    local model — bounded panel × model tables. Returns
    ``(probes, lut, lut_keys)``."""
    m = len(books)
    sub = dim // m
    residual_expr = _coarse_residual_expr(coarse) if residual else None

    # --- query-side probe + ADC LUT (bounded panel × model tables) ---
    # Everything here is a PROJECTION over the query panel with the
    # model compiled in as literals (r11): the former
    # createDataFrame(coarse) → crossJoin → row_number window and
    # createDataFrame(book) → broadcast join each cost an exchange or
    # broadcast stage per serve call to rank a model-sized table. The
    # nprobe selection is array_sort over (d2, cid) structs — identical
    # order and tie-break to the row_number(orderBy d2 asc, cid asc) it
    # replaces; the fold arithmetic is unchanged (same index-order
    # squared-L2 fold over the same floats).
    q = queries.select(
        F.col(id_column).alias("query_id"),
        _as_double(F.col(vector_column)).alias("__qv"),
    )
    carr = _literal_centroid_array(coarse)

    def d2_fold(vec_col, cv):
        return F.aggregate(
            F.zip_with(vec_col, cv, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    probes_arr = F.slice(
        F.array_sort(
            F.transform(
                carr,
                lambda c: F.struct(
                    d2_fold(F.col("__qv"), c["cv"]).alias("d2"),
                    c["cid"].alias("cid"),
                ),
            )
        ),
        1,
        nprobe,
    )
    probes = q.select(
        "query_id",
        F.explode(
            F.transform(probes_arr, lambda s: s["cid"])
        ).alias("__cell"),
    )
    # flat literal codebook [(subspace·k + j) → (subspace, code, cv)],
    # subspace-major so each entry knows its own slice offset
    books_flat = F.expr(
        "array({})".format(
            ",".join(
                "named_struct('subspace', {s}, 'code', {cid}, "
                "'cv', array({cv}))".format(
                    s=int(s),
                    cid=int(cid),
                    cv=",".join(_double_sql(x) for x in vec),
                )
                for s, b in enumerate(books)
                for cid, vec in sorted(b)
            )
        )
    )

    def lut_entries(vec_col):
        # one (subspace, code, __pd) struct per codebook entry — the
        # same fold over the same slice as the former broadcast join
        return F.transform(
            books_flat,
            lambda b: F.struct(
                b["subspace"].alias("subspace"),
                b["code"].alias("code"),
                d2_fold(
                    F.slice(vec_col, b["subspace"] * sub + 1, sub),
                    b["cv"],
                ).alias("__pd"),
            ),
        )

    if residual:
        # per-(query, probed cell) LUT: the query residual to each
        # probed centroid, sliced per subspace — |panel|·nprobe·m·k rows
        lut = (
            q.select(
                "query_id",
                F.explode(
                    F.transform(probes_arr, lambda s: s["cid"])
                ).alias("__cell"),
                F.col("__qv"),
            )
            .select(
                "query_id",
                "__cell",
                F.explode(
                    lut_entries(
                        residual_expr(F.col("__qv"), F.col("__cell"))
                    )
                ).alias("__e"),
            )
            .select(
                "query_id",
                "__cell",
                "__e.subspace",
                F.col("__e.code").alias("code"),
                F.col("__e.__pd").alias("__pd"),
            )
        )
        lut_keys = ["query_id", "__cell", "subspace", "code"]
    else:
        lut = q.select(
            "query_id",
            F.explode(lut_entries(F.col("__qv"))).alias("__e"),
        ).select(
            "query_id",
            "__e.subspace",
            F.col("__e.code").alias("code"),
            F.col("__e.__pd").alias("__pd"),
        )
        lut_keys = ["query_id", "subspace", "code"]
    return probes, lut, lut_keys


def _ivf_pq_encode_frame(
    corpus: DataFrame,
    coarse: list,
    books: list,
    *,
    id_column: str,
    vector_column: str,
    residual: bool,
) -> DataFrame:
    """ONE shuffle-free literal projection encoding every corpus row to
    its coarse cell + m PQ codes — the offline encode-once step of the
    persisted-codes serving path and the inline encode of
    :func:`_ivf_pq_search`. Output: (neighbor_id, __cell, __c0..)."""
    m = len(books)
    dim = len(coarse[0][1])
    sub = dim // m
    residual_expr = _coarse_residual_expr(coarse) if residual else None
    xv = _as_double(F.col(vector_column))
    with_cell = corpus.select(
        F.col(id_column).alias("neighbor_id"),
        xv.alias("__xv"),
        _argmin_literal_expr(xv, coarse).alias("__cell"),
    )
    if residual:
        # materialize the residual ONCE as a named column (the former
        # per-subspace slices re-evaluated the zip_with per code argmin)
        base = with_cell.select(
            "neighbor_id",
            "__cell",
            residual_expr(F.col("__xv"), F.col("__cell")).alias("__sv"),
        )
        src = "__sv"
    else:
        base, src = with_cell, "__xv"
    return base.select(
        "neighbor_id",
        "__cell",
        *[
            _argmin_literal_expr(
                F.slice(F.col(src), s * sub + 1, sub), books[s]
            ).alias(f"__c{s}")
            for s in range(m)
        ],
    )


def _ivf_pq_rank_precoded(
    enc: DataFrame,
    probes: DataFrame,
    lut: DataFrame,
    lut_keys: list[str],
    *,
    m: int,
    topk: int,
    exclude_self: bool = True,
) -> DataFrame:
    """ADC ranking over an ALREADY-ENCODED corpus frame
    ``(neighbor_id, __cell, __c0..)``: broadcast probe join prunes to
    nprobe cells, broadcast LUT join + value-sorted fold scores, one
    bounded top-k window. No corpus vector is read — this is the
    entire serve path once codes are persisted. ``exclude_self`` drops
    candidates whose ``neighbor_id`` equals the ``query_id`` (the
    shared-id-space convention of every search entry here)."""
    cand = enc.join(F.broadcast(probes), "__cell")
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    codes_long = cand.select(
        "query_id",
        "neighbor_id",
        "__cell",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("subspace"),
                        F.col(f"__c{s}").alias("code"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("__e"),
    ).select(
        "query_id", "neighbor_id", "__cell", "__e.subspace", "__e.code"
    )
    adist = (
        codes_long.join(F.broadcast(lut), lut_keys)
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list("__pd")),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ).alias("__ad")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__ad").asc(), F.col("neighbor_id").asc()
    )
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "query_id",
            "neighbor_id",
            F.floor(F.col("__ad") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("adist_q6"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ivf_pq_train(
    corpus: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    dim: int,
    coarse_k: int = 8,
    coarse_iterations: int = 1,
    m: int = 2,
    k: int = 8,
    iterations: int = 1,
    residual: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Train the IVF×PQ model ONCE and hand it back as two model-sized
    frames — the offline half of the production train→freeze→search
    split (:func:`pq_train_encode` / :func:`pq_encode_with_book`'s
    pattern lifted to the composed index): the model is learned on
    yesterday's corpus or a sample, written to storage, and every
    subsequent search runs :func:`ivf_pq_search_with_model` against the
    frozen frames without retraining. (Retraining per search would
    silently re-key both the cell layout and the code space.)

    Training arithmetic is exactly :func:`ivf_pq_topk`'s (deterministic
    Lloyd: id<k seeds, value-sorted mean folds, index-order distance
    folds, id tie-breaks; PQ codebooks over coarse residuals when
    ``residual``), and it materializes eagerly — the returned frames
    are literal-backed (``coarse_k`` and ``m·k`` rows), carry no cached
    lineage, and survive being written/read through any sink.

    Returns ``(coarse, book)``: ``coarse (cluster_id, cvec)`` and
    ``book (subspace, cluster_id, cvec)``.
    """
    coarse, books = _ivf_pq_train_lists(
        corpus, id_column=id_column, vector_column=vector_column,
        dim=dim, coarse_k=coarse_k, coarse_iterations=coarse_iterations,
        m=m, k=k, iterations=iterations, residual=residual,
    )
    spark = corpus.sparkSession
    coarse_df = spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in coarse],
        "cluster_id int, cvec array<double>",
    )
    book_df = spark.createDataFrame(
        [
            (s, int(cid), [float(x) for x in vec])
            for s, b in enumerate(books)
            for cid, vec in b
        ],
        "subspace int, cluster_id int, cvec array<double>",
    )
    return coarse_df, book_df


def ivf_pq_search_with_model(
    corpus: DataFrame,
    queries: DataFrame,
    coarse,
    book,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    nprobe: int = 2,
    topk: int = 10,
    residual: bool = False,
) -> DataFrame:
    """IVF×PQ approximate top-k against a FROZEN model — the online
    half of the train→freeze→search split and the 100 TB-relevant
    latency: :func:`ivf_pq_topk` retrains per call (its bench line is
    ~80% training), while a production index trains once and serves
    searches against the frozen model. ``coarse (cluster_id, cvec)``
    and ``book (subspace, cluster_id, cvec)`` are the frames
    :func:`ivf_pq_train` returns (or the same shapes read back from
    storage), or the equivalent driver-side lists
    ``[(cluster_id, vec)]`` / ``[(subspace, cluster_id, vec)]`` — the
    no-job fast path for a model already held in driver memory. Frames
    are collected driver-side — model-sized by design —
    and compiled into the same literal-expression search plan as
    :func:`ivf_pq_topk`: ONE shuffle-free encode projection (cell + m
    codes per corpus row), broadcast probe join (= partition pruning
    when the cell is the layout column), broadcast ADC LUT, bounded
    top-k window. Identical output to :func:`ivf_pq_topk` when the
    model was trained on the same corpus with the same parameters.

    ``residual`` must match how the model was trained (codes quantize
    ``x − c_cell(x)`` under IVFADC); it changes the LUT shape, so a
    mismatch is a correctness error the recall gate would catch.

    Output: (query_id, neighbor_id, adist_q6, rank).
    """
    coarse_list, books, dim = _collect_ivf_pq_model(
        coarse, book, caller="ivf_pq_search_with_model"
    )
    return _ivf_pq_search(
        corpus, queries, coarse_list, books, id_column=id_column,
        vector_column=vector_column, dim=dim, nprobe=nprobe, topk=topk,
        residual=residual,
    )


def _collect_ivf_pq_model(
    coarse, book, *, caller: str
) -> tuple[list, list, int]:
    """Collect + validate the model frames :func:`ivf_pq_train` emits
    (model-sized by design) into the sorted driver-side lists the
    literal-expression search/encode plans compile from. Returns
    ``(coarse_list, books, dim)``.

    Either argument may already BE the driver-side list —
    ``coarse = [(cluster_id, [floats]), ...]`` and
    ``book = [(subspace, cluster_id, [floats]), ...]`` — in which case
    no Spark job runs: a serve path that holds the (model-sized) model
    in driver memory skips the createDataFrame→collect round trip the
    DataFrame form pays (two sequential jobs per call, pure overhead
    when the model never left the driver). Validation is identical."""
    if isinstance(coarse, list):
        coarse_rows = [
            {"cluster_id": cid, "cvec": vec} for cid, vec in coarse
        ]
    else:
        coarse_rows = coarse.select("cluster_id", "cvec").collect()
    if not coarse_rows:
        raise ValueError(f"{caller}: empty coarse model")
    coarse_list = sorted(
        (int(r["cluster_id"]), list(r["cvec"])) for r in coarse_rows
    )
    dim = len(coarse_list[0][1])
    if any(len(vec) != dim for _, vec in coarse_list):
        raise ValueError(
            f"{caller}: coarse centroids have mixed dimensions"
        )
    if isinstance(book, list):
        book_rows = [
            {"subspace": s, "cluster_id": cid, "cvec": vec}
            for s, cid, vec in book
        ]
    else:
        book_rows = book.select("subspace", "cluster_id", "cvec").collect()
    if not book_rows:
        raise ValueError(f"{caller}: empty codebook")
    by_sub: dict[int, list] = {}
    for r in book_rows:
        by_sub.setdefault(int(r["subspace"]), []).append(
            (int(r["cluster_id"]), list(r["cvec"]))
        )
    subspaces = sorted(by_sub)
    if subspaces != list(range(len(subspaces))):
        raise ValueError(
            f"{caller}: subspaces {subspaces} are not contiguous 0..m-1"
        )
    m = len(subspaces)
    sub = len(by_sub[0][0][1])
    if any(
        len(vec) != sub for s in subspaces for _, vec in by_sub[s]
    ) or m * sub != dim:
        raise ValueError(
            f"{caller}: codebook subspace widths do not tile the coarse "
            f"dimension {dim} ({m} subspaces, first width {sub})"
        )
    books = [sorted(by_sub[s]) for s in subspaces]
    return coarse_list, books, dim


def ivf_pq_encode_corpus(
    corpus: DataFrame,
    coarse,
    book,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """Encode the corpus ONCE under a frozen IVF×PQ model — the
    persist-the-codes half that completes the production
    train→freeze→ENCODE→search story (SCALE.md probe 94 named the
    per-call corpus PQ-encode as the only linear term left in
    :func:`ivf_pq_search_with_model`'s serve wall; production writes
    these codes next to the vectors and never re-encodes). ONE
    shuffle-free literal projection: coarse cell + m PQ codes per row,
    ~m+1 ints replacing a dim-float vector (the classic PQ storage
    win). Write the output bucketed/partitioned BY ``cell`` and the
    probe join becomes partition pruning.

    ``residual`` must match training (codes quantize ``x − c_cell(x)``
    under IVFADC).

    Output: (``id_column``, cell, code_0..code_{m-1}) — one row per
    corpus vector, all ints.
    """
    coarse_list, books, _dim = _collect_ivf_pq_model(
        coarse, book, caller="ivf_pq_encode_corpus"
    )
    enc = _ivf_pq_encode_frame(
        corpus, coarse_list, books, id_column=id_column,
        vector_column=vector_column, residual=residual,
    )
    return enc.select(
        F.col("neighbor_id").alias(id_column),
        F.col("__cell").alias("cell"),
        *[
            F.col(f"__c{s}").alias(f"code_{s}")
            for s in range(len(books))
        ],
    )


def ivf_pq_search_precoded(
    codes: DataFrame,
    queries: DataFrame,
    coarse,
    book,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    nprobe: int = 2,
    topk: int = 10,
    residual: bool = False,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF×PQ top-k served from PERSISTED CODES — the endgame serve
    path: :func:`ivf_pq_search_with_model` froze the model but still
    re-encoded the corpus per call (the one linear serve-time term,
    SCALE.md probe 94); this operator takes the
    (``id_column``, cell, code_0..code_{m-1}) frame
    :func:`ivf_pq_encode_corpus` persisted and serves against THAT, so
    the per-call plan touches no corpus vector at all: scan codes
    (~m+1 ints/row), broadcast probe join (partition pruning when the
    codes table is laid out by cell), broadcast ADC LUT join, bounded
    top-k window. Identical output to the frozen search under the same
    model (encoding is deterministic), which is the ship gate.

    ``queries`` still carries real vectors (the panel is what gets
    probed/LUT-ed); ``residual`` must match how the codes were
    encoded.

    SELF-EXCLUSION CONTRACT (ADVICE r10): by default query ids are
    assumed to SHARE the corpus id space, and a candidate whose
    ``neighbor_id`` equals the ``query_id`` is treated as the query
    finding itself and dropped — the convention of every search entry
    in this module. For an EXTERNAL query panel whose ids merely
    coincide with corpus ids, that would silently exclude a legitimate
    nearest neighbor: pass ``exclude_self=False`` (or re-key the panel
    into a disjoint id space).

    Output: (query_id, neighbor_id, adist_q6, rank).
    """
    coarse_list, books, dim = _collect_ivf_pq_model(
        coarse, book, caller="ivf_pq_search_precoded"
    )
    m = len(books)
    need = [id_column, "cell"] + [f"code_{s}" for s in range(m)]
    missing = [c for c in need if c not in codes.columns]
    if missing:
        raise ValueError(
            f"ivf_pq_search_precoded: codes frame is missing {missing} "
            f"(expected ivf_pq_encode_corpus's layout {need})"
        )
    enc = codes.select(
        F.col(id_column).alias("neighbor_id"),
        F.col("cell").alias("__cell"),
        *[F.col(f"code_{s}").alias(f"__c{s}") for s in range(m)],
    )
    probes, lut, lut_keys = _ivf_pq_query_side(
        queries, coarse_list, books, id_column=id_column,
        vector_column=vector_column, dim=dim, nprobe=nprobe,
        residual=residual,
    )
    return _ivf_pq_rank_precoded(
        enc, probes, lut, lut_keys, m=m, topk=topk,
        exclude_self=exclude_self,
    )


def ivf_pq_recall_report(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    dim: int,
    coarse_k: int = 8,
    coarse_iterations: int = 1,
    nprobe: int = 2,
    m: int = 2,
    k: int = 8,
    iterations: int = 1,
    topk: int = 10,
    residual: bool = False,
) -> DataFrame:
    """Recall@k of :func:`ivf_pq_topk` against the exact squared-L2
    ranking, per query — the composed path's ship gate (the same
    discipline as :func:`pq_recall_report`, which gates PQ alone):
    IVF adds cell-miss error on top of code-quantization error, so the
    recall must be re-gated whenever ``nprobe``/``coarse_k`` change
    (and the raw-vs-residual encoding choice is made BY this number).

    Output: (query_id, n_hits, recall_q6), one row per panel query.
    """
    approx = ivf_pq_topk(
        corpus, queries, id_column=id_column, vector_column=vector_column,
        dim=dim, coarse_k=coarse_k, coarse_iterations=coarse_iterations,
        nprobe=nprobe, m=m, k=k, iterations=iterations, topk=topk,
        residual=residual,
    ).select("query_id", "neighbor_id")
    q = queries.select(
        F.col(id_column).alias("query_id"),
        _as_double(F.col(vector_column)).alias("__qv"),
    )
    c = corpus.select(
        F.col(id_column).alias("neighbor_id"),
        _as_double(F.col(vector_column)).alias("__cv"),
    )
    exact = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            sqdist_expr_fixed("__qv", "__cv", dim, cast=False).alias("__d2"),
        )
    )
    w_ex = Window.partitionBy("query_id").orderBy(
        F.col("__d2").asc(), F.col("neighbor_id").asc()
    )
    exact_topk = (
        exact.withColumn("rank", F.row_number().over(w_ex))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id")
    )
    hits = (
        exact_topk.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        q.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.floor(
                F.coalesce("n_hits", F.lit(0)).cast("double")
                * F.lit(1e6)
                / F.lit(float(topk))
                + F.lit(0.5)
            ).cast("long").alias("recall_q6"),
        )
    )


def ivf_cell_balance_report(
    corpus: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    coarse_k: int = 8,
    coarse_iterations: int = 1,
) -> DataFrame:
    """Cell-occupancy census of the IVF coarse quantizer — the
    partition-skew ship gate for the vector index: on a real deployment
    the cell is the physical partition column (:func:`ivf_pq_topk`'s
    layout contract), so a hot cell IS a hot partition — probe latency,
    shuffle skew and storage imbalance all scale with the max cell, not
    the mean. Run this before flipping a corpus to IVF layout; the fix
    for a bad number is more cells (raise ``coarse_k``) or retraining
    on fresher data.

    Trains the deterministic Lloyd coarse quantizer (exactly
    :func:`ivf_pq_topk`'s arithmetic — id<k seeds, value-sorted means,
    id tie-breaks) and assigns every vector by ONE shuffle-free
    literal-argmin projection; the census is a single count shuffle
    bounded by ``coarse_k`` rows. Cells that end training with no
    members simply do not survive Lloyd's update (both engines drop
    them identically), so the spine is the trained centroid table.

    Output per surviving cell: (cluster_id, n_vectors, share_ppm,
    imbalance_x6) — ``share_ppm`` the exact integer ``n·1e6 DIV
    total``; ``imbalance_x6 = floor(max_cell · k_cells / total · 1e6
    + 0.5)``, the max/mean occupancy ratio (1e6 = perfectly balanced),
    repeated on every row so a single-row consumer reads it without a
    second pass.
    """
    xfull = corpus.select(
        F.col(id_column), _as_double(F.col(vector_column)).alias("__x")
    )
    coarse = _lloyd_train_collect(
        xfull, id_column=id_column, k=coarse_k, iterations=coarse_iterations
    )
    spark = corpus.sparkSession
    xv = _as_double(F.col(vector_column))
    assigned = corpus.select(
        _argmin_literal_expr(xv, coarse).alias("cluster_id")
    )
    counts = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("__n")
    )
    spine = spark.createDataFrame(
        [(int(cid),) for cid, _ in sorted(coarse)], "cluster_id int"
    )
    filled = spine.join(F.broadcast(counts), "cluster_id", "left").select(
        "cluster_id",
        F.coalesce("__n", F.lit(0)).cast("long").alias("n_vectors"),
    )
    tot = filled.agg(
        F.sum("n_vectors").alias("__tot"),
        F.max("n_vectors").alias("__max"),
        F.count(F.lit(1)).alias("__k"),
    )
    return filled.crossJoin(F.broadcast(tot)).select(
        "cluster_id",
        "n_vectors",
        # tot > 0 guard: training requires a non-empty corpus, but the
        # census may legitimately run on a filtered (possibly empty)
        # slice — NULL shares beat a divide-by-zero
        F.when(
            F.col("__tot") > 0,
            F.expr("(n_vectors * 1000000L) DIV __tot"),
        ).alias("share_ppm"),
        F.when(
            F.col("__tot") > 0,
            F.floor(
                F.col("__max").cast("double")
                * F.col("__k").cast("double")
                / F.col("__tot").cast("double")
                * F.lit(1e6)
                + F.lit(0.5)
            ),
        ).cast("long").alias("imbalance_x6"),
    )


def ivf_nprobe_recall_curve(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    coarse_k: int = 8,
    coarse_iterations: int = 1,
    topk: int = 10,
) -> DataFrame:
    """Recall ceiling of the IVF ROUTING as a function of ``nprobe``,
    in one pass — the error-budget split every probe-count decision
    needs: :func:`ivf_pq_recall_report` measures cell-miss AND
    code-quantization error together for ONE nprobe; this isolates the
    cell-miss half for EVERY nprobe 1..k_cells at once (it assumes
    perfect in-cell ranking, so it is the exact upper bound any PQ/ADC
    refinement can reach at that probe count; :func:`pq_recall_report`
    gates the code half). Read the curve, pick the smallest nprobe
    above the recall target, re-gate the composed index once.

    Plan: coarse Lloyd training (model-sized collect), the exact
    ranking on the bounded query panel (the documented
    O(corpus × panel) recall-gate envelope), cells by one shuffle-free
    literal-argmin projection, probe ranks from a |panel| × k_cells
    broadcast, and ONE census: each true hit enters the curve at its
    cell's probe rank and contributes to every larger nprobe (the
    entry-depth explode, bounded by hits × k_cells rows).

    Output one row per nprobe 1..k_cells (surviving cells):
    (nprobe, n_hits_covered, n_hits_total, recall_q6) — recall is the
    exact integer ratio over ALL panel hits, quantized q6.
    """
    xfull = corpus.select(
        F.col(id_column), _as_double(F.col(vector_column)).alias("__x")
    )
    coarse = _lloyd_train_collect(
        xfull, id_column=id_column, k=coarse_k, iterations=coarse_iterations
    )
    n_cells = len(coarse)
    spark = corpus.sparkSession
    q = queries.select(
        F.col(id_column).alias("query_id"),
        _as_double(F.col(vector_column)).alias("__qv"),
    )
    # ground truth IS brute_force_topk_l2's ranking (same fold, same
    # (dist, id) tie-break) — call it rather than re-implement it
    exact_topk = brute_force_topk_l2(
        corpus, queries, id_column=id_column, vector_column=vector_column,
        k=topk,
    ).select("query_id", "neighbor_id")
    xv = _as_double(F.col(vector_column))
    cells = corpus.select(
        F.col(id_column).alias("neighbor_id"),
        _argmin_literal_expr(xv, coarse).alias("__cell"),
    )
    coarse_df = spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in coarse],
        "cluster_id int, cvec array<double>",
    )
    probe_rank = (
        q.crossJoin(F.broadcast(coarse_df))
        .select(
            "query_id",
            F.col("cluster_id").alias("__cell"),
            F.aggregate(
                F.zip_with("__qv", "cvec", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("__pd2"),
        )
        .withColumn(
            "__crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("__pd2").asc(), F.col("__cell").asc()
                )
            ),
        )
        .select("query_id", "__cell", "__crank")
    )
    hits = exact_topk.join(cells, "neighbor_id").join(
        F.broadcast(probe_rank), ["query_id", "__cell"]
    )
    covered = (
        hits.select(
            F.explode(
                F.sequence(F.col("__crank"), F.lit(n_cells))
            ).alias("nprobe")
        )
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("__cov"))
    )
    total = exact_topk.agg(F.count(F.lit(1)).alias("__tot"))
    spine = spark.createDataFrame(
        [(i,) for i in range(1, n_cells + 1)], "nprobe int"
    )
    return (
        spine.join(F.broadcast(covered), "nprobe", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "nprobe",
            F.coalesce("__cov", F.lit(0)).cast("long").alias(
                "n_hits_covered"
            ),
            F.col("__tot").cast("long").alias("n_hits_total"),
            # tot > 0 guard: an empty panel would otherwise emit
            # 0.0/0.0 = NaN, whose long cast is a silent 0 on Spark and
            # engine-dependent elsewhere — NULL says "no ground truth"
            F.when(
                F.col("__tot") > 0,
                F.floor(
                    F.coalesce("__cov", F.lit(0)).cast("double")
                    * F.lit(1e6)
                    / F.col("__tot").cast("double")
                    + F.lit(0.5)
                ),
            ).cast("long").alias("recall_q6"),
        )
    )


def silhouette_centroid_report(
    corpus: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    k: int = 8,
    iterations: int = 1,
) -> DataFrame:
    """Per-cluster SIMPLIFIED silhouette (Rousseeuw 1987's silhouette
    with the standard centroid approximation — Hruschka et al.'s
    simplified silhouette, public construction): for each vector,
    ``a`` = distance to its own centroid, ``b`` = distance to the
    nearest OTHER centroid, ``s = (b − a) / max(a, b)`` ∈ [−1, 1].
    The clustering-quality ship gate for every Lloyd consumer here
    (:func:`kmeans_lloyd`, the IVF coarse quantizer): near 1 = tight,
    well-separated cells; near 0 = touching; negative = misassigned
    mass. The exact silhouette is O(n²) pairwise; the centroid form is
    ONE pass against the model — the only variant that exists at
    100 TB.

    Plan: deterministic Lloyd training (model-sized collect), then ONE
    shuffle-free literal projection computes own/second-nearest
    centroid distances via a two-minimum fold (same index-order
    arithmetic and smallest-id tie-break as assignment), and ONE
    bounded census aggregates per cluster. Determinism: ``sqrt`` is
    IEEE-correctly-rounded on both engines; each ``s`` is one
    fixed-order double quantized ``floor(s·1e6+0.5)``; the cluster
    mean divides the exact BIGINT sum by the count and re-quantizes.

    Output per cluster: (cluster_id, n_points, mean_silhouette_q6).
    Requires k ≥ 2 surviving centroids (ValueError otherwise — one
    cell has no "other centroid" to separate from).
    """
    xfull = corpus.select(
        F.col(id_column), _as_double(F.col(vector_column)).alias("__x")
    )
    cents = _lloyd_train_collect(
        xfull, id_column=id_column, k=k, iterations=iterations
    )
    if len(cents) < 2:
        raise ValueError(
            f"silhouette_centroid_report: {len(cents)} surviving "
            f"centroid(s); silhouette needs at least 2"
        )
    xv = _as_double(F.col(vector_column))
    arr = _literal_centroid_array(cents)
    init = F.struct(
        F.lit(float("inf")).alias("d1"),
        F.lit(-1).cast("int").alias("cid"),
        F.lit(float("inf")).alias("d2"),
    )

    def step(acc, cent):
        d = F.aggregate(
            F.zip_with(xv, cent["cv"], lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda s, t: s + t,
        )
        return (
            F.when(
                d < acc["d1"],
                F.struct(
                    d.alias("d1"),
                    cent["cid"].alias("cid"),
                    acc["d1"].alias("d2"),
                ),
            )
            .when(
                d < acc["d2"],
                F.struct(
                    acc["d1"].alias("d1"),
                    acc["cid"].alias("cid"),
                    d.alias("d2"),
                ),
            )
            .otherwise(acc)
        )

    two_min = F.aggregate(arr, init, step)
    a = F.sqrt(F.col("__tm.d1"))
    b = F.sqrt(F.col("__tm.d2"))
    s = F.when(F.greatest(a, b) > 0, (b - a) / F.greatest(a, b)).otherwise(
        F.lit(0.0)
    )
    per_point = corpus.select(two_min.alias("__tm")).select(
        F.col("__tm.cid").alias("cluster_id"),
        F.floor(s * F.lit(1e6) + F.lit(0.5)).cast("long").alias("__sq6"),
    )
    return per_point.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.floor(
            F.sum("__sq6").cast("double") / F.count(F.lit(1)).cast("double")
            + F.lit(0.5)
        ).cast("long").alias("mean_silhouette_q6"),
    )


def ivf_coarse_train(
    corpus: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    coarse_k: int = 8,
    coarse_iterations: int = 1,
) -> DataFrame:
    """Train ONLY the IVF coarse quantizer and return it as a
    model-sized frame ``(cluster_id, cvec)`` — :func:`ivf_pq_train`'s
    first half for consumers that need the cell layout without PQ
    codebooks (partitioning a corpus by cell, the drift monitor below).
    Exactly :func:`ivf_pq_topk`'s coarse training arithmetic; eager,
    literal-backed, storage-round-trippable."""
    xfull = corpus.select(
        F.col(id_column), _as_double(F.col(vector_column)).alias("__x")
    )
    coarse = _lloyd_train_collect(
        xfull, id_column=id_column, k=coarse_k, iterations=coarse_iterations
    )
    return corpus.sparkSession.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in sorted(coarse)],
        "cluster_id int, cvec array<double>",
    )


def ivf_assignment_drift_report(
    batch: DataFrame,
    coarse: DataFrame,
    *,
    vector_column: str = "embedding",
) -> DataFrame:
    """Assignment census of a NEW batch against a FROZEN coarse model —
    the retrain trigger for the vector index: as the corpus drifts away
    from the distribution the quantizer was trained on, cell occupancy
    skews and the mean distance-to-assigned-centroid (the per-cell
    quantization error) climbs. Run it per ingest batch against the
    serving model (:func:`ivf_coarse_train` / :func:`ivf_pq_train`'s
    coarse half, possibly read back from storage) and alert on cells
    whose mean_d2 rises across runs — retraining re-keys the layout, so
    it should happen when THIS number says so, not on a timer.

    Plan: the model is collected driver-side (model-sized) and compiled
    into ONE shuffle-free literal fold per row (assignment + distance
    in the same :func:`_argmin_literal_struct` expression); the census
    is one count shuffle bounded by the cell count. Determinism: the
    fold is index-order; per-row d² quantizes ``floor(d²·1e6+0.5)`` to
    exact BIGINTs whose sum is order-free; the mean divides exact
    integers and re-quantizes. Cells with no batch members report
    n_vectors=0 and NULL mean (the model spine keeps them visible —
    a vanished cell is itself a drift signal).

    Output per model cell: (cluster_id, n_vectors, share_ppm,
    mean_d2_q6).
    """
    rows = coarse.select("cluster_id", "cvec").collect()
    if not rows:
        raise ValueError("ivf_assignment_drift_report: empty coarse model")
    cents = sorted((int(r["cluster_id"]), list(r["cvec"])) for r in rows)
    spark = batch.sparkSession
    xv = _as_double(F.col(vector_column))
    assigned = batch.select(
        _argmin_literal_struct(xv, cents).alias("__a")
    ).select(
        F.col("__a.cid").alias("cluster_id"),
        F.floor(F.col("__a.d") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("__d2q6"),
    )
    census = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__d2q6").alias("__sd"),
    )
    spine = spark.createDataFrame(
        [(cid,) for cid, _ in cents], "cluster_id int"
    )
    filled = spine.join(F.broadcast(census), "cluster_id", "left")
    tot = filled.agg(
        F.sum(F.coalesce("__n", F.lit(0))).alias("__tot")
    )
    return filled.crossJoin(F.broadcast(tot)).select(
        "cluster_id",
        F.coalesce("__n", F.lit(0)).cast("long").alias("n_vectors"),
        # tot > 0 guard: an EMPTY ingest batch (a realistic scheduled-
        # monitor run) must report NULL shares, not divide by zero
        # (an ANSI-mode error; a NULL-masking DIV otherwise)
        F.when(
            F.col("__tot") > 0,
            F.expr("(coalesce(__n, 0) * 1000000L) DIV __tot"),
        ).alias("share_ppm"),
        F.when(
            F.col("__n") > 0,
            F.floor(
                F.col("__sd").cast("double") / F.col("__n").cast("double")
                + F.lit(0.5)
            ),
        ).cast("long").alias("mean_d2_q6"),
    )


def pq_code_utilization_report(
    corpus: DataFrame,
    book: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
) -> DataFrame:
    """Codebook-utilization census per PQ subspace — the quantizer-
    quality gate that catches wasted bits BEFORE recall does: a
    subspace whose corpus codes concentrate on a few entries (low
    entropy, high top-code share) is spending its code budget on
    centroids nothing maps to, and the same ``m × log2(k)`` bits would
    quantize finer after retraining on representative data. Read
    beside :func:`pq_recall_report`: recall says "is the index good
    enough", this says "is the codebook earning its bits".

    Plan: encode via :func:`pq_encode_with_book`'s shuffle-free
    literal projection, then two bounded censuses (codes per
    (subspace, code) — at most m·k rows — and book sizes). Entropy in
    NATS via the package's exact-decimal recipe: per-code terms
    ``round(n·ln n, 7)`` summed as DECIMAL(28,9) (order-free), then
    ``H = ln(total) − s/total`` quantized ``floor(H·1e6+0.5)``.

    Output per subspace: (subspace, n_codes_book, n_codes_used,
    top_code_share_ppm, entropy_q6).
    """
    codes = pq_encode_with_book(
        corpus, book, id_column=id_column, vector_column=vector_column
    )
    cc = codes.groupBy("subspace", "code").agg(
        F.count(F.lit(1)).alias("__nt")
    )
    per = cc.groupBy("subspace").agg(
        F.count(F.lit(1)).cast("long").alias("n_codes_used"),
        F.sum("__nt").alias("__tot"),
        F.max("__nt").alias("__mx"),
        F.sum(
            F.round(
                F.col("__nt").cast("double")
                * F.log(F.col("__nt").cast("double")),
                7,
            ).cast("decimal(28,9)")
        ).alias("__s"),
    )
    sizes = book.groupBy("subspace").agg(
        F.count(F.lit(1)).cast("long").alias("n_codes_book")
    )
    return per.join(F.broadcast(sizes), "subspace").select(
        "subspace",
        "n_codes_book",
        "n_codes_used",
        F.expr("(__mx * 1000000L) DIV __tot").alias("top_code_share_ppm"),
        F.floor(
            (
                F.log(F.col("__tot").cast("double"))
                - F.col("__s").cast("double")
                / F.col("__tot").cast("double")
            )
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long").alias("entropy_q6"),
    )


def brute_force_topk_l2(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact squared-L2 top-k per query — :func:`brute_force_topk`'s
    metric twin (cosine ranks by angle, L2 by distance; they genuinely
    disagree for unnormalized vectors, and :func:`rbo_report` measures
    by how much). Same bounded-panel-broadcast plan, same index-order
    fold, ties by neighbor id. ``dim`` is the same physical codegen
    hint as :func:`brute_force_topk` (results identical either way).
    Output: (query_id, neighbor_id, dist2_r6, rank); self-matches
    excluded."""
    q = queries.select(
        F.col(id_column).alias("query_id"),
        _as_double(F.col(vector_column)).alias("__qv"),
    )
    c = corpus.select(
        F.col(id_column).alias("neighbor_id"),
        _as_double(F.col(vector_column)).alias("__cv"),
    )
    d2 = (
        sqdist_expr_fixed("__qv", "__cv", dim, cast=False)
        if dim is not None
        else F.aggregate(
            F.zip_with("__qv", "__cv", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            d2.alias("__d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__d2"), 6).alias("dist2_r6"),
            "rank",
        )
    )


def mmr_diversified_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    candidates: int = 20,
    k: int = 5,
    lambda_ppm: int = 700_000,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998, public construction) over the exact L2 candidate set — the
    diversity pass between retrieval and consumption: a plain top-k
    hands back k copies of the same neighborhood; MMR greedily picks
    the item that is close to the QUERY but far from everything
    ALREADY PICKED, so RAG context windows and few-shot exemplar sets
    stop wasting slots on near-duplicates of slot 1.

    Distance form (L2 throughout, matching :func:`brute_force_topk_l2`):
    round 1 picks the nearest candidate; round i+1 picks
    ``argmin_c  λ·d²(q, c) − (1−λ)·min_{s∈S} d²(c, s)`` over the
    unpicked candidates. λ = ``lambda_ppm``/1e6 (1.0 = pure relevance,
    0.0 = pure diversity).

    Plan: the candidate set is one bounded-panel exact ranking (the
    documented O(corpus × panel) recall-gate envelope — swap in the
    frozen-model ANN output upstream at scale), materialized ONCE to a
    local frame (|panel|·candidates rows — model-sized by contract, the
    same envelope every recall gate collects) so the corpus is scanned
    exactly once; the k−1 greedy rounds then join panel-bounded local
    frames, never the corpus. Determinism: every d² is the index-order
    fold (collected doubles round-trip bit-exactly); the per-round MMR
    score is one fixed-order double quantized ``floor(s·1e6+0.5)``;
    min-over-selected is order-free; every pick tie-breaks by neighbor
    id. λ is computed once in Python and embedded as the same literal
    both engines parse.

    Output: (query_id, neighbor_id, mmr_rank) — mmr_rank 1..k.
    """
    if not 1 <= k <= candidates:
        raise ValueError(
            f"mmr_diversified_topk: k={k} must be in [1, candidates="
            f"{candidates}]"
        )
    lam = lambda_ppm / 1e6
    q = queries.select(
        F.col(id_column).alias("query_id"),
        _as_double(F.col(vector_column)).alias("__qv"),
    )
    c = corpus.select(
        F.col(id_column).alias("neighbor_id"),
        _as_double(F.col(vector_column)).alias("__cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "__cv",
            F.aggregate(
                F.zip_with("__qv", "__cv", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("__dq"),
        )
    )
    w_cand = Window.partitionBy("query_id").orderBy(
        F.col("__dq").asc(), F.col("neighbor_id").asc()
    )
    cand_rows = (
        scored.withColumn("__rn", F.row_number().over(w_cand))
        .filter(F.col("__rn") <= candidates)
        .select("query_id", "neighbor_id", "__cv", "__dq", "__rn")
        .collect()
    )
    # ONE corpus pass total: the ranked candidates are panel-bounded
    # (|panel|·candidates rows) and rebuilt as a local frame, so the
    # k−1 greedy rounds below never touch the corpus again
    spark = corpus.sparkSession
    cand_local = spark.createDataFrame(
        [
            (r["query_id"], r["neighbor_id"], list(r["__cv"]),
             float(r["__dq"]), r["__rn"])
            for r in cand_rows
        ],
        scored.select(
            "query_id", "neighbor_id", "__cv", "__dq"
        ).withColumn("__rn", F.lit(1)).schema,
    )
    cand = cand_local.select("query_id", "neighbor_id", "__cv", "__dq")
    # round 1: the nearest candidate, pure relevance
    selected = (
        cand_local.filter(F.col("__rn") == 1)
        .select(
            "query_id",
            "neighbor_id",
            "__cv",
            F.lit(1).alias("mmr_rank"),
        )
    )
    picks = selected.select("query_id", "neighbor_id", "mmr_rank")
    for i in range(2, k + 1):
        remaining = cand.join(
            selected.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        pair = remaining.join(
            selected.select(
                "query_id",
                F.col("__cv").alias("__sv"),
            ),
            "query_id",
        ).select(
            "query_id",
            "neighbor_id",
            "__cv",
            "__dq",
            F.aggregate(
                F.zip_with("__cv", "__sv", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("__ds"),
        )
        # __cv/__dq are functionally dependent on the group key (one
        # candidate row fanned out per selected item), so first() is
        # deterministic here
        mmr = pair.groupBy("query_id", "neighbor_id").agg(
            F.first("__cv").alias("__cv"),
            F.first("__dq").alias("__dq"),
            F.min("__ds").alias("__mds"),
        ).select(
            "query_id",
            "neighbor_id",
            "__cv",
            "__dq",
            F.floor(
                (
                    F.lit(lam) * F.col("__dq")
                    - F.lit(1.0 - lam) * F.col("__mds")
                )
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long").alias("__score_q6"),
        )
        w_pick = Window.partitionBy("query_id").orderBy(
            F.col("__score_q6").asc(), F.col("neighbor_id").asc()
        )
        pick_i = (
            mmr.withColumn("__rn", F.row_number().over(w_pick))
            .filter(F.col("__rn") == 1)
            .select(
                "query_id",
                "neighbor_id",
                "__cv",
                F.lit(i).alias("mmr_rank"),
            )
        )
        selected = selected.unionByName(pick_i)
        picks = picks.unionByName(
            pick_i.select("query_id", "neighbor_id", "mmr_rank")
        )
    return picks.select(
        "query_id", "neighbor_id", F.col("mmr_rank").cast("int").alias("mmr_rank")
    )


def rbo_report(
    ranking_a: DataFrame,
    ranking_b: DataFrame,
    *,
    query_column: str = "query_id",
    id_column: str = "neighbor_id",
    rank_column: str = "rank",
    depth: int = 10,
    p_ppm: int = 900_000,
) -> DataFrame:
    """Rank-Biased Overlap (Webber, Moffat & Zobel 2010, public
    construction) between two top-``depth`` rankings per query — the
    ORDER-aware agreement number recall can't give: two indexes with
    identical recall@10 can still rank those 10 differently, and RBO
    (top-weighted by persistence ``p``) is the standard way to say by
    how much. Compare an approximate index against the exact ranking,
    or two metrics (cosine vs L2) against each other, before shipping
    a reorder-sensitive consumer (dedup keep-first, RAG cutoffs).

    This is the fixed-depth prefix RBO, NORMALIZED by its own maximum
    ``1 − p^depth`` so identical lists score exactly 1: ``[(1−p) /
    (1 − p^depth)] Σ_{d=1..depth} p^(d−1) · |A_d ∩ B_d| / d`` (no
    extrapolation residual — both lists are materialized to the same
    depth by construction, and the truncation is normalized rather
    than estimated away).

    Determinism: overlaps are exact integers (an item enters at depth
    ``max(rank_a, rank_b)`` — one bounded equi-join, one census);
    ``p^(d−1)`` is rounded to 7 decimals (the transcendental recipe),
    each of the ≤ depth per-depth terms is one fixed-order double
    quantized ``floor(term·1e9+0.5)``, and the per-query sum is an
    order-free BIGINT. Queries on only one list get rbo of the empty
    intersection (0 overlap at every depth → 0).

    Output per query: (query_id, n_common, rbo_q9) — rbo_q9 ∈
    [0, ~1e9]; identical lists hit 1e9 up to per-term quantization
    (±depth in q9 units).
    """
    p = p_ppm / 1e6
    # (1e6-p_ppm)/1e6, NOT 1.0-p: the former is the correctly-rounded
    # double of the decimal (matching an engine parsing '0.1'); the
    # latter accumulates the 0.9-representation error. The combined
    # normalizing constant is ONE python double, repr-embeddable into
    # an engine mirror as a literal
    norm_const = (1_000_000 - p_ppm) / 1e6 / (1.0 - p ** depth)
    a = ranking_a.select(
        F.col(query_column).alias("query_id"),
        F.col(id_column).alias("__id"),
        F.col(rank_column).alias("__ra"),
    ).filter(F.col("__ra") <= depth)
    b = ranking_b.select(
        F.col(query_column).alias("query_id"),
        F.col(id_column).alias("__id"),
        F.col(rank_column).alias("__rb"),
    ).filter(F.col("__rb") <= depth)
    # full-outer on the query panel so one-list-only queries still report
    qspine = a.select("query_id").union(b.select("query_id")).distinct()
    common = a.join(b, ["query_id", "__id"]).select(
        "query_id",
        F.greatest(F.col("__ra"), F.col("__rb")).alias("__m"),
    )
    # each common item contributes to every depth d >= its entry depth m
    terms = common.select(
        "query_id",
        F.explode(
            F.sequence(F.col("__m"), F.lit(depth))
        ).alias("__d"),
    )
    per_d = terms.groupBy("query_id", "__d").agg(
        F.count(F.lit(1)).alias("__ov")
    )
    pw = F.round(
        F.pow(F.lit(p), (F.col("__d") - 1).cast("double")), 7
    )
    term_q9 = F.floor(
        F.lit(norm_const)
        * pw
        * F.col("__ov").cast("double")
        / F.col("__d").cast("double")
        * F.lit(1e9)
        + F.lit(0.5)
    )
    per_q = per_d.groupBy("query_id").agg(
        F.sum(term_q9).cast("long").alias("__rbo_q9"),
    )
    n_common = common.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    return (
        qspine.join(n_common, "query_id", "left")
        .join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_common", F.lit(0).cast("long")).alias("n_common"),
            F.coalesce("__rbo_q9", F.lit(0).cast("long")).alias("rbo_q9"),
        )
    )


def pq_encode_with_book(
    corpus: DataFrame,
    book: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
) -> DataFrame:
    """Encode vectors against a FROZEN PQ codebook — the production
    incremental pattern :func:`pq_train_encode` trains for: the
    codebook is learned once (offline, on yesterday's corpus or a
    sample) and every subsequent ingest batch encodes against it
    without retraining, so codes stay comparable across batches and
    the ADC LUTs built from the same book keep working. (Retraining
    per batch would silently re-key the code space — the vector-index
    analogue of changing a hash seed mid-table.)

    ``book`` is the model-sized ``(subspace, cluster_id, cvec)`` frame
    :func:`pq_train_encode` returns (or the same shape read back from
    storage). It is collected driver-side (m·k rows — model-sized by
    design) and compiled into per-subspace literal argmin folds, so the
    encode is ONE shuffle-free projection + explode over the batch:
    identical arithmetic (index-order squared-L2 fold, smallest-id
    tie-break) to the assignment inside training.

    Output: (id, subspace, code) — m rows per input vector.
    """
    rows = book.select("subspace", "cluster_id", "cvec").collect()
    if not rows:
        raise ValueError("pq_encode_with_book: empty codebook")
    books: dict[int, list] = {}
    sub_len: dict[int, int] = {}
    for r in rows:
        books.setdefault(r["subspace"], []).append(
            (r["cluster_id"], list(r["cvec"]))
        )
        sub_len[r["subspace"]] = len(r["cvec"])
    subspaces = sorted(books)
    if subspaces != list(range(len(subspaces))):
        raise ValueError(
            f"pq_encode_with_book: subspaces {subspaces} are not "
            f"contiguous 0..m-1"
        )
    xv = _as_double(F.col(vector_column))
    offsets = []
    off = 1
    for s in subspaces:
        offsets.append(off)
        off += sub_len[s]
    return corpus.select(
        F.col(id_column),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("subspace"),
                        _argmin_literal_expr(
                            F.slice(xv, offsets[s], sub_len[s]), books[s]
                        ).alias("code"),
                    )
                    for s in subspaces
                ]
            )
        ).alias("__e"),
    ).select(id_column, "__e.subspace", "__e.code")


def cluster_validity_report(
    corpus: DataFrame,
    *,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    k: int = 8,
    iterations: int = 1,
) -> DataFrame:
    """Davies-Bouldin and Calinski-Harabasz validity indices of the
    Lloyd partition (Davies & Bouldin PAMI'79 with the q=2 RMS scatter;
    Calinski & Harabasz '74) — the model-selection complement to
    :func:`silhouette_centroid_report`: silhouette grades each point,
    these grade the PARTITION (sweep k, pick the CH knee / DB valley).

    Definitions are taken on the final partition with its OWN means
    (the textbook forms): W = Σᵢ Σ_{x∈i} ‖x − μᵢ‖², B = Σᵢ nᵢ‖μᵢ − μ̄‖²,
    CH = (B/(k−1))/(W/(n−k)), DB = meanᵢ maxⱼ≠ᵢ (Sᵢ+Sⱼ)/Mᵢⱼ with
    Sᵢ = √(Wᵢ/nᵢ) and Mᵢⱼ = ‖μᵢ − μⱼ‖.

    Plan — exactly TWO corpus passes beyond training: deterministic
    Lloyd training (model-sized collect), one shuffle-free literal-fold
    assignment feeding (a) the partition means via the value-sorted
    :func:`group_centroids` fold (one (group, dim) exchange — the
    training update's own arithmetic, so the oracle replays it as one
    more Lloyd half-step) and (b) the per-cluster census of
    ``floor(‖x − μᵢ‖²·1e6+0.5)`` BIGINT sums over a broadcast join of
    the k-row means. The census ⋈ means frame is k rows — model-sized
    by construction — so it is COLLECTED and the k- and k²-sized
    arithmetic (global mean via ascending-sorted weighted folds,
    quantized B terms, the (Sᵢ+Sⱼ)/Mᵢⱼ max) finishes in the driver
    with the same fixed-order IEEE doubles the oracle's list_reduce
    folds use; the result returns as a one-row literal frame.
    Duplicate partition means (Mᵢⱼ = 0) drop from the max — a cluster
    with NO distinct-mean peer makes DB NULL (the honest answer); CH
    is NULL when n ≤ k or W = 0.

    Output one row: (n_points, k_clusters, within_ss_q6,
    between_ss_q6, ch_x3, db_q6).
    """
    import math

    xfull = corpus.select(
        F.col(id_column), _as_double(F.col(vector_column)).alias("__x")
    )
    cents = _lloyd_train_collect(
        xfull, id_column=id_column, k=k, iterations=iterations
    )
    if len(cents) < 2:
        raise ValueError(
            f"cluster_validity_report: {len(cents)} surviving "
            f"centroid(s); validity indices need at least 2"
        )
    assigned = xfull.select(
        _argmin_literal_expr(F.col("__x"), cents).alias("cluster_id"),
        F.col("__x"),
    ).persist()
    means = (
        group_centroids(assigned, "cluster_id", vector_column="__x")
        .groupBy("cluster_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid_v"))),
                lambda r: r["centroid_v"],
            ).alias("__mu")
        )
    )
    d2mu = F.aggregate(
        F.zip_with(
            F.col("__x"), F.col("__mu"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda s, t: s + t,
    )
    census = (
        assigned.join(F.broadcast(means), "cluster_id")
        .select(
            "cluster_id",
            F.floor(d2mu * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("__d6"),
        )
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__d6").alias("__w6"),
        )
    )
    # k rows — model-sized by construction (bounded by the centroid
    # count, like every other Lloyd model collect in this module)
    cm = census.join(means, "cluster_id").collect()
    assigned.unpersist()
    rows = sorted(
        (
            (r["cluster_id"], int(r["__n"]), int(r["__w6"]), list(r["__mu"]))
            for r in cm
        ),
        key=lambda t: t[0],
    )
    n_total = sum(n for _, n, _, _ in rows)
    kk = len(rows)
    w6 = sum(w for _, _, w, _ in rows)
    dim = len(rows[0][3])
    # global mean per dim: ascending-sorted weighted fold (the oracle's
    # list_sort + list_reduce arithmetic, bit-for-bit)
    gbar = []
    for j in range(dim):
        acc = 0.0
        for v in sorted(float(n) * mu[j] for _, n, _, mu in rows):
            acc += v
        gbar.append(acc / float(n_total))
    b6 = 0
    s_of = {}
    for cid, n, w, mu in rows:
        acc = 0.0
        for j in range(dim):
            d = mu[j] - gbar[j]
            acc += d * d
        b6 += math.floor(float(n) * acc * 1e6 + 0.5)
        s_of[cid] = math.sqrt(w / 1e6 / float(n))
    db_q6 = None
    rmaxes = []
    ok_db = True
    for cid_i, _, _, mu_i in rows:
        best = None
        for cid_j, _, _, mu_j in rows:
            if cid_j == cid_i:
                continue
            acc = 0.0
            for j in range(dim):
                d = mu_i[j] - mu_j[j]
                acc += d * d
            if acc == 0.0:
                continue
            r6 = math.floor(
                (s_of[cid_i] + s_of[cid_j]) / math.sqrt(acc) * 1e6 + 0.5
            )
            best = r6 if best is None or r6 > best else best
        if best is None:
            ok_db = False
            break
        rmaxes.append(best)
    if ok_db:
        db_q6 = math.floor(sum(rmaxes) / float(kk) + 0.5)
    ch_x3 = None
    if n_total > kk and w6 > 0 and kk > 1:
        ch_x3 = (b6 * (n_total - kk) * 1000) // (w6 * (kk - 1))
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(n_total, kk, w6, b6, ch_x3, db_q6)],
        "n_points bigint, k_clusters bigint, within_ss_q6 bigint,"
        " between_ss_q6 bigint, ch_x3 bigint, db_q6 bigint",
    )
