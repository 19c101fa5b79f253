"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Beyond-reference surface (BASELINE.json north star). Media payloads ride as
``binary`` columns with a typed metadata struct; decode and feature-extract
run as Arrow-batched ``mapInPandas`` operators so the Spark-side plumbing
(schema, batch shape) is real and tested even though the actual codecs are
stubbed in this environment (image/audio libraries are not installed — see
``decode_image``).

Scale notes: binary payloads dominate row size, so metadata-only transforms
(resize planning, frame planning) never touch the payload column (column
pruning keeps the binary out of the scan).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

def attach_media_column(
    df: DataFrame, source_column: str, *, media_type: str = "image/fake"
) -> DataFrame:
    """Wrap a column's bytes as an opaque media payload + metadata struct.

    In production the binary comes from the source parquet; here text bytes
    stand in so the full pipeline is exercisable on the synthetic tables.
    """
    content = F.encode(F.col(source_column), "utf-8")
    return df.withColumn("content", content).withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.length(content).cast("long").alias("n_bytes"),
            F.md5(content).alias("checksum"),
        ),
    )


def decode_image(df: DataFrame, *, content_column: str = "content") -> DataFrame:
    """Decode image payloads into (width, height, mode) features.

    STUB: real decoding needs an image library that is not installed in
    this container. The Arrow/mapInPandas plumbing below is the real,
    tested path; the decode itself raises so nobody mistakes the stub for
    a codec. Use ``fake_decode_image`` for end-to-end pipeline tests.
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        raise NotImplementedError(
            "image decoding requires PIL/opencv, not available in this environment;"
            " use fake_decode_image for pipeline tests"
        )

    schema = f"{', '.join(f'{f.name} {f.dataType.simpleString()}' for f in df.schema)}," \
             " width int, height int, mode string"
    return df.mapInPandas(_decode, schema=schema)


def fake_decode_image(df: DataFrame, *, content_column: str = "content") -> DataFrame:
    """Deterministic stand-in decoder: derives (width, height, mode) from the
    payload bytes. Same mapInPandas/Arrow batch shape as the real decoder."""

    out_fields = [f for f in df.schema.fields if f.name != content_column]
    schema = T.StructType(
        out_fields
        + [
            T.StructField("width", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
            T.StructField("mode", T.StringType(), False),
        ]
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = pdf[content_column]
            n = content.map(len)
            out = pdf.drop(columns=[content_column]).assign(
                width=(n % 640 + 1).astype("int32"),
                height=(n % 480 + 1).astype("int32"),
                mode=["RGB" if ln % 2 == 0 else "L" for ln in n],
            )
            yield out

    return df.mapInPandas(_decode, schema=schema)


def resize_image_meta(
    df: DataFrame, *, max_width: int = 256, max_height: int = 256
) -> DataFrame:
    """Resize planning: compute per-image target dims preserving aspect
    ratio, JVM-side (no payload touch — pure metadata math). The actual
    pixel resample would run inside the decode ``mapInPandas`` using these
    columns; planning stays a codegen'd projection so a 100 TB catalog scan
    never deserializes a byte of image data."""
    w, h = F.col("width"), F.col("height")
    scale = F.least(
        F.lit(max_width) / w.cast("double"),
        F.lit(max_height) / h.cast("double"),
        F.lit(1.0),
    )
    return df.withColumn("target_width", F.greatest(F.floor(w * scale), F.lit(1)).cast("int")) \
             .withColumn("target_height", F.greatest(F.floor(h * scale), F.lit(1)).cast("int"))


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("duration_s", T.DoubleType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("rms", T.DoubleType(), False),
    ]
)


def fake_extract_audio_features(
    df: DataFrame, *, content_column: str = "content", id_column: str = "doc_id"
) -> DataFrame:
    """Deterministic stand-in audio feature extractor (duration / sample
    rate / RMS) over Arrow batches — the mapInPandas shape a real
    librosa/ffmpeg extractor would use (those libs are not installed here;
    a real deployment swaps the body, not the plumbing)."""

    out_fields = [f for f in df.schema.fields if f.name != content_column]
    schema = T.StructType(out_fields + list(AUDIO_FEATURES_SCHEMA.fields))

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = pdf[content_column]
            n = content.map(len)
            yield pdf.drop(columns=[content_column]).assign(
                duration_s=(n / 16_000.0).astype("float64"),
                sample_rate=16_000,
                rms=[
                    (sum(b) / (255.0 * max(len(b), 1))) if len(b) else 0.0
                    for b in content
                ],
            )

    return df.mapInPandas(_extract, schema=schema)


def uniform_frame_plan(
    df: DataFrame,
    *,
    duration_column: str = "duration_s",
    fps_column: str = "fps",
    samples: int = 8,
    id_column: str = "doc_id",
) -> DataFrame:
    """Uniform temporal frame-sampling plan for video payloads: the
    standard center-of-strata rule ``frame_j = floor((j + 0.5)/k ·
    total_frames)`` for ``j in [0, k)`` — k frames spread evenly across
    the clip, never the degenerate endpoints-only pick. Pure metadata
    math (duration × fps), JVM-side, one projection + explode: a 100 TB
    video catalog scan plans every decode without touching a byte of
    payload; the per-frame decode plugs in as ``mapInPandas`` over the
    exploded rows.

    Clips shorter than one frame (total_frames == 0) plan nothing.
    ``frame_ms`` is the frame's integer millisecond timestamp
    (``floor(frame_index * 1000.0 / fps)`` — computed in double so
    fractional NTSC rates like 29.97/23.976 seek correctly instead of
    truncating to 29/23; the seek argument a decoder wants). A
    non-positive fps yields NULL frame_ms rather than an ANSI
    divide-by-zero. Duplicate indices are NOT collapsed — the
    ordinal → frame mapping stays k-row-stable for downstream
    feature tensors of fixed shape.

    Output: input columns + (sample_ordinal, total_frames, frame_index,
    frame_ms).
    """
    total = F.floor(
        F.col(duration_column).cast("double")
        * F.col(fps_column).cast("double")
    ).cast("long")
    planned = df.withColumn("total_frames", total).filter(
        F.col("total_frames") > 0
    )
    exploded = planned.withColumn(
        "sample_ordinal",
        F.explode(F.sequence(F.lit(0), F.lit(samples - 1))),
    )
    idx = F.floor(
        (F.col("sample_ordinal").cast("double") + F.lit(0.5))
        / F.lit(float(samples))
        * F.col("total_frames").cast("double")
    ).cast("long")
    out = exploded.withColumn(
        "frame_index", F.least(idx, F.col("total_frames") - 1)
    )
    # Double-division (not integer DIV): fractional fps must not truncate
    # (29.97 → 29 is ~3% seek drift) and fps < 1 must not DIV-by-zero
    # under ANSI. frame_index*1000 is exact in double (< 2^53), so
    # floor(a/b) is one IEEE op — deterministic on any engine.
    return out.withColumn(
        "frame_ms",
        F.when(
            F.col(fps_column).cast("double") > 0,
            F.floor(
                F.col("frame_index").cast("double")
                * F.lit(1000.0)
                / F.col(fps_column).cast("double")
            ).cast("long"),
        ),
    )


def ahash_signatures(
    df: DataFrame,
    id_column: str = "doc_id",
    *,
    content_column: str = "content",
    bits: int = 60,
) -> DataFrame:
    """Average-hash (aHash) perceptual signature of a binary media
    payload — the classic image near-dup fingerprint (public
    construction: downsample to a tiny grayscale grid, set bit j when
    pixel j is brighter than the grid mean). Two re-encodes of the
    same image differ byte-wise but hash to small Hamming distances;
    exact byte dedup misses them, aHash catches them.

    The "grid" here is a deterministic byte resample — sample byte
    ``(j·n) DIV bits`` for j in 0..bits−1 via hex-slice arithmetic —
    because no image codec exists in this container (the
    :func:`decode_image` stub contract): REAL algorithm, REAL banding,
    faked pixel source, exactly like :func:`fake_decode_image`. With a
    codec, swap the byte resample for the decoded 8×8 luma grid; every
    downstream stage is unchanged.

    Portable 60-bit signatures (the :func:`~pyspark_playground_spark.
    operators.dedup.simhash_expr` ``portable`` convention: 4×15-bit
    chunks, no engine hits a 1<<63 overflow). Everything is integer
    arithmetic on JVM-side expressions — no UDF: hex slices → 60
    sampled bytes, exact integer mean comparison ``pixel·bits > Σ``,
    one fold packs the bits. Empty payloads are dropped up front
    (nothing to sample).

    Output: (id_column, simhash) — named to feed the shared simhash
    chunk-bucket pair machinery verbatim.
    """
    if bits % 4 != 0 or bits > 60:
        raise ValueError(f"bits must be <= 60 and chunkable by 4: {bits}")
    n = F.length(F.col(content_column)).cast("long")
    # byte index (j*n) DIV bits, as floor((j*n)/bits) — exact for
    # j*n < 2^53 and, unlike a raw double->int cast, truncation-vs-
    # rounding-portable across engines.
    #
    # The byte is sliced from the BINARY payload and only that one byte
    # is hex-decoded: hex(substr(content, i+1, 1)) == the original
    # substr(hex(content), 2i+1, 2) bit-for-bit, but the per-element
    # work is O(1). Hexing the whole payload inside this lambda was
    # O(payload) PER SAMPLE — higher-order-function lambdas re-evaluate
    # every subexpression per element (no codegen/CSE inside transform),
    # so each row paid 60 full-payload hex encodes (measured: the
    # sampled-pixel projection's noop wall at sf0.1 drops 0.75 s →
    # 0.22 s, ~3.4×, same session back-to-back).
    px = F.transform(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        lambda j: F.conv(
            F.hex(
                F.substr(
                    F.col(content_column),
                    F.floor(j.cast("long") * n / F.lit(float(bits)))
                    .cast("long")
                    + F.lit(1),
                    F.lit(1),
                )
            ),
            16,
            10,
        ).cast("long"),
    )
    t = df.filter(
        F.col(id_column).isNotNull() & (n > 0)
    ).select(
        F.col(id_column),
        px.alias("__px"),
    )
    s = F.aggregate(
        F.col("__px"), F.lit(0).cast("long"), lambda a, x: a + x
    )
    # Horner bit-pack, highest bit first: acc*2 + bit — no shift
    # operators, pure exact integer arithmetic (< 2^60, no overflow)
    sig = F.aggregate(
        F.sequence(F.lit(bits - 1), F.lit(0), F.lit(-1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc * F.lit(2).cast("long")
        + F.when(
            F.element_at(F.col("__px"), j.cast("int") + F.lit(1))
            * F.lit(bits)
            > F.col("__s"),
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return t.withColumn("__s", s).select(
        id_column, sig.alias("simhash")
    )


def ahash_near_dup_pairs(
    df: DataFrame,
    id_column: str = "doc_id",
    *,
    content_column: str = "content",
    max_hamming: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Perceptual near-duplicate pairs over binary media payloads:
    :func:`ahash_signatures` + the shared simhash chunk-bucket
    machinery (pigeonhole over 4×15-bit chunks — recall is exactly 1
    at ``max_hamming ≤ 3``; larger thresholds are candidate-limited,
    the standard LSH banding envelope). Never all-pairs: candidates
    share a chunk bucket, verified with one ``bit_count(xor)``.

    Output: (id_a, id_b, hamming).
    """
    from pyspark_playground_spark.operators.dedup import (
        _materialize,
        _simhash_pairs_from_sigs,
    )

    # materialize once: the signature is a large fold expression and the
    # chunk explode + a/b self-join would re-inline it ~10x per row (the
    # simhash_dedup_pairs rationale)
    sigs = _materialize(
        ahash_signatures(
            df, id_column, content_column=content_column, bits=60
        ),
        checkpoint_dir,
    )
    return _simhash_pairs_from_sigs(
        sigs, id_column, chunk_bits=15, max_hamming=max_hamming
    )


def incremental_ahash_pairs(
    existing_signatures: DataFrame,
    new_media: DataFrame,
    id_column: str = "doc_id",
    *,
    content_column: str = "content",
    max_hamming: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Incremental perceptual near-dup for a media INGEST batch — the
    ``incremental_simhash_pairs`` pattern over :func:`ahash_signatures`:
    only the NEW payloads are hashed, signatures persisted from prior
    batches (``(id, simhash)`` as :func:`ahash_signatures` writes them)
    are reused, and only pairs touching a new item are emitted. No
    payload is ever re-decoded — the verify is ``bit_count(xor)`` over
    the signatures, which is the whole point of shipping the signature
    table as a first-class artifact of the ingest pipeline.
    """
    from pyspark_playground_spark.operators.dedup import (
        _materialize,
        _simhash_pairs_from_sigs,
    )

    sigs_new = _materialize(
        ahash_signatures(
            new_media, id_column, content_column=content_column, bits=60
        ),
        checkpoint_dir,
    )
    # re-ingest safety: an id appearing in BOTH sides would otherwise
    # carry two signatures (one stale) and emit contradictory pairs —
    # the new batch's signature wins
    sigs = _materialize(
        existing_signatures.join(
            new_media.select(id_column), id_column, "left_anti"
        ).unionByName(sigs_new),
        checkpoint_dir,
    )
    # active-bucket pruning (see _simhash_pairs_from_sigs): the
    # candidate join touches only chunk buckets containing a new
    # signature — identical new-touching output, O(batch) per increment
    pairs = _simhash_pairs_from_sigs(
        sigs, id_column, chunk_bits=15, max_hamming=max_hamming,
        active_sigs=sigs_new,
    )
    new_ids = new_media.select(id_column)
    return (
        pairs.join(
            new_ids.select(F.col(id_column).alias("id_a")).withColumn(
                "__na", F.lit(True)
            ),
            "id_a",
            "left",
        )
        .join(
            new_ids.select(F.col(id_column).alias("id_b")).withColumn(
                "__nb", F.lit(True)
            ),
            "id_b",
            "left",
        )
        .where(F.col("__na").isNotNull() | F.col("__nb").isNotNull())
        .select("id_a", "id_b", "hamming")
    )
