"""Multimodal column handling (north-star extension; SURVEY.md §2.6):
opaque binary payloads + typed metadata, decode/feature-extract as
Arrow-batched Python stages.

The container has no image/audio codecs, so the *decode* step is a
deterministic fake (documented below) — but the Spark-side plumbing
is real: binary columns flow through the plan as `BinaryType`,
metadata is typed, and the Python stage is `mapInPandas` (Arrow
batches, not per-row UDFs), with an explicit output schema. Swapping
the fake decoder for PIL/ffmpeg changes one function body, none of
the dataflow.

Scale posture: binary payloads never shuffle here — ingest and
feature extraction are narrow per-partition maps; only the small
extracted-feature rows would ever move. mapInPandas streams Arrow
record batches, so executor memory is bounded by batch size
(spark.sql.execution.arrow.maxRecordsPerBatch), not file size.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..data import derived, load_table
from ..registry import query

FRAME_BYTES = 16  # fake "frame" width for the frame-sampling stage
FRAME_STRIDE = 4  # keep every 4th frame


@query(
    "mm_binary_ingest",
    oracle="""
    -- md5(VARCHAR) hashes the utf-8 bytes == md5 of the payload blob
    SELECT doc_id AS asset_id,
           'text/plain' AS content_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           CAST(octet_length(encode(text)) // 16 AS BIGINT) AS n_frames
    FROM documents
    """,
    tags=("multimodal", "ingest"),
)
def mm_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal ingest shape: payload as an opaque binary column +
    typed metadata (content type, byte length, checksum, frame
    count). The payload here is the utf-8 encoding of the document
    text — a stand-in for image/audio bytes with identical plumbing."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    return d.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text/plain").alias("content_type"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("content_md5"),
        F.floor(F.octet_length(payload) / FRAME_BYTES).cast("long").alias("n_frames"),
    )


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("max_byte", T.LongType()),
        T.StructField("fake_width", T.LongType()),
        T.StructField("fake_height", T.LongType()),
    ]
)


def _decode_image(payload: bytes) -> tuple[int, int]:
    """STUB decoder. A real build calls PIL.Image.open here; the
    container has no codecs, so dimensions are derived
    deterministically from the payload (width = first byte + 1,
    height = ceil(n/width)) to keep the pipeline testable."""
    width = (payload[0] if payload else 0) + 1
    height = -(-len(payload) // width)
    return width, height


def _extract_features(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: one Arrow batch in, one feature frame out.
    Vectorized over the batch; per-asset work is pure bytes math."""
    for pdf in batches:
        rows = []
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            b = bytes(payload)
            w, h = _decode_image(b)
            rows.append(
                {
                    "asset_id": int(asset_id),
                    "n_bytes": len(b),
                    "mean_byte": (sum(b) / len(b)) if b else 0.0,
                    "max_byte": max(b) if b else 0,
                    "fake_width": w,
                    "fake_height": h,
                }
            )
        yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])


@query(
    "mm_feature_extract",
    oracle="""
    -- corpus is pure ASCII (verified: octet_length(encode(text)) =
    -- length(text) for every row), so char ops below are byte-exact
    SELECT doc_id AS asset_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(list_reduce(list_transform(range(1, length(text) + 1),
                    i -> CAST(ord(substring(text, i, 1)) AS BIGINT)),
                (a, x) -> a + x) AS DOUBLE) / length(text) AS mean_byte
    FROM documents
    """,
    tags=("multimodal", "features"),
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via mapInPandas
    (Arrow-batched; the decode itself is the documented stub).
    Projected to the byte-statistics columns the oracle can also
    compute, so even the Python stage is differentially checked."""
    d = load_table(spark, sf_dir, "documents")
    assets = d.select(
        F.col("doc_id").alias("asset_id"), F.encode("text", "utf-8").alias("payload")
    )
    feats = assets.mapInPandas(_extract_features, schema=FEATURE_SCHEMA)
    return feats.select("asset_id", "n_bytes", "mean_byte")


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_md5", T.StringType()),
        T.StructField("frame_bytes", T.LongType()),
    ]
)


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: split each payload into FRAME_BYTES-wide
    'frames' and keep every FRAME_STRIDE-th — the video frame-sampling
    access pattern (decode is the same documented stub)."""
    import hashlib

    for pdf in batches:
        rows = []
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            b = bytes(payload)
            n_frames = len(b) // FRAME_BYTES
            for idx in range(0, n_frames, FRAME_STRIDE):
                frame = b[idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES]
                rows.append(
                    {
                        "asset_id": int(asset_id),
                        "frame_idx": idx,
                        "frame_md5": hashlib.md5(frame).hexdigest(),
                        "frame_bytes": len(frame),
                    }
                )
        yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA.fields])


@query(
    "mm_frame_sample",
    oracle=f"""
    -- ASCII corpus: char-indexed substring = byte-indexed slice, and
    -- md5(VARCHAR) hashes the utf-8 bytes, so frames match the
    -- Python-side bytes exactly
    WITH f AS (
        SELECT doc_id AS asset_id,
               unnest(range(0, length(text) // {FRAME_BYTES},
                            {FRAME_STRIDE})) AS frame_idx,
               text
        FROM documents
    )
    SELECT asset_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           md5(substring(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES}))
             AS frame_md5,
           CAST({FRAME_BYTES} AS BIGINT) AS frame_bytes
    FROM f
    """,
    tags=("multimodal", "frames"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: every 4th 16-byte 'frame' of each payload,
    fingerprinted — a flat-map from assets to frames executed in
    Arrow batches. The oracle recomputes the same frames with
    substring arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    assets = d.select(
        F.col("doc_id").alias("asset_id"), F.encode("text", "utf-8").alias("payload")
    )
    return assets.mapInPandas(_sample_frames, schema=FRAME_SCHEMA)


N_BINARY_FILES = 16  # staged asset files for the binaryFile source


def stage_binary_assets(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the first N document payloads as real files on
    disk — the stand-in for an object-store asset bucket — so the
    binaryFile source reads actual file bytes. A shared derived dir
    (data.derived): a rewritten table never reuses stale files."""

    def build(path: str) -> None:
        rows = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < N_BINARY_FILES)
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            with open(os.path.join(path, f"doc_{r['doc_id']}.bin"), "wb") as f:
                f.write(r["text"].encode("utf-8"))

    return derived(spark, sf_dir, "assets", ("documents",), build)


@query(
    "mm_binaryfile_source",
    oracle=f"""
    -- the staged files are byte-for-byte the utf-8 document texts,
    -- so the oracle derives the same (name, size, md5) from the table
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS file_name,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < {N_BINARY_FILES}
    """,
    tags=("multimodal", "source", "binary"),
)
def mm_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's ``binaryFile`` source (S-family coverage): whole-file
    ingestion of opaque assets — path, length, and raw content bytes
    per file — the standard entry point for image/audio corpora.
    Emits (file name, byte count, payload md5); modification time is
    excluded (wall-clock, not content-derived). At scale the path is
    an object-store glob and `pathGlobFilter`/`recursiveFileLookup`
    shard the listing; content bytes stay partition-local exactly as
    in mm_binary_ingest."""
    staging = stage_binary_assets(spark, sf_dir)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(staging)
    )
    return files.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


CHUNK_BYTES = 64


@query(
    "mm_payload_chunk_manifest",
    oracle=f"""
    -- payloads are ASCII (synthetic vocab), so character substring
    -- == byte slicing and md5(VARCHAR) == md5 of the chunk bytes
    WITH base AS (
        SELECT doc_id AS asset_id, text,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
    ),
    chunks AS (
        SELECT asset_id, n_bytes, i.i AS chunk_idx,
               CAST(i.i * {CHUNK_BYTES} AS BIGINT) AS offset_bytes,
               substring(text, CAST(i.i * {CHUNK_BYTES} + 1 AS BIGINT),
                         {CHUNK_BYTES}) AS chunk
        FROM base,
             unnest(range(0, CAST((n_bytes + {CHUNK_BYTES} - 1)
                                  // {CHUNK_BYTES} AS BIGINT))) AS i(i)
    )
    SELECT asset_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, offset_bytes,
           CAST(octet_length(encode(chunk)) AS BIGINT) AS chunk_bytes,
           md5(chunk) AS chunk_md5,
           CAST(count(*) OVER (PARTITION BY asset_id) AS BIGINT) AS n_chunks,
           CAST(sum(octet_length(encode(chunk)))
                OVER (PARTITION BY asset_id) AS BIGINT) AS reassembled_bytes
    FROM chunks
    ORDER BY asset_id, chunk_idx
    """,
    tags=("multimodal", "chunking", "manifest", "engine-addition"),
)
def mm_payload_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk manifest for large binary payloads — the unit of
    parallelism for blob processing (chunked upload, parallel
    decode, content-defined dedup all start here): fixed 64-byte
    chunks with offset, length and per-chunk checksum, plus the
    reassembly accounting (chunk count and summed bytes per asset)
    that proves the split is lossless. The payload is the ASCII text
    stand-in, so character slicing equals byte slicing on both
    engines and the manifest is fully oracle-checked.

    Scale: chunking is a narrow per-partition flat map (explode over
    the chunk-index sequence) — payload bytes never shuffle; only
    manifest rows (checksums + offsets) move, and the reassembly
    windows run per asset on its chunk rows. Real blobs swap the
    substring for a binary slice; the dataflow is unchanged."""
    base = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("asset_id"),
        "text",
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
    )
    chunks = base.select(
        "asset_id",
        "n_bytes",
        "text",
        F.explode(
            F.sequence(
                F.lit(0),
                F.expr(f"CAST((n_bytes + {CHUNK_BYTES} - 1) div {CHUNK_BYTES}"
                       " - 1 AS INT)"),
            )
        ).alias("chunk_idx"),
    ).select(
        "asset_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        (F.col("chunk_idx").cast("bigint") * CHUNK_BYTES).alias(
            "offset_bytes"
        ),
        F.expr(
            f"substring(text, chunk_idx * {CHUNK_BYTES} + 1, {CHUNK_BYTES})"
        ).alias("chunk"),
    )
    wasset = Window.partitionBy("asset_id")
    out = chunks.select(
        "asset_id",
        "chunk_idx",
        "offset_bytes",
        F.octet_length(F.encode("chunk", "utf-8"))
        .cast("bigint")
        .alias("chunk_bytes"),
        F.md5(F.encode("chunk", "utf-8")).alias("chunk_md5"),
        F.count("*").over(wasset).cast("bigint").alias("n_chunks"),
        F.sum(F.octet_length(F.encode("chunk", "utf-8")))
        .over(wasset)
        .cast("bigint")
        .alias("reassembled_bytes"),
    )
    return out.orderBy("asset_id", "chunk_idx")


# aHash expressions are generated, not hand-written: byte j of the
# 16-byte frame sets bit j-1 when 16*byte > sum(bytes) (strict
# cross-multiplied "above the frame mean"). Shared verbatim by both
# engines — ascii()/substring() agree on single-byte semantics here
# because the payload is utf-8 of ASCII-range synthetic text.
_AHASH_TOT = "ascii(substring(f, 1, 1)) + ascii(substring(f, 2, 1)) + ascii(substring(f, 3, 1)) + ascii(substring(f, 4, 1)) + ascii(substring(f, 5, 1)) + ascii(substring(f, 6, 1)) + ascii(substring(f, 7, 1)) + ascii(substring(f, 8, 1)) + ascii(substring(f, 9, 1)) + ascii(substring(f, 10, 1)) + ascii(substring(f, 11, 1)) + ascii(substring(f, 12, 1)) + ascii(substring(f, 13, 1)) + ascii(substring(f, 14, 1)) + ascii(substring(f, 15, 1)) + ascii(substring(f, 16, 1))"
_AHASH_BITS = "(CASE WHEN 16 * ascii(substring(f, 1, 1)) > tot THEN 1 ELSE 0 END) + (CASE WHEN 16 * ascii(substring(f, 2, 1)) > tot THEN 2 ELSE 0 END) + (CASE WHEN 16 * ascii(substring(f, 3, 1)) > tot THEN 4 ELSE 0 END) + (CASE WHEN 16 * ascii(substring(f, 4, 1)) > tot THEN 8 ELSE 0 END) + (CASE WHEN 16 * ascii(substring(f, 5, 1)) > tot THEN 16 ELSE 0 END) + (CASE WHEN 16 * ascii(substring(f, 6, 1)) > tot THEN 32 ELSE 0 END) + (CASE WHEN 16 * ascii(substring(f, 7, 1)) > tot THEN 64 ELSE 0 END) + (CASE WHEN 16 * ascii(substring(f, 8, 1)) > tot THEN 128 ELSE 0 END) + (CASE WHEN 16 * ascii(substring(f, 9, 1)) > tot THEN 256 ELSE 0 END) + (CASE WHEN 16 * ascii(substring(f, 10, 1)) > tot THEN 512 ELSE 0 END) + (CASE WHEN 16 * ascii(substring(f, 11, 1)) > tot THEN 1024 ELSE 0 END) + (CASE WHEN 16 * ascii(substring(f, 12, 1)) > tot THEN 2048 ELSE 0 END) + (CASE WHEN 16 * ascii(substring(f, 13, 1)) > tot THEN 4096 ELSE 0 END) + (CASE WHEN 16 * ascii(substring(f, 14, 1)) > tot THEN 8192 ELSE 0 END) + (CASE WHEN 16 * ascii(substring(f, 15, 1)) > tot THEN 16384 ELSE 0 END) + (CASE WHEN 16 * ascii(substring(f, 16, 1)) > tot THEN 32768 ELSE 0 END)"


@query(
    "mm_frame_dedup_ahash",
    oracle=f"""
    WITH frames AS (
        SELECT doc_id,
               unnest(range(1, CAST(length(text) // 16 AS BIGINT) + 1))
                   AS fi
        FROM documents
    ),
    cut AS (
        SELECT f.doc_id, f.fi,
               substring(d.text, CAST((f.fi - 1) * 16 + 1 AS BIGINT), 16)
                   AS f
        FROM frames f JOIN documents d ON d.doc_id = f.doc_id
    ),
    hashed AS (
        SELECT doc_id, fi,
               (SELECT {_AHASH_BITS}
                FROM (SELECT CAST({_AHASH_TOT} AS BIGINT) AS tot) t)
                   AS ahash
        FROM cut
    )
    SELECT CAST(ahash AS BIGINT) AS ahash,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_assets,
           CAST(min(doc_id) AS BIGINT) AS canonical_asset
    FROM hashed
    GROUP BY 1
    HAVING count(*) > 1
    ORDER BY n_frames DESC, ahash
    LIMIT 20
    """,
    tags=("multimodal", "dedup", "perceptual-hash", "engine-addition"),
)
def mm_frame_dedup_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual frame dedup via average-hash — the multimodal
    dedup primitive: every 16-byte "frame" of each asset's payload
    (the same fake-frame convention as mm_frame_sample) hashes to a
    16-bit aHash whose bit j is set when byte j is strictly above the
    frame mean — stated division-free as 16*byte > sum(bytes). Equal
    hashes across assets are near-duplicate frames; the report lists
    the 20 most-repeated hashes with their spread (n_assets) and a
    canonical exemplar. A real build swaps byte-mean for a decoded
    luma grid at exactly this expression seam; the dataflow (chunk,
    hash, group, rank) is the production shape.

    Scale shape: frame explosion is a narrow generate (no shuffle);
    one map-side-combined aggregate on the 16-bit hash space — the
    group count is bounded by 65536 regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    cut = d.selectExpr(
        "doc_id",
        "explode(sequence(CAST(1 AS BIGINT),"
        " CAST(length(text) div 16 AS BIGINT))) AS fi",
        "text",
    ).selectExpr(
        "doc_id", "substring(text, CAST((fi - 1) * 16 + 1 AS INT), 16) AS f"
    )
    hashed = cut.selectExpr(
        "doc_id", f"CAST({_AHASH_TOT} AS BIGINT) AS tot", "f"
    ).selectExpr("doc_id", f"{_AHASH_BITS} AS ahash")
    return (
        hashed.groupBy("ahash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_frames"),
            F.countDistinct("doc_id").cast("bigint").alias("n_assets"),
            F.min("doc_id").cast("bigint").alias("canonical_asset"),
        )
        .where(F.col("n_frames") > 1)
        .selectExpr(
            "CAST(ahash AS BIGINT) AS ahash", "n_frames", "n_assets",
            "canonical_asset",
        )
        .orderBy(F.desc("n_frames"), "ahash")
        .limit(20)
    )
