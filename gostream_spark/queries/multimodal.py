"""L9 multimodal-column queries (SURVEY.md §2.8): binary payload +
typed metadata, metadata-only pruning, and the decode/feature-extract
path over ``mapInPandas``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gostream_spark.io import load_spread, load_table
from gostream_spark.operators.multimodal import (
    decode_features,
    decode_features_arrow,
    pack_payload,
)
from gostream_spark.registry import register

_L9_DECODE_ORACLE = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_bytes,
       CAST(ascii(substr(text, 1, 1)) + ascii(substr(text, 2, 1))
            + ascii(substr(text, 3, 1)) + ascii(substr(text, 4, 1)) AS BIGINT)
         AS head_checksum,
       CAST(length(text) // 100 + 1 AS BIGINT) AS frames_sampled
FROM documents
"""


@register("multimodal_decode_features", oracle=_L9_DECODE_ORACLE, tags=("L9", "U1"))
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9: pack text as an opaque binary payload with typed metadata,
    then run the (stubbed) decoder via mapInPandas. The fixture text
    is ASCII, so byte length == char length and the first-4-bytes
    checksum equals the ascii sum the oracle computes — the decode
    plumbing (binary schema, Arrow batches, partition inheritance) is
    the real thing; only the codec itself is a stand-in."""
    docs = load_spread(spark, sf_dir)
    packed = docs.select(
        "doc_id",
        pack_payload(
            F.col("text"), F.col("lang"), F.col("source"), F.col("n_chars")
        ).alias("mm"),
    ).select("doc_id", F.col("mm.payload").alias("payload"))
    return decode_features(packed)


@register("multimodal_decode_arrow", oracle=_L9_DECODE_ORACLE, tags=("L9", "U1"))
def multimodal_decode_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9 Arrow-native twin of multimodal_decode_features: identical
    decode contract via ``mapInArrow`` — payload bytes stay in Arrow
    buffers through the worker (head checksum is a numpy reduceat over
    the raw data buffer), where the pandas path would materialize
    every blob as a Python bytes object. Same exact oracle."""
    docs = load_spread(spark, sf_dir)
    packed = docs.select(
        "doc_id",
        pack_payload(
            F.col("text"), F.col("lang"), F.col("source"), F.col("n_chars")
        ).alias("mm"),
    ).select("doc_id", F.col("mm.payload").alias("payload"))
    return decode_features_arrow(packed)


_L9_META_ORACLE = """
SELECT lang AS meta_lang, count(*) AS doc_cnt,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


@register("multimodal_metadata_stats", oracle=_L9_META_ORACLE, tags=("L9", "F6"))
def multimodal_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9: metadata-only aggregation over packed multimodal rows —
    Catalyst prunes the struct access to the meta fields, so the
    binary payload column is never deserialized (at 100 TB this is the
    difference between scanning kilobytes and scanning the blobs)."""
    docs = load_table(spark, sf_dir, "documents")
    packed = docs.select(
        pack_payload(F.col("text"), F.col("lang"), F.col("source"), F.col("n_chars")).alias(
            "mm"
        )
    )
    return packed.groupBy(F.col("mm.meta.lang").alias("meta_lang")).agg(
        F.count(F.lit(1)).alias("doc_cnt"),
        F.sum("mm.meta.n_chars").alias("total_chars"),
    )


_L9_FRAMES_ORACLE = """
WITH v AS (
  SELECT doc_id, n_chars * 10 AS duration_ms, n_chars // 4 AS n_frames
  FROM documents),
s AS (
  SELECT doc_id, duration_ms, n_frames,
         greatest(1, n_frames // 8) AS step
  FROM v),
f AS (
  SELECT doc_id, duration_ms,
         unnest(range(0, n_frames, step)[1:8]) AS frame_no
  FROM s)
SELECT doc_id, CAST(duration_ms AS BIGINT) AS duration_ms,
       CAST(frame_no AS BIGINT) AS frame_no,
       CAST(frame_no * 40 AS BIGINT) AS frame_ts_ms
FROM f
"""


@register("multimodal_frame_sample", oracle=_L9_FRAMES_ORACLE, tags=("L9", "ext"))
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9 ext: video frame sampling — the metadata-side half of a
    frame-extraction pipeline. Each doc models a clip (duration_ms =
    n_chars×10 at 25 fps); the query plans WHICH frames to decode
    (uniform stride, ≤8 frames/clip, exact frame timestamps) as pure
    integer arithmetic over the metadata, then explodes to one row
    per planned frame. The actual pixel decode would map these rows
    through the `decode_features`-style mapInPandas stage; planning
    frames from metadata FIRST means the decoder touches only the
    sampled offsets — at 100 TB of video you never read the payload
    bytes of unsampled frames. All JVM-side, no payload access, no
    codec dependency."""
    docs = load_table(spark, sf_dir, "documents")
    n_frames = F.expr("n_chars div 4")
    step = F.greatest(F.lit(1).cast("long"), F.expr("(n_chars div 4) div 8"))
    v = docs.select(
        "doc_id",
        (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        # Degenerate-size guard (same class as the chunk manifest):
        # n_frames == 0 would make sequence(0, -1, +step) THROW on a
        # positive step against a descending range — zero-length clips
        # plan zero frames, matching the oracle's empty range(0, 0).
        F.when(
            n_frames > 0,
            F.slice(F.sequence(F.lit(0).cast("long"), n_frames - 1, step), 1, 8),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("frames"),
    )
    return v.select(
        "doc_id",
        "duration_ms",
        F.explode("frames").alias("frame_no"),
    ).withColumn("frame_ts_ms", (F.col("frame_no") * 40).cast("long"))


_L9_RESIZE_ORACLE = """
WITH dims AS (
  SELECT doc_id,
         320 + doc_id % 1024 AS w,
         240 + (doc_id * 7) % 768 AS h
  FROM documents)
SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
       CAST(CASE WHEN w >= h THEN 224 ELSE greatest(1, w * 224 // h) END AS BIGINT)
         AS out_w,
       CAST(CASE WHEN w >= h THEN greatest(1, h * 224 // w) ELSE 224 END AS BIGINT)
         AS out_h,
       (w * 224 // greatest(w, h)) * (h * 224 // greatest(w, h)) * 3
         AS out_bytes_rgb
FROM dims
"""


@register("multimodal_resize_plan", oracle=_L9_RESIZE_ORACLE, tags=("L9", "ext"))
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9 ext: resize planning — aspect-preserving max-side-224 output
    geometry and decoded-buffer budget per image, as pure integer
    arithmetic over metadata (dims modeled from doc_id; a real table
    carries them in the meta struct). Like frame sampling, geometry
    planning runs BEFORE any pixel touch: the budget column is what a
    batch scheduler packs Arrow batches by, so the decode stage
    (`operators/multimodal.decode_features` plumbing) never overflows
    worker memory on mixed-resolution corpora. Row-local, zero
    shuffle, no codec dependency."""
    docs = load_table(spark, sf_dir, "documents")
    w = (320 + F.col("doc_id") % 1024).cast("long")
    h = (240 + (F.col("doc_id") * 7) % 768).cast("long")
    dims = docs.select("doc_id", w.alias("w"), h.alias("h"))
    out_w = (
        F.when(F.col("w") >= F.col("h"), F.lit(224).cast("long"))
        .otherwise(F.greatest(F.lit(1).cast("long"), F.expr("w * 224 div h")))
    )
    out_h = (
        F.when(F.col("w") >= F.col("h"), F.greatest(F.lit(1).cast("long"), F.expr("h * 224 div w")))
        .otherwise(F.lit(224).cast("long"))
    )
    return dims.select(
        "doc_id",
        "w",
        "h",
        out_w.alias("out_w"),
        out_h.alias("out_h"),
        (
            F.expr("w * 224 div greatest(w, h)")
            * F.expr("h * 224 div greatest(w, h)")
            * 3
        ).alias("out_bytes_rgb"),
    )


# --- L9 ext: byte-range chunk manifest ----------------------------------

_L9_CHUNKS_ORACLE = """
WITH m AS (SELECT doc_id, n_chars AS n_bytes FROM documents),
c AS (
  SELECT doc_id, n_bytes,
         unnest(range(0, CAST(ceil(n_bytes / 64.0) AS INT))) AS chunk_idx
  FROM m)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * 64 AS BIGINT) AS byte_offset,
       CAST(least(64, n_bytes - chunk_idx * 64) AS BIGINT) AS chunk_len,
       (chunk_idx = CAST(ceil(n_bytes / 64.0) AS INT) - 1) AS is_last
FROM c
"""


@register("multimodal_chunk_manifest", oracle=_L9_CHUNKS_ORACLE, tags=("L9", "P3", "ext"))
def multimodal_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9 ext: byte-range chunk manifest for large payloads — the
    multipart-upload / ranged-GET plan: each blob splits into fixed
    64-byte ranges (offset, len, last-flag) via a row-local explode of
    the chunk indices. The manifest is what a 100 TB media pipeline
    shuffles and schedules INSTEAD of the blobs: downstream stages
    fetch ranges lazily, so the only shuffled bytes are doc_id + two
    longs per chunk. Metadata-only here by design — the byte math
    needs n_bytes, never the payload."""
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = F.ceil(F.col("n_bytes") / 64.0).cast("int")
    m = docs.select("doc_id", F.col("n_chars").alias("n_bytes"))
    # Degenerate-size guard: for n_bytes == 0, sequence(0, -1) would
    # DESCEND ([0, -1], default step -1) and emit two bogus rows where
    # the oracle's range(0, 0) emits none — empty payloads get an
    # empty chunk list instead (same guard class as _winnow_selected).
    chunk_ids = F.when(
        F.col("n_bytes") > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    c = m.select(
        "doc_id",
        "n_bytes",
        F.explode(chunk_ids).alias("chunk_idx"),
    )
    return c.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * 64).cast("long").alias("byte_offset"),
        F.least(F.lit(64), F.col("n_bytes") - F.col("chunk_idx") * 64)
        .cast("long")
        .alias("chunk_len"),
        (F.col("chunk_idx") == n_chunks - 1).alias("is_last"),
    )


# --- L9+L1: payload-level multimodal dedup ------------------------------

_MM_DEDUP_ORACLE = """
WITH packed AS (
  SELECT doc_id, lang AS media_kind, md5(text) AS digest,
         strlen(text) AS n_bytes  -- strlen = BYTE count of the utf-8
         -- encoding, matching Spark's F.length over the BINARY payload;
         -- length(text) would count CHARACTERS and diverge on non-ASCII
  FROM documents
), buckets AS (
  SELECT media_kind, digest,
         count(*) AS copies,
         min(doc_id) AS keeper_id,
         CAST(max(n_bytes) AS BIGINT) AS n_bytes
  FROM packed
  GROUP BY media_kind, digest
)
SELECT media_kind,
       count(*) AS n_assets,
       CAST(sum(copies) AS BIGINT) AS n_files,
       CAST(sum(copies) - count(*) AS BIGINT) AS redundant_files,
       CAST(sum(CASE WHEN copies > 1 THEN (copies - 1) * n_bytes
                     ELSE 0 END) AS BIGINT) AS reclaimable_bytes
FROM buckets
GROUP BY media_kind
"""


@register("multimodal_payload_dedup", oracle=_MM_DEDUP_ORACLE, tags=("L9", "L1", "F7", "ext"))
def multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9+L1: exact dedup of OPAQUE binary payloads — the first stage
    of any multimodal corpus build (identical images/clips re-crawled
    under different URLs dedupe on content digest, no decode needed).
    Per media kind: distinct assets, total files, redundant copies,
    and reclaimable bytes.

    Plan shape at 100 TB of blobs: the md5 digest is computed in the
    SAME projection that reads the payload (one pass over the bytes),
    and every exchange from then on carries (kind, 16-byte digest,
    byte count) — the blobs themselves never shuffle. The fixture
    packs text as the payload (codec-free sandbox), so the oracle is
    md5 over the same bytes; `lang` stands in for the media-kind
    metadata column."""
    docs = load_table(spark, sf_dir, "documents")
    packed = docs.select(
        "doc_id",
        F.col("lang").alias("media_kind"),
        pack_payload(
            F.col("text"), F.col("lang"), F.col("source"), F.col("n_chars")
        ).alias("mm"),
    ).select(
        "doc_id",
        "media_kind",
        F.md5(F.col("mm.payload").cast("string")).alias("digest"),
        F.length(F.col("mm.payload")).cast("long").alias("n_bytes"),
    )
    buckets = packed.groupBy("media_kind", "digest").agg(
        F.count(F.lit(1)).alias("copies"),
        F.min("doc_id").alias("keeper_id"),
        F.max("n_bytes").alias("n_bytes"),
    )
    return buckets.groupBy("media_kind").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("copies").alias("n_files"),
        (F.sum("copies") - F.count(F.lit(1))).alias("redundant_files"),
        F.sum(
            F.when(F.col("copies") > 1, (F.col("copies") - 1) * F.col("n_bytes"))
            .otherwise(F.lit(0))
        ).alias("reclaimable_bytes"),
    )


# --- L9 ext: chunked-transfer reassembly integrity check ----------------

_REASSEMBLY_ORACLE = """
WITH src AS (
  SELECT doc_id, text, md5(text) AS whole_digest,
         -- length() = CHARACTER count, matching Spark's F.length on a
         -- STRING column (strlen would count UTF-8 bytes and diverge
         -- on any non-ASCII doc; both sides slice by characters).
         CAST(ceil(length(text) / 64.0) AS BIGINT) AS n_chunks
  FROM documents WHERE doc_id % 10 = 0
), chunks AS (
  SELECT s.doc_id, i.i AS chunk_idx,
         substr(s.text, CAST(i.i * 64 + 1 AS INTEGER), 64) AS piece
  FROM src s, unnest(range(0, s.n_chunks)) i(i)
), rebuilt AS (
  SELECT doc_id, md5(string_agg(piece, '' ORDER BY chunk_idx)) AS rebuilt_digest
  FROM chunks GROUP BY doc_id
)
SELECT s.doc_id, s.n_chunks,
       (r.rebuilt_digest = s.whole_digest) AS digest_ok
FROM src s JOIN rebuilt r ON s.doc_id = r.doc_id
"""


@register("multimodal_chunk_reassembly", oracle=_REASSEMBLY_ORACLE, tags=("L9", "F1", "F5", "ext"))
def multimodal_chunk_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9 ext: the integrity leg of chunked blob transfer — split each
    payload into 64-byte pieces (the manifest-planning queries' chunk
    grid), reassemble in chunk order, and verify the digest matches
    the original. This is the end-to-end check an object-store
    multipart pipeline runs after upload; `digest_ok` must be TRUE
    for every row, and the oracle recomputes the identical
    split/reassemble/compare. Spark side stays row-local until the
    tiny per-doc regroup: explode the chunk grid, re-collect with
    `array_sort` on (idx, piece) structs — deterministic reassembly
    without any window."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    src = docs.select(
        "doc_id",
        "text",
        F.md5("text").alias("whole_digest"),
        F.ceil(F.length("text") / 64.0).cast("long").alias("n_chunks"),
    )
    chunks = src.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)).alias(
            "chunk_idx"
        ),
        "text",
    ).select(
        "doc_id",
        "chunk_idx",
        F.substring(
            F.col("text"), (F.col("chunk_idx") * 64 + 1).cast("int"), 64
        ).alias("piece"),
    )
    rebuilt = chunks.groupBy("doc_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "piece"))),
                    lambda x: x["piece"],
                ),
                "",
            )
        ).alias("rebuilt_digest")
    )
    return src.join(rebuilt, "doc_id").select(
        "doc_id",
        "n_chunks",
        (F.col("rebuilt_digest") == F.col("whole_digest")).alias("digest_ok"),
    )
