"""Multimodal queries: binary features, decode/resize, frame sampling,
audio energy, perceptual-hash dedup, scene cuts and byte diversity over
binary payloads derived from the fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from postgresql_cdc_spark.plans.common import CORPUS, T, near_dup_corpus
from postgresql_cdc_spark.plans.registry import register


# --- multimodal columns ------------------------------------------------------

# Byte-accurate first byte of the UTF-8 payload (NOT ascii(substr(...,1,1)),
# which returns the first *codepoint* and diverges on multi-byte-leading text).
_HEAD_BYTE = (
    "CASE WHEN octet_length(encode(text)) > 0 "
    "THEN CAST('0x' || substr(hex(encode(text)), 1, 2) AS INT) ELSE -1 END"
)


@register(
    "mm_binary_features",
    f"""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           {_HEAD_BYTE} AS head_byte
    FROM documents
    """,
    doc="Binary-column plumbing: UTF-8 payload, Arrow-batched mapInPandas "
        "feature extraction (length/md5/head byte).",
)
def mm_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents")
    return mm.binary_features(mm.attach_binary(d))


@register(
    "mm_decode_resize",
    f"""
    WITH hb AS (SELECT doc_id,
                       CASE WHEN octet_length(encode(text)) > 0
                            THEN 1 + ({_HEAD_BYTE}) % 64 ELSE 1 END AS width,
                       1 + octet_length(encode(text)) % 64 AS height
                FROM documents)
    SELECT doc_id, width, height,
           CAST(width * height AS BIGINT) AS n_pixels,
           32 AS resize_w, 32 AS resize_h
    FROM hb
    """,
    doc="Image decode+resize pipeline with deterministic fake decoder "
        "(real codec stubbed: operators/multimodal.decode_image).",
)
def mm_decode_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents")
    return mm.decode_resize(mm.attach_binary(d))


@register(
    "mm_frame_sample",
    """
    WITH b AS (SELECT doc_id, octet_length(encode(text)) // 256 AS n_frames
               FROM documents)
    SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
           coalesce(array_to_string(list_transform(
               CASE WHEN n_frames > 0
                    THEN range(0, CAST(greatest(n_frames - 1, 0) AS BIGINT) + 1, 10)
                    ELSE [] END,
               i -> CAST(i AS VARCHAR)), ','), '') AS sampled_frames,
           coalesce(array_to_string(list_transform(
               CASE WHEN n_frames > 0
                    THEN list_transform(
                        range(0, CAST(greatest(n_frames - 1, 0) AS BIGINT) + 1, 10),
                        i -> i * 256)
                    ELSE [] END,
               i -> CAST(i AS VARCHAR)), ','), '') AS byte_offsets
    FROM b
    """,
    doc="Video-style frame sampling over opaque byte streams (every 10th "
        "256-byte frame) — pure built-in byte math. Array outputs are "
        "serialized to comma-joined strings so the harness's canonicalizer "
        "(pandas sort) can hash them.",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents")
    out = mm.frame_sample_offsets(mm.attach_binary(d))
    return out.select(
        "doc_id",
        "n_frames",
        F.array_join(F.col("sampled_frames").cast("array<string>"), ",").alias(
            "sampled_frames"
        ),
        F.array_join(F.col("byte_offsets").cast("array<string>"), ",").alias(
            "byte_offsets"
        ),
    )


@register(
    "mm_audio_energy",
    """
    WITH b AS (SELECT doc_id, encode(text) AS bl,
                      octet_length(encode(text)) AS n FROM documents),
    w AS (SELECT doc_id, bl, n, unnest([0, 1, 2, 3]) AS win FROM b)
    SELECT doc_id,
           CAST(win AS INT) AS window_id,
           CAST(least(64, n - win * 64) AS INT) AS n_window_bytes,
           CAST(list_reduce(list_transform(
                    range(win * 64, win * 64 + least(64, n - win * 64)),
                    i -> CAST('0x' || substr(hex(bl), i * 2 + 1, 2) AS BIGINT)),
                (a, b) -> a + b) AS BIGINT) AS energy
    FROM w WHERE n > win * 64
    """,
    doc="Audio-style windowed energy: payload as 8-bit PCM, per-64-byte-"
        "window sample sums for the first 4 windows — integer-exact, so the "
        "byte-level oracle (hex-pair arithmetic) matches the numpy kernel "
        "bit-for-bit. Arrow-batched mapInPandas, bytes never shuffled.",
)
def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents")
    return mm.audio_window_energy(mm.attach_binary(d))


# --- multimodal near-dup: perceptual hash (aHash) + Hamming pairing ----------

# The phash oracle verifies against the SAME corpus the Spark side builds
# (near_dup_corpus); it uses the SQL twin CORPUS so an edit to the
# perturbation in plans/common.py moves both engines together.

# byte i (0-based) of the UTF-8 payload, zero-padded past the end
_PH_BYTE = "CASE WHEN i < least(n, 64) THEN CAST('0x' || substr(hx, i * 2 + 1, 2) AS BIGINT) ELSE CAST(0 AS BIGINT) END"

_PHASH_ORACLE = f"""
    WITH c AS ({CORPUS}),
    b AS (SELECT doc_id, hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS n FROM c),
    arrs AS (SELECT doc_id,
                    list_transform(range(0, 64), i -> {_PH_BYTE}) AS arr
             FROM b),
    m AS (SELECT doc_id, arr, list_sum(arr) // 64 AS mean FROM arrs),
    h AS (SELECT doc_id,
                 list_transform(range(0, 4), k ->
                     list_sum(list_transform(range(0, 16), j ->
                         CASE WHEN arr[k * 16 + j + 1] > mean
                              THEN CAST(1 AS BIGINT) << j
                              ELSE CAST(0 AS BIGINT) END))) AS ch
          FROM m),
    hx AS (SELECT doc_id, ch[1] AS c0, ch[2] AS c1, ch[3] AS c2, ch[4] AS c3
           FROM h),
    posting AS (
        SELECT doc_id, 0 AS k, c0 AS v FROM hx UNION ALL
        SELECT doc_id, 1, c1 FROM hx UNION ALL
        SELECT doc_id, 2, c2 FROM hx UNION ALL
        SELECT doc_id, 3, c3 FROM hx),
    hot AS (SELECT k, v FROM posting GROUP BY k, v HAVING COUNT(*) > 200),
    pf AS (SELECT posting.* FROM posting ANTI JOIN hot USING (k, v)),
    cand AS (SELECT DISTINCT pa.doc_id AS id_a, pb.doc_id AS id_b
             FROM pf pa JOIN pf pb USING (k, v)
             WHERE pa.doc_id < pb.doc_id)
    SELECT id_a, id_b,
           CAST(bit_count(xor(a.c0, bb.c0)) + bit_count(xor(a.c1, bb.c1))
              + bit_count(xor(a.c2, bb.c2)) + bit_count(xor(a.c3, bb.c3))
              AS INT) AS hamming
    FROM cand JOIN hx a ON cand.id_a = a.doc_id
              JOIN hx bb ON cand.id_b = bb.doc_id
    WHERE bit_count(xor(a.c0, bb.c0)) + bit_count(xor(a.c1, bb.c1))
        + bit_count(xor(a.c2, bb.c2)) + bit_count(xor(a.c3, bb.c3)) <= 3
"""


@register(
    "mm_phash_dedup",
    _PHASH_ORACLE,
    doc="Multimodal near-dup via perceptual hash: 64-bit average-hash "
        "(aHash) of the payload head — integer-mean threshold bitmap, the "
        "image-dedup standard — computed in a numpy mapInPandas kernel "
        "(operators/multimodal.perceptual_ahash_chunks), then all pairs "
        "within Hamming distance 3 via pigeonhole chunk blocking "
        "(4x16-bit chunks: distance <=3 guarantees a shared chunk), a "
        "capped posting equi-join, and an exact popcount verify — the "
        "image-side twin of SimHash text dedup, end-to-end over the "
        "binary-column plumbing. Byte-level oracle (hex-pair arithmetic) "
        "replays the identical hash and pairing.",
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators import multimodal as mm

    corpus = near_dup_corpus(spark, sf_dir)
    hashes = mm.perceptual_ahash_chunks(mm.attach_binary(corpus))
    return mm.phash_dup_pairs(hashes, max_distance=3, max_bucket=200)


# --- content-defined chunking dedup (storage-dedup primitive) ----------------

_CDC_W, _CDC_M = 8, 32

# Corpus with a PREFIX-shifted copy ('zz ' prepended) of every 9th doc: the
# 3-byte shift moves every byte, so fixed-size chunking shares nothing, but
# content-defined boundaries re-align after the edit and the tail chunks
# hash identically — the property this query exists to demonstrate.
_CDC_CORPUS = """
    SELECT doc_id, text FROM documents WHERE length(text) > 0
    UNION ALL
    SELECT doc_id + 200000, 'zz ' || text FROM documents
    WHERE doc_id % 9 = 0 AND length(text) > 0
"""

_CDC_CONV = (
    "list_reduce(list_concat([CAST(0 AS BIGINT)], "
    f"list_transform(range(1, {_CDC_W} + 1), "
    f"j -> bl[p - {_CDC_W} + j] * j)), (a, b) -> a + b)"
)


@register(
    "mm_cdc_chunk_dedup",
    f"""
    WITH c AS ({_CDC_CORPUS}),
    b AS (SELECT doc_id, text,
                 list_transform(range(1, length(text) + 1),
                     i -> CAST(ord(substr(text, i, 1)) AS BIGINT)) AS bl
          FROM c),
    cut AS (SELECT doc_id, text,
                   list_concat(list_concat([CAST(0 AS BIGINT)],
                       list_filter(range({_CDC_W}, length(text)),
                           p -> {_CDC_CONV} % {_CDC_M} = 0)),
                       [CAST(length(text) AS BIGINT)]) AS cuts
            FROM b),
    chunks AS (
        SELECT doc_id,
               substr(text, CAST(cuts[k] + 1 AS INT),
                      CAST(cuts[k + 1] - cuts[k] AS INT)) AS chunk
        FROM cut CROSS JOIN LATERAL (
            SELECT unnest(range(1, len(cuts))) AS k))
    SELECT CAST('0x' || substr(md5(chunk), 1, 15) AS BIGINT) AS chunk_h60,
           CAST(MIN(length(chunk)) AS BIGINT) AS chunk_len,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM chunks
    GROUP BY 1
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    doc="Content-defined chunking dedup (rsync/borg/restic primitive) over "
        "binary payloads: chunks split where a rolling window statistic "
        "hits a target, so boundaries depend only on local content — the "
        "planted PREFIX-shifted copies ('zz ' prepended, every byte "
        "moved) still share every post-edit chunk with their originals, "
        "which fixed-size chunking structurally cannot achieve. Reports "
        "each chunk stored once but referenced by >= 2 documents (the "
        "chunk-store dedup win). Spark side: numpy sliding-window kernel "
        "in mapInPandas (operators/multimodal.content_defined_chunks), "
        "bytes never shuffle; the byte-level DuckDB oracle replays the "
        "identical boundary rule via ord() lists. One hash agg on the "
        "skinny chunk-hash rows.",
)
def mm_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import postgresql_cdc_spark.operators.multimodal as mm

    d = T(spark, sf_dir, "documents", fanout=False).where(F.length("text") > 0)
    shifted = d.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.lit("zz "), F.col("text")).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(shifted)
    chunks = mm.content_defined_chunks(
        mm.attach_binary(corpus), window=_CDC_W, mod=_CDC_M
    )
    return (
        chunks.groupBy("chunk_h60")
        .agg(
            F.min("chunk_len").alias("chunk_len"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_docs") >= 2)
    )


# --- video scene-cut detection -----------------------------------------------

_FRAME_SUM = (
    "list_sum(list_transform(range(w * 64, w * 64 + 64), "
    "i -> CAST('0x' || substr(hex(bl), i * 2 + 1, 2) AS BIGINT)))"
)


@register(
    "mm_video_scene_cuts",
    f"""
    WITH b AS (SELECT doc_id, encode(text) AS bl,
                      octet_length(encode(text)) // 64 AS k
               FROM documents),
    fr AS (SELECT doc_id, k, unnest(range(0, k)) AS w, bl
           FROM b WHERE k >= 1),
    s AS (SELECT doc_id, w, {_FRAME_SUM} AS fsum FROM fr),
    d AS (SELECT doc_id, w,
                 abs(fsum - lag(fsum) OVER (PARTITION BY doc_id
                                            ORDER BY w)) AS dv
          FROM s),
    cuts AS (SELECT doc_id, w FROM d WHERE dv > 1600),
    agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_cuts,
                   string_agg(CAST(w AS VARCHAR), ',' ORDER BY w)
                     AS cut_frames
            FROM cuts GROUP BY doc_id)
    SELECT b.doc_id, CAST(b.k AS BIGINT) AS n_full_frames,
           coalesce(a.n_cuts, 0) AS n_cuts,
           coalesce(a.cut_frames, '') AS cut_frames
    FROM b LEFT JOIN agg a ON b.doc_id = a.doc_id
    """,
    doc="Video scene-cut detection over the binary column: payload as "
        "64-byte frames, each full frame scored by its byte sum, a cut "
        "wherever the adjacent-frame difference exceeds the threshold — "
        "the shot-segmentation baseline every video pipeline starts from "
        "(histogram/SSIM distance swaps into the same kernel), extending "
        "the multimodal family past sampling (mm_frame_sample) into "
        "content analysis. numpy reshape + one diff per payload inside "
        "Arrow-batched mapInPandas (operators/multimodal.scene_cut_"
        "detect); bytes never shuffle — only per-doc summaries leave the "
        "scan stage, so at 100 TB this runs at decode bandwidth with "
        "zero exchange. Byte-level oracle replays the identical frame "
        "sums from hex pairs.",
)
def mm_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents", fanout=False)
    return mm.scene_cut_detect(mm.attach_binary(d))


# --- payload byte-diversity profile ------------------------------------------

@register(
    "mm_byte_diversity",
    """
    WITH b AS (SELECT doc_id, encode(text) AS bl,
                      octet_length(encode(text)) AS n
               FROM documents),
    e AS (SELECT doc_id, n,
                 CAST('0x' || substr(hex(bl), i * 2 + 1, 2) AS INT) AS byt
          FROM b, LATERAL (SELECT unnest(range(0, n)) AS i) r
          WHERE n > 0),
    c AS (SELECT doc_id, n, byt, COUNT(*) AS f
          FROM e GROUP BY doc_id, n, byt),
    p AS (SELECT doc_id,
                 CAST(MAX(n) AS BIGINT) AS n_bytes,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct_bytes,
                 CAST((1000 * MAX(f)) // MAX(n) AS BIGINT)
                   AS top_byte_permille
          FROM c GROUP BY doc_id)
    SELECT b.doc_id,
           coalesce(p.n_bytes, 0) AS n_bytes,
           coalesce(p.n_distinct_bytes, 0) AS n_distinct_bytes,
           coalesce(p.top_byte_permille, 0) AS top_byte_permille,
           CASE WHEN coalesce(p.n_distinct_bytes, 0) <= 16 THEN 'low'
                WHEN p.n_distinct_bytes <= 64 THEN 'mid'
                ELSE 'high' END AS diversity_class
    FROM b LEFT JOIN p ON b.doc_id = p.doc_id
    """,
    doc="Payload byte-diversity profile: distinct-byte count and top-byte "
        "per-mille share per binary payload, classed low/mid/high — the "
        "integer-exact entropy stand-in storage pipelines use to route "
        "payloads (low diversity -> compress hard; high -> already "
        "compressed/encrypted, store raw), completing the multimodal "
        "family's storage-side toolkit next to content-defined chunking. "
        "One np.bincount per payload in Arrow-batched mapInPandas "
        "(operators/multimodal.byte_diversity_profile); bytes never "
        "shuffle, one skinny summary row per doc leaves the scan. "
        "Byte-level oracle replays the counts from hex pairs.",
)
def mm_byte_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents", fanout=False)
    return mm.byte_diversity_profile(mm.attach_binary(d))
