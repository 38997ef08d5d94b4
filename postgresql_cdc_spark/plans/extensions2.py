"""Extension-operator query surface, part 2: the remaining training-data-
pipeline stages a 100 TB corpus build runs between ingest and training —
chunking, vocabulary statistics, distinctive-term extraction, deterministic
sampling, PII scrubbing, and ANN-index health stats.

Design rules follow plans/extensions.py: every output column is either an
integer/string (exact on both engines) or derived via the portable h60/md5
hash, so the DuckDB oracle hash-matches bit-for-bit; every pipeline is a
projection, explode, or hash-agg — no self-joins, nothing quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from postgresql_cdc_spark.operators import text as tx
from postgresql_cdc_spark.operators.similarity import ivf_cell_stats
from postgresql_cdc_spark.plans.extensions import T, _TOKS
from postgresql_cdc_spark.plans.registry import register

_H60 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


@register(
    "text_chunking",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    base AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
    st AS (SELECT doc_id, toks, n, unnest(range(1, n + 1, 48)) AS s FROM base)
    SELECT doc_id,
           CAST((s - 1) // 48 AS INT) AS chunk_id,
           CAST(least(64, n - s + 1) AS INT) AS n_chunk_tokens,
           {_H60.format(x="array_to_string(list_slice(toks, s, least(s + 63, n)), ' ')")}
             AS chunk_hash
    FROM st
    """,
    doc="Overlapping token-window chunking (size 64, stride 48) — the "
        "tokenize-and-window stage before embedding/training. Explode of "
        "arithmetic starts; chunk id derives from the start offset, so no "
        "positional explode is needed on either engine.",
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", tx.tokens(F.col("text")).alias("toks")
    ).where(F.size("toks") > 0).withColumn("n", F.size("toks"))
    st = base.select(
        "doc_id", "toks", "n",
        F.explode(tx.chunk_starts(F.col("toks"), 64, 48)).alias("s"),
    )
    chunk = F.slice(F.col("toks"), F.col("s"), F.lit(64))
    return st.select(
        "doc_id",
        F.expr("CAST((s - 1) DIV 48 AS INT)").alias("chunk_id"),
        F.least(F.lit(64), F.col("n") - F.col("s") + 1)
        .cast("int").alias("n_chunk_tokens"),
        tx.h60(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


@register(
    "corpus_vocab",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM t)
    SELECT token, COUNT(*) AS df
    FROM tok GROUP BY token HAVING COUNT(*) >= 25
    """,
    doc="Corpus vocabulary with document frequency (df >= 25) — the "
        "vocab-build stage. Explode distinct tokens -> one hash agg with "
        "map-side partials; at 100 TB this is the word-count shape, the "
        "canonical scale-out aggregation.",
)
def corpus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.array_distinct(tx.tokens(F.col("text")))).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= 25)
    )


@register(
    "text_rare_terms",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM t),
    df AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token),
    ranked AS (
        SELECT tok.doc_id, tok.token, df.df,
               ROW_NUMBER() OVER (PARTITION BY tok.doc_id
                                  ORDER BY df.df ASC, tok.token ASC) AS rank
        FROM tok JOIN df USING (token)
    )
    SELECT doc_id, token, df, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """,
    doc="Per-document distinctive terms: the 3 globally-rarest tokens of "
        "each doc (keyword extraction by document frequency — integer-exact, "
        "unlike tf-idf's engine-dependent log). The df table is vocab-sized "
        "and joins the exploded tokens on the token hash key.",
)
def text_rare_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(tx.tokens(F.col("text")))).alias("token"),
    )
    df = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("token"))
    return (
        tok.join(df, "token")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "token", "df", F.col("rank").cast("int").alias("rank"))
    )


@register(
    "sample_stratified",
    f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_H60.format(x="'sample:' || CAST(doc_id AS VARCHAR)")} % 10 < 1
    """,
    doc="Deterministic ~10% content-hash sample (h60(id) mod 10) — "
        "reproducible corpus subsetting with no sampling state; stratify by "
        "adding the stratum column to the WHERE. Pure scan-side filter: at "
        "100 TB it runs at scan speed and column-prunes.",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.where(tx.in_hash_sample(F.col("doc_id"), 10, 1)).select(
        "doc_id", "lang"
    )


@register(
    "pii_scrub",
    f"""
    WITH aug AS (
        SELECT doc_id,
               text
               || (CASE WHEN doc_id % 7 = 0
                        THEN ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@example.com now' ELSE '' END)
               || (CASE WHEN doc_id % 11 = 0
                        THEN ' ref 5551234' || CAST(doc_id AS VARCHAR) ELSE '' END)
               AS text2
        FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text2,
                '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text2, '[0-9]{{7,}}')) AS INT) AS n_digit_runs,
           length(regexp_replace(regexp_replace(text2,
                '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}', '<EMAIL>', 'g'),
                '[0-9]{{7,}}', '<NUM>', 'g')) AS scrubbed_len
    FROM aug
    """,
    doc="PII detection + redaction (emails, long digit runs) over a corpus "
        "augmented with synthetic PII (the fixture has none). Character-class-"
        "only regexes so Java and RE2 dialects agree; per-row projection, "
        "scan-speed at scale.",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(F.lit(" ref 5551234"), F.col("doc_id").cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text2"),
    )
    pii = tx.pii_counts_and_scrub(F.col("text2"))
    return aug.select(
        "doc_id",
        pii["n_emails"].cast("int").alias("n_emails"),
        pii["n_digit_runs"].cast("int").alias("n_digit_runs"),
        F.length(pii["scrubbed"]).alias("scrubbed_len"),
    )


from postgresql_cdc_spark.plans.extensions import _NGRAM_ORACLE  # noqa: E402


@register(
    "dedup_cluster_labels",
    f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_NGRAM_ORACLE}),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
        SELECT DISTINCT a, a FROM sym
        UNION
        SELECT s.a, reach.r FROM sym s JOIN reach ON reach.id = s.b
    )
    SELECT id AS doc_id, MIN(r) AS component
    FROM reach GROUP BY id
    """,
    doc="Near-dup clustering: connected components (min-label propagation) "
        "over the exact-Jaccard pair graph — the step that turns pair lists "
        "into dedup groups (keep min-id per component, drop the rest). "
        "Iterative DataFrame loop with localCheckpoint lineage truncation; "
        "the oracle computes the same components via a recursive CTE "
        "(transitive closure + MIN), tractable at oracle scale.",
)
def dedup_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.dedup import ngram_jaccard_pairs
    from postgresql_cdc_spark.operators.graph import connected_components
    from postgresql_cdc_spark.plans.extensions import _near_dup_corpus

    pairs = ngram_jaccard_pairs(
        _near_dup_corpus(spark, sf_dir), "text", "doc_id", threshold=0.5
    )
    out = connected_components(pairs, src="id_a", dst="id_b")
    return out.select(F.col("id").alias("doc_id"), "component")


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


# Reuse the IVF assignment CTE from the topk oracle (same centroids, same
# squared-L2 tie-break) — only the final aggregate differs.
from postgresql_cdc_spark.plans.extensions import _l2_sql  # noqa: E402


@register(
    "ivf_cell_stats",
    f"""
    WITH cent AS (SELECT vec_id AS cell, embedding AS cv
                  FROM embeddings ORDER BY vec_id LIMIT 16),
    assign AS (
        SELECT vec_id, cell
        FROM (
            SELECT e.vec_id, cent.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_l2_sql('e.embedding', 'cent.cv')} ASC,
                                cent.cell ASC) AS rn
            FROM embeddings e CROSS JOIN cent
        ) WHERE rn = 1
    )
    SELECT cell, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
    FROM assign GROUP BY cell
    """,
    doc="IVF inverted-list health stats: vectors per cell + smallest member "
        "id. Integer-exact outputs; one broadcast-centroid scan and one hash "
        "agg — the index-maintenance query an ANN deployment runs per build.",
)
def ivf_cell_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    return ivf_cell_stats(e, n_centroids=16)


# --- training-data hygiene: repetition + contamination -----------------------

from postgresql_cdc_spark.plans.extensions import _H60, _SHINGLES3  # noqa: E402

# Positional (multiplicity-keeping) trigram list — _SHINGLES3 without the
# list_distinct, the DuckDB twin of text.raw_shingles.
_RAW_SHINGLES3 = """
    CASE WHEN len(toks) >= 3
         THEN list_transform(range(1, len(toks)-1),
                  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
         ELSE [] END
"""


@register(
    "text_repetition",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, {_RAW_SHINGLES3} AS g FROM t)
    SELECT doc_id,
           CAST(len(g) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
           round(1 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g), 6)
             AS rep_ratio
    FROM g WHERE len(g) > 0
    """,
    doc="Within-doc repetition ratio (duplicated-trigram fraction) — the "
        "boilerplate/template-spam signal quality filters cut on. Pure "
        "per-row projection over multiplicity-keeping shingles: scan speed, "
        "no shuffle, column-prunes to the text column at 100 TB.",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    g = d.select(
        "doc_id",
        tx.raw_shingles(tx.tokens(F.col("text")), 3).alias("g"),
    ).where(F.size("g") > 0)
    n_grams = F.size("g").cast("bigint")
    n_distinct = F.size(F.array_distinct("g")).cast("bigint")
    return g.select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_distinct.alias("n_distinct"),
        F.round(
            F.lit(1) - n_distinct.cast("double") / n_grams, 6
        ).alias("rep_ratio"),
    )


@register(
    "decon_test_train_overlap",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, {_SHINGLES3} AS sh FROM t),
    h AS (SELECT doc_id, list_transform(sh, s -> {_H60.format(x='s')}) AS shh
          FROM s),
    test AS (SELECT doc_id, shh FROM h WHERE doc_id % 10 = 0 AND len(shh) > 0),
    train_sh AS (SELECT DISTINCT unnest(shh) AS sh_hash
                 FROM h WHERE doc_id % 10 <> 0),
    tpost AS (SELECT doc_id, unnest(shh) AS sh_hash FROM test),
    hits AS (SELECT doc_id, COUNT(*) AS n_hit FROM tpost
             WHERE sh_hash IN (SELECT sh_hash FROM train_sh)
             GROUP BY doc_id)
    SELECT test.doc_id,
           CAST(len(test.shh) AS BIGINT) AS n_sh,
           CAST(COALESCE(hits.n_hit, 0) AS BIGINT) AS n_hit,
           round(CAST(COALESCE(hits.n_hit, 0) AS DOUBLE) / len(test.shh), 6)
             AS containment
    FROM test LEFT JOIN hits USING (doc_id)
    """,
    doc="Train/test contamination check: distinct-trigram containment of "
        "each held-out doc (doc_id % 10 = 0) against the training split's "
        "shingle set — the decontamination pass an eval pipeline runs before "
        "training. Shape: pre-hashed shingles, one distinct-agg over the "
        "train postings, one semi-join on the 60-bit shingle hash, one "
        "count-agg — all key-partitioned equi-operations; nothing all-pairs, "
        "so it scales to a 100 TB corpus the way word-count does.",
)
def decon_test_train_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    # pre-hash distinct shingles once; both splits derive from this scan.
    # Same caching contract as operators/dedup.py: lazy evaluation means the
    # builder cannot unpersist before the caller materializes the result, so
    # callers in long-lived sessions own cleanup via
    # spark.catalog.clearCache() once the result is written (the bench and
    # correctness harnesses both do).
    docs = d.select(
        "doc_id",
        F.transform(
            tx.shingles(tx.tokens(F.col("text")), 3), tx.h60
        ).alias("shh"),
    ).persist()
    test = docs.where((F.col("doc_id") % 10 == 0) & (F.size("shh") > 0))
    train_sh = (
        docs.where(F.col("doc_id") % 10 != 0)
        .select(F.explode("shh").alias("sh_hash"))
        .distinct()
    )
    tpost = test.select("doc_id", F.explode("shh").alias("sh_hash"))
    hits = (
        tpost.join(train_sh, "sh_hash", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    sizes = test.select("doc_id", F.size("shh").cast("bigint").alias("n_sh"))
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint")
    return (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_sh",
            n_hit.alias("n_hit"),
            F.round(n_hit.cast("double") / F.col("n_sh"), 6)
            .alias("containment"),
        )
    )


from postgresql_cdc_spark.operators.text import BPE_SPLIT_PATTERN  # noqa: E402

# the pattern contains apostrophes (contraction alternative) — double them
# for the SQL string literal
_BPE_SQL_PAT = BPE_SPLIT_PATTERN.replace("'", "''")


@register(
    "text_bpe_token_count",
    f"""
    WITH g AS (SELECT doc_id,
                      regexp_extract_all(lower(text),
                                         '{_BPE_SQL_PAT}') AS pieces,
                      {_TOKS} AS toks
               FROM documents)
    SELECT doc_id,
           CAST(len(pieces) AS BIGINT) AS n_bpe_pieces,
           CAST(len(toks) AS BIGINT) AS n_word_tokens,
           round(CASE WHEN len(toks) > 0
                      THEN CAST(len(pieces) AS DOUBLE) / len(toks)
                      ELSE 0 END, 6) AS pieces_per_word
    FROM g
    """,
    doc="BPE-ish token counting: GPT-2-shaped pre-tokenizer pieces "
        "(ordered-alternation regex identical under Java regex and RE2) "
        "vs whitespace-ish word tokens, plus the pieces-per-word cost "
        "ratio — the standard pre-vocab estimate of a corpus's token "
        "budget. Per-row regex projection: scan speed, no shuffle.",
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import bpe_tokens

    d = T(spark, sf_dir, "documents")
    g = d.select(
        "doc_id",
        bpe_tokens(F.col("text")).alias("pieces"),
        tx.tokens(F.col("text")).alias("toks"),
    )
    n_p = F.size("pieces").cast("bigint")
    n_w = F.size("toks").cast("bigint")
    return g.select(
        "doc_id",
        n_p.alias("n_bpe_pieces"),
        n_w.alias("n_word_tokens"),
        F.round(
            F.when(n_w > 0, n_p.cast("double") / n_w).otherwise(0.0), 6
        ).alias("pieces_per_word"),
    )


@register(
    "emb_quantize_int8",
    """
    WITH b AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    mm AS (SELECT vec_id, v,
                  list_min(v) AS q_min, list_max(v) AS q_max FROM b)
    SELECT vec_id,
           round(q_min, 6) AS q_min,
           round(q_max, 6) AS q_max,
           CAST(len(v) AS BIGINT) AS n_dims,
           CAST(CASE WHEN len(v) = 0 THEN 0
                ELSE list_reduce(list_transform(v, x ->
                         CASE WHEN q_max = q_min THEN CAST(0 AS BIGINT)
                              ELSE CAST(floor((x - q_min) / (q_max - q_min)
                                              * 255) AS BIGINT) END),
                     (a, c) -> a + c) END AS BIGINT) AS code_sum
    FROM mm
    """,
    doc="Uniform int8 (0..255) quantization of embeddings — the vector-"
        "compression pass a training pipeline runs before sharding an "
        "embedding store. floor-based bucketing (not round) so the Java and "
        "C++ float paths agree bit-for-bit; constant vectors quantize to 0. "
        "Output is the per-vector range + exact code checksum: per-row "
        "projection, scan speed, no shuffle at any scale.",
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    # internal names deliberately differ from the rounded output aliases:
    # aliasing round(q_min) AS q_min in the same select would re-bind the
    # quantization lambda's q_min reference to the ROUNDED value (selects
    # resolve same-name references against their own output), silently
    # quantizing against 6-dp ranges while the oracle uses full precision.
    mm_df = e.select(
        "vec_id", v.alias("v"),
        F.array_min(v).alias("__mn"), F.array_max(v).alias("__mx"),
    )
    qmin, qmax = F.col("__mn"), F.col("__mx")

    def code(x):
        return (
            F.when(qmax == qmin, F.lit(0).cast("long"))
            .otherwise(
                F.floor((x - qmin) / (qmax - qmin) * 255).cast("long")
            )
        )

    return mm_df.select(
        "vec_id",
        F.round(qmin, 6).alias("q_min"),
        F.round(qmax, 6).alias("q_max"),
        F.size("v").cast("bigint").alias("n_dims"),
        F.aggregate(
            F.transform(F.col("v"), code),
            F.lit(0).cast("long"),
            lambda a, c: a + c,
        ).alias("code_sum"),
    )


# --- composed corpus-cleaning pass -------------------------------------------

from postgresql_cdc_spark.plans.extensions import (  # noqa: E402
    _DE_SW,
    _EN_SW,
    _ES_SW,
    _FR_SW,
)

_CLEAN_GREATEST = "greatest(s_de, s_en, s_es, s_fr)"

_CLEAN_ORACLE = f"""
    WITH c AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000 AS doc_id, text FROM documents
        WHERE doc_id % 7 = 0
    ),
    t AS (SELECT doc_id, text, {_TOKS} AS toks FROM c),
    f AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               round((
                   (CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 1 ELSE 0 END)
                 + CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                        AS DOUBLE) / greatest(length(text), 1)
                 + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                 + (CASE WHEN CAST(len(list_filter(toks,
                            x -> list_contains({_EN_SW}, x))) AS DOUBLE)
                              / len(toks) > 0.02 THEN 1 ELSE 0 END)
               ) / 4.0, 6) AS quality,
               len(list_filter(toks, x -> list_contains({_DE_SW}, x))) AS s_de,
               len(list_filter(toks, x -> list_contains({_EN_SW}, x))) AS s_en,
               len(list_filter(toks, x -> list_contains({_ES_SW}, x))) AS s_es,
               len(list_filter(toks, x -> list_contains({_FR_SW}, x))) AS s_fr,
               {_H60.format(x="array_to_string(toks, ' ')")} AS content_hash
        FROM t WHERE len(toks) > 0
    ),
    g AS (
        SELECT *,
               CASE WHEN {_CLEAN_GREATEST} <= 0 THEN 'und'
                    WHEN s_de = {_CLEAN_GREATEST} THEN 'de'
                    WHEN s_en = {_CLEAN_GREATEST} THEN 'en'
                    WHEN s_es = {_CLEAN_GREATEST} THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM f
    ),
    k AS (
        SELECT doc_id, n_tokens, quality, content_hash,
               ROW_NUMBER() OVER (PARTITION BY content_hash
                                  ORDER BY doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY content_hash) AS n_copies
        FROM g
        WHERE n_tokens BETWEEN 20 AND 2000
          AND quality >= 0.5 AND lang_pred = 'en'
    )
    SELECT doc_id, n_tokens, quality, CAST(n_copies AS BIGINT) AS n_copies
    FROM k WHERE rn = 1
"""


@register(
    "corpus_clean_pipeline",
    _CLEAN_ORACLE,
    doc="The composed end-to-end corpus-cleaning pass a training-data "
        "pipeline runs before tokenization: size gate (20..2000 tokens), "
        "heuristic quality gate (>= 0.5), language gate (en), then exact "
        "dedup keeping the min-id canonical per normalized-content hash "
        "with its copy count. Corpus = documents plus exact copies of every "
        "7th doc so the dedup stage demonstrably removes rows. Shape at "
        "100 TB: per-row scan-speed feature projection, one filter, one "
        "hash-partitioned window on content_hash — the same single-shuffle "
        "profile as exact_dedup; everything upstream column-prunes to "
        "(doc_id, text).",
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    c = d.unionByName(dup)
    # The downstream feature projection references `toks` ~20 times (quality
    # components, 4-language stopword scores, content hash). Two layers of
    # defense keep the tokenize regex at ONE evaluation per row:
    # - quality is composed from the NAMED toks column instead of calling
    #   tx.quality_score(text) (a Column object is an expression tree, so
    #   each helper-local reference embeds a fresh copy of the split —
    #   measured 92 copies in the executed plan);
    # - the nondeterministic __mid column pins the projection: Catalyst's
    #   CollapseProject refuses to merge a project containing a
    #   nondeterministic expression, so the named toks stays materialized
    #   instead of being inlined per reference (measured 72 copies and ~6x
    #   the runtime without it — codegen subexpression elimination does not
    #   cover lambda-bearing higher-order functions).
    base = c.select(
        "doc_id", "text", tx.tokens(F.col("text")).alias("toks"),
        F.monotonically_increasing_id().alias("__mid"),
    ).where(F.size("toks") > 0)
    toks, n = F.col("toks"), F.size("toks")
    length_ok = ((n >= 20) & (n <= 1000)).cast("int")
    alpha_ratio = F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")) / \
        F.greatest(F.length("text"), F.lit(1))
    uniq = F.size(F.array_distinct(toks)) / n
    en_sw = F.array(*[F.lit(w) for w in tx.STOPWORDS["en"]])
    has_sw = (
        (F.size(F.filter(toks, lambda t: F.array_contains(en_sw, t))) / n)
        > 0.02
    ).cast("int")
    feats = base.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        F.round((length_ok + alpha_ratio + uniq + has_sw) / 4.0, 6).alias("quality"),
        tx.lang_best(toks).alias("lang_pred"),
        tx.h60(F.concat_ws(" ", toks)).alias("content_hash"),
    )
    kept = feats.where(
        (F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 2000)
        & (F.col("quality") >= 0.5) & (F.col("lang_pred") == "en")
    )
    w = Window.partitionBy("content_hash")
    out = kept.select(
        "doc_id", "n_tokens", "quality",
        F.row_number().over(w.orderBy("doc_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )
    return out.where(F.col("rn") == 1).select(
        "doc_id", "n_tokens", "quality", "n_copies"
    )


# --- Python UDTF surface -----------------------------------------------------

_SEGMENTS_ORACLE = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' the ') AS arr
               FROM documents),
    e AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(arr) + 1),
                        i -> struct_pack(i := i, seg := trim(arr[i])))) AS u
          FROM t)
    SELECT doc_id,
           CAST(u.i AS INT) AS seg_idx,
           CAST(length(u.seg) AS INT) AS n_chars,
           {_H60.format(x="u.seg")} AS seg_hash
    FROM e WHERE u.seg <> ''
"""


@register(
    "udtf_sentence_segments",
    _SEGMENTS_ORACLE,
    doc="Python UDTF (Spark 4 table function) — the one UDF surface the "
        "other queries don't touch: each (doc_id, text) row EXPANDS into "
        "multiple segment rows via a LATERAL correlated call, with segment "
        "index, length, and the portable h60 hash computed in Python "
        "(identical md5-prefix arithmetic to the SQL twin). The delimiter "
        "is the literal ' the ' (the synthetic corpus has no punctuation), "
        "standing in for sentence boundaries — dialect-free split on all "
        "engines. Segmenting is the chunk-for-embedding step a pipeline "
        "runs when chunks must follow linguistic boundaries rather than "
        "fixed token windows (text_chunking covers the fixed-window "
        "variant with pure built-ins; the UDTF is the escape hatch for "
        "logic an expression can't express, e.g. a real sentence "
        "tokenizer).",
)
def udtf_sentence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, seg_idx int, n_chars int, seg_hash bigint")
    class SentenceSegments:
        def eval(self, doc_id, text):
            if text is None:
                return
            for i, part in enumerate(text.split(" the "), 1):
                seg = part.strip(" ")  # space-only, matching SQL TRIM
                if seg:
                    h = int(hashlib.md5(seg.encode()).hexdigest()[:15], 16)
                    yield doc_id, i, len(seg), h

    spark.udtf.register("pgcdc_sentence_segments", SentenceSegments)
    d = T(spark, sf_dir, "documents")
    view = f"pgcdc_docs_{spark.sparkContext.applicationId.replace('-', '_')}"
    d.select("doc_id", "text").createOrReplaceTempView(view)
    return spark.sql(
        f"SELECT s.* FROM {view} d, "
        "LATERAL pgcdc_sentence_segments(d.doc_id, d.text) s"
    )


@register(
    "corpus_mix_report",
    f"""
    WITH t AS (SELECT source, lang,
                      CAST(len({_TOKS}) AS BIGINT) AS nt,
                      {_H60.format(x="text")} AS h
               FROM documents),
    g AS (SELECT source, lang,
                 count(*) AS n_docs,
                 CAST(sum(nt) AS BIGINT) AS n_tokens,
                 count(DISTINCT h) AS n_distinct
          FROM t GROUP BY source, lang)
    SELECT source, lang, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / n_docs, 6) AS tokens_per_doc,
           round(1 - CAST(n_distinct AS DOUBLE) / n_docs, 6) AS dup_rate,
           round(CAST(n_tokens AS DOUBLE)
                 / CAST(SUM(n_tokens) OVER () AS DOUBLE), 6) AS token_share
    FROM g
    """,
    doc="Data-mixture report per (source, lang): doc/token counts, exact-dup "
        "rate from the portable content hash, and each stratum's token share "
        "of the corpus — the numbers a training run needs to set sampling "
        "weights. Every ratio divides exact integers, so doubles agree "
        "bit-for-bit across engines. Shape at 100 TB: one partial+final "
        "hash-agg over (source, lang); the OVER () window runs on the "
        "already-aggregated stratum frame (tens of rows), never the corpus.",
)
def corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    g = (
        d.select(
            "source", "lang",
            F.size(tx.tokens(F.col("text"))).cast("long").alias("nt"),
            tx.h60(F.col("text")).alias("h"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
            F.countDistinct("h").alias("n_distinct"),
        )
    )
    w = Window.partitionBy()
    return g.select(
        "source", "lang", "n_docs", "n_tokens",
        F.round(F.col("n_tokens") / F.col("n_docs"), 6).alias("tokens_per_doc"),
        F.round(1 - F.col("n_distinct") / F.col("n_docs"), 6).alias("dup_rate"),
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(w), 6).alias(
            "token_share"
        ),
    )


from postgresql_cdc_spark.plans.extensions import _TOPK_BRUTE_ORACLE  # noqa: E402


@register(
    "knn_label_vote",
    f"""
    WITH votes AS (
        SELECT nn.query_id, e.label AS pred_label, count(*) AS n_votes
        FROM ({_TOPK_BRUTE_ORACLE}) nn
        JOIN embeddings e ON nn.neighbor_id = e.vec_id
        GROUP BY nn.query_id, e.label
    ),
    best AS (
        SELECT query_id, pred_label, n_votes,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY n_votes DESC, pred_label ASC) AS rn
        FROM votes
    )
    SELECT b.query_id,
           CAST(t.label AS INT) AS true_label,
           CAST(b.pred_label AS INT) AS pred_label,
           b.n_votes
    FROM best b JOIN embeddings t ON b.query_id = t.vec_id
    WHERE rn = 1
    """,
    doc="kNN label vote over the embedding column: each query vector's top-5 "
        "exact-cosine neighbors vote on its label (majority, ties to the "
        "smallest label) — the label-propagation / weak-supervision eval a "
        "labeled-subset pipeline runs. Vote ordering is deterministic because "
        "cosine rounds to 6 dp BEFORE ranking (the sim_topk convention). "
        "Scale: neighbor ranking is the documented brute baseline (swap in "
        "the LSH/IVF path at size); the vote itself is one hash-agg plus a "
        "per-query window over at most k rows.",
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators import similarity as sim

    e = T(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    nn = sim.topk_brute(e, q, k=5)
    labels = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("pred_label")
    )
    votes = nn.join(labels, "neighbor_id").groupBy("query_id", "pred_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("pred_label")
    )
    best = votes.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    truth = e.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return best.join(truth, "query_id").select(
        "query_id",
        F.col("true_label").cast("int").alias("true_label"),
        F.col("pred_label").cast("int").alias("pred_label"),
        "n_votes",
    )


@register(
    "pack_training_sequences",
    f"""
    WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
                      CAST(len({_TOKS}) AS BIGINT) AS nt
               FROM documents),
    c AS (SELECT doc_id, shard, nt,
                 COALESCE(SUM(nt) OVER (
                     PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS cum_before
          FROM t)
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(cum_before // 2048 AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM c GROUP BY shard, seq_id
    """,
    doc="Sequence packing (concat-and-chunk): documents are hash-sharded, "
        "concatenated in doc order within each shard, and chunked into "
        "2048-token training sequences — each doc accounted to the sequence "
        "its first token lands in (running-sum-before // capacity, the "
        "standard pretraining packing ledger). Integer-only arithmetic, so "
        "both engines agree exactly. Scale: ONE shuffle (the per-shard "
        "window); shard count scales with the cluster, and each shard's "
        "cumsum is the only sequential dependency — exactly how a real "
        "packing job parallelizes.",
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        (F.col("doc_id") % 8).cast("long").alias("shard"),
        F.size(tx.tokens(F.col("text"))).cast("long").alias("nt"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "cum_before", F.coalesce(F.sum("nt").over(w), F.lit(0))
    )
    return (
        c.withColumn("seq_id", F.floor(F.col("cum_before") / 2048))
        .groupBy("shard", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


from postgresql_cdc_spark.plans.extensions import _SHINGLES3  # noqa: E402


@register(
    "source_overlap_matrix",
    f"""
    WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
    s AS (SELECT source, {_SHINGLES3} AS sh FROM t),
    post AS (SELECT DISTINCT source, {_H60.format(x="u")} AS sh_hash
             FROM (SELECT source, unnest(sh) AS u FROM s WHERE len(sh) > 0)),
    cnt AS (SELECT source, COUNT(*) AS n_sh FROM post GROUP BY source),
    pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                     COUNT(*) AS n_common
              FROM post a JOIN post b USING (sh_hash)
              WHERE a.source < b.source GROUP BY 1, 2)
    SELECT p.source_a, p.source_b, p.n_common,
           round(CAST(p.n_common AS DOUBLE)
                 / least(ca.n_sh, cb.n_sh), 6) AS containment
    FROM pairs p
    JOIN cnt ca ON p.source_a = ca.source
    JOIN cnt cb ON p.source_b = cb.source
    """,
    doc="Cross-source duplication matrix: distinct 3-gram shingles per "
        "source, equi-joined on the shingle hash, aggregated to source "
        "pairs with containment = shared / min(source sizes) — the "
        "data-governance report showing which ingest sources recycle each "
        "other's content. Scale: the posting list is distinct per (source, "
        "shingle), so the join fan-out per shingle is bounded by "
        "C(n_sources, 2), not document counts; output is a tiny matrix.",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    post = (
        d.select(
            "source",
            F.explode(
                F.transform(tx.shingles(tx.tokens(F.col("text")), 3), tx.h60)
            ).alias("sh_hash"),
        )
        .distinct()
    )
    cnt = post.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = post.alias("a"), post.alias("b")
    pairs = (
        a.join(b, "sh_hash")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = cnt.select(F.col("source").alias("source_a"), F.col("n_sh").alias("na"))
    cb = cnt.select(F.col("source").alias("source_b"), F.col("n_sh").alias("nb"))
    return (
        pairs.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a", "source_b", "n_common",
            F.round(F.col("n_common") / F.least("na", "nb"), 6).alias(
                "containment"
            ),
        )
    )


# --- incremental (ingest-time) near-dup dedup --------------------------------

from postgresql_cdc_spark.plans.extensions import _mh_sql  # noqa: E402


def _band_from_sql(src: str, b: int, rows: int = 3) -> str:
    parts = ", ".join(f"CAST(m{b*rows+r} AS VARCHAR)" for r in range(rows))
    return (f"SELECT id, {b} AS band, "
            + _H60.format(x=f"concat_ws(',', {parts})")
            + f" AS bucket FROM {src}")


_INCR_ORACLE = f"""
    WITH bat AS (SELECT doc_id + 100000 AS id, text || ' qq zz' AS text
                 FROM documents WHERE doc_id % 5 = 0),
    cor AS (SELECT doc_id AS id, text FROM documents),
    tb AS (SELECT id, {_TOKS} AS toks FROM bat),
    tc AS (SELECT id, {_TOKS} AS toks FROM cor),
    shb AS (SELECT id, {_SHINGLES3} AS sh FROM tb),
    shc AS (SELECT id, {_SHINGLES3} AS sh FROM tc),
    bb AS (SELECT id, list_transform(sh, s -> {_H60.format(x='s')}) AS shh
           FROM shb WHERE len(sh) > 0),
    bc AS (SELECT id, list_transform(sh, s -> {_H60.format(x='s')}) AS shh
           FROM shc WHERE len(sh) > 0),
    sigb AS (SELECT id, {", ".join(_mh_sql(i) for i in range(12))} FROM bb),
    sigc AS (SELECT id, {", ".join(_mh_sql(i) for i in range(12))} FROM bc),
    bandsb AS ({" UNION ALL ".join(_band_from_sql("sigb", b) for b in range(4))}),
    bandsc AS ({" UNION ALL ".join(_band_from_sql("sigc", b) for b in range(4))}),
    wide AS (SELECT band, bucket FROM bandsc GROUP BY 1, 2
             HAVING COUNT(*) > 50),
    bkc AS (SELECT bandsc.* FROM bandsc ANTI JOIN wide USING (band, bucket)),
    cand0 AS (SELECT DISTINCT p.id AS batch_id, q.id AS corpus_id
              FROM bandsb p JOIN bkc q USING (band, bucket)),
    szb AS (SELECT id, len(shh) AS n_sh FROM bb),
    szc AS (SELECT id, len(shh) AS n_sh FROM bc),
    cand AS (SELECT cd.batch_id, cd.corpus_id, sa.n_sh AS na, sb2.n_sh AS nb
             FROM cand0 cd
             JOIN szb sa ON sa.id = cd.batch_id
             JOIN szc sb2 ON sb2.id = cd.corpus_id
             WHERE least(sa.n_sh, sb2.n_sh)
                   >= (0.5 - 1e-6) * greatest(sa.n_sh, sb2.n_sh)),
    pb AS (SELECT id, unnest(shh) AS sh_hash FROM bb),
    pc AS (SELECT id, unnest(shh) AS sh_hash FROM bc),
    common AS (SELECT cd.batch_id, cd.corpus_id, cd.na, cd.nb,
                      COUNT(*) AS n_common
               FROM cand cd
               JOIN pb ON pb.id = cd.batch_id
               JOIN pc ON pc.id = cd.corpus_id AND pc.sh_hash = pb.sh_hash
               GROUP BY 1, 2, 3, 4)
    SELECT batch_id, corpus_id,
           round(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6) AS jaccard
    FROM common
    WHERE round(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6) >= 0.5
"""


@register(
    "dedup_incremental_batch",
    _INCR_ORACLE,
    doc="Ingest-time near-dup check: a NEW batch (the perturbed +100000 docs) "
        "probes the EXISTING corpus's LSH band-bucket index — candidates from "
        "a batch→index equi-join on (band, bucket), hot corpus buckets "
        "capped, exact shingle Jaccard verification with the size-ratio "
        "prune. The corpus never self-joins, so daily-ingest cost is "
        "O(|batch| × collision rate) regardless of corpus size — the shape a "
        "stored (band, bucket, id) index table gives a 100 TB deployment.",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators import dedup as dd

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    batch = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq zz")).alias("text"),
    )
    return dd.minhash_lsh_incremental(batch, d, "text", "doc_id", threshold=0.5)


# --- STREAMING ingest-time near-dup dedup (foreachBatch index append) ---------

_STREAM_INCR_ORACLE = f"""
    WITH docs AS (
        SELECT doc_id AS id, text, doc_id % 3 AS wave FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS id, text || ' qq zz' AS text, 3 AS wave
        FROM documents WHERE doc_id % 5 = 0),
    t AS (SELECT id, wave, {_TOKS} AS toks FROM docs),
    sh AS (SELECT id, wave, {_SHINGLES3} AS sh FROM t),
    bb AS (SELECT id, wave, list_transform(sh, s -> {_H60.format(x='s')}) AS shh
           FROM sh WHERE len(sh) > 0),
    sig AS (SELECT id, {", ".join(_mh_sql(i) for i in range(12))} FROM bb),
    bands AS ({" UNION ALL ".join(_band_from_sql("sig", b) for b in range(4))}),
    wv AS (SELECT id, wave FROM bb),
    cand0 AS (SELECT DISTINCT p.id AS batch_id, q.id AS corpus_id
              FROM bands p
              JOIN bands q ON p.band = q.band AND p.bucket = q.bucket
              JOIN wv wp ON wp.id = p.id
              JOIN wv wq ON wq.id = q.id
              WHERE wp.wave > wq.wave),
    sz AS (SELECT id, len(shh) AS n_sh FROM bb),
    cand AS (SELECT cd.batch_id, cd.corpus_id, sa.n_sh AS na, sb2.n_sh AS nb
             FROM cand0 cd
             JOIN sz sa ON sa.id = cd.batch_id
             JOIN sz sb2 ON sb2.id = cd.corpus_id
             WHERE least(sa.n_sh, sb2.n_sh)
                   >= (0.5 - 1e-6) * greatest(sa.n_sh, sb2.n_sh)),
    post AS (SELECT id, unnest(shh) AS sh_hash FROM bb),
    common AS (SELECT cd.batch_id, cd.corpus_id, cd.na, cd.nb,
                      COUNT(*) AS n_common
               FROM cand cd
               JOIN post pa ON pa.id = cd.batch_id
               JOIN post pb ON pb.id = cd.corpus_id
                            AND pb.sh_hash = pa.sh_hash
               GROUP BY 1, 2, 3, 4)
    SELECT batch_id, corpus_id,
           round(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6) AS jaccard
    FROM common
    WHERE round(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6) >= 0.5
"""


@register(
    "cdc_stream_incremental_dedup",
    _STREAM_INCR_ORACLE,
    doc="STREAMING ingest-time near-dup dedup — the production shape "
        "dedup_incremental_batch models, now actually run as a "
        "StreamingQuery: the corpus arrives in 4 ordered ingest waves "
        "(one parquet file per micro-batch, maxFilesPerTrigger=1 under "
        "Trigger.AvailableNow), and each foreachBatch FIRST probes the "
        "batch against the LSH index tables the PREVIOUS batches "
        "persisted (buckets/sizes/postings parquet — the LshIndex "
        "admission-time layout), THEN appends the batch's own index rows. "
        "Every emitted pair therefore crosses ingest order: "
        "wave(batch_id) > wave(corpus_id); in-wave twins are invisible by "
        "design (an admission pipeline checks arrivals against the "
        "admitted corpus, not against each other). Waves 0-2 split the "
        "originals by doc_id % 3; wave 3 is the perturbed twins, "
        "guaranteeing matches. The hot-bucket cap is disabled (the cap "
        "depends on index state at each wave, which no closed-form oracle "
        "can restate) so the DuckDB twin models the full iterated ingest "
        "exactly: band collision across waves, size-ratio prune, exact "
        "shingle-Jaccard >= 0.5. Corpus never self-joins; per-wave cost "
        "is O(|wave| x collision rate) however large the accumulated "
        "index grows. Delivery note: since r11 the match AND index "
        "writes are partitioned by ingest_epoch and written with dynamic "
        "partition overwrite, and the probe loads only index rows of "
        "STRICTLY EARLIER epochs — a replayed micro-batch (at-least-once "
        "foreachBatch) overwrites exactly its own partition and never "
        "sees its own half-written index rows, making the pipeline "
        "restart-idempotent rather than merely restart-documented. Since "
        "r13 every wave's ingest also runs the size-tiered compaction "
        "trigger (maybe_compact, cap 2) over the three index stores — it "
        "no-ops until the final wave, where three committed live partials "
        "cross the cap and epochs 0-2 fold into each store's base "
        "partition — and probes through the manifest-aware reader: the "
        "epoch-per-partition growth the r12 verdict flagged now has its "
        "lifecycle POLICY exercised under the oracle, inside a live "
        "stream, with a replayed final wave finding the count back under "
        "the cap and no-opping (the probe sees the identical pre-3 state "
        "either way).",
)
def cdc_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from postgresql_cdc_spark.operators import dedup as dd
    from postgresql_cdc_spark.plans.streaming_gate import (
        _file_waves,
        _gate_dir,
        _run_stream,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    waves = [d.where(F.col("doc_id") % 3 == k) for k in range(3)]
    waves.append(
        d.where(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" qq zz")).alias("text"),
        )
    )

    base = _gate_dir("sincr")
    stream = _file_waves(spark, base, waves, "doc_id long, text string")

    idx = {
        p: os.path.join(base, "index", p)
        for p in ("buckets", "sizes", "postings")
    }
    matches_dir = os.path.join(base, "matches")

    from postgresql_cdc_spark.streaming.epoch_io import epoch_overwrite
    from postgresql_cdc_spark.streaming.epoch_maintenance import (
        epochs_before_compacted,
        maybe_compact,
    )

    def ingest(batch: DataFrame, epoch: int) -> None:
        # idempotent under at-least-once replay: a re-run epoch overwrites
        # exactly its own ingest_epoch partition (epoch_io contract) and the
        # probe reads only strictly-earlier epochs, so it never sees its own
        # (possibly half-written) index rows
        sp = batch.sparkSession
        batch = batch.persist()  # probed and indexed: two consumers
        ep = int(epoch)
        if os.path.isdir(idx["buckets"]):
            # the maintained-store lifecycle, mid-stream, via the size-
            # tiered trigger a production sink runs every epoch: with the
            # cap at 2 it no-ops through epochs 1-2 and fires at epoch 3
            # (three committed live partials), folding each store's epochs
            # 0-2 into its base partition; a replayed epoch 3 finds the
            # count back under the cap and no-ops, and the manifest-aware
            # probe below sees the identical pre-3 state either way
            for p in idx.values():
                maybe_compact(sp, p, current_epoch=ep, max_live_partials=2)
            ci = dd.LshIndex(
                epochs_before_compacted(sp, idx["buckets"], ep),
                epochs_before_compacted(sp, idx["sizes"], ep),
                epochs_before_compacted(sp, idx["postings"], ep),
            )
            epoch_overwrite(
                dd.minhash_lsh_incremental(
                    batch, None, "text", "doc_id", threshold=0.5,
                    corpus_index=ci, max_bucket=10**9,
                ),
                matches_dir, ep,
            )
        bi = dd.build_lsh_index(batch, "text", "doc_id")
        epoch_overwrite(bi.buckets, idx["buckets"], ep)
        epoch_overwrite(bi.sizes, idx["sizes"], ep)
        epoch_overwrite(bi.postings, idx["postings"], ep)
        sp.catalog.clearCache()  # per the dedup.py persist contract

    _run_stream(spark, stream, base, ingest, timeout_s=300)
    if not os.path.isdir(matches_dir):
        return spark.createDataFrame(
            [], "batch_id long, corpus_id long, jaccard double"
        )
    return spark.read.parquet(matches_dir).select(
        "batch_id", "corpus_id", "jaccard"
    )
