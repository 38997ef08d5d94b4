"""Text and corpus-engineering queries over the ``documents`` fixture:
token statistics, quality filters, language id, n-gram and BPE statistics,
TF-IDF and BM25, chunking, PII scrubbing, sampling and packing — the
training-data-pipeline stages between ingest and training.

Every oracle replicates the Spark pipeline in DuckDB SQL through the
portable primitives in ``common`` (tokenizer, h60 hash), so every output
column is an integer, a string or a value both engines compute
bit-identically; every pipeline is a projection, explode or hash-agg.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from postgresql_cdc_spark.operators import text as tx
from postgresql_cdc_spark.operators.text import BPE_SPLIT_PATTERN
from postgresql_cdc_spark.plans.common import (
    BM25_SCORE,
    BM25_TERMS,
    CORPUS,
    H60,
    NGRAM_ORACLE,
    SHINGLES3,
    S_TOKS,
    T,
    TOKS,
    bm25_doc_col_list,
    bm25_scored_sql,
    near_dup_corpus,
)
from postgresql_cdc_spark.plans.registry import register

_EN_SW = "['the','a','of','and','to','in','is','that','it','for']"
_DE_SW = "['der','die','das','und','ist','von','mit','den','ein','zu']"
_FR_SW = "['le','la','les','et','est','de','un','une','que','pour']"
_ES_SW = "['el','la','los','las','es','de','un','una','que','por']"


# --- text analysis -----------------------------------------------------------


@register(
    "text_token_stats",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_uniq,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
           CAST(list_reduce(list_transform(toks, x -> CAST(length(x) AS BIGINT)),
                            (a,b) -> a+b) AS DOUBLE) / len(toks) AS mean_token_len
    FROM t WHERE len(toks) > 0
    """,
    doc="Token counting over documents: counts, uniq ratio, mean token length.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hoist tokenization AND array_distinct into projected columns computed
    # once — Catalyst does not CSE identical HOF subtrees across output
    # columns, so inlining them re-tokenized/re-deduped per stat.
    d = T(spark, sf_dir, "documents")
    d = d.select("doc_id", tx.tokens(F.col("text")).alias("toks")).where(
        F.size("toks") > 0
    )
    d = d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_uniq"),
        # separator-free concat length == sum of token lengths (no HOF fold)
        F.length(F.concat_ws("", F.col("toks"))).cast("long").alias("len_sum"),
    )
    return d.select(
        "doc_id",
        "n_tokens",
        "n_uniq",
        (F.col("n_uniq") / F.col("n_tokens")).alias("uniq_ratio"),
        (F.col("len_sum") / F.col("n_tokens")).alias("mean_token_len"),
    )


@register(
    "text_quality",
    f"""
    WITH t AS (SELECT doc_id, text, {TOKS} AS toks FROM documents)
    SELECT doc_id,
           round((
               (CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 1 ELSE 0 END)
             + CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1)
             + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
             + (CASE WHEN CAST(len(list_filter(toks, x -> list_contains({_EN_SW}, x))) AS DOUBLE)
                          / len(toks) > 0.02 THEN 1 ELSE 0 END)
           ) / 4.0, 6) AS quality
    FROM t WHERE len(toks) > 0
    """,
    doc="Heuristic document quality score (length/alpha/uniq/stopword bands).",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.where(F.size(tx.tokens(F.col("text"))) > 0).select(
        "doc_id", tx.quality_score(F.col("text")).alias("quality")
    )


@register(
    "text_langid",
    f"""
    WITH t AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
    s AS (
        SELECT doc_id, lang,
               len(list_filter(toks, x -> list_contains({_DE_SW}, x))) AS s_de,
               len(list_filter(toks, x -> list_contains({_EN_SW}, x))) AS s_en,
               len(list_filter(toks, x -> list_contains({_ES_SW}, x))) AS s_es,
               len(list_filter(toks, x -> list_contains({_FR_SW}, x))) AS s_fr
        FROM t
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM s
    """,
    doc="Stopword-overlap language ID (cheap n-gram heuristic).",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", tx.lang_best(tx.tokens(F.col("text"))).alias("lang_pred")
    )


@register(
    "text_fingerprint",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, toks, {SHINGLES3} AS sh FROM t)
    SELECT doc_id,
           md5(array_to_string(toks, ' ')) AS content_md5,
           CASE WHEN len(sh) > 0
                THEN list_min(list_transform(sh, x -> {H60.format(x='x')}))
                ELSE NULL END AS min_shingle_hash
    FROM s
    """,
    doc="Document fingerprinting: normalized content md5 + min-shingle hash.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.doc_fingerprint(F.col("text")).alias("content_md5"),
        tx.min_shingle_hash(F.col("text")).alias("min_shingle_hash"),
    )


@register(
    "text_chunking",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    base AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
    st AS (SELECT doc_id, toks, n, unnest(range(1, n + 1, 48)) AS s FROM base)
    SELECT doc_id,
           CAST((s - 1) // 48 AS INT) AS chunk_id,
           CAST(least(64, n - s + 1) AS INT) AS n_chunk_tokens,
           {H60.format(x="array_to_string(list_slice(toks, s, least(s + 63, n)), ' ')")}
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
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
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
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
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


# --- training-data hygiene: repetition + contamination -----------------------


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
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
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

# the pattern contains apostrophes (contraction alternative) — double them
# for the SQL string literal
_BPE_SQL_PAT = BPE_SPLIT_PATTERN.replace("'", "''")


@register(
    "text_bpe_token_count",
    f"""
    WITH g AS (SELECT doc_id,
                      regexp_extract_all(lower(text),
                                         '{_BPE_SQL_PAT}') AS pieces,
                      {TOKS} AS toks
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


# --- composed corpus-cleaning pass -------------------------------------------


_CLEAN_GREATEST = "greatest(s_de, s_en, s_es, s_fr)"

_CLEAN_ORACLE = f"""
    WITH c AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000 AS doc_id, text FROM documents
        WHERE doc_id % 7 = 0
    ),
    t AS (SELECT doc_id, text, {TOKS} AS toks FROM c),
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
               {H60.format(x="array_to_string(toks, ' ')")} AS content_hash
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
           {H60.format(x="u.seg")} AS seg_hash
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
                      CAST(len({TOKS}) AS BIGINT) AS nt,
                      {H60.format(x="text")} AS h
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


@register(
    "pack_training_sequences",
    f"""
    WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
                      CAST(len({TOKS}) AS BIGINT) AS nt
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


@register(
    "source_overlap_matrix",
    f"""
    WITH t AS (SELECT source, {TOKS} AS toks FROM documents),
    s AS (SELECT source, {SHINGLES3} AS sh FROM t),
    post AS (SELECT DISTINCT source, {H60.format(x="u")} AS sh_hash
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


@register(
    "text_quality_unigram",
    f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS tk FROM documents),
    occ AS (SELECT doc_id, unnest(tk) AS t FROM tk WHERE len(tk) > 0),
    dfreq AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM occ GROUP BY t)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(CAST(SUM(df) AS DOUBLE) / COUNT(*), 6) AS mean_df,
           round(CAST(SUM(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS rare_frac
    FROM occ JOIN dfreq USING (t)
    GROUP BY doc_id
    """,
    doc="Corpus-statistics quality scoring (integer-exact CCNet-style LM "
        "filter proxy): per doc, mean corpus document-frequency of its "
        "token occurrences and the corpus-rare (df<=2) occurrence fraction "
        "— low mean_df / high rare_frac flags gibberish and OCR noise. Two "
        "word-count-shaped passes: vocabulary groupBy(token), then one "
        "token-keyed equi-join back to occurrences + per-doc agg.",
)
def text_quality_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import unigram_df_scores

    d = T(spark, sf_dir, "documents", fanout=False)
    return unigram_df_scores(d, "text", "doc_id").withColumnRenamed(
        "id", "doc_id"
    )


# --- deterministic train/val/test split --------------------------------------

@register(
    "corpus_split_assign",
    f"""
    SELECT doc_id,
           CAST(h % 100 AS INT) AS bucket,
           CASE WHEN h % 100 < 90 THEN 'train'
                WHEN h % 100 < 95 THEN 'val'
                ELSE 'test' END AS split,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM (SELECT doc_id, n_chars,
                 {H60.format(x="'split:' || CAST(doc_id AS VARCHAR)")} AS h
          FROM documents)
    """,
    doc="Deterministic 90/5/5 train/val/test split assignment by salted "
        "portable hash of the stable document id — reproducible across "
        "engines, runs, and data layouts (never random() or row position, "
        "both of which reshuffle membership when the corpus is re-sharded). "
        "Per-row projection: scan speed, no shuffle at any scale; the "
        "assignment commutes with any later filter, so split integrity "
        "survives pipeline re-runs.",
)
def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    h = tx.h60(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
    bucket = (h % 100).cast("int")
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
        .alias("split"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


# --- collocation mining (bigram PMI) -----------------------------------------

@register(
    "text_collocations",
    f"""
    WITH t AS (SELECT {TOKS} AS toks FROM documents),
    big AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
            FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t)),
    uni AS (SELECT unnest(toks) AS w FROM t),
    cu AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY w),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM uni),
    cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
           FROM big GROUP BY w1, w2 HAVING COUNT(*) >= 5)
    SELECT cb.w1, cb.w2, cb.c_xy,
           CAST((cb.c_xy * 1000 * n.nt) // (c1.c * c2.c) AS BIGINT)
             AS pmi_milli
    FROM cb CROSS JOIN n
            JOIN cu c1 ON cb.w1 = c1.w
            JOIN cu c2 ON cb.w2 = c2.w
    WHERE (cb.c_xy * 1000 * n.nt) // (c1.c * c2.c) >= 1300
    """,
    doc="Collocation mining: bigrams whose integer-scaled pointwise mutual "
        "information (1000 * P(xy) / (P(x)P(y)), truncated — exact on both "
        "engines, no float log) is at least 1.3x the independence baseline "
        "with support >= 5. The vocabulary-building pass that promotes "
        "multi-word units (named entities, idioms) to single tokens. "
        "Bigrams come from an index transform over the token array (no "
        "positional explode); counts are two hash-aggs; the corpus total "
        "rides in as a one-row scalar broadcast (same declared shape as "
        "TPC-H Q11/Q15), and the two unigram-count joins are plain "
        "equi-joins that scale as word-count jobs.",
)
def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    t = d.select(tx.tokens(F.col("text")).alias("toks"))
    big = (
        t.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), i -> "
                    "struct(element_at(toks, i) AS w1, "
                    "element_at(toks, i + 1) AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    uni = t.select(F.explode("toks").alias("w"))
    cu = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n = uni.agg(F.count(F.lit(1)).alias("nt"))
    cb = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .where(F.col("c_xy") >= 5)
    )
    pmi = F.expr("(c_xy * 1000 * nt) DIV (c1 * c2)")
    return (
        # one-row global-total broadcast: the same scalar-broadcast BNLJ
        # shape as q11/q15/q22, declared in the plan sweep's allowlist
        cb.crossJoin(F.broadcast(n))
        .join(cu.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(cu.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .select("w1", "w2", "c_xy", pmi.alias("pmi_milli"))
        .where(F.col("pmi_milli") >= 1300)
    )


# --- leakage-safe train/val/test split (near-dup-group-aware) ----------------

@register(
    "corpus_split_leakage_safe",
    f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({NGRAM_ORACLE}),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
        SELECT DISTINCT a, a FROM sym
        UNION
        SELECT s.a, reach.r FROM sym s JOIN reach ON reach.id = s.b
    ),
    comp AS (SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id),
    corpus AS ({CORPUS}),
    allc AS (SELECT c.doc_id, coalesce(comp.component, c.doc_id) AS component
             FROM corpus c LEFT JOIN comp USING (doc_id)),
    sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS csize
           FROM allc GROUP BY component),
    assigned AS (
        SELECT doc_id, component, csize,
               CASE WHEN pm < 90 THEN 'train'
                    WHEN pm < 95 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT a.doc_id, a.component, sz.csize,
                     {H60.format(
                         x="'lsplit:' || CAST(a.component AS VARCHAR)"
                     )} % 100 AS pm
              FROM allc a JOIN sz USING (component))
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components,
           CAST(SUM(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clustered_docs
    FROM assigned GROUP BY split
    """,
    doc="Leakage-safe train/val/test split: near-duplicate documents MUST "
        "land in the same split (a train doc whose near-copy sits in test "
        "inflates eval — the contamination mode plain per-doc hashing "
        "can't prevent), so split assignment hashes the near-dup COMPONENT "
        "id, not the doc id: pairs -> connected components -> salted "
        "h60(component) %% 100 -> 90/5/5. Isolated docs are their own "
        "component, so the split stays deterministic and "
        "re-shard-reproducible for the whole corpus. The oracle replays "
        "components via a recursive CTE and the identical hash, so "
        "equality pins both the grouping and the assignment. Shape: the "
        "pair join is the capped posting equi-join, CC is the bounded "
        "label-propagation loop, and the split itself is a projection + "
        "two hash aggs.",
)
def corpus_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.dedup import ngram_jaccard_pairs
    from postgresql_cdc_spark.operators.graph import connected_components
    from postgresql_cdc_spark.operators.text import h60

    corpus = near_dup_corpus(spark, sf_dir).select("doc_id")
    pairs = ngram_jaccard_pairs(
        near_dup_corpus(spark, sf_dir), "text", "doc_id", threshold=0.5
    )
    comp = connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("id").alias("doc_id"), "component"
    )
    allc = corpus.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("component"),
    )
    sz = allc.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    pm = (
        h60(F.concat(F.lit("lsplit:"), F.col("component").cast("string")))
        % 100
    )
    # plain equi-join on component: sz has one row PER COMPONENT (isolated
    # docs are their own), so it scales with the corpus — broadcasting it
    # would ship the whole table to every executor at 100 TB
    assigned = allc.join(sz, "component").select(
        "doc_id", "component", "csize",
        F.when(pm < 90, "train").when(pm < 95, "val").otherwise("test")
        .alias("split"),
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("component").alias("n_components"),
        F.sum(F.when(F.col("csize") > 1, 1).otherwise(0))
        .alias("n_clustered_docs"),
    )


# --- importance resampling to a target corpus mix ----------------------------

@register(
    "corpus_importance_resample",
    f"""
    WITH cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
                 FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS ns FROM cnt),
    kp AS (SELECT source, n,
                  LEAST(1000, (1000 * (t // ns)) // n) AS keep_permille
           FROM cnt CROSS JOIN tot)
    SELECT d.source,
           MIN(kp.n) AS n_docs,
           CAST(MIN(kp.keep_permille) AS BIGINT) AS keep_permille,
           CAST(SUM(CASE WHEN {H60.format(
               x="'mix:' || CAST(d.doc_id AS VARCHAR)"
           )} % 1000 < kp.keep_permille THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM documents d JOIN kp USING (source)
    GROUP BY d.source
    """,
    doc="Importance resampling to a target corpus mix (uniform-over-"
        "sources here): per source, keep probability = min(1, target/"
        "actual) in integer per-mille, applied as a deterministic salted-"
        "hash threshold on the doc id — downsampling over-represented "
        "sources is how a pretraining run enforces its data mixture, and "
        "hash-threshold sampling keeps membership reproducible across "
        "runs and re-shards (never rand()). Shape: one tiny per-source "
        "count agg broadcast back (the CROSS JOIN is a one-row scalar), "
        "then a scan-speed per-row keep decision folded into the final "
        "per-source agg.",
)
def corpus_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import h60

    d = T(spark, sf_dir, "documents", fanout=False).select("doc_id", "source")
    cnt = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.agg(
        F.sum("n").alias("t"), F.count(F.lit(1)).alias("ns")
    )
    kp = cnt.crossJoin(F.broadcast(tot)).select(
        "source", "n",
        F.least(
            F.lit(1000).cast("bigint"),
            F.expr("(1000 * (t div ns)) div n"),
        ).alias("keep_permille"),
    )
    keep = (
        h60(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 1000
        < F.col("keep_permille")
    )
    return (
        d.join(F.broadcast(kp), "source")
        .groupBy("source")
        .agg(
            F.min("n").alias("n_docs"),
            F.min("keep_permille").alias("keep_permille"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
        )
    )


@register(
    "text_tfidf_topterms",
    f"""
    WITH t AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM t GROUP BY doc_id, tok),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               (1000 * tf.tf * nd.n) // df.df AS score
        FROM tf JOIN df USING (tok) CROSS JOIN nd),
    ranked AS (
        SELECT doc_id, tok, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, tok ASC) AS rank
        FROM scored)
    SELECT doc_id, rank, tok, CAST(score AS BIGINT) AS score
    FROM ranked WHERE rank <= 3
    """,
    doc="Top-3 characteristic terms per document by tf-idf-style "
        "weighting, in the LOG-FREE integer form floor(1000 * tf * N / "
        "df) — monotone in tf and 1/df exactly like tf x idf, but every "
        "score is exact integer arithmetic, so the cross-engine ranking "
        "(and the rank ties, broken on the term) is bit-deterministic "
        "where a float ln() could disagree in the last ulp at a rank "
        "boundary. The keyword-extraction pass behind search snippets and "
        "topic labeling. Shape: two word-count hash aggs (tf, then df), "
        "one token-keyed equi-join back, a one-row corpus-size broadcast, "
        "and a per-doc top-3 window — every stage is the word-count "
        "shape that defined map-reduce scalability.",
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import tokens

    d = T(spark, sf_dir, "documents", fanout=False).select("doc_id", "text")
    t = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    tf = t.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.persist()  # feeds df, nd, and scored; harness unpersists
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    nd = tf.agg(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id", "tok",
            F.expr("(1000 * tf * n) div df").alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "rank", "tok", "score")
    )


# --- BPE merge candidates (tokenizer training inner loop) --------------------

@register(
    "text_bpe_merge_candidates",
    f"""
    WITH w AS (SELECT unnest({TOKS}) AS word FROM documents),
    wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
           FROM w GROUP BY word),
    pairs AS (
        SELECT substr(word, i, 1) AS left_sym,
               substr(word, i + 1, 1) AS right_sym,
               freq
        FROM wc CROSS JOIN LATERAL (
            SELECT unnest(range(1, length(word))) AS i)
        WHERE length(word) >= 2),
    pc AS (SELECT left_sym, right_sym,
                  CAST(SUM(freq) AS BIGINT) AS pair_count
           FROM pairs GROUP BY left_sym, right_sym)
    SELECT left_sym, right_sym, pair_count,
           CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC,
                                   left_sym ASC, right_sym ASC) AS BIGINT)
               AS rank
    FROM pc
    ORDER BY rank LIMIT 20
    """,
    doc="BPE tokenizer training, one inner-loop round: the 20 most "
        "frequent adjacent CHARACTER pairs across the corpus, weighted by "
        "word frequency — exactly the statistic byte-pair encoding "
        "(Sennrich et al. 2016) greedily merges each round. Counting runs "
        "on the word-frequency table, not raw text (the standard BPE "
        "trick: a word seen 10k times contributes its pairs once with "
        "weight 10k), so the pair explode is |vocab| x word-length, "
        "corpus-size independent. Shape: two word-count hash aggs + one "
        "positional explode; the final rank runs over the tiny "
        "symbol-pair table.",
)
def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import tokens

    d = T(spark, sf_dir, "documents", fanout=False).select("doc_id", "text")
    w = d.select(F.explode(tokens(F.col("text"))).alias("word"))
    wc = w.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    pairs = wc.where(F.length("word") >= 2).select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), "
                "i -> struct(substr(word, i, 1) AS left_sym, "
                "substr(word, i + 1, 1) AS right_sym))"
            )
        ).alias("p"),
    )
    pc = pairs.groupBy(
        F.col("p.left_sym").alias("left_sym"),
        F.col("p.right_sym").alias("right_sym"),
    ).agg(F.sum("freq").alias("pair_count"))
    wn = Window.orderBy(
        F.desc("pair_count"), F.asc("left_sym"), F.asc("right_sym")
    )
    return (
        pc.withColumn("rank", F.row_number().over(wn).cast("bigint"))
        .where(F.col("rank") <= 20)
        .select("left_sym", "right_sym", "pair_count", "rank")
    )


# --- scaling-ladder corpus subsets -------------------------------------------

_SCALING_LADDER = (10, 50, 100, 250, 500, 1000)


@register(
    "corpus_scaling_ladder",
    f"""
    WITH t AS (
        SELECT doc_id,
               {H60.format(x="'lad:' || CAST(doc_id AS VARCHAR)")} % 1000
                   AS h,
               unnest(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                   x -> x <> '')) AS tok
        FROM documents)
    SELECT f.permille,
           CAST(COUNT(DISTINCT CASE WHEN t.h < f.permille
                                    THEN t.doc_id END) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN t.h < f.permille THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tokens,
           CAST(COUNT(DISTINCT CASE WHEN t.h < f.permille
                                    THEN t.tok END) AS BIGINT) AS vocab
    FROM t CROSS JOIN (SELECT unnest({list(_SCALING_LADDER)}) AS permille) f
    GROUP BY f.permille
    """,
    doc="Scaling-law data ladder: NESTED corpus subsets at 1%%..100%% by "
        "salted-hash threshold (h < 10 is a strict subset of h < 50, so "
        "every ladder rung trains on a superset of the last — the "
        "prerequisite for clean scaling curves, which independent random "
        "samples violate), reporting docs, token occurrences, and vocab "
        "size per rung. One token explode crossed with the 6-rung "
        "literal; the multi-distinct aggregate expands 6x on the deduped "
        "stream — bounded, and each rung's membership is reproducible "
        "across runs and re-shards (hash, never rand()).",
)
def corpus_scaling_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import h60, tokens

    d = T(spark, sf_dir, "documents", fanout=False).select("doc_id", "text")
    t = d.select(
        "doc_id",
        (h60(F.concat(F.lit("lad:"), F.col("doc_id").cast("string")))
         % 1000).alias("h"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    f = spark.createDataFrame([(p,) for p in _SCALING_LADDER], "permille int")
    j = t.crossJoin(F.broadcast(f))
    return j.groupBy("permille").agg(
        F.countDistinct(
            F.when(F.col("h") < F.col("permille"), F.col("doc_id"))
        ).alias("n_docs"),
        F.sum(
            F.when(F.col("h") < F.col("permille"), 1).otherwise(0)
        ).alias("n_tokens"),
        F.countDistinct(
            F.when(F.col("h") < F.col("permille"), F.col("tok"))
        ).alias("vocab"),
    )


@register(
    "corpus_boilerplate_removal",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' the ') AS arr
               FROM documents),
    seg0 AS (SELECT doc_id,
                    unnest(list_transform(range(1, len(arr) + 1),
                           i -> trim(arr[i]))) AS s
             FROM t),
    seg AS (SELECT doc_id, {H60.format(x='s')} AS sh,
                   length(s) AS n_chars
            FROM seg0 WHERE s <> ''),
    df AS (SELECT sh, COUNT(DISTINCT doc_id) AS n_docs
           FROM seg GROUP BY sh),
    f AS (SELECT seg.doc_id, seg.n_chars, df.n_docs >= 4 AS is_boiler
          FROM seg JOIN df USING (sh))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segs,
           CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler_segs,
           CAST(SUM(CASE WHEN is_boiler THEN 0 ELSE n_chars END) AS BIGINT)
             AS kept_chars
    FROM f GROUP BY doc_id
    """,
    doc="Cross-document boilerplate removal (the C4/CCNet cleaning step): "
        "segment every document at sentence boundaries (the corpus "
        "convention from udtf_sentence_segments: split on literal ' the "
        "'), hash each segment, and mark segments whose hash appears in "
        ">= 4 DISTINCT documents as boilerplate — navigation chrome, "
        "cookie banners, licence footers — then report per-document "
        "segment/boilerplate counts and surviving character mass. This "
        "is corpus-global dedup at SEGMENT granularity, which doc-level "
        "dedup (minhash etc.) cannot see. Shape: one explode scan, one "
        "hash-agg on segment hash (map-side combinable distinct), one "
        "co-partitioned join back on the same key (exchange reused under "
        "AQE), one doc-keyed agg. No pair joins anywhere — boilerplate "
        "detection is df-counting, not similarity.",
)
def corpus_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import h60

    d = T(spark, sf_dir, "documents", fanout=False)
    seg = (
        d.select(
            "doc_id",
            F.explode(F.split("text", " the ")).alias("s0"),
        )
        .select("doc_id", F.trim(F.col("s0")).alias("s"))
        .where(F.col("s") != "")
        .select(
            "doc_id", h60(F.col("s")).alias("sh"),
            F.length("s").alias("n_chars"),
        )
    )
    df_counts = seg.groupBy("sh").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    f = seg.join(df_counts, "sh").select(
        "doc_id", "n_chars", (F.col("n_docs") >= 4).alias("is_boiler")
    )
    return f.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_boiler_segs"),
        F.sum(F.when(F.col("is_boiler"), 0).otherwise(F.col("n_chars")))
        .cast("bigint")
        .alias("kept_chars"),
    )


@register(
    "text_ngram_lm_counts",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    bg AS (SELECT unnest(list_transform(range(2, len(toks) + 1),
                         i -> struct_pack(w1 := toks[i - 1], w2 := toks[i])))
                  AS b
           FROM t WHERE len(toks) >= 2),
    c AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS n FROM bg GROUP BY 1, 2),
    cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_left_types
             FROM c GROUP BY w2),
    fan AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS n_right_types
            FROM c GROUP BY w1),
    ranked AS (SELECT c.w1, c.w2, CAST(c.n AS BIGINT) AS n_bigram,
                      f.n_right_types, ct.n_left_types,
                      ROW_NUMBER() OVER (ORDER BY c.n DESC, c.w1, c.w2)
                        AS rnk
               FROM c JOIN fan f ON c.w1 = f.w1
                      JOIN cont ct ON c.w2 = ct.w2)
    SELECT w1, w2, n_bigram, n_right_types, n_left_types,
           CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 50
    """,
    doc="Kneser-Ney bigram count tables (the KenLM/SRILM data layer): raw "
        "bigram counts c(w1,w2) plus the two continuation-type counts the "
        "KN discount needs — N1+(w1,*) distinct right continuations and "
        "N1+(*,w2) distinct left contexts (the quantity that makes KN "
        "beat plain MLE: 'francisco' is frequent but only ever follows "
        "'san'). The perplexity-filter infrastructure for training-data "
        "quality scoring. Bigrams come from an in-row array transform "
        "(zero shuffle until the count agg); both type counts are aggs "
        "OVER the already-reduced bigram table, not the corpus; top-50 "
        "by (count, bigram) is the deterministic report cut. At 100 TB: "
        "one map-side-combinable shuffle on bigram, two on its "
        "|vocab|-bounded margins.",
)
def text_ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from postgresql_cdc_spark.operators.text import tokens

    d = T(spark, sf_dir, "documents", fanout=False)
    t = d.select(tokens(F.col("text")).alias("toks")).where(
        F.size("toks") >= 2
    )
    bg = t.select(
        F.explode(
            F.expr(
                "transform(sequence(2, size(toks)), "
                "i -> struct(toks[i - 2] AS w1, toks[i - 1] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    c = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n")).persist()
    cont = c.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_left_types")
    )
    fan = c.groupBy("w1").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_right_types")
    )
    ranked = (
        c.join(fan, "w1")
        .join(cont, "w2")
        .withColumn(
            "rnk",
            F.row_number().over(W.orderBy(F.desc("n"), "w1", "w2")),
        )
        .where(F.col("rnk") <= 50)
    )
    return ranked.select(
        "w1", "w2", F.col("n").cast("bigint").alias("n_bigram"),
        "n_right_types", "n_left_types", F.col("rnk").cast("int").alias("rnk"),
    )


@register(
    "corpus_quality_funnel",
    f"""
    WITH d AS (SELECT doc_id, text, length(text) AS n_chars,
                      {TOKS} AS toks
               FROM documents),
    f AS (SELECT doc_id,
                 n_chars < 200 AS r_too_short,
                 n_chars > 20000 AS r_too_long,
                 10 * length(regexp_replace(text, '[^a-z ]', '', 'g'))
                   < 7 * n_chars AS r_low_alpha,
                 5 * list_max(list_transform(list_distinct(toks),
                       t -> len(list_filter(toks, x -> x = t))))
                   > len(toks) AS r_repetitive
          FROM d WHERE len(toks) > 0),
    agg AS (SELECT
        CAST(SUM(CASE WHEN r_too_short THEN 1 ELSE 0 END) AS BIGINT) AS a,
        CAST(SUM(CASE WHEN r_too_long THEN 1 ELSE 0 END) AS BIGINT) AS b,
        CAST(SUM(CASE WHEN r_low_alpha THEN 1 ELSE 0 END) AS BIGINT) AS c,
        CAST(SUM(CASE WHEN r_repetitive THEN 1 ELSE 0 END) AS BIGINT) AS r,
        CAST(SUM(CASE WHEN NOT (r_too_short OR r_too_long OR r_low_alpha
                                OR r_repetitive) THEN 1 ELSE 0 END)
             AS BIGINT) AS s,
        CAST(COUNT(*) AS BIGINT) AS t
        FROM f)
    SELECT 'too_short' AS stage, a AS n_docs, t AS n_total FROM agg
    UNION ALL SELECT 'too_long', b, t FROM agg
    UNION ALL SELECT 'low_alpha', c, t FROM agg
    UNION ALL SELECT 'repetitive', r, t FROM agg
    UNION ALL SELECT 'survivors', s, t FROM agg
    """,
    doc="Quality-filter funnel report (the Gopher/C4 rule battery as an "
        "attribution table): per heuristic rule — too short, too long, "
        "low alphabetic ratio (10*alpha < 7*chars, integer cross-"
        "multiplication instead of a float ratio), repetitive (most "
        "frequent token > 20% of tokens, an in-row array computation "
        "with NO shuffle since documents are bounded) — the count of "
        "documents it would reject, plus the survivor count. This "
        "per-rule attribution is what a pipeline owner tunes thresholds "
        "against; a single pass, one hash agg to one row, stacked to "
        "the report shape. Rules are evaluated independently (a doc "
        "can fail several), survivors fail none.",
)
def corpus_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import tokens

    d = T(spark, sf_dir, "documents", fanout=False).select(
        "doc_id", "text",
        F.length("text").alias("n_chars"),
        tokens(F.col("text")).alias("toks"),
    ).where(F.size("toks") > 0)
    f = d.select(
        (F.col("n_chars") < 200).alias("r_too_short"),
        (F.col("n_chars") > 20000).alias("r_too_long"),
        (
            10 * F.length(F.regexp_replace("text", "[^a-z ]", ""))
            < 7 * F.col("n_chars")
        ).alias("r_low_alpha"),
        F.expr(
            "5 * array_max(transform(array_distinct(toks), "
            "t -> size(filter(toks, x -> x = t)))) > size(toks)"
        ).alias("r_repetitive"),
    )
    agg = f.agg(
        F.sum(F.when(F.col("r_too_short"), 1).otherwise(0))
        .cast("bigint").alias("a"),
        F.sum(F.when(F.col("r_too_long"), 1).otherwise(0))
        .cast("bigint").alias("b"),
        F.sum(F.when(F.col("r_low_alpha"), 1).otherwise(0))
        .cast("bigint").alias("c"),
        F.sum(
            F.when(
                ~(F.col("r_too_short") | F.col("r_too_long")
                  | F.col("r_low_alpha") | F.col("r_repetitive")),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("s"),
        F.sum(F.when(F.col("r_repetitive"), 1).otherwise(0))
        .cast("bigint").alias("r"),
        F.count(F.lit(1)).cast("bigint").alias("t"),
    )
    return agg.selectExpr(
        "stack(5, 'too_short', a, 'too_long', b, 'low_alpha', c, "
        "'repetitive', r, 'survivors', s) AS (stage, n_docs)",
        "t AS n_total",
    )


# --- inverted index build ----------------------------------------------------

@register(
    "text_inverted_index",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS f
           FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
           GROUP BY doc_id, tok),
    post AS (SELECT tok,
                    CAST(COUNT(*) AS BIGINT) AS df,
                    CAST(SUM(f) AS BIGINT) AS total_tf
             FROM tf GROUP BY tok),
    top3 AS (SELECT tok, string_agg(CAST(doc_id AS VARCHAR), ','
                        ORDER BY rnk) AS top_docs
             FROM (SELECT tok, doc_id,
                          ROW_NUMBER() OVER (PARTITION BY tok
                              ORDER BY f DESC, doc_id ASC) AS rnk
                   FROM tf) WHERE rnk <= 3
             GROUP BY tok)
    SELECT post.tok AS term, post.df, post.total_tf, top3.top_docs
    FROM post JOIN top3 ON post.tok = top3.tok
    """,
    doc="Inverted-index build: per term, document frequency, total term "
        "frequency, and the top-3 posting heads (highest in-doc "
        "frequency, id tie-break, comma-joined) — the materialization "
        "job behind every search/BM25/contamination-lookup system, "
        "distinct from the ranking queries (tfidf_topterms) in that it "
        "EMITS the index rows themselves. Shape: explode once, one "
        "(doc, term) hash agg, then a term-keyed agg and a term-keyed "
        "window over the already-reduced tf table — posting heads cost "
        "a bounded top-k per term, never a global sort. At 100 TB this "
        "is the standard build: everything partitions by term after one "
        "map-side-combinable reduction.",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from postgresql_cdc_spark.operators.text import tokens

    d = T(spark, sf_dir, "documents", fanout=False).select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    tf = (
        d.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("f"))
        .persist()
    )
    post = tf.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("f").cast("bigint").alias("total_tf"),
    )
    w = W.partitionBy("tok").orderBy(F.desc("f"), F.asc("doc_id"))
    top3 = (
        tf.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .groupBy("tok")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rnk", "doc_id"))
                    ),
                    lambda s: s.doc_id.cast("string"),
                ),
            ).alias("top_docs")
        )
    )
    return post.join(top3, "tok").select(
        F.col("tok").alias("term"), "df", "total_tf", "top_docs"
    )


# --- distribution shift between sources (exact total variation) --------------

@register(
    "text_source_divergence",
    f"""
    WITH t AS (SELECT source, unnest({TOKS}) AS tok FROM documents
               WHERE source IN ('src0', 'src1')),
    c AS (SELECT source, tok, COUNT(*) AS n FROM t GROUP BY source, tok),
    w AS (SELECT tok,
                 CAST(SUM(CASE WHEN source = 'src0' THEN n ELSE 0 END)
                      AS BIGINT) AS c0,
                 CAST(SUM(CASE WHEN source = 'src1' THEN n ELSE 0 END)
                      AS BIGINT) AS c1
          FROM c GROUP BY tok),
    tot AS (SELECT CAST(SUM(c0) AS BIGINT) AS t0,
                   CAST(SUM(c1) AS BIGINT) AS t1 FROM w)
    SELECT CAST((SELECT COUNT(*) FROM w) AS BIGINT) AS n_terms,
           t0 AS tokens_src0, t1 AS tokens_src1,
           CAST((1000000 * (SELECT SUM(abs(c0 * t1 - c1 * t0)) FROM w))
                // (2 * t0 * t1) AS BIGINT) AS tv_distance_ppm
    FROM tot
    """,
    doc="Distribution shift between corpus sources: EXACT total-variation "
        "distance between src0's and src1's unigram distributions, in "
        "integer ppm — the drift metric a corpus-mix owner tracks when a "
        "source's crawl changes character (the integer-exact stand-in "
        "for KL/JS divergence, whose logs are engine-float-dependent). "
        "Cross-multiplied form: TV = sum |c0*T1 - c1*T0| / (2*T0*T1) — "
        "no per-term division, one exact integer sum (bounded ~1e16 at "
        "any realistic corpus: count x total fits int64 with 1e2 "
        "headroom). Shape: one token explode, one term hash agg pivoted "
        "by source, one scalar rollup.",
)
def text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import tokens

    d = T(spark, sf_dir, "documents", fanout=False).where(
        F.col("source").isin("src0", "src1")
    ).select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    c = d.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = c.groupBy("tok").agg(
        F.sum(F.when(F.col("source") == "src0", F.col("n")).otherwise(0))
        .cast("bigint").alias("c0"),
        F.sum(F.when(F.col("source") == "src1", F.col("n")).otherwise(0))
        .cast("bigint").alias("c1"),
    )
    tot = w.agg(
        F.sum("c0").cast("bigint").alias("t0"),
        F.sum("c1").cast("bigint").alias("t1"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
    )
    joined = w.crossJoin(F.broadcast(tot))
    return (
        joined.agg(
            F.first("n_terms").alias("n_terms"),
            F.first("t0").alias("tokens_src0"),
            F.first("t1").alias("tokens_src1"),
            F.expr(
                "CAST((1000000 * SUM(abs(c0 * t1 - c1 * t0))) "
                "div (2 * first(t0) * first(t1)) AS BIGINT)"
            ).alias("tv_distance_ppm"),
        )
    )


# --- Heaps-law vocabulary growth ---------------------------------------------

_HEAPS_LADDER = (32, 64, 128, 256, 512, 1024, 2048, 4096)


@register(
    "text_heaps_law",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    firsts AS (
        SELECT token, CAST(MIN(doc_id) AS BIGINT) AS first_doc
        FROM (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM t)
        GROUP BY token),
    dlens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM t),
    ladder AS (SELECT unnest({list(_HEAPS_LADDER)}) AS n_docs),
    lad AS (SELECT n_docs FROM ladder
            WHERE n_docs <= (SELECT MAX(doc_id) + 1 FROM t))
    SELECT l.n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts f
             WHERE f.first_doc < l.n_docs) AS vocab_size,
           (SELECT CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM dlens d
             WHERE d.doc_id < l.n_docs) AS tokens_seen
    FROM lad l
    """,
    doc="Heaps-law vocabulary growth curve (the V(n) ~ K*n^beta "
        "diagnostic used to size tokenizer vocabularies and detect "
        "near-duplicate-inflated corpora): distinct-token count and "
        "total token instances within the first N documents (by doc_id "
        "ingestion order) for a doubling ladder of N. The scalable "
        "rewrite: the cumulative-prefix semantics reduce to each "
        "token's FIRST document id (one hash agg over exploded distinct "
        "tokens) and per-doc token counts — then the ladder is an 8-row "
        "broadcast over those two SMALL aggregates. No global "
        "row-number window over documents (doc_id thresholds stand in "
        "for ranks), no re-scan per ladder step. Ladder rungs beyond "
        "the corpus size are dropped identically in both engines.",
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents", fanout=False).select(
        "doc_id", tx.tokens(F.col("text")).alias("toks")
    )
    firsts = (
        d.select(
            "doc_id", F.explode(F.array_distinct("toks")).alias("token")
        )
        .groupBy("token")
        .agg(F.min("doc_id").cast("bigint").alias("first_doc"))
    )
    dlens = d.select(
        "doc_id", F.size("toks").cast("bigint").alias("n_toks")
    )
    max_doc = d.agg((F.max("doc_id") + 1).alias("n_total"))
    ladder = (
        spark.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(n) for n in _HEAPS_LADDER])
            ).alias("n_docs")
        )
        .crossJoin(F.broadcast(max_doc))
        .where(F.col("n_docs") <= F.col("n_total"))
        .select(F.col("n_docs").cast("bigint").alias("n_docs"))
    )
    vocab = (
        firsts.crossJoin(F.broadcast(ladder))
        .where(F.col("first_doc") < F.col("n_docs"))
        .groupBy("n_docs")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab_size"))
    )
    toks_seen = (
        dlens.crossJoin(F.broadcast(ladder))
        .where(F.col("doc_id") < F.col("n_docs"))
        .groupBy("n_docs")
        .agg(F.coalesce(F.sum("n_toks"), F.lit(0)).cast("bigint").alias(
            "tokens_seen"
        ))
    )
    return ladder.join(vocab, "n_docs").join(toks_seen, "n_docs").select(
        "n_docs", "vocab_size", "tokens_seen"
    )


# --- out-of-vocabulary rate ------------------------------------------------------

_OOV = "CAST(n_oov AS DOUBLE) / CAST(n_tok AS DOUBLE)"


@register(
    "text_oov_rate",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(
            regexp_split_to_array(lower(text), '[^a-z0-9]+'),
            t -> t <> '')) AS tok
        FROM documents),
    freq AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY 1),
    vocab AS (
        SELECT tok FROM freq
        ORDER BY n DESC, tok LIMIT 1000),
    scored AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tok,
               CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_oov
        FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
        GROUP BY 1)
    SELECT doc_id, n_tok, n_oov, {_OOV} AS oov_rate
    FROM scored WHERE n_tok > 0
    """,
    doc="Out-of-vocabulary rate per document against the corpus's own "
        "top-1000 token vocabulary (frequency-ranked, ties "
        "alphabetical): the tokenizer-fit / domain-shift score an LLM "
        "data pipeline computes before committing to a vocab — high OOV "
        "means the tokenizer will shatter the document into bytes. "
        "Complements corpus_vocab (which BUILDS the ranked vocab) and "
        "text_source_divergence (distribution-level drift) with a "
        "per-document serving-shape score. Scale: the vocab is a "
        "1000-row broadcast, the token stream joins it map-side with no "
        "shuffle beyond the per-doc rollup; rate is one IEEE division "
        "of exact counts.",
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents", fanout=False)
    tok = docs.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("tok")
    )
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        freq.orderBy(F.desc("n"), F.asc("tok"))
        .limit(1000)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    scored = (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .where(F.col("n_tok") > 0)
    )
    return scored.select("doc_id", "n_tok", "n_oov", F.expr(_OOV).alias("oov_rate"))

_FERT = "CAST(tp AS DOUBLE) / CAST(tw AS DOUBLE)"


@register(
    "text_fertility_by_lang",
    f"""
    WITH g AS (
        SELECT lang,
               CAST(len(regexp_extract_all(lower(text),
                                           '{_BPE_SQL_PAT}')) AS BIGINT)
                   AS np,
               CAST(len({TOKS}) AS BIGINT) AS nw
        FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(np) AS BIGINT) AS tp,
           CAST(SUM(nw) AS BIGINT) AS tw,
           {_FERT} AS fertility
    FROM g GROUP BY lang HAVING SUM(nw) > 0
    """,
    doc="Corpus-level tokenizer FERTILITY per language: total BPE-ish "
        "pre-tokenizer pieces over total whitespace-ish words — the "
        "tokens-per-word cost curve that decides whether a tokenizer is "
        "fit for a language mix (fertility >> 1 for a language means its "
        "documents burn training budget on fragment tokens). The "
        "language-level rollup of text_bpe_token_count's per-document "
        "ratio, but computed from EXACT corpus sums (a mean of per-doc "
        "ratios would weight short docs equally with long ones — the "
        "classic ratio-of-sums vs mean-of-ratios trap, resolved here to "
        "ratio-of-sums). One scan-side regex projection, one hash "
        "aggregate to |langs| rows, one shared IEEE division.",
)
def text_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import bpe_tokens

    g = T(spark, sf_dir, "documents", fanout=False).select(
        "lang",
        F.size(bpe_tokens(F.col("text"))).cast("bigint").alias("np"),
        F.size(tx.tokens(F.col("text"))).cast("bigint").alias("nw"),
    )
    return (
        g.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("np").cast("bigint").alias("tp"),
            F.sum("nw").cast("bigint").alias("tw"),
        )
        .where(F.col("tw") > 0)
        .select("lang", "n_docs", "tp", "tw", F.expr(_FERT).alias("fertility"))
    )


_DUP = "CAST(n_redundant AS DOUBLE) / CAST(n_docs AS DOUBLE)"


@register(
    "corpus_dedup_rate_by_source",
    f"""
    WITH h AS (SELECT source, md5(text) AS sig FROM documents),
    c AS (SELECT source, sig, CAST(COUNT(*) AS BIGINT) AS n
          FROM h GROUP BY 1, 2),
    s AS (SELECT source,
                 CAST(SUM(n) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) AS BIGINT) AS n_unique,
                 CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_redundant
          FROM c GROUP BY source)
    SELECT source, n_docs, n_unique, n_redundant, {_DUP} AS dup_rate
    FROM s
    """,
    doc="Per-source exact-duplication report: documents, distinct "
        "content signatures, redundant copies, and the within-source "
        "duplication rate — the per-feed data-quality table that decides "
        "which crawl sources get demoted before training (a feed that is "
        "40% self-copies is a boilerplate mill). Complements dedup_exact "
        "(row-level survivors), dedup_cluster_size_hist (global cluster "
        "shape), and source_overlap_matrix (CROSS-source leakage) with "
        "the per-source summary. Two map-side-combinable hash "
        "aggregates — (source, md5) then source — text never shuffles, "
        "only 16-byte signatures do.",
)
def corpus_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        T(spark, sf_dir, "documents", fanout=False)
        .select("source", F.md5("text").alias("sig"))
        .groupBy("source", "sig")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    s = c.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique"),
        (F.sum("n") - F.count(F.lit(1))).cast("bigint").alias("n_redundant"),
    )
    return s.select(
        "source", "n_docs", "n_unique", "n_redundant",
        F.expr(_DUP).alias("dup_rate"),
    )

_RATE = "CAST(n AS DOUBLE) / CAST(row_n AS DOUBLE)"


@register(
    "text_langid_confusion",
    f"""
    WITH t AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
    s AS (
        SELECT lang,
               len(list_filter(toks, x -> list_contains({_DE_SW}, x))) AS s_de,
               len(list_filter(toks, x -> list_contains({_EN_SW}, x))) AS s_en,
               len(list_filter(toks, x -> list_contains({_ES_SW}, x))) AS s_es,
               len(list_filter(toks, x -> list_contains({_FR_SW}, x))) AS s_fr
        FROM t),
    p AS (
        SELECT lang,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                    WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM s),
    c AS (SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
          FROM p GROUP BY 1, 2),
    r AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS row_n FROM c GROUP BY 1)
    SELECT c.lang, c.lang_pred, c.n, r.row_n, {_RATE} AS row_rate
    FROM c JOIN r USING (lang)
    """,
    doc="Multiclass CONFUSION MATRIX for the stopword-overlap language-ID "
        "classifier against the fixture's labeled lang column: per "
        "(truth, prediction) cell, the count and its row-normalized rate "
        "(the diagonal is per-class recall; off-diagonal rows show WHICH "
        "language pairs the classifier muddles — the table that decides "
        "whether a cheap heuristic is fit to route documents before an "
        "expensive model). Completes the evaluation family: "
        "eval_confusion_metrics covers the binary threshold case, "
        "eval_auc_exact the ranking case, this the multiclass case. The "
        "predictor is text_langid's EXACT argmax (deterministic "
        "first-match tie order, shared by both engines); one scan-side "
        "projection, one hash aggregate to |langs|^2 cells, one "
        "broadcast of the |langs| row totals.",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents", fanout=False)
    c = (
        d.select(
            "lang",
            tx.lang_best(tx.tokens(F.col("text"))).alias("lang_pred"),
        )
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    r = c.groupBy("lang").agg(F.sum("n").cast("bigint").alias("row_n"))
    return c.join(F.broadcast(r), "lang").select(
        "lang", "lang_pred", "n", "row_n", F.expr(_RATE).alias("row_rate")
    )


@register(
    "text_bm25_topk",
    bm25_scored_sql("duck", "documents")
    + """
    SELECT doc_id, bm25 FROM scored
    ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """,
    doc="BM25 top-10 for a fixed 4-term query over the document corpus — "
        "the lexical ranking layer on top of the already-registered "
        "inverted-index build (Robertson & Zaragoza 2009, k1=1.2 b=0.75). "
        "Every factor is an exact rational: the idf is the LOG-FREE form "
        "(2n-2df+1)/(2df+1) (monotone in ln idf; the text_tfidf_topterms "
        "bit-determinism convention), the length-normalized saturation "
        "multiplies out to 22*s*tf / (10*s*tf + 3*s + 9*dl*n) over BIGINT "
        "operands, each term is ONE IEEE division pair, and the 4-term sum "
        "is fixed left-assoc then round(,6) — so both engines rank "
        "identically with no float-log seam. Scale shape: corpus stats "
        "(n, s) and the 4 dfs are two one-row aggregates CROSS-joined back "
        "(broadcast), per-doc tf/dl are in-row array kernels (zero "
        "shuffle), and the top-10 is an orderBy+limit TakeOrdered — no "
        "global window, no explode, the scan reads (doc_id, text) only.",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    dd = d.selectExpr("doc_id", f"{S_TOKS} AS toks").selectExpr(
        "doc_id", *bm25_doc_col_list("spark")
    )
    st = dd.selectExpr("dl").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("s"),
    )
    # dfs needs the token ARRAYS again — recompute from the scan rather
    # than carrying the array through the agg (array columns never leave
    # the per-doc projection; the scan is cheap and column-pruned)
    dfs = d.selectExpr(f"{S_TOKS} AS toks").agg(*[
        F.expr(
            f"CAST(SUM(CASE WHEN array_contains(toks, '{t}') THEN 1 ELSE 0 "
            f"END) AS BIGINT)"
        ).alias(f"df_{t}")
        for t in BM25_TERMS
    ])
    scored = (
        dd.crossJoin(F.broadcast(st))
        .crossJoin(F.broadcast(dfs))
        .selectExpr("doc_id", f"{BM25_SCORE} AS bm25")
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(10)


# --- bigram perplexity-proxy quality filter ----------------------------------

_PPX_SCALE = 10**6

_PPX_ORACLE = f"""
    WITH d AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
    bg AS (SELECT doc_id, source, unnest(list_transform(
               range(1, len(toks)), i ->
               {{'w1': toks[i], 'w2': toks[i + 1]}})) AS b
           FROM d WHERE len(toks) >= 2),
    occ AS (SELECT doc_id, source, b.w1 AS w1, b.w2 AS w2 FROM bg),
    cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
           FROM occ GROUP BY 1, 2),
    cl AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cl FROM cb GROUP BY 1),
    vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
              FROM (SELECT unnest(toks) AS tok FROM d)),
    px AS (SELECT occ.doc_id, occ.source,
                  ({_PPX_SCALE} * (cl.cl + vocab.v)) // (cb.cb + 1) AS proxy
           FROM occ JOIN cb USING (w1, w2) JOIN cl USING (w1)
           CROSS JOIN vocab),
    ds AS (SELECT doc_id, source,
                  CAST(SUM(proxy) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
                      AS surprisal
           FROM px GROUP BY 1, 2),
    top AS (SELECT source, doc_id AS top_doc_id, surprisal AS top_surprisal
            FROM (SELECT source, doc_id, surprisal,
                         ROW_NUMBER() OVER (PARTITION BY source
                             ORDER BY surprisal DESC, doc_id ASC) AS rn
                  FROM ds) WHERE rn = 1)
    SELECT ds.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ds.surprisal) AS BIGINT)
               // CAST(COUNT(*) AS BIGINT) AS mean_surprisal,
           MAX(top.top_doc_id) AS top_doc_id,
           MAX(top.top_surprisal) AS top_surprisal
    FROM ds JOIN top USING (source)
    GROUP BY ds.source
"""


@register(
    "text_perplexity_proxy",
    _PPX_ORACLE,
    doc="Bigram-LM perplexity-proxy quality filter per source — the "
        "CCNet/KenLM gate (Wenzek et al., LREC'20) that scores each "
        "document by how surprising its bigrams are under the corpus's own "
        "add-one-smoothed bigram model, in a LOG-FREE integer-exact form: "
        "per-bigram proxy = floor(1e6 * (c(w1,*) + V) / (c(w1,w2) + 1)) — "
        "the scaled INVERSE conditional probability, monotone per bigram "
        "in the surprisal -log P(w2|w1) — and per-doc score = the floor "
        "mean, all BIGINT (no float log to drift). Consumes the count "
        "tables text_ngram_lm_counts builds but closes the loop to an "
        "actual per-document quality signal: per source, the doc count, "
        "mean surprisal, and the most-surprising document (the outlier a "
        "filter would drop first). Docs under 2 tokens have no bigrams and "
        "are excluded by construction. Scale shape: bigrams are in-row "
        "array transforms, counts are two map-side-combinable hash aggs "
        "over the vocab^2-bounded bigram table, BOTH count joins (cb and "
        "the vocab-sized cl) are plain equi-joins with no broadcast hint "
        "(AQE broadcasts only when a side actually fits — a forced hint on "
        "a 1e8+-token vocab would OOM), V rides in as a one-row cross "
        "join, and the only window is partitioned by source.",
)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").selectExpr(
        "doc_id", "source", f"{S_TOKS} AS toks"
    )
    occ = (
        d.where(F.size("toks") >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), i -> "
                    "struct(element_at(toks, i) AS w1, "
                    "element_at(toks, i + 1) AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "source", "b.w1", "b.w2")
    )
    cb = occ.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("cb")
    )
    cl = cb.groupBy("w1").agg(F.sum("cb").cast("bigint").alias("cl"))
    vocab = (
        d.select(F.explode("toks").alias("tok"))
        .agg(F.countDistinct("tok").cast("bigint").alias("v"))
    )
    # NOTE: no broadcast hint on cl — it is vocab-sized (one row per distinct
    # first token), which at a 100-TB corpus is 1e8-1e9 rows; a forced hint
    # would override the size threshold and OOM. Left as a plain equi-join,
    # AQE broadcasts it only when it actually fits (the sibling cb join is
    # the same shape one token wider). vocab IS a one-row aggregate: safe.
    px = (
        occ.join(cb, ["w1", "w2"])
        .join(cl, "w1")
        .crossJoin(F.broadcast(vocab))
        .selectExpr(
            "doc_id", "source",
            f"({_PPX_SCALE} * (cl + v)) DIV (cb + 1) AS proxy",
        )
    )
    ds = px.groupBy("doc_id", "source").agg(
        F.expr(
            "CAST(SUM(proxy) AS BIGINT) DIV CAST(COUNT(*) AS BIGINT)"
        ).alias("surprisal")
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("surprisal"), F.asc("doc_id")
    )
    top = (
        ds.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "source",
            F.col("doc_id").alias("top_doc_id"),
            F.col("surprisal").alias("top_surprisal"),
        )
    )
    return (
        ds.join(top, "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.expr(
                "CAST(SUM(surprisal) AS BIGINT) DIV CAST(COUNT(*) AS BIGINT)"
            ).alias("mean_surprisal"),
            F.max("top_doc_id").alias("top_doc_id"),
            F.max("top_surprisal").alias("top_surprisal"),
        )
    )
