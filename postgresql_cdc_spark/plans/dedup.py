"""Deduplication and decontamination queries: exact, MinHash-LSH, SimHash,
n-gram Jaccard, containment, substring spans, embedding-cosine and fuzzy
entity matching, plus cluster labelling and survivor selection.

Near-dup queries run on ``common.near_dup_corpus``, whose perturbed copies
make detection observable; the oracles reuse the shared MinHash, banding and
cosine fragments from ``common``.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, functions as F

from postgresql_cdc_spark.operators import (
    dedup as dd,
    similarity as sim,
    text as tx,
)
from postgresql_cdc_spark.operators.similarity import (
    MAX_BUCKET as _LSH_MAX_BUCKET,
)
from postgresql_cdc_spark.operators.text import tokens
from postgresql_cdc_spark.plans.common import (
    CORPUS,
    H60,
    KMEANS_ITERS,
    KMEANS_K,
    NGRAM_ORACLE,
    SHINGLES3,
    T,
    TOKS,
    band_from_sql,
    codes_union_sql,
    cos_sql,
    kmeans_ctes,
    mh_sql,
    near_dup_corpus,
)
from postgresql_cdc_spark.plans.registry import register


@register(
    "dedup_exact",
    f"""
    WITH c AS ({CORPUS}),
    t AS (SELECT doc_id, {TOKS} AS toks FROM c)
    SELECT {H60.format(x="array_to_string(toks, ' ')")} AS content_hash,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_dups
    FROM t GROUP BY 1
    """,
    doc="Exact dedup: hash-groupBy on normalized content hash.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout=False (r18): this kernel hashes each doc ONCE (one md5 +
    # tokenize) — ~1/32 of the minhash weight the fan-out exists for — and
    # the r17 scaling block measured the 32-way exchange COSTING more than
    # it buys here (c8/c32 = 0.63 on the single-row-group fixture). At real
    # scale the fan-out guard never fires anyway (multi-split inputs), so
    # opting out only removes the tiny-corpus overshoot.
    return dd.exact_dedup(
        near_dup_corpus(spark, sf_dir, fanout=False), "text", "doc_id"
    )


def _band_sql(b: int, rows: int = 3) -> str:
    parts = ", ".join(f"CAST(m{b*rows+r} AS VARCHAR)" for r in range(rows))
    return (f"SELECT id, {b} AS band, "
            + H60.format(x=f"concat_ws(',', {parts})")
            + " AS bucket FROM sig")


_MINHASH_ORACLE = f"""
    WITH c AS ({CORPUS}),
    t AS (SELECT doc_id AS id, {TOKS} AS toks FROM c),
    s AS (SELECT id, {SHINGLES3} AS sh FROM t),
    base AS (SELECT id, list_transform(sh, s -> {H60.format(x='s')}) AS shh
             FROM s WHERE len(sh) > 0),
    sig AS (SELECT id, {", ".join(mh_sql(i) for i in range(12))} FROM base),
    bands AS ({" UNION ALL ".join(_band_sql(b) for b in range(4))}),
    wide AS (SELECT band, bucket FROM bands GROUP BY 1, 2 HAVING COUNT(*) > 50),
    bk AS (SELECT bands.* FROM bands ANTI JOIN wide USING (band, bucket)),
    cand0 AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM bk a JOIN bk b USING (band, bucket) WHERE a.id < b.id),
    sizes AS (SELECT id, len(shh) AS n_sh FROM base),
    cand AS (SELECT cd.id_a, cd.id_b, sa.n_sh AS na, sb.n_sh AS nb
             FROM cand0 cd
             JOIN sizes sa ON sa.id = cd.id_a
             JOIN sizes sb ON sb.id = cd.id_b
             WHERE least(sa.n_sh, sb.n_sh)
                   >= (0.5 - 1e-6) * greatest(sa.n_sh, sb.n_sh)),
    posting AS (SELECT id, unnest(shh) AS sh_hash FROM base),
    common AS (SELECT cd.id_a, cd.id_b, cd.na, cd.nb, COUNT(*) AS n_common
               FROM cand cd
               JOIN posting pa ON pa.id = cd.id_a
               JOIN posting pb ON pb.id = cd.id_b AND pb.sh_hash = pa.sh_hash
               GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b,
           round(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6) AS jaccard
    FROM common
    WHERE round(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6) >= 0.5
"""


@register(
    "dedup_minhash_lsh",
    _MINHASH_ORACLE,
    doc="MinHash+LSH near-dup: shingle→12 minhashes→4 bands→bucket join→"
        "exact-Jaccard verify (LSH only prunes).",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_pairs(
        near_dup_corpus(spark, sf_dir), "text", "doc_id", threshold=0.5
    )


# --- simhash near-dup --------------------------------------------------------

def _simhash_fp_sql(bits: int = 60) -> str:
    terms = []
    for b in range(bits):
        hits = f"len(list_filter(hh, h -> ((h >> {b}) & 1) = 1))"
        terms.append(
            f"(CASE WHEN 2*{hits} - len(hh) > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
        )
    return " + ".join(terms)


_SIMHASH_ORACLE = f"""
    WITH c AS ({CORPUS}),
    t AS (SELECT doc_id AS id, {TOKS} AS toks FROM c),
    h AS (SELECT id, list_transform(list_distinct(toks),
                  x -> {H60.format(x='x')}) AS hh
          FROM t WHERE len(toks) > 0),
    fps AS (SELECT id, {_simhash_fp_sql()} AS fp FROM h),
    chunked0 AS ({" UNION ALL ".join(
        f"SELECT id, fp, {c} AS chunk, (fp >> {c * 15}) & 32767 AS val FROM fps"
        for c in range(4))}),
    hotc AS (SELECT chunk, val FROM chunked0 GROUP BY 1, 2
             HAVING COUNT(*) > 100),
    chunked AS (SELECT chunked0.* FROM chunked0 ANTI JOIN hotc USING (chunk, val)),
    pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                     bit_count(xor(a.fp, b.fp)) AS hamming
              FROM chunked a JOIN chunked b USING (chunk, val)
              WHERE a.id < b.id)
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
"""


@register(
    "dedup_simhash",
    _SIMHASH_ORACLE,
    doc="SimHash near-dup: 60-bit fingerprint, 15-bit-chunk pigeonhole "
        "blocking (32,768 values/chunk) with hot-chunk cap, exact Hamming "
        "filter.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_pairs(
        near_dup_corpus(spark, sf_dir), "text", "doc_id", max_hamming=3
    )


@register(
    "dedup_ngram_jaccard",
    NGRAM_ORACLE,
    doc="Exact n-gram Jaccard pairs via shingle-posting equi-join with "
        "stop-shingle (df>100) pruning.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.ngram_jaccard_pairs(
        near_dup_corpus(spark, sf_dir), "text", "doc_id", threshold=0.5
    )


_EMB_CORPUS = """
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0
"""


@register(
    "dedup_embedding_cosine",
    f"""
    WITH c AS ({_EMB_CORPUS}),
    coded0 AS ({codes_union_sql('c', 'vec_id AS id', 'embedding')}),
    hot AS (SELECT band, code FROM coded0 GROUP BY 1, 2
            HAVING COUNT(*) > {_LSH_MAX_BUCKET}),
    coded AS (SELECT coded0.* FROM coded0 ANTI JOIN hot USING (band, code)),
    pairs AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               {cos_sql('a.v', 'b.v')} AS cos_sim
        FROM coded a JOIN coded b USING (band, code)
        WHERE a.id < b.id
    )
    SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.999
    """,
    doc="Embedding-cosine near-dup: LSH bucket self-join + exact cosine "
        "filter over corpus ∪ duplicated vectors.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = e.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return sim.near_dup_pairs(e.unionByName(dup), threshold=0.999)


@register(
    "dedup_cluster_labels",
    f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({NGRAM_ORACLE}),
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

    pairs = ngram_jaccard_pairs(
        near_dup_corpus(spark, sf_dir), "text", "doc_id", threshold=0.5
    )
    out = connected_components(pairs, src="id_a", dst="id_b")
    return out.select(F.col("id").alias("doc_id"), "component")


@register(
    "decon_test_train_overlap",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, {SHINGLES3} AS sh FROM t),
    h AS (SELECT doc_id, list_transform(sh, s -> {H60.format(x='s')}) AS shh
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


_INCR_ORACLE = f"""
    WITH bat AS (SELECT doc_id + 100000 AS id, text || ' qq zz' AS text
                 FROM documents WHERE doc_id % 5 = 0),
    cor AS (SELECT doc_id AS id, text FROM documents),
    tb AS (SELECT id, {TOKS} AS toks FROM bat),
    tc AS (SELECT id, {TOKS} AS toks FROM cor),
    shb AS (SELECT id, {SHINGLES3} AS sh FROM tb),
    shc AS (SELECT id, {SHINGLES3} AS sh FROM tc),
    bb AS (SELECT id, list_transform(sh, s -> {H60.format(x='s')}) AS shh
           FROM shb WHERE len(sh) > 0),
    bc AS (SELECT id, list_transform(sh, s -> {H60.format(x='s')}) AS shh
           FROM shc WHERE len(sh) > 0),
    sigb AS (SELECT id, {", ".join(mh_sql(i) for i in range(12))} FROM bb),
    sigc AS (SELECT id, {", ".join(mh_sql(i) for i in range(12))} FROM bc),
    bandsb AS ({" UNION ALL ".join(band_from_sql("sigb", b) for b in range(4))}),
    bandsc AS ({" UNION ALL ".join(band_from_sql("sigc", b) for b in range(4))}),
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
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    batch = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq zz")).alias("text"),
    )
    return dd.minhash_lsh_incremental(batch, d, "text", "doc_id", threshold=0.5)


# --- SemDeDup: semantic dedup via the trained quantizer ---------------------

# Corpus with planted duplicates (same construction as dedup_embedding_cosine:
# every 50th vector re-enters under id+100000), so the prune provably fires.
_SEM_SRC = """src AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding
  FROM embeddings WHERE vec_id % 50 = 0
)"""

_SEM_CTES, _SEM_CFINAL, _SEM_AFINAL = kmeans_ctes(src="src")

_SEMDEDUP_ORACLE = f"""
WITH {_SEM_SRC},
{_SEM_CTES},
av AS (SELECT a.vec_id, a.cell, s.embedding
       FROM a{_SEM_AFINAL} a JOIN src s ON a.vec_id = s.vec_id),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {cos_sql('a.embedding', 'b.embedding')} >= 0.999
)
SELECT av.vec_id, av.cell FROM av ANTI JOIN dropped USING (vec_id)
"""


@register(
    "semdedup_survivors",
    _SEMDEDUP_ORACLE,
    doc="SemDeDup (Abbas et al. 2023) semantic dedup: k-means-cluster the "
        "embeddings (trained quantizer), then within each cell drop every "
        "vector with a lower-id member at cosine >= 0.999. The self-join is "
        "equi on cell, so candidates are cell-bounded — O(N^1.5) with "
        "k = O(sqrt N) cells, never all-pairs. Planted duplicates "
        "(id+100000 copies of every 50th vector) verify the prune fires.",
)
def semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings", fanout=False)
    dup = e.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    src = e.select("vec_id", "embedding").unionByName(dup)
    cents = sim.train_centroids_kmeans(src, n_centroids=KMEANS_K, iters=KMEANS_ITERS)
    return sim.semdedup_prune(src, cents, threshold=0.999)

_K = 8          # k-gram width (tokens)
_MIN_SPAN = 12  # report spans of at least this many tokens
_MAX_DF = 20    # drop k-grams seen in more distinct docs (boilerplate)
_MAX_OCC = 10   # drop (doc, k-gram) repeated more often within one doc

_SPAN_ORACLE = f"""
    WITH tk0 AS (SELECT doc_id, {TOKS} AS tk FROM documents),
    copies AS (
        SELECT doc_id + 200000 AS doc_id,
               array_to_string(
                   list_concat(
                       list_concat(list_slice(tk, 1, 20),
                                   ['qzmarker' || CAST(doc_id AS VARCHAR)]),
                       list_slice(tk, 31, len(tk))), ' ') AS text
        FROM (SELECT doc_id, tk FROM tk0 WHERE doc_id % 9 = 0)
    ),
    corpus AS (SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id, text FROM copies),
    tk AS (SELECT doc_id, {TOKS} AS tk FROM corpus),
    p AS (
        SELECT doc_id, pos,
               {H60.format(x=f"array_to_string(list_slice(tk, pos, pos + {_K - 1}), ' ')")} AS h
        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - {_K} + 2)) AS pos
              FROM tk WHERE len(tk) >= {_K})
    ),
    hot AS (SELECT h FROM p GROUP BY h HAVING COUNT(DISTINCT doc_id) > {_MAX_DF}),
    spam AS (SELECT doc_id, h FROM p GROUP BY doc_id, h HAVING COUNT(*) > {_MAX_OCC}),
    pf AS (SELECT p.* FROM p ANTI JOIN hot USING (h)
                       ANTI JOIN spam USING (doc_id, h)),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.pos AS pos_a, a.pos - b.pos AS diag
        FROM pf a JOIN pf b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    spans AS (
        SELECT id_a, id_b, COUNT(*) + {_K - 1} AS span_tokens
        FROM (SELECT id_a, id_b, diag, pos_a,
                     pos_a - ROW_NUMBER() OVER (
                         PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS grp
              FROM pairs)
        GROUP BY id_a, id_b, diag, grp
        HAVING COUNT(*) + {_K - 1} >= {_MIN_SPAN}
    )
    SELECT id_a, id_b,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens,
           CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
    FROM spans GROUP BY id_a, id_b
"""


def _span_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents", fanout=False).select(
        "doc_id", "text"
    )
    tk = d.where(F.col("doc_id") % 9 == 0).select(
        "doc_id", tokens(F.col("text")).alias("tk")
    )
    copies = tk.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(
                F.slice("tk", 1, 20),
                F.array(F.concat(F.lit("qzmarker"), F.col("doc_id").cast("string"))),
                F.expr("slice(tk, 31, greatest(size(tk) - 30, 0))"),
            ),
        ).alias("text"),
    )
    return d.unionByName(copies)


@register(
    "dedup_substring_spans",
    _SPAN_ORACLE,
    doc="Exact substring dedup (Lee et al. 2021): maximal duplicated token "
        "spans >= 12 tokens per document pair, via gaps-and-islands over "
        "matching positional 8-gram hashes — the partial-copy detector "
        "Jaccard-style doc-level dedup misses. Planted split copies "
        "(first 20 tokens + marker + tokens 31..) exercise multi-island "
        "pairs. Scale: posting equi-join capped by df and within-doc "
        "occurrence; island window partitions by (pair, diagonal).",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.duplicate_span_pairs(
        _span_corpus(spark, sf_dir), "text", "doc_id",
        k=_K, min_span=_MIN_SPAN, max_df=_MAX_DF, max_occ=_MAX_OCC,
    )


# --- asymmetric near-dup: containment ----------------------------------------

# Planted doc-in-doc cases: every 7th document gets an "excerpt" page
# (id + 300000) made of its first 25 tokens plus a 2-token marker — low
# Jaccard against the original (the union is original-sized) but containment
# ~0.9 (23 of its 25 shingles appear in the original). Both engines build
# the identical corpus.
_CONT_CORPUS = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 300000,
           array_to_string(list_slice({TOKS}, 1, 25), ' ') || ' zq yq'
    FROM documents WHERE doc_id % 7 = 0
"""

_CONT_ORACLE = f"""
    WITH c AS ({_CONT_CORPUS}),
    t AS (SELECT doc_id AS id, {TOKS} AS toks FROM c),
    s AS (SELECT id, {SHINGLES3} AS sh FROM t),
    base AS (SELECT id, sh FROM s WHERE len(sh) > 0),
    posting0 AS (SELECT id, len(sh) AS n_sh, {H60.format(x='s')} AS sh_hash
                 FROM (SELECT id, sh, unnest(sh) AS s FROM base)),
    hot AS (SELECT sh_hash FROM posting0 GROUP BY 1 HAVING COUNT(*) > 100),
    posting AS (SELECT posting0.* FROM posting0 ANTI JOIN hot USING (sh_hash)),
    common AS (SELECT pa.id AS id_a, pb.id AS id_b,
                      pa.n_sh AS na, pb.n_sh AS nb, COUNT(*) AS n_common
               FROM posting pa JOIN posting pb USING (sh_hash)
               WHERE pa.id < pb.id
               GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b,
           round(CAST(n_common AS DOUBLE) / least(na, nb), 6) AS containment
    FROM common
    WHERE round(CAST(n_common AS DOUBLE) / least(na, nb), 6) >= 0.8
"""


def _containment_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    quotes = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(
            F.concat_ws(" ", F.slice(tx.tokens(F.col("text")), 1, 25)),
            F.lit(" zq yq"),
        ).alias("text"),
    )
    return d.unionByName(quotes)


@register(
    "dedup_containment",
    _CONT_ORACLE,
    doc="Asymmetric near-dup via exact n-gram containment "
        "(|A∩B| / min(|A|,|B|), Broder SEQUENCES'97): catches a short page "
        "quoted whole inside a long one, which Jaccard structurally misses. "
        "Same posting-join shape as dedup_ngram_jaccard, WITHOUT the "
        "size-ratio prefilter (asymmetric pairs are the point); the "
        "stop-shingle cap still bounds fan-out. The query plants excerpt "
        "documents (first 25 tokens + marker) so the oracle has true "
        "positives to verify.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.containment_pairs(
        _containment_corpus(spark, sf_dir), "text", "doc_id", threshold=0.8
    )


# --- canonical survivor selection per dedup cluster --------------------------



@register(
    "dedup_survivor_selection",
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
    c AS ({CORPUS}),
    m AS (SELECT comp.component, comp.doc_id, length(c.text) AS n_chars
          FROM comp JOIN c ON c.doc_id = comp.doc_id),
    rk AS (SELECT component, doc_id, n_chars,
                  ROW_NUMBER() OVER (PARTITION BY component
                                     ORDER BY n_chars DESC, doc_id) AS rn
           FROM m)
    SELECT component,
           CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
             AS survivor_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
    FROM rk GROUP BY component
    """,
    doc="The last step of the dedup pipeline: pairs -> connected components "
        "-> ONE canonical survivor per cluster, chosen by a quality policy "
        "(longest text, doc_id tie-break) rather than the arbitrary min-id "
        "— the policy hook where real pipelines prefer the highest-quality "
        "or most-recent copy. One window ranking partitioned by component "
        "(clusters are tiny, so no skew) + one agg; the oracle replays the "
        "same policy over its recursive-CTE components.",
)
def dedup_survivor_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.dedup import ngram_jaccard_pairs
    from postgresql_cdc_spark.operators.graph import connected_components
    from pyspark.sql.window import Window

    corpus = near_dup_corpus(spark, sf_dir)
    pairs = ngram_jaccard_pairs(corpus, "text", "doc_id", threshold=0.5)
    comp = connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("id").alias("doc_id"), "component"
    )
    m = comp.join(corpus, "doc_id").select(
        "component", "doc_id", F.length("text").alias("n_chars")
    )
    rk = m.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("component")
            .orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        ),
    )
    return rk.groupBy("component").agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("survivor_id"),
        F.count(F.lit(1)).alias("n_members"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_dropped"),
    )


# --- fuzzy record linkage (symmetric-delete blocking + exact verify) ---------

# Planted dirty registry: every 11th customer reappears (id + 100000) with
# ONE character of its name replaced by 'X' at an h60-derived digit position
# (10..18 of 'Customer#ddddddddd') — the single-substitution corruption a
# data-entry feed produces. Both engines construct the identical dirty side.
_FUZZ_POS = (
    "({h} % 9) + 10".format(h=H60.format(x="'fz:' || CAST(c_custkey AS VARCHAR)"))
)

_FUZZ_DIRTY = f"""
    SELECT c_custkey + 100000 AS dirty_id,
           substr(c_name, 1, CAST({_FUZZ_POS} AS INT) - 1) || 'X'
             || substr(c_name, CAST({_FUZZ_POS} AS INT) + 1,
                       length(c_name)) AS dirty_name
    FROM customer WHERE c_custkey % 11 = 0
"""

# Symmetric-delete neighborhood: the name ITSELF (0-deletion identity key)
# plus the name with character i removed, for every i. The identity key is
# load-bearing: for an insertion/deletion pair like 'abc' vs 'abcd' the
# shorter string's 1-deletion keys are all length-2 while the longer's are
# length-3, so without indexing 'abc' under itself the true match shares no
# key and is silently missed — true SymSpell indexes term + deletions.
_DEL_KEYS = (
    "list_concat([{nm}], "
    "list_transform(range(1, length({nm}) + 1), "
    "i -> substr({nm}, 1, i - 1) || substr({nm}, i + 1, length({nm}))))"
)


def sym_del_keys(nm: str):
    """Spark twin of _DEL_KEYS: identity key + every 1-deletion variant of
    string column expression ``nm``. Guarantees any pair within edit
    distance 1 (substitution, insertion, OR deletion) shares ≥1 key."""
    return F.expr(
        f"concat(array({nm}), "
        f"transform(sequence(1, length({nm})), "
        f"i -> concat(substr({nm}, 1, i - 1), "
        f"substr({nm}, i + 1, length({nm})))))"
    )


@register(
    "fuzzy_name_match",
    f"""
    WITH dirty AS ({_FUZZ_DIRTY}),
    mk AS (SELECT c_custkey AS master_id, c_name AS master_name,
                  unnest({_DEL_KEYS.format(nm='c_name')}) AS k
           FROM customer),
    dk AS (SELECT dirty_id, dirty_name,
                  unnest({_DEL_KEYS.format(nm='dirty_name')}) AS k
           FROM dirty),
    cand AS (SELECT DISTINCT dirty_id, dirty_name, master_id, master_name
             FROM dk JOIN mk USING (k))
    SELECT dirty_id, master_id,
           CAST(levenshtein(dirty_name, master_name) AS INT) AS lev
    FROM cand
    WHERE levenshtein(dirty_name, master_name) <= 1
    """,
    doc="Fuzzy record linkage with symmetric-delete blocking (SymSpell, "
        "Garbe 2012): every name is indexed under itself AND all its "
        "1-deletion variants; two names within edit distance 1 "
        "(substitution, insertion, or deletion) are GUARANTEED to share a "
        "key — substitutions meet at the common 1-deletion, insertions/"
        "deletions meet at the shorter string's identity key — so "
        "candidates come from a plain equi-join on the key — never an "
        "all-pairs scan — and an exact levenshtein verify (built-in on both "
        "engines) prunes block collisions. The blocking index grows "
        "linearly (length(name) keys per record) and the verify runs only "
        "on candidates: the standard scalable shape for dedupe/linkage at "
        "corpus size. The query plants single-substitution dirty copies of "
        "every 11th customer so the gate has known true matches.",
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import h60

    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name")
    pos = (
        (h60(F.concat(F.lit("fz:"), F.col("c_custkey").cast("string"))) % 9)
        + 10
    ).cast("int")
    dirty = (
        c.where(F.col("c_custkey") % 11 == 0)
        .withColumn("__p", pos)
        .select(
            (F.col("c_custkey") + 100000).alias("dirty_id"),
            F.concat(
                F.expr("substr(c_name, 1, __p - 1)"),
                F.lit("X"),
                F.expr("substr(c_name, __p + 1, length(c_name))"),
            ).alias("dirty_name"),
        )
    )

    mk = c.select(
        F.col("c_custkey").alias("master_id"),
        F.col("c_name").alias("master_name"),
        F.explode(sym_del_keys("c_name")).alias("k"),
    )
    dk = dirty.select(
        "dirty_id", "dirty_name",
        F.explode(sym_del_keys("dirty_name")).alias("k"),
    )
    cand = (
        dk.join(mk, "k")
        .select("dirty_id", "dirty_name", "master_id", "master_name")
        .distinct()
    )
    lev = F.levenshtein("dirty_name", "master_name")
    return (
        cand.where(lev <= 1)
        .select("dirty_id", "master_id", lev.cast("int").alias("lev"))
    )


# --- dedup-pipeline recall evaluation ----------------------------------------



@register(
    "dedup_minhash_recall_eval",
    f"""
    WITH truth AS MATERIALIZED ({NGRAM_ORACLE}),
    found AS MATERIALIZED ({_MINHASH_ORACLE}),
    nt AS (SELECT COUNT(*) AS n_truth FROM truth),
    nf AS (SELECT COUNT(*) AS n_found FROM found),
    nh AS (SELECT COUNT(*) AS n_hit
           FROM truth SEMI JOIN found USING (id_a, id_b))
    SELECT CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_found AS BIGINT) AS n_found,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST((1000 * n_hit) // NULLIF(n_truth, 0) AS BIGINT)
             AS recall_milli
    FROM nt CROSS JOIN nf CROSS JOIN nh
    """,
    doc="Quality evaluation of the MinHash+LSH dedup pipeline against the "
        "exact n-gram-Jaccard truth on the same corpus — the dedup-family "
        "twin of ivf_recall_eval: band geometry and hot-bucket caps trade "
        "recall for scalability, and this query MEASURES the trade "
        "(pair-set hit count and integer per-mille recall) instead of "
        "assuming it. Both pair sets are the already-gated pipelines; the "
        "comparison is two counts and a semi join on the pair key.",
)
def dedup_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = near_dup_corpus(spark, sf_dir)
    truth = dd.ngram_jaccard_pairs(
        corpus, "text", "doc_id", threshold=0.5
    ).select("id_a", "id_b").persist()
    found = dd.minhash_lsh_pairs(
        corpus, "text", "doc_id", threshold=0.5
    ).select("id_a", "id_b").persist()
    hit = truth.join(found, ["id_a", "id_b"], "left_semi")
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_found = found.agg(F.count(F.lit(1)).alias("n_found"))
    n_hit = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_truth.crossJoin(F.broadcast(n_found))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_truth", "n_found", "n_hit",
            F.expr(
                "CAST((1000 * n_hit) DIV NULLIF(n_truth, 0) AS BIGINT)"
            ).alias("recall_milli"),
        )
    )


# --- entity resolution: blocking -> verify -> components -> golden record ----

# Synthetic mention table, identical on both engines: every customer key
# becomes a distinctive 11-char entity name ('E' + 10 md5 hex chars — no
# cross-entity edit-distance-1 collisions, unlike sequential c_name digits),
# every 7th entity gains a substituted mention ('q' never occurs in hex, so
# lev = 1 exactly), every 13th a deleted-character mention (exercises the
# identity-key half of the SymSpell index).
_ER_POS = (
    "(CAST('0x' || substr(md5('erp:' || CAST(c_custkey AS VARCHAR)), 1, 15) "
    "AS BIGINT) % 10) + 2"
)

_ER_MENTIONS = f"""
    SELECT c_custkey AS mid,
           'E' || substr(md5('er:' || CAST(c_custkey AS VARCHAR)), 1, 10)
             AS name
    FROM customer
    UNION ALL
    SELECT c_custkey + 200000,
           substr(nm, 1, p - 1) || 'q' || substr(nm, p + 1, length(nm))
    FROM (SELECT c_custkey,
                 'E' || substr(md5('er:' || CAST(c_custkey AS VARCHAR)), 1, 10)
                   AS nm,
                 CAST({_ER_POS} AS INT) AS p
          FROM customer WHERE c_custkey % 7 = 0)
    UNION ALL
    SELECT c_custkey + 400000,
           substr(nm, 1, p - 1) || substr(nm, p + 1, length(nm))
    FROM (SELECT c_custkey,
                 'E' || substr(md5('er:' || CAST(c_custkey AS VARCHAR)), 1, 10)
                   AS nm,
                 CAST({_ER_POS} AS INT) AS p
          FROM customer WHERE c_custkey % 13 = 0)
"""

_ER_DEL_KEYS = (
    "list_concat([name], "
    "list_transform(range(1, length(name) + 1), "
    "i -> substr(name, 1, i - 1) || substr(name, i + 1, length(name))))"
)


@register(
    "er_golden_record",
    f"""
    WITH RECURSIVE m AS MATERIALIZED ({_ER_MENTIONS}),
    mk AS (SELECT mid, name, unnest({_ER_DEL_KEYS}) AS k FROM m),
    pairs AS MATERIALIZED (
        SELECT DISTINCT a.mid AS ma, b.mid AS mb
        FROM mk a JOIN mk b ON a.k = b.k AND a.mid < b.mid
        WHERE levenshtein(a.name, b.name) <= 1),
    sym AS (SELECT ma AS a, mb AS b FROM pairs
            UNION SELECT mb, ma FROM pairs),
    reach(id, r) AS (
        SELECT DISTINCT a, a FROM sym
        UNION
        SELECT s.a, reach.r FROM sym s JOIN reach ON reach.id = s.b),
    lab AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
    allm AS (SELECT m.mid, m.name, coalesce(l.comp, m.mid) AS comp
             FROM m LEFT JOIN lab l ON m.mid = l.id),
    g AS (SELECT comp, MIN(mid) AS entity_id,
                 COUNT(*) AS n_mentions,
                 MAX(length(name)) AS mxl
          FROM allm GROUP BY comp)
    SELECT g.entity_id,
           CAST(g.n_mentions AS BIGINT) AS n_mentions,
           MIN(f.name) AS canonical_name
    FROM g JOIN allm f ON f.comp = g.comp AND length(f.name) = g.mxl
    GROUP BY g.entity_id, g.n_mentions
    """,
    doc="End-to-end entity resolution: mentions -> symmetric-delete "
        "blocking (identity + 1-deletion keys, guaranteed recall at edit "
        "distance 1) -> exact levenshtein verify -> connected components "
        "(substituted and deleted mentions of one entity meet only "
        "TRANSITIVELY through the clean mention — pair lists alone are "
        "not entities) -> survivorship golden record per component "
        "(canonical name = longest, ties broken lexicographically; "
        "entity_id = min mention id; singleton mentions are their own "
        "entity via the left join, not dropped). This is the full "
        "master-data-management pipeline assembled from the engine's "
        "linkage + graph primitives. Shape: candidates only ever come "
        "from the deletion-key equi-join (never all-pairs), components "
        "from the bounded dataflow loop, survivorship from two keyed "
        "aggs; every stage hash-partitions on mention/component id.",
)
def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.graph import connected_components
    from postgresql_cdc_spark.operators.text import h60

    c = T(spark, sf_dir, "customer").select("c_custkey")
    nm = F.concat(
        F.lit("E"),
        F.expr("substr(md5(concat('er:', CAST(c_custkey AS STRING))), 1, 10)"),
    )
    p = (
        (h60(F.concat(F.lit("erp:"), F.col("c_custkey").cast("string"))) % 10)
        + 2
    ).cast("int")
    base = c.select(F.col("c_custkey"), nm.alias("nm"), p.alias("p"))
    clean = base.select(
        F.col("c_custkey").alias("mid"), F.col("nm").alias("name")
    )
    sub = base.where(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + 200000).alias("mid"),
        F.expr(
            "concat(substr(nm, 1, p - 1), 'q', "
            "substr(nm, p + 1, length(nm)))"
        ).alias("name"),
    )
    dele = base.where(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 400000).alias("mid"),
        F.expr(
            "concat(substr(nm, 1, p - 1), substr(nm, p + 1, length(nm)))"
        ).alias("name"),
    )
    m = clean.unionByName(sub).unionByName(dele).persist()

    mk = m.select("mid", "name", F.explode(sym_del_keys("name")).alias("k"))
    a, b = mk.alias("a"), mk.alias("b")
    pairs = (
        a.join(b, (F.col("a.k") == F.col("b.k"))
               & (F.col("a.mid") < F.col("b.mid")))
        .where(F.levenshtein(F.col("a.name"), F.col("b.name")) <= 1)
        .select(F.col("a.mid").alias("ma"), F.col("b.mid").alias("mb"))
        .distinct()
    )
    lab = connected_components(pairs, src="ma", dst="mb")
    allm = (
        m.join(lab, m.mid == lab.id, "left")
        .select(
            "mid", "name",
            F.coalesce(F.col("component"), F.col("mid")).alias("comp"),
        )
        .persist()
    )
    g = allm.groupBy("comp").agg(
        F.min("mid").alias("entity_id"),
        F.count(F.lit(1)).alias("n_mentions"),
        F.max(F.length("name")).alias("mxl"),
    )
    return (
        g.join(
            allm,
            (g.comp == allm.comp) & (F.length(allm.name) == g.mxl),
        )
        .groupBy("entity_id", "n_mentions")
        .agg(F.min("name").alias("canonical_name"))
        .select(
            "entity_id",
            F.col("n_mentions").cast("bigint").alias("n_mentions"),
            "canonical_name",
        )
    )


# --- near-dup cluster size histogram -----------------------------------------


_CLUSTER_SIZE_HIST_ORACLE = f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({NGRAM_ORACLE}),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
        SELECT DISTINCT a, a FROM sym
        UNION
        SELECT s.a, reach.r FROM sym s JOIN reach ON reach.id = s.b),
    lab AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
    c AS ({CORPUS}),
    allc AS (SELECT c.doc_id, coalesce(l.comp, c.doc_id) AS comp
             FROM c LEFT JOIN lab l ON c.doc_id = l.id),
    sizes AS (SELECT comp, COUNT(*) AS csize FROM allc GROUP BY comp)
    SELECT CAST(csize AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(csize * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY csize
    """


@register(
    "dedup_cluster_size_hist",
    _CLUSTER_SIZE_HIST_ORACLE,
    doc="Near-dup cluster-size histogram: how many clusters of each size "
        "the exact-Jaccard pair graph produces (singletons included via "
        "the corpus left join — a doc in no pair is its own cluster). "
        "THE summary a dedup rollout decision reads first: n_docs per "
        "size row shows exactly how much mass each cluster size removes "
        "(keep-one-per-cluster drops n_docs - n_clusters rows). Built "
        "on the same connected-components labels dedup_cluster_labels "
        "gates; the histogram is two tiny hash aggs over the label "
        "table.",
)
def dedup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.dedup import ngram_jaccard_pairs
    from postgresql_cdc_spark.operators.graph import connected_components

    corpus = near_dup_corpus(spark, sf_dir).select("doc_id", "text")
    pairs = ngram_jaccard_pairs(corpus, "text", "doc_id", threshold=0.5)
    lab = connected_components(pairs, src="id_a", dst="id_b")
    allc = corpus.join(lab, corpus.doc_id == lab.id, "left").select(
        "doc_id", F.coalesce(F.col("component"), F.col("doc_id")).alias("comp")
    )
    sizes = allc.groupBy("comp").agg(F.count(F.lit(1)).alias("csize"))
    return sizes.groupBy("csize").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.col("csize") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
    ).select(
        F.col("csize").cast("bigint").alias("cluster_size"),
        "n_clusters", "n_docs",
    )


# --- fuzzy (MinHash) decontamination of the held-out split -------------------


_FUZZY_DECON_ORACLE = f"""
    WITH test0 AS (SELECT doc_id AS id, text FROM documents
                   WHERE doc_id % 10 = 0),
    train0 AS (SELECT doc_id AS id, text FROM documents
               WHERE doc_id % 10 <> 0),
    tt AS (SELECT id, {TOKS} AS toks FROM test0),
    tr AS (SELECT id, {TOKS} AS toks FROM train0),
    sht AS (SELECT id, {SHINGLES3} AS sh FROM tt),
    shr AS (SELECT id, {SHINGLES3} AS sh FROM tr),
    bt AS (SELECT id, list_transform(sh, s -> {H60.format(x='s')}) AS shh
           FROM sht WHERE len(sh) > 0),
    br AS (SELECT id, list_transform(sh, s -> {H60.format(x='s')}) AS shh
           FROM shr WHERE len(sh) > 0),
    sigt AS (SELECT id, {", ".join(mh_sql(i) for i in range(12))} FROM bt),
    sigr AS (SELECT id, {", ".join(mh_sql(i) for i in range(12))} FROM br),
    bandst AS ({" UNION ALL ".join(band_from_sql("sigt", b) for b in range(4))}),
    bandsr AS ({" UNION ALL ".join(band_from_sql("sigr", b) for b in range(4))}),
    wide AS (SELECT band, bucket FROM bandsr GROUP BY 1, 2
             HAVING COUNT(*) > 50),
    bkr AS (SELECT bandsr.* FROM bandsr ANTI JOIN wide USING (band, bucket)),
    cand0 AS (SELECT DISTINCT p.id AS test_id, q.id AS train_id
              FROM bandst p JOIN bkr q USING (band, bucket)),
    szt AS (SELECT id, len(shh) AS n_sh FROM bt),
    szr AS (SELECT id, len(shh) AS n_sh FROM br),
    cand AS (SELECT c.test_id, c.train_id, sa.n_sh AS na, sb.n_sh AS nb
             FROM cand0 c
             JOIN szt sa ON sa.id = c.test_id
             JOIN szr sb ON sb.id = c.train_id
             WHERE least(sa.n_sh, sb.n_sh)
                   >= (0.5 - 1e-6) * greatest(sa.n_sh, sb.n_sh)),
    pt AS (SELECT id, unnest(shh) AS sh_hash FROM bt),
    pr AS (SELECT id, unnest(shh) AS sh_hash FROM br),
    common AS (SELECT c.test_id, c.train_id, c.na, c.nb,
                      COUNT(*) AS n_common
               FROM cand c
               JOIN pt ON pt.id = c.test_id
               JOIN pr ON pr.id = c.train_id AND pr.sh_hash = pt.sh_hash
               GROUP BY 1, 2, 3, 4),
    matches AS (
        SELECT test_id, train_id,
               round(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6)
                 AS jaccard
        FROM common
        WHERE round(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6)
              >= 0.5)
    SELECT test_doc_id, n_contaminating, best_train_id, best_jaccard FROM (
        SELECT test_id AS test_doc_id,
               CAST(COUNT(*) OVER (PARTITION BY test_id) AS BIGINT)
                 AS n_contaminating,
               CAST(train_id AS BIGINT) AS best_train_id,
               jaccard AS best_jaccard,
               ROW_NUMBER() OVER (PARTITION BY test_id
                   ORDER BY jaccard DESC, train_id ASC) AS rn
        FROM matches) WHERE rn = 1
"""


@register(
    "decon_fuzzy_minhash",
    _FUZZY_DECON_ORACLE,
    doc="Fuzzy decontamination of the held-out split: each test doc "
        "(doc_id % 10 = 0) probes the TRAINING split's LSH band-bucket "
        "index for near-duplicate contamination — MinHash banding for "
        "candidates, hot-bucket cap, size-ratio prune, exact shingle "
        "Jaccard >= 0.5 verification — and the report aggregates per test "
        "doc: how many training docs contaminate it and the best match "
        "(max Jaccard, ties to the lowest train id). This is the fuzzy "
        "complement of decon_test_train_overlap's exact-shingle "
        "containment: paraphrased/perturbed eval leakage that exact "
        "n-gram overlap understates shows up here (the standard pre-"
        "training decon pass — fuzzy variants of it guard most published "
        "LLM eval suites). Scale shape: the test split probes a stored "
        "index (batch->index equi-join); the training corpus never self-"
        "joins, the per-test-doc aggregate is a bounded groupBy with a "
        "struct-max (no global window), so cost is O(|test| x collision "
        "rate) however large the training corpus grows.",
)
def decon_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    test = d.where(F.col("doc_id") % 10 == 0)
    train = d.where(F.col("doc_id") % 10 != 0)
    m = dd.minhash_lsh_incremental(
        test, train, "text", "doc_id", threshold=0.5
    )
    # best match per test doc without a window: struct-max orders by
    # (jaccard, -train_id), so ties deterministically take the lowest id
    best = F.max(
        F.struct(
            F.col("jaccard").alias("j"),
            (-F.col("corpus_id")).alias("neg_id"),
        )
    ).alias("best")
    return (
        m.groupBy(F.col("batch_id").alias("test_doc_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_contaminating"), best)
        .select(
            "test_doc_id",
            "n_contaminating",
            (-F.col("best.neg_id")).cast("bigint").alias("best_train_id"),
            F.col("best.j").alias("best_jaccard"),
        )
    )
