"""Shared query-building helpers and SQL fragments, free of registrations.

Every domain module imports from here and nowhere else in ``plans`` except
its own public names, so importing a helper never registers another
module's queries: registry order is import order in ``plans/__init__``.

The readers and exact-arithmetic helpers (``T``, ``EV``, ``DEC``, ``D``,
``ONE_MINUS``, ``ONE_PLUS``) sit at the top. The DuckDB fragments below them
are the portable primitives the oracles of more than one domain share:

- tokens (``TOKS``): list_filter(regexp_split_to_array(lower(t),'[^a-z0-9]+'), x<>'')
- h60(x) (``H60``): CAST('0x' || substr(md5(x),1,15) AS BIGINT) (md5 = same
  bits in both engines; Spark-side twin in operators/text.py)
- dot(a,b) (``dot_sql``): left fold over index-ordered float64 products
  (bit-identical)

Near-dup queries run on a *synthetic near-dup corpus* (``near_dup_corpus``):
documents ∪ perturbed copies (doc_id+100000, two tokens appended) — the
fixture itself has no dups, so this makes detection observable while
staying SQL-derivable.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from postgresql_cdc_spark.operators import dedup as dd, similarity as sim
from postgresql_cdc_spark.operators.similarity import (
    BANDS as _LSH_BANDS,
    EMBED_DIM as _LSH_DIM,
    PLANES_PER_BAND as _LSH_PLANES,
    hyperplane_weights,
)


def T(spark: SparkSession, sf_dir: str, name: str,
      fanout: bool = True) -> DataFrame:
    """Read fixture table ``name`` — the one table reader of the registry.

    The fan-out policy for the kernel-heavy corpora lives here alone;
    ``fanout=False`` reads the table as a plain scan.
    """
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if fanout and name in ("documents", "embeddings"):
        # These corpora feed per-row kernels (md5 shingle hashing, minhash
        # signatures, plane folds) whose cost dwarfs the scan. A real corpus
        # arrives in thousands of splits and parallelizes for free; the
        # single-file fixture scans as ONE task (one parquet row group) and
        # would serialize the whole pipeline, so fan out only when the scan
        # itself under-parallelizes. The exchange moves kilobytes here and
        # never fires on real inputs. Fan out to the FULL core count: the
        # md5-shingle kernel measured 0.8 s at 32 slices vs 1.1 s at the old
        # 16-slice cap vs 4.4 s unspread (r17, sf0.1 documents); the target
        # tracks defaultParallelism so lower-core runs fan out less, not more.
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    return df


def EV(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with `ts` normalized to TimestampType, fixture-agnostic.

    Fixtures have shipped two physical encodings of `ts` across driver
    regenerations: INT64 TIMESTAMP(NANOS) (read as long under
    legacy.parquet.nanosAsLong) and plain TIMESTAMP(MICROS) (read natively
    as a timestamp). Branch on the *read* dtype: bigint means nanos — floor
    to micros with integer `div` (ns values overflow double mantissa, so no
    `/`); any timestamp flavor is already micros and passes through.

    The conf is set here (runtime-settable) rather than only in our session
    factory because the correctness/bench harness constructs its own
    SparkSession and calls these query callables directly.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    e = T(spark, sf_dir, "events")
    ts_type = dict(e.dtypes)["ts"]
    if ts_type == "bigint":
        return e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type.startswith("timestamp"):
        # TIMESTAMP_NTZ compares/bins identically to TIMESTAMP for our
        # session-UTC harness; cast so downstream window() sees one type.
        return e.withColumn("ts", F.col("ts").cast("timestamp"))
    raise TypeError(f"events.ts has unsupported type {ts_type!r}")


def DEC(c, prec: int = 12, scale: int = 4):
    """Exact-decimal view of a monetary double column (data has <=4 dp)."""
    return F.col(c).cast(f"decimal({prec},{scale})")


def D(x):
    return x.cast("double")


# (1 - l_discount) / (1 + l_tax) as exact decimals: 2 dp in the data.
def ONE_MINUS(c):
    return F.lit(1).cast("decimal(3,2)") - F.col(c).cast("decimal(4,2)")


def ONE_PLUS(c):
    return F.lit(1).cast("decimal(3,2)") + F.col(c).cast("decimal(4,2)")


# THE canonical 30-minute gap sessionizer — every session-derived query
# (events_sessionize, length hist, interval overlap, ...) builds on these
# two definitions so a boundary-rule change propagates everywhere by
# construction. The CTE ends with
# `sessions(user_id, event_id, ts_ms, session_id)`.
SESSIONIZED_EVENTS_CTE = """
    flagged AS (
        -- order by epoch_ms(ts) (NOT raw nanosecond ts): Spark's window orders
        -- by ts_ms, and a same-user same-millisecond tie could legally order
        -- differently and move a session boundary
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
               CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                        OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
                        > 1800000 THEN 1 ELSE 0 END AS new_session
        FROM events),
    sessions AS (
        -- DuckDB's windowed SUM yields HUGEINT; cast to BIGINT to match
        -- Spark's long session_id
        SELECT user_id, event_id, ts_ms,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged)
"""


def sessionized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, event_id, ts_ms, session_id) under the canonical 30-min
    gap rule — the Spark twin of SESSIONIZED_EVENTS_CTE."""
    from pyspark.sql.window import Window

    e = EV(spark, sf_dir).select(
        "user_id", "event_id", F.unix_millis("ts").alias("ts_ms")
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    flagged = e.withColumn(
        "new_session",
        F.when(F.col("ts_ms") - F.lag("ts_ms").over(w) > 1800000, 1)
        .otherwise(0),
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return flagged.withColumn(
        "session_id", F.sum("new_session").over(cum)
    ).select("user_id", "event_id", "ts_ms", "session_id")


# --- shared DuckDB fragments -------------------------------------------------

TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"
H60 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"

SHINGLES3 = """
    CASE WHEN len(toks) >= 3
         THEN list_distinct(list_transform(range(1, len(toks)-1),
                  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
         ELSE [] END
"""


# --- deduplication -----------------------------------------------------------

# Synthetic near-dup corpus: fixture has no duplicates, so near-dup pipelines
# run over documents ∪ perturbed copies (id+100000, two tokens appended).
CORPUS = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000, text || ' qq zz' FROM documents WHERE doc_id % 5 = 0
"""


def near_dup_corpus(spark: SparkSession, sf_dir: str,
                     fanout: bool = True) -> DataFrame:
    d = T(spark, sf_dir, "documents", fanout=fanout).select("doc_id", "text")
    pert = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq zz")).alias("text"),
    )
    return d.unionByName(pert)


# --- minhash LSH near-dup ----------------------------------------------------

def mh_sql(i: int) -> str:
    # Mirrors operators/dedup.MH_AB: one h60 per shingle (pre-hashed in
    # `shh`), k affine mixes (A*h%P + B) % P in exact signed-64 arithmetic.
    a, b = dd.MH_AB[i]
    return (f"list_min(list_transform(shh, h -> "
            f"({a}::BIGINT * (h % {dd.MH_P}) + {b}) % {dd.MH_P})) AS m{i}")


# --- exact n-gram Jaccard ----------------------------------------------------

NGRAM_ORACLE = f"""
    WITH c AS ({CORPUS}),
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
                 AND least(pa.n_sh, pb.n_sh)
                     >= (0.5 - 1e-6) * greatest(pa.n_sh, pb.n_sh)
               GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b,
           round(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6) AS jaccard
    FROM common
    WHERE round(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6) >= 0.5
"""


# --- similarity search over embeddings ---------------------------------------

def dot_sql(a: str, b: str) -> str:
    """Exact float64 dot product, left fold in index order — bit-identical to
    operators/similarity.dot (init 0.0 prepended so fold order matches)."""
    prod = (f"list_transform(list_zip({a}, {b}), "
            "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))")
    return (f"list_reduce(list_concat([CAST(0.0 AS DOUBLE)], {prod}), "
            "(x, y) -> x + y)")


def cos_sql(a: str, b: str) -> str:
    return (f"round({dot_sql(a, b)} / "
            f"(sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)})), 6)")


def plane_sum_sql(vecvar: str, seed: str, p: int) -> str:
    """Signed sum ±v[i] with the SAME driver-side md5-derived weights the
    Spark operator embeds (hyperplane_weights). 0.0-seeded left-assoc sum ==
    Spark's index-ordered fold bit-for-bit (±1 multiplies are exact)."""
    w = hyperplane_weights(seed, _LSH_PLANES, _LSH_DIM)[p]
    terms = "".join(
        ("+" if x > 0 else "-") + f"{vecvar}[{i + 1}]" for i, x in enumerate(w)
    )
    return f"(0.0{terms})"


def code_sql(vecvar: str, seed: str, planes: int = _LSH_PLANES) -> str:
    terms = [
        f"(CASE WHEN {plane_sum_sql(vecvar, seed, p)} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(planes)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def codes_union_sql(src: str, idc: str, vec: str, bands: int = _LSH_BANDS) -> str:
    """One row per (row, band) with the hyperplane code; ``dv`` is the
    double-cast embedding the signed plane sums index into."""
    inner = f"(SELECT *, list_transform({vec}, x -> CAST(x AS DOUBLE)) AS dv FROM {src})"
    return " UNION ALL ".join(
        f"SELECT {idc}, {vec} AS v, {b} AS band, "
        f"{code_sql('dv', f'hp{b}')} AS code FROM {inner}"
        for b in range(bands)
    )


def l2_sql(a: str, b: str) -> str:
    """Exact float64 squared-L2, left fold in index order — bit-identical to
    operators/similarity.l2sq."""
    d = (f"list_transform(list_zip({a}, {b}), "
         "s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))"
         " * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)))")
    return (f"list_reduce(list_concat([CAST(0.0 AS DOUBLE)], {d}), "
            "(x, y) -> x + y)")


TOPK_IVF_ORACLE = f"""
    WITH cent AS (SELECT vec_id AS cell, embedding AS cv
                  FROM embeddings ORDER BY vec_id LIMIT 16),
    assign AS (
        SELECT vec_id AS neighbor_id, embedding AS ne, cell
        FROM (
            SELECT e.vec_id, e.embedding, cent.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {l2_sql('e.embedding', 'cent.cv')} ASC,
                                cent.cell ASC) AS rn
            FROM embeddings e CROSS JOIN cent
        ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe
          FROM embeddings WHERE vec_id % 100 = 0),
    probes AS (
        SELECT query_id, qe, cell
        FROM (
            SELECT q.query_id, q.qe, cent.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {l2_sql('q.qe', 'cent.cv')} ASC,
                                cent.cell ASC) AS rn
            FROM q CROSS JOIN cent
        ) WHERE rn <= 4
    ),
    scored AS (
        SELECT p.query_id, a.neighbor_id,
               {cos_sql('a.ne', 'p.qe')} AS cos_sim
        FROM assign a JOIN probes p USING (cell)
        WHERE a.neighbor_id <> p.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
"""


# --- incremental (ingest-time) near-dup dedup --------------------------------



def band_from_sql(src: str, b: int, rows: int = 3) -> str:
    parts = ", ".join(f"CAST(m{b*rows+r} AS VARCHAR)" for r in range(rows))
    return (f"SELECT id, {b} AS band, "
            + H60.format(x=f"concat_ws(',', {parts})")
            + f" AS bucket FROM {src}")

KMEANS_K = sim.IVF_CENTROIDS
KMEANS_ITERS = sim.KMEANS_ITERS
KMEANS_SCALE = sim.KMEANS_SCALE


# --- oracle SQL: the k-means loop, unrolled into CTEs -----------------------

def quant_cte(src: str = "embeddings") -> str:
    return f"""q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE}.0) AS BIGINT)) AS qv
  FROM {src} WHERE len(embedding) > 0
)"""


def seed_cte() -> str:
    return f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell,
         qv AS cv
  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {KMEANS_K})
)"""


IDIST = """list_reduce(list_concat([CAST(0 AS BIGINT)],
               list_transform(range(1, len({v}) + 1),
                 i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i]))),
               (acc, x) -> acc + x)"""


def assign_cte(t: int, prev: str) -> str:
    d = IDIST.format(v="q.qv", c="c.cv")
    return f"""a{t} AS (
  SELECT vec_id, qv, cell FROM (
    SELECT q.vec_id, q.qv, c.cell,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {d} ASC, c.cell ASC) AS rn
    FROM q CROSS JOIN {prev} c
  ) WHERE rn = 1
)"""


def recenter_cte(t: int, prev: str) -> str:
    # Exact floored division regardless of the engine's integer-division
    # rounding: (s - nonneg_residue) is exactly divisible by n.
    # CAST back to BIGINT: DuckDB's SUM over BIGINT promotes to HUGEINT, and
    # a HUGEINT list column in the final output renders as float through the
    # driver's arrow/pandas fetch (44482.0 vs Spark's 44482) — the recentered
    # value always fits BIGINT (mean of BIGINT inputs), so the cast is exact.
    return f"""s{t} AS (
  SELECT cell, pos, SUM(x) AS s, COUNT(*) AS n
  FROM (SELECT cell, unnest(list_transform(range(1, len(qv) + 1),
                  i -> {{'pos': i, 'x': qv[i]}}), recursive := true)
        FROM a{t})
  GROUP BY cell, pos
),
c{t} AS (
  SELECT p.cell, coalesce(nc.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN (
    SELECT cell, list(CAST((s - ((s % n + n) % n)) // n AS BIGINT)
                      ORDER BY pos) AS cv
    FROM s{t} GROUP BY cell
  ) nc USING (cell)
)"""


def kmeans_ctes(iters: int = KMEANS_ITERS, src: str = "embeddings") -> tuple[str, str, int]:
    """(CTE chain, name of the trained-centroid CTE, final assign index)."""
    parts = [quant_cte(src), seed_cte()]
    prev = "c0"
    for t in range(1, iters + 1):
        parts.append(assign_cte(t, prev))
        parts.append(recenter_cte(t, prev))
        prev = f"c{t}"
    final_t = iters + 1
    parts.append(assign_cte(final_t, prev))
    return ",\n".join(parts), prev, final_t

# BM25 parameters as exact rationals: k1 = 1.2 = 6/5, b = 0.75 = 3/4.
# Per-term saturation tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl/avgdl) with
# avgdl = s/n multiplies out (by 10*s) to 22*s*tf / (10*s*tf + 3*s + 9*dl*n)
# — every operand BIGINT-exact, one IEEE division. The idf is the log-free
# rational (n - df + 0.5)/(df + 0.5) = (2n - 2df + 1)/(2df + 1): strictly
# monotone in the Robertson ln idf, so rankings agree where ln() could
# drift an ulp at a rank boundary.
BM25_TERMS = ("spark", "hash", "window", "dup")


def term_score(t: str) -> str:
    """Engine-neutral BM25 per-term score over columns tf_<t>, df_<t>,
    dl, n, s (all BIGINT)."""
    return (
        f"(CAST(2 * n - 2 * df_{t} + 1 AS DOUBLE)"
        f" / CAST(2 * df_{t} + 1 AS DOUBLE))"
        f" * (CAST(22 * s * tf_{t} AS DOUBLE)"
        f" / CAST(10 * s * tf_{t} + 3 * s + 9 * dl * n AS DOUBLE))"
    )


BM25_SCORE = "round(" + " + ".join(term_score(t) for t in BM25_TERMS) + ", 6)"

# Spark-side tokenization (operators/text.tokens as SQL text) vs the DuckDB
# twin — same grammar the whole text family pins.
S_TOKS = "filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')"


def bm25_doc_col_list(engine: str) -> list:
    """Per-document projection: dl + one tf column per query term."""
    if engine == "spark":
        tf = "CAST(size(filter(toks, t -> t = '{t}')) AS BIGINT) AS tf_{t}"
        dl = "CAST(size(toks) AS BIGINT) AS dl"
    else:
        tf = "CAST(len(list_filter(toks, t -> t = '{t}')) AS BIGINT) AS tf_{t}"
        dl = "CAST(len(toks) AS BIGINT) AS dl"
    return [dl] + [tf.format(t=t) for t in BM25_TERMS]


def bm25_doc_cols(engine: str) -> str:
    return ", ".join(bm25_doc_col_list(engine))


def bm25_df_aggs(engine: str) -> str:
    contains = "array_contains" if engine == "spark" else "list_contains"
    return ", ".join(
        f"CAST(SUM(CASE WHEN {contains}(toks, '{t}') THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS df_{t}"
        for t in BM25_TERMS
    )


def bm25_scored_sql(engine: str, docs_src: str) -> str:
    """Full scored-collection SQL (CTE body ending in `scored`): doc_id +
    bm25 over ``docs_src`` (a relation providing doc_id, text)."""
    toks = S_TOKS if engine == "spark" else TOKS
    return f"""
    WITH d AS (SELECT doc_id, {toks} AS toks FROM {docs_src}),
    dd AS (SELECT doc_id, toks, {bm25_doc_cols(engine)} FROM d),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(dl) AS BIGINT) AS s FROM dd),
    dfs AS (SELECT {bm25_df_aggs(engine)} FROM dd),
    scored AS (SELECT doc_id, {BM25_SCORE} AS bm25
               FROM dd CROSS JOIN st CROSS JOIN dfs)
    """


def roundtrip_dir(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    # applicationId in the path: two concurrent harness processes at the same
    # scale factor must not race on overwrite of a shared /tmp dir (same
    # convention as streaming_gate's tmpdirs).
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    app = spark.sparkContext.applicationId
    return os.path.join(
        tempfile.gettempdir(), f"pgcdc_spark_io_{tag}_{fmt}_{app}"
    )
