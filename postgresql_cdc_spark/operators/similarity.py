"""Similarity search over embedding columns (``array<float>``).

Exact kernels with bit-identical DuckDB twins — the dot product is a *left
fold in index order* in both engines, so float summation order matches and the
oracle hash-compares exactly:

    Spark : aggregate(zip_with(cast(a), cast(b), (x,y)->x*y), 0.0, (s,x)->s+x)
    DuckDB: list_reduce(list_transform(list_zip(a,b),
                        s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)),
                        (x,y) -> x+y)

Strategies:

- ``cosine`` / ``dot``     — per-pair kernels (built-ins, codegen).
- ``topk_brute``           — baseline exact top-k: broadcast the (small) query
                             set, score every corpus row, per-query window
                             top-k. One pass over the corpus, no corpus
                             shuffle except the final per-query top-k (k rows
                             per partition pre-aggregated).
- ``hyperplane_lsh_code``  — sign-bit LSH code for ANN bucketing. The ±1
                             hyperplane weights are derived once DRIVER-SIDE
                             from the md5/h60 family and embedded as array
                             literals, so the per-row cost is a pure
                             multiply-add fold (no per-row hashing; the old
                             formulation re-derived 512 md5s per vector).
- ``topk_lsh``             — ANN: candidates = corpus rows sharing any of the
                             query's band codes, then exact cosine on
                             candidates only. The scale path: bucket join
                             instead of full scan.

Scale geometry: ``PLANES_PER_BAND = 12`` gives 4096 buckets per band — at
N = 10^9 vectors a bucket holds ~250k rows, and the ``max_bucket`` guard
(broadcast anti-join, same shape as MinHash's) drops degenerate hot buckets
so the bucket self-join can never approach N². (The previous 4-plane/16-bucket
geometry collapsed to ~N²/16 at scale.)

At 100 TB: ``topk_brute`` is the gold standard / recall oracle; ``topk_lsh``
turns the scan into an equi-join on (band, code) — same shape web-scale ANN
pre-filters use. Embeddings stay as float arrays (no Python round trip).
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

# Default LSH geometry (shared by the DuckDB oracle builders in
# plans/extensions.py — change in lockstep).
BANDS = 4
PLANES_PER_BAND = 12
EMBED_DIM = 64
MAX_BUCKET = 200


def _dot_sql(a: str, b: str) -> str:
    """SQL text of the exact float64 dot product (0.0-seeded left fold in
    index order — the bit-reproducible shape the DuckDB oracle mirrors).

    The hot kernels are generated as SQL strings and parsed JVM-side with ONE
    ``F.expr`` call: building the same tree through the PySpark Column API
    costs thousands of py4j round trips (measured: ~2.7s of driver time per
    topk_lsh plan construction — more than the query's execution at small SF,
    and pure fixed overhead at any scale).
    """
    return (
        f"aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), "
        f"CAST({b} AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _cos_sql(a: str, b: str) -> str:
    return (
        f"round({_dot_sql(a, b)} / "
        f"(sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})), 6)"
    )


def cosine_expr(a: str, b: str) -> Column:
    """Rounded cosine similarity between two array columns (by name)."""
    return F.expr(_cos_sql(a, b))


def dot(a: Column, b: Column) -> Column:
    """Exact float64 dot product, left fold in index order."""
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"),
                   lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def topk_brute(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self-matches).

    The query side is broadcast (queries ≪ corpus); scoring is one corpus
    scan; ties break on neighbor id for determinism.
    """
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
    )
    scored = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col)
    ).join(F.broadcast(q), F.col("neighbor_id") != F.col(query_id_col))
    scored = scored.select(
        query_id_col,
        "neighbor_id",
        cosine_expr(f"`{vec_col}`", "__qvec").alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


@lru_cache(maxsize=None)
def hyperplane_weights(seed: str, planes: int, dim: int) -> tuple[tuple[float, ...], ...]:
    """±1.0 weights for ``planes`` hyperplanes over ``dim`` dimensions.

    Derived from the parity bit of the portable h60 hash of ``seed:p:i`` —
    deterministic, no stored model, reproducible in any engine (the DuckDB
    oracle embeds the same constants). Computed once per (seed, planes, dim)
    on the driver; the executors only see literal arrays.
    """
    return tuple(
        tuple(
            float((int(hashlib.md5(f"{seed}:{p}:{i}".encode()).hexdigest()[:15], 16) & 1) * 2 - 1)
            for i in range(dim)
        )
        for p in range(planes)
    )


def hyperplane_lsh_code(
    vec: Column,
    planes: int = PLANES_PER_BAND,
    seed: str = "hp",
    dim: int = EMBED_DIM,
) -> Column:
    """Sign-bit LSH code: bit p = [w_p · v > 0] with precomputed ±1 weight
    literals. Returns a long in [0, 2^planes).

    The weight matrix is ONE nested-array literal and the per-plane sums come
    from a single ``transform`` — the earlier formulation unrolled ``planes``
    separate folds each carrying ``dim`` scalar literals, and the resulting
    ~3000-node expression tree cost seconds of analysis/codegen per query
    (pure fixed overhead, paid again at every scale). Arithmetic is unchanged:
    each plane sum is still a 0.0-seeded left fold of x*y in index order, so
    the DuckDB oracle's ±v[i] chains match bit-for-bit.

    ``dim`` must equal the actual vector length — ``zip_with`` null-pads on
    mismatch, which would nullify every plane sum and collapse all rows into
    bucket 0. Operator entry points infer it from the data (``infer_dim``)
    rather than trusting the default.
    """
    return F.expr(_lsh_code_sql(f"`{_sql_name(vec)}`", planes, seed, dim))


def _sql_name(vec: Column | str) -> str:
    if isinstance(vec, str):
        return vec
    # Column.__repr__ is "Column<'name'>"
    import re

    m = re.match(r"Column<'(.+)'>$", repr(vec))
    if not m:
        raise ValueError(f"need a simple column reference, got {vec!r}")
    return m.group(1)


def _lsh_code_sql(vec_sql: str, planes: int, seed: str, dim: int) -> str:
    """SQL text of the sign-bit code: one nested-array weight literal, one
    transform for the plane sums, one fold for the bit packing."""
    w = hyperplane_weights(seed, planes, dim)
    wmat = "array(" + ", ".join(
        "array(" + ", ".join(f"{x:.1f}D" for x in p) + ")" for p in w
    ) + ")"
    powers = "array(" + ", ".join(f"{float(1 << p):.1f}D" for p in range(planes)) + ")"
    sums = (
        f"transform({wmat}, wp -> aggregate(zip_with("
        f"CAST({vec_sql} AS ARRAY<DOUBLE>), wp, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x))"
    )
    bits = (
        f"zip_with({sums}, {powers}, "
        "(s, p) -> CASE WHEN s > 0.0D THEN p ELSE 0.0D END)"
    )
    return f"CAST(aggregate({bits}, 0.0D, (acc, x) -> acc + x) AS BIGINT)"


def infer_dim(df: DataFrame, vec_col: str = "embedding",
              default: int = EMBED_DIM) -> int:
    """Embedding dimensionality from the data (first non-null row).

    One driver-side lookup of a single value — negligible next to any real
    pipeline, and it prevents the silent-failure mode where a wrong ``dim``
    null-pads ``zip_with`` inside the plane folds and every row lands in
    bucket 0 (which the hot-bucket guard then drops, yielding empty results).
    """
    row = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    return int(row["d"]) if row is not None else default


def _with_band_codes(
    df: DataFrame,
    idc: str,
    vec_col: str,
    bands: int,
    planes_per_band: int,
    vec_alias: str,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """(id, vec, band, code) — one row per (row, band).

    The whole banded-code array is ONE generated-SQL expression (see
    ``_dot_sql`` note on why strings beat the Column API here).
    """
    bc = ", ".join(
        f"struct({b} AS band, "
        f"{_lsh_code_sql(f'`{vec_col}`', planes_per_band, f'hp{b}', dim)} AS code)"
        for b in range(bands)
    )
    return df.select(
        F.col(idc),
        F.col(vec_col).alias(vec_alias),
        F.explode(F.expr(f"array({bc})")).alias("bc"),
    ).select(idc, vec_alias, F.col("bc.band").alias("band"),
             F.col("bc.code").alias("code"))


def _drop_hot_buckets(coded: DataFrame, max_bucket: int) -> DataFrame:
    """Skew guard: drop (band, code) buckets wider than ``max_bucket`` via a
    broadcast anti-join — bounded memory, and the self-join can never
    degenerate into a near-cross-product on a hot bucket."""
    wide = (
        coded.groupBy("band", "code").count().where(F.col("count") > max_bucket)
    )
    return coded.join(F.broadcast(wide.select("band", "code")),
                      ["band", "code"], "left_anti")


def topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    bands: int = BANDS,
    planes_per_band: int = PLANES_PER_BAND,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """ANN top-k: candidates share at least one band code with the query,
    exact cosine re-rank on candidates. Join is equi on (band, code); hot
    corpus buckets are dropped before the join."""
    dim = infer_dim(corpus, vec_col)
    # coded corpus feeds the hot-bucket count and the candidate join; persist
    # so the plane folds run once per row
    c = _with_band_codes(
        corpus.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id",
        vec_col, bands, planes_per_band, "__v_neighbor", dim=dim,
    ).persist()
    c = _drop_hot_buckets(c, max_bucket)
    q = _with_band_codes(
        queries, query_id_col, vec_col, bands, planes_per_band, "__v_query",
        dim=dim,
    )

    # Score BEFORE the pair dedupe: cosine is a pure function of the pair,
    # so duplicates (a pair colliding on several bands) carry equal scores
    # and the dedupe result is unchanged — but the dedupe exchange now moves
    # one double per row instead of two embedding vectors, and the aggregate
    # keeps fixed-width buffers (HashAggregate fast path) instead of
    # First(array<float>) buffers (the same shuffle-light shape
    # near_dup_pairs already uses).
    scored = (
        c.join(F.broadcast(q), ["band", "code"])
        .where(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col, "neighbor_id",
            cosine_expr("__v_neighbor", "__v_query").alias("cos_sim"),
        )
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def l2sq(a: Column, b: Column) -> Column:
    """Exact float64 squared-L2 distance, left fold in index order (the same
    bit-reproducible shape as :func:`dot`)."""
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Default IVF geometry (mirrored by the DuckDB oracle in plans/extensions.py).
IVF_CENTROIDS = 16
IVF_PROBES = 4


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (squared L2,
    ties broken on centroid id): ``(id, vec, cell)``.

    ``centroids`` is ``(cell, __cvec)`` and must be small — it broadcasts, so
    assignment is ONE corpus scan with C fold kernels per row and no shuffle.
    At 100 TB with C = O(sqrt(N)) cells this is the standard IVF-Flat build:
    the inverted lists are just the corpus hash-partitioned by ``cell``.
    """
    w = Window.partitionBy(id_col).orderBy(F.asc("__d"), F.asc("cell"))
    return (
        corpus.select(F.col(id_col), F.col(vec_col))
        .join(F.broadcast(centroids))
        .withColumn("__d", l2sq(F.col(vec_col), F.col("__cvec")))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(id_col, vec_col, "cell")
    )


def default_centroids(
    corpus: DataFrame,
    n_centroids: int = IVF_CENTROIDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse quantizer: the ``n_centroids`` lowest-id corpus
    vectors. A trained k-means would recall better, but any small
    ``(cell, __cvec)`` DataFrame plugs into :func:`ivf_assign` — this default
    keeps the index reproducible in any engine with no stored model. The
    ordered limit is a TakeOrdered (no full sort) and C stays driver-small."""
    return (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.asc(id_col))
        .limit(n_centroids)
        .select(F.col(id_col).alias("cell"), F.col(vec_col).alias("__cvec"))
    )


def topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_centroids: int = IVF_CENTROIDS,
    n_probe: int = IVF_PROBES,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-Flat ANN top-k: each query probes its ``n_probe`` nearest cells and
    scores only vectors assigned there, then exact cosine re-rank.

    Scale shape: centroids broadcast (small); corpus assignment is one scan;
    the candidate join is equi on ``cell`` against the broadcast probe list,
    touching ~``n_probe``/``n_centroids`` of the corpus per query. Unlike the
    LSH variant there is no self-join anywhere, so no quadratic failure mode;
    recall is tuned by ``n_probe``, cost by ``n_centroids`` ~ O(sqrt(N)).
    """
    cents = centroids if centroids is not None else default_centroids(
        corpus, n_centroids, id_col, vec_col
    )
    assigned = ivf_assign(
        corpus.withColumnRenamed(id_col, "neighbor_id"), cents,
        "neighbor_id", vec_col,
    ).withColumnRenamed(vec_col, "__nvec")

    wp = Window.partitionBy(query_id_col).orderBy(F.asc("__d"), F.asc("cell"))
    probes = (
        queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
        .join(F.broadcast(cents))
        .withColumn("__d", l2sq(F.col("__qvec"), F.col("__cvec")))
        .withColumn("__rn", F.row_number().over(wp))
        .where(F.col("__rn") <= n_probe)
        .select(query_id_col, "__qvec", "cell")
    )

    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col, "neighbor_id",
            cosine_expr("__nvec", "__qvec").alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ivf_cell_stats(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = IVF_CENTROIDS,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Inverted-list statistics of the IVF index: per cell, how many vectors
    landed there and the smallest member id. The operational health check for
    an IVF deployment — skewed cells mean a bad quantizer, and the outputs
    are integers so the oracle check is exact. One broadcast-join scan, one
    hash agg on ``cell``.
    """
    cents = centroids if centroids is not None else default_centroids(
        corpus, n_centroids, id_col, vec_col
    )
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    return assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min(id_col).alias("min_vec_id"),
    )


def near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = BANDS,
    planes_per_band: int = PLANES_PER_BAND,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Embedding near-duplicate pairs: hyperplane-LSH bucket self-join, then
    exact cosine filter. Same equi-join shape as topk_lsh — scales as a
    bucketed join with capped bucket width, not an all-pairs cross product."""
    dim = infer_dim(corpus, vec_col)
    # coded feeds the hot-bucket count and BOTH self-join sides; persist so
    # the plane folds run once per row
    coded = _with_band_codes(
        corpus.withColumnRenamed(id_col, "id"), "id",
        vec_col, bands, planes_per_band, "v", dim=dim,
    ).persist()
    # persist post-anti-join too (r18): both self-join sides read it, and
    # without this the hot-bucket aggregate + its broadcast build execute
    # once per side (same fix as the dedup pair pipelines)
    coded = _drop_hot_buckets(coded, max_bucket).persist()

    a, b = coded.alias("a"), coded.alias("b")
    return (
        a.join(b, ["band", "code"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            cosine_expr("a.v", "b.v").alias("cos_sim"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("cos_sim") >= threshold)
    )


# --- trained coarse quantizer: integer-exact Lloyd's k-means ----------------

# Quantization scale for k-means training: multiplying a double by a power of
# two is exact (exponent shift, no mantissa rounding), and floor() is exact,
# so floor(x * 2^20) is bit-identical in ANY IEEE-754 engine — the property
# that lets a DuckDB oracle replay the whole training loop.
KMEANS_SCALE = 1 << 20
KMEANS_ITERS = 2


def quantize_sql(vec_sql: str, scale: int = KMEANS_SCALE) -> str:
    """SQL text of the integer quantization: floor(double(x) * scale).

    With |x| < 2 and scale = 2^20 the codes stay under 2^21, so a 64-dim
    squared-L2 distance tops out near 2^46 — far inside int64."""
    return (
        f"transform(CAST({vec_sql} AS ARRAY<DOUBLE>), "
        f"x -> CAST(floor(x * {float(scale):.1f}D) AS BIGINT))"
    )


def _qdist_sql(qv_sql: str, cent: list[int]) -> str:
    """Exact integer squared-L2 between a quantized vector column and one
    driver-side centroid literal."""
    arr = "array(" + ",".join(f"{int(v)}L" for v in cent) + ")"
    return (
        f"aggregate(zip_with({qv_sql}, {arr}, (a, b) -> (a-b)*(a-b)), "
        "0L, (acc, x) -> acc + x)"
    )


def argmin_cell_sql(qv_sql: str, cents: list[list[int]]) -> str:
    """SQL text of the nearest-centroid assignment: array_min over
    (distance, cell) structs — integer struct ordering, ties to the lower
    cell id. A pure projection: no join, no window, no shuffle (the old
    broadcast-join + row_number assignment shuffled a centroids-times-corpus
    blow-up just to run argmin)."""
    structs = ", ".join(
        f"struct({_qdist_sql(qv_sql, c)} AS d, {j}L AS cell)"
        for j, c in enumerate(cents)
    )
    return f"array_min(array({structs})).cell"


def train_centroids_kmeans(
    corpus: DataFrame,
    n_centroids: int = IVF_CENTROIDS,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = KMEANS_SCALE,
) -> list[list[int]]:
    """Lloyd's k-means over integer-quantized vectors; returns the trained
    centroids as driver-side ``[[int]]`` (cell = list index).

    Every step is exact integer arithmetic, so any engine replays it
    bit-for-bit (the DuckDB oracle ``plans.common.kmeans_ctes`` does):

    - seed     = quantized vectors of the ``n_centroids`` lowest ids
      (TakeOrdered, no full sort);
    - assign   = argmin of integer squared-L2, ties to the lower cell —
      a literal-centroid projection, zero shuffle;
    - recenter = per-cell element-wise floor(mean): exact int64 sums via ONE
      hash agg (``dim`` fixed-width sum buffers, map-side partials reduce the
      shuffle to ``n_centroids`` rows of ``dim`` longs), then Python's exact
      floor division driver-side. An empty cell keeps its previous centroid.

    Scale: per iteration ONE corpus scan + one tiny agg; driver holds only
    O(n_centroids * dim) ints — the same collect MLlib's KMeans performs.
    The quantized projection is persisted for the 1 + iters passes and
    unpersisted before returning.
    """
    q = (
        corpus.where(F.size(F.col(vec_col)) > 0)
        .select(
            F.col(id_col).alias("id"),
            F.expr(quantize_sql(vec_col, scale)).alias("qv"),
        )
        .persist()
    )
    try:
        seed = q.orderBy("id").limit(n_centroids).collect()
        cents = [list(r.qv) for r in sorted(seed, key=lambda r: r.id)]
        if not cents:
            return []
        dim = len(cents[0])
        for _ in range(iters):
            sums = (
                q.select(F.expr(argmin_cell_sql("qv", cents)).alias("cell"), "qv")
                .groupBy("cell")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    *[F.sum(F.col("qv")[p]).alias(f"s{p}") for p in range(dim)],
                )
                .collect()
            )
            new = list(cents)
            for r in sums:
                new[r["cell"]] = [r[f"s{p}"] // r["n"] for p in range(dim)]
            cents = new
    finally:
        q.unpersist()
    return cents


def assign_cells_trained(
    corpus: DataFrame,
    cents: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = KMEANS_SCALE,
) -> DataFrame:
    """Nearest-trained-centroid assignment: ``(id, vec, cell)`` — one
    projection over the corpus scan, no shuffle (contrast ivf_assign's
    broadcast-join + window, which the untrained path still uses)."""
    return corpus.where(F.size(F.col(vec_col)) > 0).select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(
            argmin_cell_sql(quantize_sql(vec_col, scale), cents)
        ).alias("cell"),
    )


def topn_cells_sql(qv_sql: str, cents: list[list[int]], n: int) -> str:
    """SQL text of the ``n`` nearest trained cells, nearest first: sort the
    (distance, cell) structs, slice, project the cell ids. Still a pure
    projection — probing needs no join against a centroid table."""
    structs = ", ".join(
        f"struct({_qdist_sql(qv_sql, c)} AS d, {j}L AS cell)"
        for j, c in enumerate(cents)
    )
    return (
        f"transform(slice(array_sort(array({structs})), 1, {n}), "
        "s -> s.cell)"
    )


def semdedup_prune(
    corpus: DataFrame,
    cents: list[list[int]],
    threshold: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = KMEANS_SCALE,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with the trained coarse quantizer,
    then WITHIN each cell drop every vector that has a lower-id member at
    cosine >= threshold. Returns the survivors as ``(id, cell)``.

    The greedy lowest-id-wins rule is deterministic and engine-replayable
    (the paper keeps one arbitrary representative per epsilon-group; fixing
    "lowest id" removes the arbitrariness). The pairwise pass is the point
    of the clustering: the self-join is equi on ``cell``, so the candidate
    set is cell-bounded — with k = O(sqrt N) cells this is O(N^1.5) worst
    case instead of the O(N^2) all-pairs scan, and in practice hot cells are
    what k-means training shrinks. No all-pairs path exists here.
    """
    a = assign_cells_trained(corpus, cents, id_col, vec_col, scale)
    l = a.select(F.col(id_col).alias("__ida"), F.col(vec_col).alias("__va"),
                 "cell")
    r = a.select(F.col(id_col).alias("__idb"), F.col(vec_col).alias("__vb"),
                 "cell")
    dropped = (
        l.join(r, "cell")
        .where(F.col("__ida") < F.col("__idb"))
        .where(cosine_expr("__va", "__vb") >= threshold)
        .select(F.col("__idb").alias(id_col))
        .distinct()
    )
    return a.join(dropped, id_col, "left_anti").select(id_col, "cell")
