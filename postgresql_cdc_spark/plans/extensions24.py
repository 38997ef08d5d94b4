"""Round-14 registry depth: the quantizer-REFRESH action for the
streaming-maintained IVF store.

Round 13 added the ALARM (``cdc_stream_ivf_recall_drift``: the per-epoch
recall curve a frozen-quantizer store watches). This module adds the
ACTION the alarm triggers: retrain the coarse quantizer OFFLINE from the
vectors the store already holds, swap the quantizer GENERATION
atomically (versioned quantizer dirs, old generations swept — the
``join_ivm`` version-retention machinery), and RE-ENCODE the postings
under the new generation via the epoch-store base fold
(``epoch_maintenance.compact_epochs`` with a re-assigning ``merge`` —
the fold that normally just consolidates partials here rewrites every
row's cell, which is exactly what a production re-index is: one pass,
crash-safe behind the manifest commit).

Why the gate alarms on DISTORTION / IMBALANCE / PROBE-SCAN COST rather
than recall: under the collapse-type drift injected here (a new data
region the frozen quantizer has no cells for), the whole drifted
population lands in very few cells — and a drifted query probes those
same cells, so recall@k stays flat (measured on this geometry: flat
within noise for every drift form tried, because IVF recall only
degrades when a query's true neighbors SPREAD across unprobed cells).
What degrades is everything else a deployment cares about: the k-means
objective (quantization distortion) explodes, cell sizes skew (the
max cell is the serve-latency tail at scale — a probed mega-cell costs
O(cell size) per query), and the probed-row count per query grows.
Those are the quantizer-health signals FAISS/ScaNN deployments actually
monitor for re-training, they are integer-exact here (the corpus is a
deterministic integer-clustered synthesis), and retraining provably
improves the first one (Lloyd's descends the same objective). Measured
on this gate's geometry: distortion ~18x lower and max-cell ~2x lower
after the swap.

Corpus: vectors synthesized closed-form from the ``embeddings``
fixture's vec_ids (8 dims, integer-valued): clean waves (vec_id % 3 in
(0, 1)) form 12 compact clusters; the drift wave (vec_id % 3 = 2) forms
12 NEW clusters in a region the wave-0-trained quantizer never saw
(negated + shifted centers), all with deterministic integer jitter.
Training is the repo's integer-exact Lloyd k-means
(``operators/similarity.train_centroids_kmeans`` at scale=1 — the
vectors are already integers), which the DuckDB oracle replays
bit-for-bit with the unrolled CTE chain (the ``plans/extensions3``
pattern, prefixed per generation so gen-1 trains on the wave-0 subset
and gen-2 on the full drifted corpus).

Reference parity: the reference implements no vector search
(SURVEY.md §2.2); this is a north-star extension operator.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from postgresql_cdc_spark.operators import similarity as sim
from postgresql_cdc_spark.plans.extensions import T
from postgresql_cdc_spark.plans.extensions3 import _IDIST
from postgresql_cdc_spark.plans.registry import register

_K = 16
_ITERS = 2
_NPROBE = 4
_DIM = 8
_QMOD = 40  # query sample: vec_id % 40 == 0

# Gen-2 retraining SAMPLE (r15): Lloyd iterations over the FULL store are
# exactly what FAISS-scale deployments avoid — each iteration is a
# whole-corpus scan, so training cost tracks |store| instead of the
# sample budget. The retrain draws a ~1/3 deterministic hash sample
# (multiplicative LCG hash on the row key — closed-form, so the DuckDB
# oracle replays the identical subset; a reservoir would not be
# SQL-replayable). Positive operands keep %-semantics identical in both
# engines. Measured on the gate's geometry (500-vector store, 167
# sampled): gen-2 distortion_sum 50,013 sampled vs 15,238 full-corpus —
# 3.3x above the full retrain but still 7.6x BELOW gen-1's drifted
# 380,702, and max_cell/probe-cost still recover (130 -> 118, 2092 ->
# 1805) — so the refresh decision is unchanged while each Lloyd scan
# reads a third of the store; at production scale the sample is a fixed
# budget (FAISS practice trains on 30-256 vectors/centroid regardless of
# corpus size) and the gap shrinks as samples-per-centroid grows.
_SAMPLE_PRED = "(({id} * 1103515245 + 12345) % 2147483647) % 3 = 0"

# The gate's most recent state dir in THIS process, for tests that inspect
# the on-disk layout (sweep assertions): globbing the shared temp root
# can pick up stale dirs from earlier failed or concurrent runs (r15
# advice). The previous run's dir is removed before a new one is created,
# so per-process temp usage stays bounded at one live state dir.
LAST_STATE_DIR: str | None = None


# --- the deterministic drifting corpus (both engines) ------------------------

# cluster id: 12 clean clusters; the drift wave adds 12 NEW ones
_SYN_CTE = """syn AS (
  SELECT vec_id,
         list_transform(range(0, 8), d -> CAST(
           (CASE WHEN vec_id % 3 = 2
                 THEN -(CASE WHEN d = ca THEN 20 ELSE 0 END
                        + CASE WHEN d = cb THEN 12 ELSE 0 END) - 5
                 ELSE (CASE WHEN d = ca THEN 20 ELSE 0 END
                       + CASE WHEN d = cb THEN 12 ELSE 0 END) END)
           + ((vec_id * 2654435761 + d * 40503) % 10007) % 7 - 3
         AS BIGINT)) AS qv
  FROM (SELECT vec_id,
               ((vec_id % 12)
                + CASE WHEN vec_id % 3 = 2 THEN 12 ELSE 0 END) % 8 AS ca,
               (((vec_id % 12)
                 + CASE WHEN vec_id % 3 = 2 THEN 12 ELSE 0 END) * 5 + 3) % 8
                 AS cb
        FROM embeddings)
)"""

# Spark twin: same arithmetic, emitted as array<float> (the values are
# small integers, exact in float32) so the streamed store carries the
# pipeline's embedding type.
_SYN_EXPR = """
  transform(sequence(0, 7), d -> CAST(
    (CASE WHEN vec_id % 3 = 2
          THEN -(CASE WHEN d = __ca THEN 20 ELSE 0 END
                 + CASE WHEN d = __cb THEN 12 ELSE 0 END) - 5
          ELSE (CASE WHEN d = __ca THEN 20 ELSE 0 END
                + CASE WHEN d = __cb THEN 12 ELSE 0 END) END)
    + ((vec_id * 2654435761 + d * 40503) % 10007) % 7 - 3
  AS FLOAT))
"""


def _syn_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = (
        (F.col("vec_id") % 12)
        + F.when(F.col("vec_id") % 3 == 2, F.lit(12)).otherwise(F.lit(0))
    )
    return (
        T(spark, sf_dir, "embeddings")
        .select("vec_id")
        .withColumn("__ca", (cl % _DIM).cast("long"))
        .withColumn("__cb", ((cl * 5 + 3) % _DIM).cast("long"))
        .select("vec_id", F.expr(_SYN_EXPR).alias("embedding"))
    )


# --- per-generation k-means CTE chain (extensions3's unrolled Lloyd loop,
#     prefixed so two generations coexist; scale = 1: already integers) ------

def _seed(p: str) -> str:
    return f"""{p}c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell,
         qv AS cv
  FROM (SELECT vec_id, qv FROM {p}q ORDER BY vec_id LIMIT {_K})
)"""


def _assign(p: str, t: int, prev: str) -> str:
    d = _IDIST.format(v="q.qv", c="c.cv")
    return f"""{p}a{t} AS (
  SELECT vec_id, qv, cell, d FROM (
    SELECT q.vec_id, q.qv, c.cell, {d} AS d,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {d} ASC, c.cell ASC) AS rn
    FROM {p}q q CROSS JOIN {prev} c
  ) WHERE rn = 1
)"""


def _recenter(p: str, t: int, prev: str) -> str:
    # exact floored division regardless of engine rounding (extensions3's
    # nonneg-residue trick); empty cells keep their previous centroid
    return f"""{p}s{t} AS (
  SELECT cell, pos, SUM(x) AS s, COUNT(*) AS n
  FROM (SELECT cell, unnest(list_transform(range(1, len(qv) + 1),
                  i -> {{'pos': i, 'x': qv[i]}}), recursive := true)
        FROM {p}a{t})
  GROUP BY cell, pos
),
{p}c{t} AS (
  SELECT p.cell, coalesce(nc.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN (
    SELECT cell, list(CAST((s - ((s % n + n) % n)) // n AS BIGINT)
                      ORDER BY pos) AS cv
    FROM {p}s{t} GROUP BY cell
  ) nc USING (cell)
)"""


def _kmeans_chain(p: str, train_filter: str) -> tuple[str, str]:
    """(CTE chain, trained-centroid CTE name) for one generation: train on
    ``syn`` rows passing ``train_filter``, 2 Lloyd iterations."""
    parts = [f"{p}q AS (SELECT vec_id, qv FROM syn WHERE {train_filter})",
             _seed(p)]
    prev = f"{p}c0"
    for t in range(1, _ITERS + 1):
        parts.append(_assign(p, t, prev))
        parts.append(_recenter(p, t, prev))
        prev = f"{p}c{t}"
    return ",\n".join(parts), prev


def _gen_metrics_ctes(g: int, cents_cte: str) -> str:
    """Assignment of the FULL corpus under one trained generation, plus the
    cell-size, distortion, and probe-scan aggregates."""
    d = _IDIST.format(v="q.qv", c="c.cv")
    return f"""f{g} AS (
  SELECT vec_id, cell, d FROM (
    SELECT q.vec_id, c.cell, {d} AS d,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {d} ASC, c.cell ASC) AS rn
    FROM syn q CROSS JOIN {cents_cte} c
  ) WHERE rn = 1
),
sz{g} AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM f{g} GROUP BY cell),
pr{g} AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT q.vec_id, c.cell,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {d} ASC, c.cell ASC) AS rn
    FROM (SELECT vec_id, qv FROM syn WHERE vec_id % {_QMOD} = 0) q
    CROSS JOIN {cents_cte} c
  ) WHERE rn <= {_NPROBE}
),
row{g} AS (
  SELECT CAST({g} AS INT) AS generation,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM sz{g}) AS n_cells,
         (SELECT MAX(n) FROM sz{g}) AS max_cell_rows,
         (SELECT CAST(SUM(d) AS BIGINT) FROM f{g}) AS distortion_sum,
         (SELECT CAST(SUM(n) AS BIGINT)
          FROM pr{g} JOIN sz{g} USING (cell)) AS probe_scan_rows
)"""


def _refresh_oracle() -> str:
    g1, c1 = _kmeans_chain("g1", "vec_id % 3 = 0")
    g2, c2 = _kmeans_chain("g2", _SAMPLE_PRED.format(id="vec_id"))
    return f"""
WITH {_SYN_CTE},
{g1},
{g2},
{_gen_metrics_ctes(1, c1)},
{_gen_metrics_ctes(2, c2)}
SELECT * FROM row1 UNION ALL SELECT * FROM row2
"""


@register(
    "cdc_stream_ivf_quantizer_refresh",
    _refresh_oracle(),
    doc="The quantizer-refresh ACTION the r13 recall-drift alarm triggers: "
        "a streaming IVF store ingests three waves under a generation-1 "
        "quantizer trained offline on wave 0 only; wave 2 is injected "
        "drift (12 new integer clusters in a region gen-1 never saw). "
        "After the stream, gen-1's health metrics over the maintained "
        "store degrade (k-means distortion ~18x worse, max cell ~2x "
        "bigger — the serve-latency tail; recall stays flat under "
        "collapse-type drift because the drifted mass co-locates with its "
        "queries' probes, which is WHY distortion/imbalance are the "
        "refresh triggers real deployments watch). The store then "
        "RETRAINS gen-2 offline from a DETERMINISTIC ~1/3 HASH SAMPLE "
        "of its own vectors (r15: each Lloyd iteration scans the sample, "
        "not the store — the FAISS-style bounded training budget; the "
        "closed-form LCG-hash predicate makes the oracle replay the "
        "identical subset, and the measured recovery delta vs full-"
        "corpus training is recorded at _SAMPLE_PRED) with integer-"
        "exact Lloyd (the extensions3 kernel at scale=1), swaps the quantizer "
        "generation atomically (versioned quant_v dirs, old generation "
        "swept — join_ivm's retention), and RE-ENCODES every posting "
        "under gen-2 via compact_epochs' base fold with a re-assigning "
        "merge — a crash-safe one-pass re-index behind the manifest "
        "commit. Both generations' metrics are computed FROM THE STORE "
        "(gen-2's from the re-encoded base), so the oracle match proves "
        "the re-encode itself, across the generation boundary. Scale: "
        "training is one scan + a k x dim agg per iteration; assignment "
        "and probing are literal-centroid projections (zero shuffle); "
        "the re-encode is the same one-pass fold the store's compaction "
        "already pays.",
)
def cdc_stream_ivf_quantizer_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    from postgresql_cdc_spark.plans.streaming_gate import (
        _file_waves,
        _gate_dir,
        _run_stream,
    )
    from postgresql_cdc_spark.streaming.epoch_io import epoch_overwrite
    from postgresql_cdc_spark.streaming.epoch_maintenance import (
        compact_epochs,
        read_epoch_store,
    )
    from postgresql_cdc_spark.streaming.join_ivm import (
        prev_version,
        sweep_versions,
        version_dir,
    )

    global LAST_STATE_DIR
    corpus = _syn_corpus(spark, sf_dir)
    # bound temp growth: the previous run's state (if any) is dead once a
    # new run starts — its returned DataFrame has been collected by then
    if LAST_STATE_DIR is not None:
        shutil.rmtree(LAST_STATE_DIR, ignore_errors=True)
    base = _gate_dir("qref")
    LAST_STATE_DIR = base
    waves = _file_waves(
        spark, base,
        [corpus.where(F.col("vec_id") % 3 == k) for k in range(3)],
        "vec_id long, embedding array<float>",
    )

    # generation 1: trained offline on wave 0 ONLY (the pre-drift world),
    # persisted as the versioned quantizer's first generation
    gen1 = sim.train_centroids_kmeans(
        corpus.where(F.col("vec_id") % 3 == 0), _K, _ITERS, scale=1
    )
    _write_quant(spark, base, 1, gen1)
    postings = os.path.join(base, "postings")

    def ingest(batch: DataFrame, epoch: int) -> None:
        assigned = sim.assign_cells_trained(
            batch.withColumnRenamed("vec_id", "neighbor_id"),
            gen1, "neighbor_id", "embedding", scale=1,
        ).select("cell", "neighbor_id", F.col("embedding").alias("nvec"))
        epoch_overwrite(assigned, postings, int(epoch))

    _run_stream(spark, waves, base, ingest, timeout_s=300)

    # gen-1 health over the maintained store, as recorded at ingest.
    # Materialized EAGERLY (one row): the re-encode below folds + sweeps
    # the live epoch partitions this plan reads, so a lazy row1 would
    # reference swept files by the time the final union executes.
    store1 = read_epoch_store(spark, postings)
    METRICS_DDL = (
        "generation int, n_cells long, max_cell_rows long, "
        "distortion_sum long, probe_scan_rows long"
    )
    row1 = spark.createDataFrame(
        _store_metrics(spark, corpus, store1, gen1, 1).collect(), METRICS_DDL
    )

    # the refresh: retrain OFFLINE from a deterministic ~1/3 hash sample
    # of the store's own vectors (see _SAMPLE_PRED — each Lloyd iteration
    # scans the sample, not the store), swap the quantizer generation,
    # re-encode the postings via the base fold
    gen2 = sim.train_centroids_kmeans(
        store1.where(F.expr(_SAMPLE_PRED.format(id="neighbor_id")))
        .select(
            F.col("neighbor_id").alias("vec_id"),
            F.col("nvec").alias("embedding"),
        ),
        _K, _ITERS, scale=1,
    )
    _write_quant(spark, base, 2, gen2)
    sweep_versions(base, "quant", keep_from=2)

    def reencode(df: DataFrame) -> DataFrame:
        return sim.assign_cells_trained(
            df.select("neighbor_id", "nvec"), gen2, "neighbor_id", "nvec",
            scale=1,
        ).select("cell", "neighbor_id", "nvec")

    compact_epochs(spark, postings, upto=3, merge=reencode)

    # gen-2 health over the RE-ENCODED store, centroids resolved from the
    # swapped quantizer generation (not the in-memory list)
    gv = prev_version(base, "quant", None)
    cents2 = [
        list(r.cv)
        for r in sorted(
            spark.read.schema("cell long, cv array<long>")
            .parquet(version_dir(base, "quant", gv)).collect(),
            key=lambda r: r.cell,
        )
    ]
    row2 = _store_metrics(
        spark, corpus, read_epoch_store(spark, postings), cents2, 2
    )
    return row1.unionByName(row2)


def _write_quant(spark, base: str, gen: int, cents: list[list[int]]) -> None:
    from postgresql_cdc_spark.streaming.join_ivm import version_dir

    spark.createDataFrame(
        [(i, [int(x) for x in c]) for i, c in enumerate(cents)],
        "cell long, cv array<long>",
    ).write.mode("overwrite").parquet(version_dir(base, "quant", gen))


def _store_metrics(
    spark: SparkSession,
    corpus: DataFrame,
    store: DataFrame,
    cents: list[list[int]],
    gen: int,
) -> DataFrame:
    """(generation, n_cells, max_cell_rows, distortion_sum,
    probe_scan_rows) from the store's RECORDED cells — distortion indexes
    the per-cell distance kernel by the stored cell, so a mis-encoded
    store shows up as an oracle mismatch, not just bad health."""
    qv = sim.quantize_sql("nvec", 1)
    dists = F.array(*[
        F.expr(sim._qdist_sql(qv, c)) for c in cents
    ])
    rows = store.select(
        "cell",
        F.element_at(dists, F.col("cell").cast("int") + 1).alias("d"),
    )
    sizes = rows.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    agg = rows.agg(
        F.countDistinct("cell").cast("long").alias("n_cells"),
        F.sum("d").cast("long").alias("distortion_sum"),
    )
    mx = sizes.agg(F.max("n").alias("max_cell_rows"))
    probes = (
        corpus.where(F.col("vec_id") % _QMOD == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(F.expr(
                sim.topn_cells_sql(sim.quantize_sql("embedding", 1),
                                   cents, _NPROBE)
            )).alias("cell"),
        )
    )
    scan = (
        probes.join(sizes, "cell")
        .agg(F.sum("n").cast("long").alias("probe_scan_rows"))
    )
    return (
        agg.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(scan))
        .select(
            F.lit(gen).cast("int").alias("generation"),
            "n_cells", "max_cell_rows", "distortion_sum", "probe_scan_rows",
        )
    )
