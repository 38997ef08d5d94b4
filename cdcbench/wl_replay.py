"""``replay_catchup``: a WAL backlog streamed through the pgcdc source in
large micro-batches into a ``foreachBatch`` sink that lands each batch with
``epoch_io.epoch_overwrite`` (closed loop: the next trigger starts when the
last one ends).

The same archive is replayed several times per run, each pass with a fresh
checkpoint, ack file and landing store; the figures are medians over passes.
"""

from __future__ import annotations

import os
import shutil
import time

import gen
from harness import dir_stats, median, phase_seconds, tail, visible_times

N_ORDERS = 800  # ≈9.8k DML per archive, the same for every seed
# The untimed warm-up replays a quarter-size archive of the same shape: the
# first pass after start pays the stream's cold costs (Python workers, JIT).
WARM_ORDERS = N_ORDERS // 4
BATCH_RECORDS = 2000  # maxRecordsPerBatch; the bulk re-price txn is larger
CHUNK_FRAMES = 3000
# Every run replays the same number of passes, so runs do equal work: about
# ``--seconds`` at this box's ≈4 s per pass (stream start to stop), and at
# least five, so the five triggers of a pass give a tail of 25 or more.
PASS_S = 4.0
MIN_PASSES = 5


def build(seed: int, path: str, n_orders: int = N_ORDERS) -> tuple:
    """Generate the archive and write it under ``path``; returns
    ``(inputs, digest)``."""
    inputs = gen.replay_archive(seed, n_orders)
    shutil.rmtree(path, ignore_errors=True)
    gen.write_chunks(path, inputs.frames, CHUNK_FRAMES)
    return inputs, gen.frames_digest(inputs.frames)


def stream_pass(ctx, arch: str, pdir: str, inputs, parent=None) -> dict:
    """One full replay of ``arch`` into a fresh landing store; returns the
    pass's progress reports, sink spans and per-transaction visible lags,
    timed from the first trigger's start (the whole backlog is published
    before the stream starts)."""
    from postgresql_cdc_spark.streaming.epoch_io import epoch_overwrite

    spark, tracer = ctx.spark, ctx.tracer
    land = os.path.join(pdir, "land")
    landed: dict = {}
    writes: list = []

    def sink(df, batch_id: int) -> None:
        with tracer.span("sink.land", parent) as sp:
            epoch_overwrite(df, land, batch_id)
        landed[batch_id] = time.time()
        writes.append(sp)

    q = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", str(BATCH_RECORDS))
        .option("ackpath", os.path.join(pdir, "ack.json"))
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(pdir, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    reports = ctx.listener.wait_for(str(q.id), max(landed, default=0))
    reports = [r for r in reports if r["rows"] > 0 and r["batch"] in landed]
    rows = sum(r["rows"] for r in reports)
    first = min(r["start"] for r in reports)
    wall = max(landed.values()) - first
    seen = visible_times(reports, landed, inputs.commits)
    lags = [None if t is None else t - first for t in seen]
    return {
        "land": land, "reports": reports, "writes": writes,
        "wall": wall, "events_per_s": inputs.n_dml / wall,
        "lags": [x for x in lags if x is not None],
        "complete": (rows == inputs.n_dml and len(landed) == len(reports)
                     and None not in lags),
    }


def check_state(spark, land: str, model: dict) -> list[str]:
    """Merge the landed change log per table with
    ``materialize(merge_sparse=True)`` + ``typed_view`` and compare it with
    the generator's model. Returns the problems found (empty when equal)."""
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.functions.pg_types import typed_view
    from postgresql_cdc_spark.operators.materialize import materialize

    problems = []
    log = spark.read.parquet(land)
    for table, cols, keys in (
        ("lineitem", gen.LINEITEM_COLUMNS, gen.LI_KEYS),
        ("orders", gen.ORDERS_COLUMNS, gen.OR_KEYS),
    ):
        state = materialize(log.where(F.col("table") == table), keys=keys,
                            merge_sparse=True, columns=list(cols))
        got = sorted((tuple(r) for r in
                      typed_view(state, cols, keep=()).collect()), key=repr)
        want = gen.typed_model(model[table], cols)
        if got != want:
            diff = len(set(got) ^ set(want))
            problems.append(f"{table}: {len(got)} rows landed, model has "
                            f"{len(want)}; {diff} rows differ")
    return problems


def run(ctx) -> None:
    spark, tracer, out = ctx.spark, ctx.tracer, ctx.result
    arch = os.path.join(ctx.work, "wal")

    warm_arch = os.path.join(ctx.work, "warm_wal")
    inputs, digest = ctx.setup_step("generate",
                                    lambda: build(ctx.seed, arch))
    warm_inputs, _ = ctx.setup_step(
        "generate", lambda: build(ctx.seed, warm_arch, WARM_ORDERS))
    out.check("largest txn exceeds maxRecordsPerBatch",
              inputs.largest_txn > BATCH_RECORDS)
    n_dml = inputs.n_dml

    def warm() -> None:
        pdir = os.path.join(ctx.work, "warm")
        p = stream_pass(ctx, warm_arch, pdir, warm_inputs)
        out.check("warm-up pass delivered every DML", p["complete"])
        shutil.rmtree(pdir, ignore_errors=True)

    ctx.setup_step("workload_warmup", warm, traced=False)

    passes = []
    for i in range(max(MIN_PASSES, round(ctx.seconds / PASS_S))):
        tracer.active = tracer.enabled and i % 2 == 0
        pdir = os.path.join(ctx.work, f"pass{i}")
        with tracer.span("stream.pass", jobs=False) as top:
            p = stream_pass(ctx, arch, pdir, inputs, top)
        p["traced"] = tracer.active
        p["elapsed"] = top.seconds
        for r in p["reports"]:
            tracer.add_trigger(r, top)
        out.attempt(len(inputs.commits), 0)
        out.check(f"pass {i} delivered every DML and transaction",
                  p["complete"])
        passes.append(p)
        if i > 0:
            shutil.rmtree(os.path.join(ctx.work, f"pass{i - 1}"),
                          ignore_errors=True)
    tracer.active = tracer.enabled

    reports = [r for p in passes for r in p["reports"]]
    trig = [r["ms"]["triggerExecution"] / 1000 for r in reports]
    t_pct, t_tail, n_trig = tail(trig)
    eps = median(p["events_per_s"] for p in passes)
    last_land = passes[-1]["land"]
    _, nbytes = dir_stats(last_land, ".parquet")

    with tracer.span("check.materialize") as sp:
        problems = check_state(spark, last_land, inputs.model)
    out.check("landed state equals the generator's model", not problems,
              "; ".join(problems))

    # a transaction's lag is the landing time of its batch, so the lags
    # repeat the pass wall time; latency is the per-trigger time instead
    lag_p50 = median(median(p["lags"]) for p in passes)
    lag_tails = [tail(p["lags"]) for p in passes]
    lag_tail = median(t[1] for t in lag_tails)
    out.e2e(throughput_per_s=eps, latency_s_p50=median(trig),
            latency_s_tail=t_tail)
    out.tails["latency_s_tail"] = out.tails["trigger_s_tail"] = (
        t_pct, n_trig)
    out.tails["visible_lag_s_tail"] = (lag_tails[0][0], lag_tails[0][2])
    ms = lambda k: [r["ms"].get(k, 0) / 1000 for r in reports]  # noqa: E731
    wall = median(p["wall"] for p in passes)
    phases = median(sum(phase_seconds(r) for r in p["reports"])
                    for p in passes)
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    out.layer(**{
        "events_per_s": eps,
        "trigger_s_p50": median(trig), "trigger_s_tail": t_tail,
        "visible_lag_s_p50": lag_p50, "visible_lag_s_tail": lag_tail,
        "state_bytes_per_event": nbytes / n_dml,
        "source.latest_offset_s_p50": median(ms("latestOffset")),
        "source.input_rows_per_trigger": median(r["rows"] for r in reports),
        "stream.add_batch_s_p50": median(ms("addBatch")),
        "stream.query_planning_s_p50": median(ms("queryPlanning")),
        "stream.wal_commit_s_p50": median(ms("walCommit")),
        "stream.commit_offsets_s_p50": median(ms("commitOffsets")),
        "stream.triggers": median(len(p["reports"]) for p in passes),
        "stream.unaccounted_s": wall - phases,
        "stream.phase_coverage": phases / wall,
        "epoch_io.write_s_p50": median(
            s.seconds for p in passes for s in p["writes"]),
        "materialize.state_s": sp.seconds,
    })
    if tracer.enabled:
        out.layer(**{
            "epoch_io.jobs_per_trigger": median(
                len(s.jobs) for p in traced for s in p["writes"]),
            "materialize.jobs": len(sp.jobs),
            "trace.overhead_ratio": (
                median(p["elapsed"] for p in traced)
                / median(p["elapsed"] for p in untraced)) if untraced else 1.0,
        })
        out.check("trigger phases cover at least 90% of stream wall time",
                  phases / wall >= 0.9, f"coverage {phases / wall:.3f}")
        out.layer(**layer_probes(ctx, arch, inputs))
    out.detail["archive"] = {
        "dml": n_dml, "txns": len(inputs.commits),
        "frames": len(inputs.frames),
        "largest_txn": inputs.largest_txn, "batch_records": BATCH_RECORDS,
        "passes": len(passes), "digest": digest[:16],
        "pass_events_per_s": [round(p["events_per_s"]) for p in passes],
        "trigger_s_tail_pct": t_pct, "triggers": n_trig,
    }


def layer_probes(ctx, arch: str, inputs) -> dict:
    """Standalone layer rates on the same archive, outside the stream: the
    pgoutput decoder in this process, and a batch ``spark.read`` of the
    archive through the pgcdc source to the noop sink."""
    from postgresql_cdc_spark.sources.pgoutput import PgOutputDecoder

    dec = PgOutputDecoder()
    with ctx.tracer.span("probe.decode", jobs=False) as d:
        for _, payload in inputs.frames:
            dec.decode(payload)
    with ctx.tracer.span("probe.source_read") as r:
        (ctx.spark.read.format("pgcdc").option("path", arch).load()
         .write.format("noop").mode("overwrite").save())
    return {
        "pgoutput.decode_events_per_s": inputs.n_dml / d.seconds,
        "source.read_events_per_s": inputs.n_dml / r.seconds,
    }
