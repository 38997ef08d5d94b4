"""CDC engine benchmark: one command, two workloads, end-to-end and
per-layer metrics.

    python3 cdcbench/run.py --workload replay_catchup --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the engine. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it names every metric the run
measured, end-to-end and per-layer, with units. The full payload goes to
``.cdcbench/out/<workload>-<seed>-trace<t>.json`` and, with ``--trace 1``,
the spans to ``...-spans.jsonl`` beside it. Every other file the run
writes lives under ``.cdcbench/<run>/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("replay_catchup", "batch_headline")

# name -> unit; every run reports all of them (zero where a workload does
# not exercise the layer). BENCHMARK.json lists the same names.
E2E = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_s_p50": "s",
    "latency_s_tail": "s",
    "peak_rss_mb": "MB",
}


def _layer_names() -> dict:
    from wl_batch import QUERIES

    names = {
        # each workload's end-to-end figures under their own names
        "events_per_s": "1/s",
        "trigger_s_p50": "s",
        "trigger_s_tail": "s",
        "visible_lag_s_p50": "s",
        "visible_lag_s_tail": "s",
        "serve_s_p50": "s",
        "queries_total_s": "s",
        "query_s_geomean": "s",
        "state_bytes_per_event": "B",
        "failed_ratio": "ratio",
        # layers
        "session.start_s": "s",
        "session.warmup_s": "s",
        "pgoutput.decode_events_per_s": "1/s",
        "source.latest_offset_s_p50": "s",
        "source.read_events_per_s": "1/s",
        "source.input_rows_per_trigger": "count",
        "stream.add_batch_s_p50": "s",
        "stream.query_planning_s_p50": "s",
        "stream.wal_commit_s_p50": "s",
        "stream.commit_offsets_s_p50": "s",
        "stream.triggers": "count",
        "stream.unaccounted_s": "s",
        "stream.phase_coverage": "ratio",
        "epoch_io.write_s_p50": "s",
        "epoch_io.jobs_per_trigger": "count",
        "materialize.state_s": "s",
        "materialize.jobs": "count",
        "join_ivm.apply_batch_s_p50": "s",
        "join_ivm.apply_batch_s_tail": "s",
        "join_ivm.jobs_per_trigger": "count",
        "join_ivm.delta_rows_per_trigger": "count",
        "join_ivm.serve_jobs": "count",
        "epoch.compactions": "count",
        "epoch.live_partials_max": "count",
        "epoch.store_files": "count",
        "epoch.store_bytes": "B",
        "plans.build_s": "s",
        "control.calibration_s": "s",
        "trace.overhead_ratio": "ratio",
    }
    for q in QUERIES:
        names[f"query.{q}.s"] = "s"
        names[f"query.{q}.jobs"] = "count"
    return names


class Result:
    """Checks, attempt counts and metric values of one run."""

    def __init__(self) -> None:
        self.checks: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.e2e_values: dict = {}
        self.layers: dict = {}
        self.tails: dict = {}
        self.detail: dict = {}

    def attempt(self, n: int, failed: int = 0) -> None:
        self.attempted += n
        self.failed += failed

    def check(self, name: str, ok: bool, note: str = "") -> None:
        self.checks.append({"check": name, "ok": bool(ok), "note": note})
        self.attempt(1, 0 if ok else 1)

    def e2e(self, **values) -> None:
        self.e2e_values.update(values)

    def layer(self, **values) -> None:
        self.layers.update(values)


class Context:
    """What a workload gets: the session, tracer, progress log, its seed and
    run length, a private work directory, the result it fills, and the
    set-up bookkeeping behind ``setup_s``."""

    def __init__(self, spark, tracer, listener, seed: int, seconds: float,
                 work: str, result: Result, setup: dict) -> None:
        self.spark = spark
        self.tracer = tracer
        self.listener = listener
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.result = result
        self.setup = setup
        # covers session start through the last set-up step; closed by main
        self.setup_span = tracer.add(
            "setup", time.perf_counter() - sum(setup.values()), 0.0)

    def setup_step(self, name: str, fn, traced: bool = True):
        """A one-off set-up step (warm-up, pre-computation), timed into
        ``setup_s`` and traced as a child of the ``setup`` span."""
        active = self.tracer.active
        self.tracer.active = active and traced
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"setup.{name}", self.setup_span,
                                  jobs=False):
                value = fn()
        finally:
            self.tracer.active = active
        self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0
        return value


def _stop_engine(spark) -> None:
    """Stop the session, then the JVM the session started, and wait for it
    (its Python workers are its children and exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "postgresql_cdc_spark",
                                       "__init__.py")):
        print("cdcbench: no engine sources (postgresql_cdc_spark/) beside "
              "the benchmark; run it from a checkout of the engine",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    from harness import fit_to_box

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    scratch = os.path.join(ROOT, ".cdcbench", run_id)
    out_dir = os.path.join(ROOT, ".cdcbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    env = fit_to_box(ROOT, scratch)

    from harness import (
        Tracer,
        peak_rss_mb,
        progress_listener,
        start_session,
        warm_session,
    )

    module = __import__({"replay_catchup": "wl_replay",
                         "batch_headline": "wl_batch"}[args.workload])
    result = Result()
    setup: dict = {}
    spark = None
    try:
        spark, setup["session"] = start_session(scratch)
        tracer = Tracer(spark, bool(args.trace), run_id)
        setup["warmup_jobs"] = warm_session(spark)
        listener = progress_listener()
        spark.streams.addListener(listener)
        work = os.path.join(scratch, "work")
        os.makedirs(work, exist_ok=True)
        ctx = Context(spark, tracer, listener, args.seed, args.seconds,
                      work, result, setup)
        module.run(ctx)
        ctx.setup_span.end = ctx.setup_span.start + sum(setup.values())
        rss = peak_rss_mb(spark)
    finally:
        if spark is not None:
            _stop_engine(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    result.e2e(setup_s=sum(setup.values()), peak_rss_mb=rss)
    result.layer(**{
        "session.start_s": setup["session"],
        "session.warmup_s": setup["warmup_jobs"],
        "failed_ratio": result.failed / max(1, result.attempted),
    })
    names = _layer_names()
    layers = {n: float(result.layers.get(n, 0.0)) for n in names}
    unknown = set(result.layers) - set(names)
    if unknown:
        raise KeyError(f"unregistered layer metrics: {sorted(unknown)}")
    chosen = E2E if args.trace == 0 else names
    values = ({n: result.e2e_values.get(n, 0.0) for n in E2E}
              if args.trace == 0 else layers)
    metrics = {n: {"value": float(values[n]), "unit": u}
               for n, u in chosen.items()}

    stem = os.path.join(out_dir, f"{args.workload}-{args.seed}-trace{args.trace}")
    payload = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "env": env,
        "setup": setup, "e2e": result.e2e_values, "layers": layers,
        "tails": result.tails, "checks": result.checks,
        "detail": result.detail,
    }
    with open(stem + ".json", "w") as f:
        json.dump(payload, f, indent=1, default=str)
    if args.trace:
        tracer.write(stem + "-spans.jsonl")
    for c in result.checks:
        if not c["ok"]:
            print(f"CHECK FAILED: {c['check']} {c['note']}", file=sys.stderr)
    every = {**{n: [round(result.e2e_values[n], 6), u] for n, u in E2E.items()
                if n in result.e2e_values},
             **{n: [round(layers[n], 6), u] for n, u in names.items()
                if n in result.layers}}
    print(json.dumps({"all_metrics": every}, separators=(",", ":")))
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": max(1, result.attempted),
        "failed": result.failed,
        "metrics": metrics,
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
