"""Measurement plumbing shared by the workloads: the session fitted to the
box, spans with per-span Spark job groups, a streaming progress log,
percentiles and peak memory.

Nothing here starts a thread or a JVM at import time.
"""

from __future__ import annotations

import bisect
import json
import math
import os
import statistics
import threading
import time
import uuid
from dataclasses import dataclass, field


# --- statistics -------------------------------------------------------------

def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values) -> tuple:
    """The highest whole percentile with at least ten samples beyond it, by
    nearest rank: ``(percentile, value, n)``. With ``n`` samples that is
    ``floor(100 * (n - 10) / n)`` (p50 at 20 samples, p90 at 100). With ten
    or fewer no sample has ten beyond it; the maximum is returned, labelled
    100, and ``n`` tells the reader."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return (None, 0.0, 0)
    if n <= 10:
        return (100, v[-1], n)
    p = (100 * (n - 10)) // n
    rank = math.ceil(p * n / 100)
    return (p, v[rank - 1], n)


def geomean(values) -> float:
    values = [x for x in values if x > 0]
    if not values:
        return 0.0
    return math.exp(sum(math.log(x) for x in values) / len(values))


# --- the box ----------------------------------------------------------------

def box_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def fit_to_box(root: str, scratch: str) -> dict:
    """Environment for a session that fits this machine, set before pyspark
    starts its JVM: every core, a 2 GiB driver heap (the engine's default
    is 48g; these inputs need far less, and a heap the runs fill keeps peak
    RSS comparable between runs),
    worker processes that can import the package from ``root``, and all
    temporary files under ``scratch``."""
    heap_mb = max(1024, min(2048, _mem_total_mb() // 5))
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(box_cpus()),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # the launcher JVM would otherwise leave /tmp/hsperfdata_* entries
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def session_conf(scratch: str) -> dict:
    tmp = os.path.join(scratch, "tmp")
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # no /tmp/hsperfdata file: the run writes only under ``scratch``
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    }


def start_session(scratch: str):
    """The engine's own session factory with the box fit applied; returns
    ``(spark, seconds)``. Log level ERROR keeps the engine's known-safe
    window warnings out of the output."""
    from postgresql_cdc_spark.session import get_spark
    from postgresql_cdc_spark.streaming.source import PgCdcDataSource

    t0 = time.perf_counter()
    spark = get_spark("cdcbench", session_conf(scratch))
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(PgCdcDataSource)
    return spark, time.perf_counter() - t0


def warm_session(spark) -> float:
    """The session's first job, as bench.py runs before it measures; each
    workload then warms its own paths with an untimed pass."""
    t0 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Driver Python plus JVM peak resident set (``VmHWM``), in MB."""
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid(spark))) / 1024


def dir_stats(path: str, suffix: str = "") -> tuple:
    """(files, bytes) under ``path``, counting names ending in ``suffix``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix) and not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# --- spans ------------------------------------------------------------------

@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list = field(default_factory=list)
    id: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory and written once at the end. Every span is
    timed; only while ``active`` is a span recorded, and only then does it
    tag its Spark jobs with a job group of its own and read their ids from
    ``statusTracker`` when it ends. Job groups are thread-local, so spans
    opened in ``foreachBatch`` callbacks and in serving threads each see
    only their own jobs."""

    def __init__(self, spark, enabled: bool, run_id: str) -> None:
        self.spark = spark
        self.enabled = enabled
        self.active = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._t0 = time.time() - time.perf_counter()

    def span(self, name: str, parent: Span | None = None, jobs: bool = True,
             on: bool | None = None):
        """Time a block; record it (and tag its jobs) when ``on``, which
        defaults to ``active``."""
        on = self.active if on is None else on
        return _SpanCtx(self, name, parent, on, jobs and on)

    def add(self, name: str, start: float, end: float,
            parent: Span | None = None) -> Span:
        """Record a span measured elsewhere (e.g. a trigger phase), with
        ``start``/``end`` on the ``time.perf_counter`` clock."""
        span = Span(name, parent.id if parent else None, start, end)
        if self.active:
            self._record(span)
        return span

    def add_trigger(self, report: dict, parent: Span | None = None) -> None:
        """A trigger span from its progress report, with one child per
        phase. Reports carry durations only, so the children are laid out
        in the order the micro-batch engine runs the phases."""
        t = self.from_wall(report["start"])
        ms = report["ms"]
        top = self.add(f"trigger.{report['batch']}", t,
                       t + ms.get("triggerExecution", 0) / 1000, parent)
        for phase in PHASES:
            if phase in ms:
                self.add(phase, t, t + ms[phase] / 1000, top)
                t += ms[phase] / 1000

    def from_wall(self, t: float) -> float:
        """Wall-clock seconds (e.g. a progress timestamp) to span time."""
        return t - self._t0

    def _record(self, s: Span) -> None:
        with self._lock:
            s.id = len(self.spans) + 1
            self.spans.append(s)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run": self.run_id, "id": s.id, "parent": s.parent,
                    "name": s.name, "start": round(s.start, 6),
                    "end": round(s.end, 6), "jobs": s.jobs,
                }) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, parent, on: bool,
                 jobs: bool):
        self.t = tracer
        self.span = Span(name, parent.id if parent else None, 0.0)
        self.on = on
        self.jobs = jobs
        self.group = None

    def __enter__(self) -> Span:
        if self.on:
            self.t._record(self.span)
        if self.jobs:
            sc = self.t.spark.sparkContext
            self.prev = sc.getLocalProperty("spark.jobGroup.id")
            self.group = f"cdcbench-{uuid.uuid4().hex[:12]}"
            sc.setJobGroup(self.group, self.span.name)
        self.span.start = time.perf_counter()
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        if self.group is not None:
            sc = self.t.spark.sparkContext
            self.span.jobs = sorted(
                sc.statusTracker().getJobIdsForGroup(self.group))
            sc.setLocalProperty("spark.jobGroup.id", self.prev)


# --- streaming progress -----------------------------------------------------

def progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress report as a
    dict: batch id, trigger start (epoch seconds), phase durations
    (``durationMs``), input rows and the source's end offset."""
    from datetime import datetime

    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.reports: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            end = p.sources[0].endOffset if p.sources else None
            rec = {
                "query": str(p.id), "batch": p.batchId,
                "start": ts.timestamp(), "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "end_lsn": json.loads(end)["lsn"] if end else None,
            }
            with self._lock:
                self.reports.append(rec)

        def for_query(self, query_id: str) -> list[dict]:
            with self._lock:
                return [r for r in self.reports if r["query"] == query_id]

        def wait_for(self, query_id: str, batch: int,
                     timeout_s: float = 30.0) -> list[dict]:
            """Reports arrive on the listener bus after the batch ends; wait
            until ``batch`` has been reported."""
            deadline = time.monotonic() + timeout_s
            while True:
                got = self.for_query(query_id)
                if any(r["batch"] >= batch for r in got) or \
                        time.monotonic() > deadline:
                    return sorted(got, key=lambda r: r["batch"])
                time.sleep(0.02)

    return ProgressLog()


def visible_times(reports: list, ended: dict, commits: list) -> list:
    """Per transaction: when the ``foreachBatch`` whose batch end LSN first
    covers its commit LSN ended (``ended``: batch id -> epoch seconds), or
    None if no batch covered it. ``reports`` are progress reports."""
    ends = sorted((r["end_lsn"], ended[r["batch"]]) for r in reports)
    lsns = [e for e, _ in ends]
    out = []
    for c in commits:
        k = bisect.bisect_left(lsns, c)
        out.append(ends[k][1] if k < len(ends) else None)
    return out


# MicroBatchExecution's phase order within a trigger
PHASES = ("latestOffset", "getOffset", "setOffsetRange", "getEndOffset",
          "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets")


def phase_seconds(report: dict) -> float:
    """Summed durations of a trigger's phases (everything but the
    enclosing ``triggerExecution``)."""
    return sum(v for k, v in report["ms"].items()
               if k != "triggerExecution") / 1000.0
