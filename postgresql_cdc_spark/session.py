"""SparkSession factory with scale-oriented defaults.

Tuned for the test harness (local[32], 128 GiB) but every setting is chosen to
also be the right default on a large cluster:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy).
- Arrow on for every pandas interchange path (our UDFs are always Arrow-batched).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster AQE
  coalesces from a deliberately-high initial number, so we set the *initial*
  partition number high and let AQE shrink it.
- Broadcast threshold left at default (10 MB) — dimension tables (region,
  nation, supplier, part at these SFs) broadcast automatically; queries that
  must broadcast regardless of stats use an explicit ``F.broadcast``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """Driver heap default: 48 GiB, capped at half the memory this process
    may use — physical RAM, or the cgroup limit when that is lower — so a
    small box never gets a heap it cannot back."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                v = f.read().strip()
        except OSError:
            continue
        if v.isdigit():  # cgroup v2 writes "max" when unlimited
            limit = min(limit, int(v))
    return f"{min(48 * 1024, limit // 2 // (1 << 20))}m"


def get_spark(app_name: str = "postgresql-cdc-spark", extra_conf: dict | None = None) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode runs every executor thread inside the driver JVM: with 32
        # concurrent tasks shuffling map-typed rows, an 8g heap GC-thrashes
        # (observed 5-10x slowdowns late in a session). Size the heap like
        # the executors it is standing in for, within what the box can back.
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark has no
        # native type for; read as long and convert (see plans.common.EV)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # An engine process serves ~200 registered query shapes; the default
        # 100-entry generated-class cache thrashes when many queries share a
        # session (measured: the wide window-fill merge pays ~5 s of
        # recompilation on EVERY bench pass once interleaved with the other
        # headline queries, vs 2.3 s warm in isolation). Generated classes
        # are a few KB each — 1000 entries is megabytes, not a memory risk.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Read every synthetic parquet table under ``sf_dir`` as a DataFrame.

    Plain ``spark.read.parquet`` so Catalyst sees a parquet relation — filters
    and column selections in downstream queries push into the scan
    (``PushedFilters`` / ``ReadSchema``) instead of reading whole files.
    """
    return {name: spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")) for name in TABLES}
