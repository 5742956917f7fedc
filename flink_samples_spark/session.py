"""SparkSession construction tuned for this engine.

The reference bootstraps per-job environments
(``StreamingFlinkSQL.java:10-12``, ``DataStreamJob.java:43``); we
centralize one builder so every entry point — tests, bench,
``__spark_entry__`` — runs with the same scale-aware configuration.

Design-for-scale notes (the settings below are the local-mode
projection of a 1000-executor deployment):

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy switching replace any
  hand-scheduling. At 100 TB the same plan self-adjusts.
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster this is sized to ~2-3× total cores and AQE
  coalesces down. It is env-overridable (``SPARK_GRAFT_CPUS``).
- Arrow on: every pandas-UDF boundary (llmops) moves columnar
  batches, not pickled rows.
- Session timezone pinned to UTC so event-time semantics are
  deployment-independent (and match the DuckDB oracle's naive
  timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEF_APP = "flink-samples-spark"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def driver_memory() -> str:
    """``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM`` if set,
    else the smaller of 24g and 60% of the host's MemTotal (24g where
    ``/proc/meminfo`` is unreadable). Single-JVM local mode: the
    "driver" heap IS the executor heap for all local[N] threads. 8g
    GC-thrashed a whole bench suite on a 32-core host (measured 4×
    suite slowdown) and 24g kept suite timings equal to
    queries-in-isolation there, but a heap larger than the host lets
    the JVM grow into memory the machine does not have. Real clusters
    size executors instead."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            total_kib = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, ValueError, IndexError, StopIteration):
        return "24g"
    return f"{min(24 * 1024, total_kib * 6 // 10 // 1024)}m"


def get_spark(
    app_name: str = _DEF_APP,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cores = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    shuffle = shuffle_partitions or cores
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # parquet scans: vectorized reader + pushdown are defaults, keep
        # explicit so a misconfigured deployment can't silently regress.
        # Driver test data stores event timestamps as TIMESTAMP(NANOS),
        # which vanilla Spark rejects; read them as int64 nanos and let
        # sources.readers.scan_parquet convert to TimestampType (µs,
        # floor — same truncation DuckDB applies reading the file).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def stop_spark() -> None:
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
