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
- Streaming checkpoints go through Spark's FileSystem-based
  checkpoint manager (``CHECKPOINT_FILE_MANAGER``). The default
  FileContext manager resolves every ``file:`` checkpoint path through
  ``RawLocalFs.getFileLinkStatus`` -> ``FileUtil.readLink``, which
  forks a ``readlink`` process each time, libhadoop or not: about 8
  per state-store delta commit, plus more for the offset, commit and
  source logs (2,597 ``readlink`` forks in one ``session_keyed``
  perfbench run, 5 with the FileSystem manager). With the FileSystem
  manager writes still go to a temp file renamed into place (atomic
  on the local file system and HDFS) and ``LocalFileSystem`` still
  writes the ``.crc`` checksums. perfbench ``session_keyed`` on a
  4-core host, 10 alternating pairs: ``cpu_ms_per_kevent`` 38.1 ->
  27.5, ``latency_p50_s`` 1.42 -> 1.03; in a traced pair
  ``state.commit_ms`` per micro-batch 376 -> 26. Without libhadoop
  ``RawLocalFileSystem.create`` still forks one ``chmod`` per created
  file; ``fs.file.impl`` stays the checksummed ``LocalFileSystem`` on
  purpose.
- Codegen cache of ``CODEGEN_CACHE_ENTRIES`` (Spark's default is 100,
  split into 4 segments of 25). One ``ingest_dedup`` micro-batch
  needs 88 distinct generated classes; whether a segment overflows
  depends on identity hashes, and in runs where one does, the same
  ~20 classes were recompiled in every micro-batch. At 1000 entries
  Janino compiles in one ``ingest_dedup`` drain fell from 75 to 13.
- Python workers import pyspark from site-packages, not from Spark's
  ``pyspark.zip``. Every task runs ``worker_util.setup_spark_files``,
  which calls ``importlib.invalidate_caches()``; on CPython 3.11 that
  makes each cached ``zipimporter`` re-read its archive's central
  directory, and Spark's worker ``PYTHONPATH`` holds ``pyspark.zip``,
  the py4j zip and the 15 MB spark-core jar (0.11-0.17 s of CPU per
  call, 0.000 s without them). ``PYTHON_DAEMON_MODULE``
  (``worker_daemon``) reads ``pyspark/version.py`` out of the zip
  without importing pyspark; only when it equals the installed
  pyspark's version does it drop Spark's archives from ``sys.path``
  before running ``pyspark.daemon.manager()``. A different version,
  or no zip, keeps Spark's path. ``spark.executorEnv.PYTHONPATH``
  names the package's parent directory, because the daemon starts
  with ``python -m`` in the driver's working directory. perfbench
  ``ewma_python_state`` on a 4-core host, 10 alternating pairs:
  ``cpu_ms_per_kevent`` 699 -> 439, ``drain_eps`` 4,980 -> 8,011,
  ``latency_p50_s`` 1.41 -> 0.92. Under cProfile a warm worker task of
  an identity ``mapInPandas`` used 1.7-2.2 s of CPU with Spark's path
  (16 zip directory reads) and 8-10 ms without it.
  A session built without ``get_spark`` (the driver's own or a
  vanilla ``SparkSession``: ``test_vanilla_session.py``,
  ``driver_sim --vanilla``) does not get this conf and keeps Spark's
  default worker path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEF_APP = "flink-samples-spark"

# Streaming checkpoint manager that forks no ``readlink`` per path
# (module docstring); set for every master.
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
# Generated classes kept by Spark's codegen cache (default 100).
CODEGEN_CACHE_ENTRIES = 1000
# Python worker daemon that imports pyspark from site-packages when its
# version matches Spark's pyspark.zip (module docstring).
PYTHON_DAEMON_MODULE = "flink_samples_spark.worker_daemon"
# Directory that holds the package: the daemon starts with ``python -m``
# in the driver's working directory, which need not be the repo root.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
        .config(
            "spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.driver.memory", driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def stop_spark() -> None:
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
