"""SparkSession defaults must fit the host they run on."""

from __future__ import annotations

from flink_samples_spark.session import driver_memory


def _mib(size: str) -> float:
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    return float(size[:-1]) * units[size[-1].lower()]


def test_default_driver_heap_fits_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as f:
        total_kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    heap = _mib(driver_memory())
    assert heap <= total_kib / 1024
    assert heap <= 24 * 1024


def test_driver_heap_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"


def test_streaming_checkpoints_use_filesystem_manager(spark, tmp_path):
    # the FileContext default forks a `readlink` per resolved path
    jvm = spark._jvm
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    made = mgr.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert made.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def test_codegen_cache_holds_repeated_queries(spark):
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    counts = []
    for _ in range(2):
        before = compiles.METRIC_COMPILATION_TIME().getCount()
        for i in range(150):
            spark.range(4).selectExpr(f"id * {i + 7} + {i} AS v").collect()
        counts.append(compiles.METRIC_COMPILATION_TIME().getCount() - before)
    assert counts[0] > 0
    assert counts[1] == 0
