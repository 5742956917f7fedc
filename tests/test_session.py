"""SparkSession defaults must fit the host they run on."""

from __future__ import annotations

import importlib.metadata
import os
import subprocess
import sys
import zipfile

import pytest

from flink_samples_spark.session import driver_memory
from flink_samples_spark.worker_daemon import strip_spark_archives

_REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))


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


def test_package_import_loads_no_pyspark():
    # the worker daemon runs as ``python -m flink_samples_spark...`` and
    # must fix ``sys.path`` before anything imports pyspark
    code = "import flink_samples_spark, sys; assert 'pyspark' not in sys.modules"
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=_REPO, capture_output=True, text=True, timeout=60
    )
    assert proc.returncode == 0, proc.stderr


def _spark_home(root, zip_version: str | None) -> list[str]:
    """A fake Spark home; returns its worker ``PYTHONPATH`` entries."""
    lib, jars = root / "spark" / "python" / "lib", root / "spark" / "jars"
    lib.mkdir(parents=True)
    jars.mkdir()
    archives = [lib / "py4j-0.10.9.9-src.zip", jars / "spark-core_2.13.jar"]
    if zip_version is not None:
        archives.insert(0, lib / "pyspark.zip")
    for a in archives:
        with zipfile.ZipFile(a, "w") as z:
            z.writestr("pyspark/version.py", f"__version__: str = '{zip_version}'\n")
    return [str(a) for a in archives]


@pytest.mark.parametrize(
    "zip_version, stripped",
    [(importlib.metadata.version("pyspark"), True), ("0.0.1", False), (None, False)],
    ids=["versions-match", "versions-differ", "no-zip"],
)
def test_worker_daemon_path(tmp_path, zip_version, stripped):
    archives = _spark_home(tmp_path, zip_version)
    path = [str(tmp_path), *archives, "/site-packages"]
    cache = {p: object() for p in path} | {archives[-1] + "/org": object()}
    before_path, before_cache = list(path), dict(cache)
    strip_spark_archives(path, cache)
    if stripped:
        assert path == [str(tmp_path), "/site-packages"]
        assert set(cache) == set(path)
    else:
        assert path == before_path
        assert cache == before_cache


_WORKER_PROBE = """
import sys
sys.path.insert(0, {repo!r})
from flink_samples_spark import get_spark

def report(batches):
    import sys, zipimport, pandas as pd, pyspark
    zips = [k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)]
    for _ in batches:
        yield pd.DataFrame({{"file": [pyspark.__file__], "zips": [len(zips)]}})

spark = get_spark(app_name="worker-daemon-probe", master="local[1]")
row = spark.range(1, numPartitions=1).mapInPandas(report, "file string, zips int").first()
print("WORKER", row.file, row.zips)
spark.stop()
"""


def test_worker_imports_pyspark_from_site_packages(tmp_path):
    # not the repo root: the daemon must resolve through PYTHONPATH
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE.format(repo=_REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("WORKER "))
    _, pyspark_file, zips = line.split()
    assert "site-packages" in pyspark_file and ".zip" not in pyspark_file
    assert zips == "0"
