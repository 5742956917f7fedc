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
