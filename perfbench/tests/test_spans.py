import json
import os

import pytest

from spans import Tracer, parse_event_log, progress_spans, self_time


def test_self_time_merges_overlapping_children():
    span = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0}, {"start": 9.0, "end": 12.0}]
    assert self_time(span, kids) == pytest.approx(10.0 - 3.0 - 1.0)


def test_progress_phases_reconcile_with_trigger(tmp_path):
    prog = [{"batchId": 4, "timestamp": "2026-01-01T00:00:00.000Z", "numInputRows": 10,
             "durationMs": {"latestOffset": 5, "getBatch": 1, "queryPlanning": 20, "addBatch": 300,
                            "walCommit": 30, "commitOffsets": 25, "triggerExecution": 400}}]
    tr = Tracer()
    rows = progress_spans(tr, prog, "q", None)
    assert rows[0]["self_ms"] == 400 - 381
    batch = tr.spans[rows[0]["span"]]
    kids = [s for s in tr.spans if s["parent"] == batch["id"]]
    assert len(kids) == 6
    tr.write(str(tmp_path / "spans.json"))
    written = {s["id"]: s for s in json.load(open(tmp_path / "spans.json"))}
    assert written[batch["id"]]["self"] * 1000 == pytest.approx(rows[0]["self_ms"], abs=1e-3)
    assert written[kids[0]["id"]]["self"] == pytest.approx(0.005, abs=1e-6)


def test_parses_an_event_log_it_produced(tmp_path):
    from pyspark.sql import functions as F

    from flink_samples_spark.session import get_spark

    log_dir = str(tmp_path / "ev")
    os.makedirs(log_dir)
    spark = get_spark(
        app_name="perfbench-eventlog-test", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                    "spark.eventLog.compress": "false", "spark.driver.memory": "1g"})
    try:
        df = spark.range(0, 20_000, numPartitions=4).withColumn("k", F.col("id") % 17)
        assert df.groupBy("k").count().count() == 17

        def plus_one(it):
            for pdf in it:
                yield pdf.assign(id=pdf.id + 1)

        assert df.select("id").mapInPandas(plus_one, "id long").count() == 20_000
    finally:
        spark.stop()
    m = parse_event_log(log_dir)
    assert m["spark.jobs"] >= 2 and m["spark.tasks"] >= 4
    assert m["spark.shuffle_write_bytes"] > 0 and m["spark.shuffle_read_bytes"] > 0
    assert m["spark.executor_run_s"] > 0 and m["spark.executor_cpu_s"] > 0
    assert m["python.bytes_to_worker"] > 0 and m["python.bytes_from_worker"] > 0
    assert m["python.rows_to_worker"] == 20_000
    assert parse_event_log(log_dir, t_from=0, t_to=1)["spark.jobs"] == 0
