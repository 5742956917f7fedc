"""Streaming semantics tests (SURVEY.md §5.3): deterministic
file-replay micro-batches assert watermark/late-data behavior, batch↔
stream equivalence, exactly-once restart, and streaming dedup —
the behaviors of the reference's streaming jobs
(CassandraPojoSinkStreaming.java, StreamingFlinkSQL.java)."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_samples_spark.operators.time_windows import tumbling_window_agg
from flink_samples_spark.sources.readers import load_table
from flink_samples_spark.streaming.jobs import (
    session_count_stream,
    stream_dedup,
    windowed_sum_stream,
)
from flink_samples_spark.streaming.sinks import idempotent_parquet_sink, read_sink
from flink_samples_spark.streaming.sources import file_replay_stream, rate_stream

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

BASE = dt.datetime(2024, 1, 1, 10, 0, 0)
SENTINEL_TS = BASE + dt.timedelta(hours=6)


def _write_chunk(dirpath: str, name: str, rows, seq: int) -> None:
    from tests._harness import write_replay_chunk

    write_replay_chunk(
        dirpath,
        name,
        {"id": [r[0] for r in rows], "ts": [r[1] for r in rows]},
        seq=seq,
    )


def _run_available_now(stream_df, sink_dir: str, cp_dir: str) -> None:
    q = (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(idempotent_parquet_sink(sink_dir))
        .option("checkpointLocation", cp_dir)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query did not finish in 120s"


@pytest.fixture()
def tmpdirs():
    dirs = [tempfile.mkdtemp(prefix=p) for p in ("replay_", "sink_", "cp_")]
    yield dirs
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_tumbling_equals_batch(spark, sf_dir, tmpdirs):
    """Ordered replay of real events + sentinel flush: streaming
    tumbling sum == batch tumbling sum (exclude the sentinel window)."""
    replay, sink, cp = tmpdirs
    events = (
        load_table(spark, sf_dir, "events")
        .select(F.col("event_id").alias("id"), "ts")
        .orderBy("ts")
        .toPandas()
    )
    # sentinel must lie beyond ALL data so the final watermark flushes
    # every real window (events span ~30 days)
    sentinel = events["ts"].max().to_pydatetime() + dt.timedelta(days=2)
    n = len(events)
    per = n // 5
    for i in range(5):
        chunk = events.iloc[i * per : n if i == 4 else (i + 1) * per]
        _write_chunk(replay, f"c{i:03d}", list(zip(chunk["id"], chunk["ts"])), i)
    _write_chunk(replay, "c999", [(-1, sentinel)], 99)

    stream = file_replay_stream(spark, replay, EVENT_SCHEMA)
    out = windowed_sum_stream(stream, ts_col="ts", size="1 hour", watermark="11 seconds")
    _run_available_now(out, sink, cp)

    got = {
        (r.window_start, r.window_end): r.sum_id
        for r in read_sink(spark, sink).collect()
        if r.window_start < sentinel
    }
    batch_df = spark.createDataFrame(events)
    expected = {
        (r.window_start, r.window_end): r.sum_id
        for r in tumbling_window_agg(
            batch_df, "ts", "1 hour", aggs=[F.sum("id").alias("sum_id")]
        ).collect()
    }
    assert got == expected


def test_late_data_within_bound_accepted_beyond_dropped(spark, tmpdirs):
    """Reference lateness contract (CassandraPojoSinkStreaming.java:
    54-56,64-65): rows later than the watermark bound are dropped,
    rows within it are accepted."""
    replay, sink, cp = tmpdirs
    s = lambda sec: BASE + dt.timedelta(seconds=sec)
    # The watermark a batch filters with reflects event-time stats
    # from up to TWO batches earlier (observed: stats of batch N enter
    # the filter at batch N+2), so the drop probe sits two full
    # batches after the window it targets.
    _write_chunk(replay, "c000", [(i, s(i)) for i in range(10)], 0)
    _write_chunk(replay, "c001", [(100 + i, s(60 + i)) for i in range(10)], 1)
    _write_chunk(replay, "c002", [(200 + i, s(90 + i)) for i in range(10)], 2)
    # by now the filter watermark is ≥ 58s regardless of lag:
    # ts=5s (window [0,10) long closed) → DROPPED;
    # ts=92s (window [90,100) still open) → KEPT
    _write_chunk(replay, "c003", [(1000, s(5)), (1001, s(92))], 3)
    _write_chunk(replay, "c004", [(-1, SENTINEL_TS)], 4)

    stream = file_replay_stream(spark, replay, EVENT_SCHEMA)
    out = windowed_sum_stream(
        stream,
        ts_col="ts",
        size="10 seconds",
        watermark="11 seconds",
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    _run_available_now(out, sink, cp)
    got = {
        r.window_start: r.n
        for r in read_sink(spark, sink).collect()
        if r.window_start < SENTINEL_TS
    }
    assert got[s(0)] == 10  # late row 1000 (ts=5s) dropped
    assert got[s(60)] == 10
    assert got[s(90)] == 11  # late row 1001 (ts=92s) accepted


def test_checkpoint_restart_exactly_once(spark, tmpdirs):
    """Restart from checkpoint must not duplicate sink contents
    (parity with exactly-once checkpointing,
    CassandraPojoSinkStreaming.java:84-104)."""
    replay, sink, cp = tmpdirs
    s = lambda sec: BASE + dt.timedelta(seconds=sec)
    _write_chunk(replay, "c000", [(i, s(i)) for i in range(10)], 0)
    _write_chunk(replay, "c001", [(10 + i, s(10 + i)) for i in range(10)], 1)

    def run():
        stream = file_replay_stream(spark, replay, EVENT_SCHEMA)
        out = windowed_sum_stream(
            stream, ts_col="ts", size="10 seconds", watermark="11 seconds"
        )
        _run_available_now(out, sink, cp)

    run()  # first run: consumes both files
    # new data arrives; restart with the SAME checkpoint
    _write_chunk(replay, "c002", [(100 + i, s(100 + i)) for i in range(10)], 2)
    _write_chunk(replay, "c003", [(-1, SENTINEL_TS)], 3)
    run()  # second run: must process only the new files
    run()  # third run: no new data — sink unchanged (idempotent)

    rows = [r for r in read_sink(spark, sink).collect() if r.window_start < SENTINEL_TS]
    windows = [r.window_start for r in rows]
    assert len(windows) == len(set(windows)), "duplicated windows after restart"
    got = {r.window_start: r.sum_id for r in rows}
    assert got[s(0)] == sum(range(10))
    assert got[s(10)] == sum(range(10, 20))
    assert got[s(100)] == sum(range(100, 110))


def test_session_window_stream_matches_batch_shape(spark, tmpdirs):
    """Flagship job in streaming mode (StreamingFlinkSQL.java:36-43):
    session windows emit on watermark passage with the sink schema
    (window_start, window_end, total)."""
    replay, sink, cp = tmpdirs
    s = lambda sec: BASE + dt.timedelta(seconds=sec)
    # two sessions: [0..2] (3 events, gaps <5s) and [30..31] (2 events)
    _write_chunk(replay, "c000", [(0, s(0)), (1, s(2)), (2, s(4))], 0)
    _write_chunk(replay, "c001", [(3, s(30)), (4, s(31))], 1)
    _write_chunk(replay, "c002", [(-1, SENTINEL_TS)], 2)

    stream = file_replay_stream(spark, replay, EVENT_SCHEMA)
    out = session_count_stream(stream, ts_col="ts", gap="5 seconds", watermark="1 second")
    _run_available_now(out, sink, cp)
    got = {
        (r.window_start, r.window_end): r.total
        for r in read_sink(spark, sink).collect()
        if r.window_start < SENTINEL_TS
    }
    assert got == {(s(0), s(9)): 3, (s(30), s(36)): 2}


def test_keyed_session_window_stream(spark, tmpdirs):
    """Keyed streaming session windows (the scale path — no constant
    key): per-user sessions merge and emit independently."""
    import pandas as pd

    replay, sink, cp = tmpdirs
    s = lambda sec: BASE + dt.timedelta(seconds=sec)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    rows0 = [(1, s(0)), (1, s(3)), (2, s(1))]
    rows1 = [(2, s(20)), (1, s(40))]
    rows2 = [(-1, SENTINEL_TS)]
    for i, rows in enumerate([rows0, rows1, rows2]):
        p = os.path.join(replay, f"c{i:03d}.parquet")
        pd.DataFrame({"user_id": [r[0] for r in rows], "ts": [r[1] for r in rows]}).to_parquet(
            p, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(p, (1_700_000_000 + i,) * 2)

    from flink_samples_spark.operators.time_windows import session_window_agg

    stream = file_replay_stream(spark, replay, schema)
    out = session_window_agg(
        stream.withWatermark("ts", "1 second"), "ts", "5 seconds", keys=["user_id"]
    )
    _run_available_now(out, sink, cp)
    got = {
        (r.user_id, r.window_start, r.window_end): r.total
        for r in read_sink(spark, sink).collect()
        if r.user_id >= 0
    }
    assert got == {
        (1, s(0), s(8)): 2,   # user 1: events at 0,3 merge (gap 3 ≤ 5)
        (2, s(1), s(6)): 1,
        (2, s(20), s(25)): 1,
        (1, s(40), s(45)): 1,
    }


def test_stream_dedup_within_watermark(spark, tmpdirs):
    replay, sink, cp = tmpdirs
    s = lambda sec: BASE + dt.timedelta(seconds=sec)
    _write_chunk(replay, "c000", [(1, s(0)), (2, s(1)), (1, s(2))], 0)  # dup id=1
    _write_chunk(replay, "c001", [(2, s(3)), (3, s(4))], 1)  # dup id=2
    _write_chunk(replay, "c002", [(-1, SENTINEL_TS)], 2)

    stream = file_replay_stream(spark, replay, EVENT_SCHEMA)
    out = stream_dedup(stream, ["id"], "ts", "60 seconds")
    _run_available_now(out, sink, cp)
    ids = sorted(r.id for r in read_sink(spark, sink).collect() if r.id >= 0)
    assert ids == [1, 2, 3]


def test_session_merges_across_micro_batches(spark, tmpdirs):
    """A session whose events arrive in DIFFERENT micro-batches must
    merge into one window (MergingSessions state path), including a
    merge that bridges two previously-separate sessions."""
    replay, sink, cp = tmpdirs
    s = lambda sec: BASE + dt.timedelta(seconds=sec)
    # batch 0: events at 0s and 10s — two separate sessions (gap 5s)
    _write_chunk(replay, "c000", [(0, s(0)), (1, s(10))], 0)
    # batch 1: event at 5s bridges them → ONE session [0, 15)
    _write_chunk(replay, "c001", [(2, s(5))], 1)
    _write_chunk(replay, "c002", [(-1, SENTINEL_TS)], 2)

    stream = file_replay_stream(spark, replay, EVENT_SCHEMA)
    out = session_count_stream(stream, ts_col="ts", gap="5 seconds", watermark="1 hour")
    _run_available_now(out, sink, cp)
    got = {
        (r.window_start, r.window_end): r.total
        for r in read_sink(spark, sink).collect()
        if r.window_start < SENTINEL_TS
    }
    assert got == {(s(0), s(15)): 3}


def test_update_and_complete_output_modes(spark, tmpdirs):
    """Output-mode semantics (SURVEY §2.9): update emits changed
    windows each batch (pre-watermark results included); complete
    re-emits the full result table."""
    replay, _, cp = tmpdirs
    s = lambda sec: BASE + dt.timedelta(seconds=sec)
    _write_chunk(replay, "c000", [(i, s(i)) for i in range(5)], 0)
    _write_chunk(replay, "c001", [(10 + i, s(10 + i)) for i in range(5)], 1)

    stream = file_replay_stream(spark, replay, EVENT_SCHEMA)
    agg = windowed_sum_stream(
        stream, ts_col="ts", size="10 seconds", watermark="11 seconds",
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    per_batch: list[dict] = []

    def capture(df, _bid):
        per_batch.append({r.window_start: r.n for r in df.collect()})

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(capture)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode: window [0,10) emitted in the batch that updated it,
    # long before the watermark passes
    assert any(b.get(s(0)) == 5 for b in per_batch)
    assert any(b.get(s(10)) == 5 for b in per_batch)


def test_rate_source_throughput_floor(spark):
    """BASELINE streaming floor: sustain ≥1,000 rec/s (the reference's
    max configured rate). Rate source at 20k rows/s for ~3 s of data,
    processed via availableNow-style bounded run."""
    import time

    sink_rows = {"n": 0}

    def count_batch(df, _bid):
        sink_rows["n"] += df.count()

    q = (
        rate_stream(spark, rows_per_second=20000)
        .writeStream.outputMode("append")
        .foreachBatch(count_batch)
        .start()
    )
    t0 = time.time()
    try:
        while time.time() - t0 < 6 and sink_rows["n"] < 3000:
            time.sleep(0.25)
    finally:
        q.stop()
    elapsed = time.time() - t0
    assert sink_rows["n"] >= 1000 * min(elapsed, 3) / 3, (
        f"only {sink_rows['n']} rows in {elapsed:.1f}s"
    )


def test_interval_join_across_batches(spark, tmpdirs):
    """Stream-stream interval join must pair rows that arrive in
    DIFFERENT micro-batches (buffered in join state) and respect the
    [0, upper] bound on the right side's event time."""
    import pandas as pd

    from flink_samples_spark.streaming.jobs import interval_join_stream

    replay, sink, cp = tmpdirs
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("side", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    s = lambda sec: BASE + dt.timedelta(seconds=sec)
    batches = [
        # batch 0: two left rows, no matches yet
        [(1, "L", s(0)), (2, "L", s(100))],
        # batch 1: right rows — r10 matches l1 (10s after), r95 is
        # BEFORE l2 so must NOT match l2 (lower bound 0), r160 matches
        # l2 (60s after); r2000 matches nothing (past both uppers)
        [(10, "R", s(10)), (95, "R", s(95)), (160, "R", s(160)), (999, "R", s(2000))],
    ]
    for i, chunk in enumerate(batches):
        path = os.path.join(replay, f"c{i:03d}.parquet")
        pd.DataFrame(
            {"id": [r[0] for r in chunk], "side": [r[1] for r in chunk],
             "ts": [r[2] for r in chunk]}
        ).to_parquet(path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
        os.utime(path, (1_700_000_000 + i,) * 2)

    stream = file_replay_stream(spark, replay, schema)
    # constant key: every row joins on the same group
    left = stream.filter(F.col("side") == "L").select(
        F.lit(1).alias("k"), F.col("id").alias("l_id"), F.col("ts").alias("l_ts")
    )
    right = stream.filter(F.col("side") == "R").select(
        F.lit(1).alias("k"), F.col("id").alias("r_id"), F.col("ts").alias("r_ts")
    )
    out = interval_join_stream(
        left, right, key="k", left_ts="l_ts", right_ts="r_ts",
        upper="2 minutes", watermark="1 hour",
    ).select("l_id", "r_id")
    _run_available_now(out, sink, cp)
    got = {(r.l_id, r.r_id) for r in read_sink(spark, sink).collect()}
    assert got == {(1, 10), (1, 95), (2, 160)}


def test_ewma_state_restart_continues_recursion(spark, tmpdirs):
    """Kill/restart for the custom stateful EWMA: after a restart
    from checkpoint, the recursion CONTINUES from the persisted
    per-key state (no reset to v₁, no double-emission) — the
    exactly-once contract for user-managed state. State is kept per
    key bucket, so the inputs mix keys that share a bucket, keys in
    other buckets, a key first seen after the restart and a NULL key
    (its own recursion, as in the batch operator's groupBy), and the
    whole scenario runs under two shuffle-partition counts: every
    value must be bit-equal to batch ``ewma`` over the same rows."""
    import pandas as pd

    from flink_samples_spark.operators.timeseries import ewma
    from flink_samples_spark.streaming.stateful import EWMA_BUCKETS, ewma_with_state

    s = lambda sec: BASE + dt.timedelta(seconds=sec)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    buckets = {
        r.id: r.b
        for r in spark.range(1, 400)
        .selectExpr("id", f"pmod(xxhash64(id), {EWMA_BUCKETS}) AS b")
        .collect()
    }
    # two keys sharing a bucket, one in a different bucket, and two
    # keys first seen after the restart: one joins key 7's bucket
    # state, one opens a bucket of its own
    shared_a, shared_b = next(
        (a, b) for a in buckets for b in buckets
        if a < b and a != 7 and b != 7 and buckets[a] == buckets[b]
    )
    other = next(k for k in buckets if buckets[k] not in (buckets[shared_a], buckets[7]))
    late = next(
        k for k in buckets
        if buckets[k] not in (buckets[shared_a], buckets[7], buckets[other])
    )
    late_with_7 = next(k for k in buckets if k != 7 and buckets[k] == buckets[7])
    assert len({buckets[7], buckets[shared_a], buckets[other], buckets[late]}) == 4

    def vals(key, n, t0):
        # non-dyadic values: rounding and the recursion both matter
        return [(key, s(t0 + i), 0.1 * (i + 1) + (key or 0) % 7 / 3) for i in range(n)]

    first = [(7, s(0), 4.0), (7, s(1), 8.0)] + vals(shared_a, 3, 0) + vals(
        shared_b, 2, 0) + vals(other, 4, 1) + vals(None, 3, 0)
    second = [(7, s(2), 12.0)] + vals(shared_a, 2, 3) + vals(shared_b, 3, 2) + vals(
        other, 1, 5) + vals(late, 3, 0) + vals(late_with_7, 2, 1) + vals(None, 2, 3)
    chunks = [
        [(eid, t, k, v) for eid, (k, t, v) in enumerate(rows, start=off)]
        for off, rows in ((0, first), (len(first), second))
    ]
    all_rows = chunks[0] + chunks[1]

    batch = ewma(spark.createDataFrame(all_rows, schema), alpha=0.25)
    want = {r.event_id: r.ewma for r in batch.collect()}
    assert len(want) == len(all_rows)
    # hand-checked: 4 → 4.0, then .25*8+.75*4=5, and the restart
    # continues from s=5.0 (.25*12 + .75*5 = 6.75), NOT from 12.0
    assert [want[0], want[1], want[len(first)]] == [4.0, 5.0, 6.75]

    def scenario(root, shuffle_partitions):
        replay, sink, cp = (os.path.join(root, d) for d in ("replay", "sink", "cp"))
        os.makedirs(replay)

        def write_events(name, rows, seq):
            path = os.path.join(replay, f"{name}.parquet")
            pd.DataFrame(
                {
                    "event_id": [r[0] for r in rows],
                    "ts": [r[1] for r in rows],
                    "user_id": pd.array([r[2] for r in rows], dtype="Int64"),
                    "value": [r[3] for r in rows],
                }
            ).to_parquet(
                path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
            )
            os.utime(path, (1_700_000_000 + seq, 1_700_000_000 + seq))

        def run():
            stream = file_replay_stream(spark, replay, schema)
            _run_available_now(ewma_with_state(stream, alpha=0.25), sink, cp)

        prior = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        try:
            write_events("c000", chunks[0], 0)
            run()
            # restart with NEW data: every key continues from its state
            write_events("c001", chunks[1], 1)
            run()
            run()  # idle restart: no new rows, no duplicates
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prior)
        got = read_sink(spark, sink).collect()
        assert len(got) == len(all_rows), "duplicate or lost rows"
        return {r.event_id: r.ewma for r in got}

    for i, partitions in enumerate((spark.conf.get("spark.sql.shuffle.partitions"), 3)):
        got = scenario(os.path.join(tmpdirs[0], f"run{i}"), partitions)
        assert got == want, (partitions, got, want)


def test_ewma_state_refuses_keys_float64_cannot_separate(spark, tmpdirs):
    """A chunk holding a NULL key reaches the state function as
    float64, exact only up to 2**53: a larger key in the NULL key's
    bucket must fail the query, not merge with a neighbouring key."""
    import pandas as pd

    from flink_samples_spark.streaming.stateful import EWMA_BUCKETS, ewma_with_state

    replay, sink, cp = tmpdirs
    bucket = f"pmod(xxhash64(k), {EWMA_BUCKETS})"
    null_bucket = spark.sql(f"SELECT {bucket} AS b FROM VALUES (CAST(NULL AS BIGINT)) t(k)").first().b
    big = (
        spark.range(400)
        .selectExpr(f"id + {2**60} AS k")
        .selectExpr("k", f"{bucket} AS b")
        .filter(f"b = {null_bucket}")
        .first()
        .k
    )
    path = os.path.join(replay, "c000.parquet")
    pd.DataFrame(
        {
            "event_id": [0, 1],
            "ts": [BASE, BASE],
            "user_id": pd.array([big, None], dtype="Int64"),
            "value": [1.0, 2.0],
        }
    ).to_parquet(path, index=False, coerce_timestamps="us")
    schema = "event_id bigint, ts timestamp, user_id bigint, value double"
    stream = file_replay_stream(spark, replay, schema)
    with pytest.raises(Exception, match=r"2\*\*53"):
        _run_available_now(ewma_with_state(stream), sink, cp)


def test_write_replay_files_refuses_large_inputs(spark, tmp_path):
    """The replay harness materializes on the driver (toPandas): it
    must hard-refuse >1M rows so the test-only path can never ride
    into a production pipeline (ADVICE r3/r4 guard)."""
    import pytest

    from flink_samples_spark.streaming.sources import write_replay_files

    big = spark.range(1_000_001).selectExpr("id as ts", "id as value")
    with pytest.raises(ValueError, match="driver-side test harness"):
        write_replay_files(big, str(tmp_path), order_col="ts")


def test_idempotent_sink_rejects_batch_data_column(spark, tmpdirs):
    """A micro-batch whose schema carries a data column named `batch`
    must fail LOUDLY at write time: the sink partitions on a
    batch=<id> directory, and on read-back partition discovery would
    shadow the data column with the partition value — silent wrong
    data (ADVICE r7 guard)."""
    from flink_samples_spark.streaming.sinks import idempotent_sink

    _, sink, _ = tmpdirs
    df = spark.range(3).withColumnRenamed("id", "batch")
    # case-INSENSITIVE: Spark's default analysis resolves 'Batch'
    # against the discovered partition column too
    df_cased = spark.range(3).withColumnRenamed("id", "Batch")
    for fmt in ("parquet", "json"):
        writer = idempotent_sink(os.path.join(sink, fmt), fmt=fmt)
        for bad in (df, df_cased):
            with pytest.raises(ValueError, match="batch=<id> partition"):
                writer(bad, 0)
    # the clean path still writes: same frame under a different name
    ok = df.withColumnRenamed("batch", "seq")
    idempotent_sink(os.path.join(sink, "ok"))(ok, 0)
    assert read_sink(spark, os.path.join(sink, "ok")).count() == 3


def test_run_streaming_removes_its_temp_root_when_build_fails(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The catalog's replay harness writes the replay (and its flush
    sentinel) before ``build`` runs; when ``build`` raises, the error
    reaches the caller and the run's one temp root is removed."""
    from flink_samples_spark.plans import catalog_streaming as cs

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    written = []

    def build(stream):
        for root, _dirs, files in os.walk(tmp_path):
            written.extend(os.path.join(root, f) for f in files)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        cs._run_streaming(
            spark, load_table(spark, sf_dir, "events"), cs._EVENTS, build, tail=cs._FLUSH
        )
    assert any(p.endswith(os.path.join("replay", "chunk_99999.parquet")) for p in written)
    assert os.listdir(tmp_path) == []


def test_stream_dedup_index_keeps_other_cached_frames(spark, sf_dir):
    """q_stream_dedup_index releases only its own per-batch caches.
    foreachBatch's cloned session shares the application's
    CacheManager, so a per-batch ``clearCache()`` would also drop a
    frame the caller cached; once the grouped-cache waiter has run,
    the query leaves no cache entry of its own either."""
    import time

    from pyspark import StorageLevel

    from flink_samples_spark.plans import QUERIES

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(sf):
        pytest.skip(f"no sf0.01 dataset beside {sf_dir}")
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # entries other tests left behind
    mine = spark.range(100).selectExpr("id * 2 AS x").cache()
    assert mine.count() == 100
    try:
        assert QUERIES["q_stream_dedup_index"](spark, sf).count() > 0
        assert mine.storageLevel != StorageLevel.NONE, "the caller's frame was uncached"
    finally:
        mine.unpersist(blocking=True)
    deadline = time.monotonic() + 30
    while not cache_manager.isEmpty() and time.monotonic() < deadline:
        time.sleep(0.2)
    assert cache_manager.isEmpty(), "the query left a cache entry behind"
