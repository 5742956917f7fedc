"""The four benchmark workloads: how each builds its streaming query
from the engine's own operators, what its sink records, its
reference result, and when each of its results could first have been
emitted.

Every sink records, per micro-batch, the wall-clock moment its sink
call returned; ``Phase`` collects that and the output rows.
"""

from __future__ import annotations

import glob
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import check
from generator import DOC_SCHEMA, EVENT_SCHEMA, SENTINEL_ID
from spans import Tracer


@dataclass
class Phase:
    """One streaming query's run: where it writes and what it saw."""

    name: str
    work: str  # per-phase directory for sink output and index
    tracer: Tracer
    parent_span: int | None = None
    cpu_probe: Callable[[], float] | None = None  # CPU seconds of the engine, read at each sink return
    batches: list[dict] = field(default_factory=list)  # batch_id, t_return, sink_s, ...
    frames: list[pd.DataFrame] = field(default_factory=list)

    @property
    def sink_dir(self) -> str:
        return os.path.join(self.work, "sink")

    def record(self, batch_id: int, t_start: float, t_return: float,
               frame: pd.DataFrame | None = None, **extra) -> None:
        self.tracer.add("sink_call", t_start, t_return, self.parent_span,
                        query=self.name, batch_id=batch_id, **extra)
        if self.cpu_probe is not None:
            extra["cpu_s"] = self.cpu_probe()
        self.batches.append({"batch_id": batch_id, "t_return": t_return,
                             "sink_s": t_return - t_start, **extra})
        if frame is not None:
            frame = frame.copy()
            frame["batch_id"] = batch_id
            self.frames.append(frame)

    def output(self) -> pd.DataFrame:
        return pd.concat(self.frames, ignore_index=True) if self.frames else pd.DataFrame()

    def batch_return_times(self) -> dict[int, float]:
        # a retried batch records twice; the last return is the one committed
        return {b["batch_id"]: b["t_return"] for b in self.batches}


def _us(col: pd.Series) -> np.ndarray:
    return col.astype("datetime64[us]").astype(np.int64).to_numpy()


def _read_partitioned(out_dir: str) -> pd.DataFrame:
    """Rows of an idempotent parquet sink, with their batch id."""
    frames = []
    for d in glob.glob(os.path.join(out_dir, "batch=*")):
        parts = glob.glob(os.path.join(d, "*.parquet"))
        if not parts:
            continue
        df = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        df["batch_id"] = int(d.rsplit("=", 1)[1])
        frames.append(df)
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def dir_files_bytes(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(p) for p in files)


def _or_empty(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    return df if not df.empty else pd.DataFrame(columns=cols)


@dataclass
class Workload:
    name: str
    kind: str  # generator stream kind: "events" or "docs"
    rate: float  # open-loop rows per second
    dt: float  # seconds of event time (and of schedule) per file
    drain_files: int
    drain_per_file: int
    files_per_trigger: int
    why: str
    stream_kw: dict = field(default_factory=dict)
    sentinel: bool = False  # end each input with a watermark-flush sentinel
    delay_s: float = 0.0  # watermark delay of the window workloads

    @property
    def schema(self) -> str:
        return DOC_SCHEMA if self.kind == "docs" else EVENT_SCHEMA

    @property
    def per_file(self) -> int:
        return max(1, round(self.rate * self.dt))

    def start(self, stream, ckpt: str, phase: Phase, available_now: bool):
        raise NotImplementedError

    def actual(self, phase: Phase) -> pd.DataFrame:
        return phase.output()

    def check(self, phase: Phase, inputs: pd.DataFrame, log: pd.DataFrame) -> tuple[int, int]:
        """(attempted, failed) against the reference."""
        raise NotImplementedError

    def latency(self, phase: Phase, inputs: pd.DataFrame, log: pd.DataFrame) -> np.ndarray:
        """Seconds from "could be emitted" to sink return, per result
        row of the open-loop phase. Results that depend on file 0
        (written before the query started) or on the flush sentinel
        are not samples."""
        raise NotImplementedError

    def _start(self, df, ckpt: str, available_now: bool, sink):
        w = df.writeStream.outputMode("append").foreachBatch(sink).option("checkpointLocation", ckpt)
        w = w.trigger(availableNow=True) if available_now else w.trigger(processingTime="0 seconds")
        return w.start()

    def _window_latency(self, phase: Phase, log: pd.DataFrame) -> np.ndarray:
        out = self.actual(phase)
        if out.empty:
            return np.array([])
        created, files = check.could_emit_windows(out.window_end_us.to_numpy(), log, self.delay_s)
        sentinel_files = log.file[log.rows == 1].to_numpy() if self.sentinel else []
        ret = out.batch_id.map(phase.batch_return_times()).to_numpy()
        ok = (files >= 1) & ~np.isin(files, sentinel_files)
        return ret[ok] - created[ok]


class SessionKeyed(Workload):
    """Flagship session-window COUNT, keyed by user, collecting sink."""

    COLS = ["user_id", "window_start_us", "window_end_us", "total"]

    def start(self, stream, ckpt, phase, available_now):
        from flink_samples_spark.operators.time_windows import session_window_agg

        agg = session_window_agg(stream.withWatermark("ts", "1 second"), "ts", "5 seconds", keys=["user_id"])

        def sink(df, batch_id):
            t = time.time()
            pdf = df.toPandas()
            frame = pd.DataFrame({"user_id": pdf.user_id.to_numpy(),
                                  "window_start_us": _us(pdf.window_start),
                                  "window_end_us": _us(pdf.window_end),
                                  "total": pdf.total.to_numpy()})
            phase.record(batch_id, t, time.time(), frame, rows=len(frame))

        return self._start(agg, ckpt, available_now, sink)

    def actual(self, phase):
        out = phase.output()
        return out[out.user_id != SENTINEL_ID] if not out.empty else out

    def check(self, phase, inputs, log):
        ref = check.ref_sessions(inputs).rename(
            columns={"window_start": "window_start_us", "window_end": "window_end_us"})
        return check.compare(ref, _or_empty(self.actual(phase), self.COLS), self.COLS)

    def latency(self, phase, inputs, log):
        return self._window_latency(phase, log)


class LateTumblingSink(Workload):
    """CassandraPojoSinkStreaming: per-user 10 s tumbling sums with an
    11 s watermark, late data, idempotent parquet sink."""

    COLS = ["user_id", "window_start_us", "window_end_us", "sum_id", "n"]

    def start(self, stream, ckpt, phase, available_now):
        from pyspark.sql import functions as F

        from flink_samples_spark.streaming.jobs import windowed_sum_stream
        from flink_samples_spark.streaming.sinks import idempotent_parquet_sink

        agg = windowed_sum_stream(stream, ts_col="ts", size="10 seconds", watermark="11 seconds",
                                  keys=["user_id"],
                                  aggs=[F.sum("event_id").alias("sum_id"), F.count(F.lit(1)).alias("n")])
        write = idempotent_parquet_sink(phase.sink_dir)

        def sink(df, batch_id):
            t = time.time()
            write(df, batch_id)
            phase.record(batch_id, t, time.time())

        return self._start(agg, ckpt, available_now, sink)

    def actual(self, phase):
        out = _read_partitioned(phase.sink_dir)
        if out.empty:
            return out
        out = out[out.user_id != SENTINEL_ID].copy()
        out["window_start_us"] = _us(out.window_start)
        out["window_end_us"] = _us(out.window_end)
        return out

    @staticmethod
    def too_late_ids(log: pd.DataFrame) -> set[int]:
        return {i for ids in log.too_late_ids for i in ids}

    def check(self, phase, inputs, log):
        ref = check.ref_tumbling(inputs, self.too_late_ids(log)).rename(
            columns={"window_start": "window_start_us", "window_end": "window_end_us"})
        return check.compare(ref, _or_empty(self.actual(phase), self.COLS), self.COLS)

    def latency(self, phase, inputs, log):
        return self._window_latency(phase, log)


class EwmaPythonState(Workload):
    """Per-user EWMA through applyInPandasWithState, one output per event."""

    def start(self, stream, ckpt, phase, available_now):
        from flink_samples_spark.streaming.stateful import ewma_with_state

        out = ewma_with_state(stream.select("event_id", "user_id", "ts", "value"))

        def sink(df, batch_id):
            t = time.time()
            pdf = df.select("event_id", "ewma").toPandas()
            phase.record(batch_id, t, time.time(), pdf, rows=len(pdf))

        return self._start(out, ckpt, available_now, sink)

    def check(self, phase, inputs, log):
        cols = ["event_id", "ewma"]
        return check.compare(check.ref_ewma(inputs), _or_empty(phase.output(), cols), cols,
                             round_cols=("ewma",))

    def latency(self, phase, inputs, log):
        return _latency_by_row(phase.output(), "event_id", inputs, phase)


class IngestDedup(Workload):
    """Streaming near-duplicate ingestion against a growing signature
    index, the loop of q_stream_dedup_index, with timers around each
    call into llmops.dedup and streaming.sinks."""

    COLS = ["doc_a", "doc_b", "jaccard"]
    count_candidates = False  # traced runs count candidate pairs (one extra job per batch)

    def start(self, stream, ckpt, phase, available_now):
        from flink_samples_spark.llmops.dedup import (
            build_dedup_index,
            fused_pairs_via_views,
            read_prior_index,
        )
        from flink_samples_spark.streaming.sinks import idempotent_parquet_sink

        idx = os.path.join(phase.work, "index")
        write = idempotent_parquet_sink(phase.sink_dir)
        tr = phase.tracer
        count = self.count_candidates

        def process(batch, batch_id):
            t0 = time.time()
            sp = batch.sparkSession
            with tr.timed("dedup.construct", phase.parent_span, query=phase.name, batch_id=batch_id) as c:
                bidx = build_dedup_index(batch, k=3).cache()
                index = read_prior_index(sp, idx, batch_id)
                bidx.createOrReplaceTempView("pb_batch")
                if index is not None:
                    index.createOrReplaceTempView("pb_index")
                pairs = fused_pairs_via_views(sp, "pb_batch", "pb_index" if index is not None else None,
                                              threshold=0.8)
            n_index = len(glob.glob(os.path.join(idx, "batch=*"))) if index is not None else 0
            with tr.timed("sink.pairs_write", phase.parent_span, query=phase.name, batch_id=batch_id) as w:
                write(pairs, batch_id)
            with tr.timed("dedup.index_append", phase.parent_span, query=phase.name, batch_id=batch_id) as a:
                bidx.write.mode("overwrite").parquet(os.path.join(idx, f"batch={batch_id}"))
            candidates = _count_candidates(sp, index is not None) if count else 0
            bidx.unpersist()
            sp.catalog.clearCache()
            phase.record(batch_id, t0, time.time(), construct_s=c.end - c.start,
                         pairs_write_s=w.end - w.start, index_append_s=a.end - a.start,
                         index_files=n_index, candidates=candidates)

        return self._start(stream.select("doc_id", "text"), ckpt, available_now, process)

    def actual(self, phase):
        return _read_partitioned(phase.sink_dir)

    def check(self, phase, inputs, log):
        return check.compare(check.ref_dedup_pairs(inputs), _or_empty(self.actual(phase), self.COLS),
                             self.COLS, round_cols=("jaccard",))

    def latency(self, phase, inputs, log):
        # Every document is a result: its pairs with all earlier documents
        # (often none) are out once the batch that indexed it returns. A
        # pair's later document is always the one its batch brought in.
        # Sampling every document, not only the few that form pairs, keeps
        # the percentiles from hinging on which batch the pairs fell in.
        return _latency_by_row(_read_partitioned(os.path.join(phase.work, "index")), "doc_id", inputs, phase)


def _latency_by_row(out: pd.DataFrame, id_col: str, inputs: pd.DataFrame, phase: Phase) -> np.ndarray:
    """Sink return minus the creation time of the input row ``id_col``
    names, for rows from files after file 0."""
    if out.empty:
        return np.array([])
    src = inputs.set_index(id_col)
    created = src.created.reindex(out[id_col]).to_numpy()
    files = src.file.reindex(out[id_col]).to_numpy()
    ret = out.batch_id.map(phase.batch_return_times()).to_numpy()
    ok = files >= 1
    return ret[ok] - created[ok]


def _count_candidates(sp, with_index: bool) -> int:
    """Distinct candidate pairs of the batch's bucketing aggregate (the
    ``pb_batch_grouped`` view fused_pairs_via_views registers): the
    pairs that reach the exact-Jaccard verify."""
    if with_index:
        sql = """
        SELECT count(DISTINCT a, b) FROM (
          SELECT x AS a, y AS b FROM pb_batch_grouped
            LATERAL VIEW explode(db) t1 AS x LATERAL VIEW explode(db) t2 AS y WHERE x < y
          UNION ALL
          SELECT x AS a, y AS b FROM pb_batch_grouped
            LATERAL VIEW explode(da) t1 AS x LATERAL VIEW explode(db) t2 AS y)"""
    else:
        sql = """
        SELECT count(DISTINCT x, y) FROM pb_batch_grouped
          LATERAL VIEW explode(ds) t1 AS x LATERAL VIEW explode(ds) t2 AS y WHERE x < y"""
    return int(sp.sql(sql).collect()[0][0])


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in [
        SessionKeyed(
            name="session_keyed", kind="events", rate=8000, dt=0.1,
            drain_files=32, drain_per_file=10000, files_per_trigger=4,
            stream_kw={"event_dt": 0.4}, sentinel=True, delay_s=1.0,
            why="flagship session COUNT keyed by user: per-batch fixed cost and the built-in state store; sinks idle",
        ),
        LateTumblingSink(
            name="late_tumbling_sink", kind="events", rate=8000, dt=0.1,
            drain_files=40, drain_per_file=5000, files_per_trigger=4,
            stream_kw={"late_share": 0.10, "too_late_share": 0.01, "too_late_from": 8, "event_dt": 1.0},
            sentinel=True, delay_s=11.0,
            why="late-data tumbling sums into the idempotent parquet sink: window state plus late path and sink writes",
        ),
        EwmaPythonState(
            name="ewma_python_state", kind="events", rate=750, dt=0.1,
            drain_files=10, drain_per_file=2000, files_per_trigger=2,
            why="per-key EWMA in applyInPandasWithState: the Python worker and Arrow boundary dominate",
        ),
        IngestDedup(
            name="ingest_dedup", kind="docs", rate=14, dt=0.5,
            drain_files=8, drain_per_file=50, files_per_trigger=2, stream_kw={"dup_share": 0.3},
            why="near-duplicate ingestion against a growing signature index: driver plan building and the index join",
        ),
    ]
}
