"""Tracing for the benchmark: spans kept in memory, micro-batch
progress turned into spans, self time, and the Spark event-log reader.

Spans come from three places, all outside the engine:

- the benchmark's own run phases (setup, warm-up, drain, open loop);
- ``StreamingQuery.recentProgress``: one span per micro-batch, with
  its ``durationMs`` phases as child spans laid end to end (progress
  gives durations, not start times);
- the benchmark's wrappers around its calls into ``streaming.sinks``
  and ``llmops.dedup`` inside ``foreachBatch``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from datetime import datetime

# durationMs phases that are children of triggerExecution
PROGRESS_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


class Tracer:
    """In-memory span list, written out once at the end of a run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._next = 0

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        with self._lock:
            sid = self._next
            self._next += 1
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, **attrs})
        return sid

    def timed(self, name: str, parent: int | None = None, **attrs) -> "_Timed":
        return _Timed(self, name, parent, attrs)

    def write(self, path: str) -> None:
        """Write every span with its self time in seconds (``self``)."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        with open(path, "w") as f:
            json.dump([{**s, "self": self_time(s, kids[s["id"]])} for s in self.spans], f)


class _Timed:
    def __init__(self, tracer: Tracer, name: str, parent: int | None, attrs: dict):
        self.tracer, self.name, self.parent, self.attrs = tracer, name, parent, attrs

    def __enter__(self) -> "_Timed":
        self.start = time.time()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.time()
        self.id = self.tracer.add(self.name, self.start, self.end, self.parent, **self.attrs)


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it that its children cover
    (overlapping children are merged, so nothing counts twice)."""
    ivs = sorted((max(c["start"], span["start"]), min(c["end"], span["end"])) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


def _progress_ts(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def progress_spans(tracer: Tracer, progress: list[dict], query: str, parent: int | None) -> list[dict]:
    """Add one span per micro-batch and one child per ``durationMs``
    phase. Returns per-batch rows: trigger time, the phases, and self
    time (trigger minus the phases), all in ms."""
    rows = []
    for p in progress:
        d = p.get("durationMs") or {}
        trig = d.get("triggerExecution")
        if trig is None:
            continue
        start = _progress_ts(p)
        bid = tracer.add("micro_batch", start, start + trig / 1000.0, parent,
                         query=query, batch_id=p["batchId"], rows=p.get("numInputRows", 0))
        t = start
        for ph in PROGRESS_PHASES:
            ms = d.get(ph)
            if ms is None:
                continue
            tracer.add(ph, t, t + ms / 1000.0, bid, query=query, batch_id=p["batchId"])
            t += ms / 1000.0
        phase_ms = {ph: d.get(ph, 0) for ph in PROGRESS_PHASES}
        rows.append({"batch_id": p["batchId"], "span": bid, "trigger_ms": trig,
                     "self_ms": trig - sum(phase_ms.values()), **phase_ms,
                     "rows": p.get("numInputRows", 0), "start": start,
                     "state": p.get("stateOperators") or []})
    return rows


# ---- Spark event log --------------------------------------------------

PY_BYTES_TO = "data sent to Python workers"
PY_BYTES_FROM = "data returned from Python workers"
PY_EXEC = "time to run Python workers"


def _event_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``: Spark 4 writes a rolling
    ``eventlog_v2_*`` directory of ``events_<n>_*`` parts; older
    layouts write one file per application."""
    parts = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if parts:
        return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))


def _python_input_accums(plan: dict, out: set[int]) -> None:
    """Accumulator ids of the "number of output rows" metric of the
    nearest descendant below each Python operator: the rows sent to
    the Python worker."""
    name = plan.get("nodeName", "")
    if "Python" in name or "InPandas" in name:
        todo = list(plan.get("children", []))
        while todo:
            node = todo.pop(0)
            ids = [m["accumulatorId"] for m in node.get("metrics", []) if m["name"] == "number of output rows"]
            if ids:
                out.update(ids)
                break
            todo.extend(node.get("children", []))
    for c in plan.get("children", []):
        _python_input_accums(c, out)


def parse_event_log(log_dir: str, t_from: float = 0.0, t_to: float = float("inf")) -> dict:
    """Engine metrics of the jobs submitted in [t_from, t_to] (epoch s).

    Returns jobs, tasks, executor run/CPU/GC seconds, shuffle bytes,
    spill bytes, the task skew of shuffle-reading stages (max/median
    task run time, median over stages), and the Python runner's SQL
    metrics."""
    jobs: set[int] = set()
    stage_job: dict[int, int] = {}
    py_rows_ids: set[int] = set()
    task_rows = []
    accum: dict[str, float] = defaultdict(float)
    py_rows = 0.0
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    t = e["Submission Time"] / 1000.0
                    if t_from <= t <= t_to:
                        jobs.add(e["Job ID"])
                        for sid in e["Stage IDs"]:
                            stage_job[sid] = e["Job ID"]
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    _python_input_accums(e.get("sparkPlanInfo", {}), py_rows_ids)
                elif kind == "SparkListenerTaskEnd":
                    if e["Stage ID"] not in stage_job:
                        continue
                    m = e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    task_rows.append({
                        "stage": (e["Stage ID"], e["Stage Attempt ID"]),
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "sw": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
                    for a in e["Task Info"].get("Accumulables", []):
                        name = a.get("Name")
                        if name in (PY_BYTES_TO, PY_BYTES_FROM, PY_EXEC):
                            accum[name] += float(a.get("Update", 0))
                        if a.get("ID") in py_rows_ids:
                            py_rows += float(a.get("Update", 0))
    by_stage: dict[tuple, list[float]] = defaultdict(list)
    for r in task_rows:
        if r["sr"] > 0:
            by_stage[r["stage"]].append(r["run_ms"])
    skews = [max(v) / max(statistics.median(v), 1.0) for v in by_stage.values() if len(v) >= 2]
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": len(task_rows),
        "spark.executor_run_s": sum(r["run_ms"] for r in task_rows) / 1000.0,
        "spark.executor_cpu_s": sum(r["cpu_ns"] for r in task_rows) / 1e9,
        "spark.gc_s": sum(r["gc_ms"] for r in task_rows) / 1000.0,
        "spark.shuffle_write_bytes": sum(r["sw"] for r in task_rows),
        "spark.shuffle_read_bytes": sum(r["sr"] for r in task_rows),
        "spark.spill_bytes": sum(r["spill"] for r in task_rows),
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
        "python.rows_to_worker": py_rows,
        "python.bytes_to_worker": accum[PY_BYTES_TO],
        "python.bytes_from_worker": accum[PY_BYTES_FROM],
        "python.exec_ms": accum[PY_EXEC],
    }
