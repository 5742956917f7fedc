"""Streaming benchmark for flink_samples_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run of a workload:

1. the generator (``generator.py``, its own process) writes the drain
   backlog; its first file is linked into a warm-up directory;
2. set-up: the engine's ``get_spark`` and a warm-up query, up to its
   first committed micro-batch (``setup_s``);
3. open loop: the generator writes a file every ``dt`` seconds for
   ``S`` seconds while a query with the default trigger consumes them
   (``latency_p50_s``, ``latency_p99_s``);
4. drain: a fresh query drains the backlog with a fixed
   ``maxFilesPerTrigger`` (``drain_eps``: the median over its
   micro-batches; ``cpu_ms_per_kevent``). It runs after the open loop, which warms
   the JIT: right after set-up, batch times still fall by a third over
   ten batches;
5. both outputs are checked against references computed from the
   generated files (``check.py``).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run also writes an event log
and spans and reports the per-layer metrics instead. See README.md.
"""

from __future__ import annotations

import time

T_PROC = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
YOUNG_GEN = "768m"
RUN_TIMEOUT_S = 170.0

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
    "drain_eps": "1/s",
    "cpu_ms_per_kevent": "ms",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_batch_s": "s",
    "source.latest_offset_ms": "ms",
    "source.get_batch_ms": "ms",
    "source.rows_per_batch": "count",
    "source.backlog_files_end": "count",
    "batch.count": "count",
    "batch.trigger_ms_p50": "ms",
    "batch.trigger_ms_p99": "ms",
    "batch.add_batch_ms_p50": "ms",
    "batch.self_ms": "ms",
    "plan.query_planning_ms": "ms",
    "ckpt.wal_commit_ms": "ms",
    "ckpt.commit_offsets_ms": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.all_updates_ms": "ms",
    "state.all_removals_ms": "ms",
    "state.rows_dropped_by_watermark": "count",
    "python.rows_to_worker": "count",
    "python.bytes_to_worker": "bytes",
    "python.bytes_from_worker": "bytes",
    "python.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "sink.call_s_p50": "s",
    "sink.files_written": "count",
    "sink.bytes_written": "bytes",
    "dedup.construct_s": "s",
    "dedup.pairs_write_s": "s",
    "dedup.index_append_s": "s",
    "dedup.index_files_per_batch": "count",
    "dedup.pairs_emitted": "count",
    "dedup.candidates": "count",
    "dedup.verify_yield": "ratio",
    "scale.drain_eps_local1": "1/s",
    "gen.late_s_max": "s",
    "gen.too_late_events": "count",
    "latency.samples": "count",
    "check.error_rate": "ratio",
    "trace.spans": "count",
    "trace.reconcile_violations": "count",
    "trace.latency_p50_s": "s",
    "trace.drain_eps": "1/s",
}


class BenchError(RuntimeError):
    pass


def _wait(cond, deadline: float, what: str, poll: float = 0.05):
    while True:
        v = cond()
        if v:
            return v
        if time.time() > deadline:
            raise BenchError(f"timed out waiting for {what}")
        time.sleep(poll)


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _end(p: dict) -> float:
    from spans import _progress_ts

    return _progress_ts(p) + p["durationMs"]["triggerExecution"] / 1000.0


def _pct(xs, q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = min(len(xs) - 1, max(0, int(round(q * (len(xs) - 1)))))
    return float(xs[k])


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Run:
    def __init__(self, args: argparse.Namespace):
        from spans import Tracer
        from workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.tracer = Tracer()
        self.deadline = T_PROC + RUN_TIMEOUT_S
        self.work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {k: 0.0 for k in PER_LAYER}
        self.attempted = 0
        self.failed = 0
        self.procs: list[subprocess.Popen] = []
        self.spark = None

    # ---- helpers ------------------------------------------------------
    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)

    def generator(self, mode: str, stream: int, out: str, log: str, **kw) -> subprocess.Popen:
        wl = self.wl
        per_file = wl.drain_per_file if mode == "backlog" else wl.per_file
        cmd = [sys.executable, os.path.join(HERE, "generator.py"), "--kind", wl.kind, "--mode", mode,
               "--seed", str(self.args.seed), "--stream", str(stream), "--per-file", str(per_file),
               "--dt", str(wl.dt), "--stream-kw", json.dumps(wl.stream_kw), "--out", out, "--log", log]
        for k, v in kw.items():
            cmd += [f"--{k}", str(v)] if v is not True else [f"--{k}"]
        if wl.sentinel:
            cmd.append("--sentinel")
        p = subprocess.Popen(cmd)
        self.procs.append(p)
        return p

    def read_stream(self, src: str, max_files: int | None = None):
        r = self.spark.readStream.schema(self.wl.schema)
        if max_files:
            r = r.option("maxFilesPerTrigger", max_files)
        return r.parquet(src)

    def phase(self, name: str, parent: int | None, cpu_probe=None):
        from workloads import Phase

        os.makedirs(self.path(name), exist_ok=True)
        return Phase(name, self.path(name), self.tracer, parent, cpu_probe)

    # ---- phases -------------------------------------------------------
    def prepare(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.path("tmp"))
        os.environ["TMPDIR"] = self.path("tmp")
        import tempfile

        tempfile.tempdir = self.path("tmp")
        t = time.time()
        p = self.generator("backlog", 1, self.path("drain_in"), self.path("drain.log"),
                           files=self.wl.drain_files)
        if p.wait(timeout=60) != 0:
            raise BenchError("generator failed writing the backlog")
        os.makedirs(self.path("warm_in"))
        os.link(self.path("drain_in", "000000.parquet"), self.path("warm_in", "000000.parquet"))
        self.tracer.add("phase.generate_backlog", t, time.time())

    def start_spark(self) -> None:
        extra = {
            "spark.driver.memory": DRIVER_MEM,
            "spark.local.dir": self.path("spark-local"),
            # a fixed heap and young generation: left adaptive, G1 resizes them with host timing,
            # and the resident set of identical runs differed by half
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Xmn{YOUNG_GEN} -Djava.io.tmpdir={self.path('tmp')}",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"))
            extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": self.path("eventlog"),
                          "spark.eventLog.compress": "false"})
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        # JVMs write /tmp/hsperfdata_<user> unless told not to; stay inside the checkout
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        self.t_setup0 = time.time()
        from flink_samples_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.wl.name}", extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.t_session = time.time()
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.layer["session.get_spark_s"] = self.t_session - self.t_setup0

    def stop_spark(self) -> None:
        """Stop the session and wait until its JVM, and with it the
        Python workers, has exited. The JVM exits when its stdin closes."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def run_bounded(self, name: str, src: str, max_files: int, cpu_probe=None,
                    first_batch_only: bool = False) -> tuple:
        """availableNow query over ``src``, run to its end or, with
        ``first_batch_only``, to its first committed micro-batch; returns
        (phase, progress, t_start, t_end)."""
        span = self.tracer.add(f"phase.{name}", 0, 0)
        ph = self.phase(name, span, cpu_probe)
        t0 = time.time()
        q = self.wl.start(self.read_stream(src, max_files), self.path(name, "ckpt"), ph, available_now=True)
        try:
            if first_batch_only:
                _wait(lambda: q.lastProgress is not None or not q.isActive, self.deadline, f"the first {name} batch")
            elif not q.awaitTermination(max(1.0, self.deadline - time.time())):
                raise BenchError(f"{name} query did not finish")
        finally:
            q.stop()
        t1 = time.time()
        if q.exception() is not None:
            raise BenchError(f"{name} query failed: {q.exception()}")
        self.tracer.spans[span].update(start=t0, end=t1)
        return ph, _progress(q), t0, t1

    def warmup(self) -> None:
        ph, prog, t0, _ = self.run_bounded("warm", self.path("warm_in"), 1, first_batch_only=True)
        first = _end(prog[0])
        self.metrics["setup_s"] = first - self.t_setup0
        self.layer["session.first_batch_s"] = first - t0

    def drain(self, name: str = "drain") -> None:
        """Drain the backlog. The rate is taken per micro-batch, from one
        sink return to the next (a whole batch cycle), and reported as
        the median over the full-size batches; the first batch, which
        also starts the query, has no previous return and is left out.
        CPU is summed over the same batch cycles and divided by their
        rows: /proc counts in 10 ms ticks, too coarse for one batch."""
        from procfs import cpu_s

        ph, prog, t0, t1 = self.run_bounded(name, self.path("drain_in"), self.wl.files_per_trigger,
                                            cpu_probe=lambda: cpu_s(self.jvm_pid))
        rows = {p["batchId"]: p["numInputRows"] for p in prog}
        full = self.wl.files_per_trigger * self.wl.drain_per_file
        rates, cpu, n_cpu = [], 0.0, 0
        for prev, cur in zip(ph.batches, ph.batches[1:]):
            n = rows.get(cur["batch_id"], 0)
            if n < full / 2:
                continue
            rates.append(n / (cur["t_return"] - prev["t_return"]))
            cpu, n_cpu = cpu + cur["cpu_s"] - prev["cpu_s"], n_cpu + n
        if not rates:
            raise BenchError("the drain ran no full-size micro-batch after its first")
        self.metrics["drain_eps"] = _median(rates)
        self.metrics["cpu_ms_per_kevent"] = cpu * 1000.0 / (n_cpu / 1000.0)
        self.drain_phase, self.drain_prog, self.drain_t = ph, prog, (t0, t1)

    def open_loop(self) -> None:
        span = self.tracer.add("phase.open_loop", 0, 0)
        ph = self.phase("open", span)
        land, go = self.path("open_in"), self.path("open.go")
        gen = self.generator("open", 2, land, self.path("open.log"), seconds=self.args.seconds, go=go)
        _wait(lambda: os.path.exists(os.path.join(land, "000000.parquet")), self.deadline, "file 0")
        t0 = time.time()
        q = self.wl.start(self.read_stream(land), self.path("open", "ckpt"), ph, available_now=False)
        try:
            _wait(lambda: q.lastProgress is not None or q.exception(), self.deadline, "the first open-loop batch")
            with open(go, "w"):
                pass
            while gen.poll() is None:
                if time.time() > self.deadline or q.exception() is not None:
                    raise BenchError("open loop did not finish")
                time.sleep(0.05)
            if gen.returncode != 0:
                raise BenchError("generator failed in the open loop")
            from check import read_log

            log, summary = read_log(self.path("open.log"))
            scheduled = log[log.rows == self.wl.per_file] if self.wl.sentinel else log
            done = sum(p["numInputRows"] for p in _progress(q))
            self.layer["source.backlog_files_end"] = max(0.0, (scheduled.rows.sum() - done) / self.wl.per_file)
            total = int(log.rows.sum())

            def caught_up():
                if q.exception() is not None:
                    raise BenchError(f"open-loop query failed: {q.exception()}")
                prog = _progress(q)
                st = q.status
                if sum(p["numInputRows"] for p in prog) < total or st["isTriggerActive"] or st["isDataAvailable"]:
                    return None
                if self.wl.sentinel and prog[-1]["numInputRows"] != 0:
                    return None
                return prog

            prog = _wait(caught_up, self.deadline, "the open loop to drain", poll=0.1)
        finally:
            q.stop()
        t1 = time.time()
        self.tracer.spans[span].update(start=t0, end=t1)
        self.layer["gen.late_s_max"] = summary.get("late_s_max", 0.0)
        self.open_phase, self.open_prog, self.open_t = ph, prog, (t0, t1)

    def verify(self) -> None:
        from check import read_inputs, read_log

        t = time.time()
        wl = self.wl
        too_late = 0
        for ph, name in ((self.drain_phase, "drain"), (self.open_phase, "open")):
            inputs = read_inputs(self.path(f"{name}_in"))
            log, _ = read_log(self.path(f"{name}.log"))
            a, f = wl.check(ph, inputs, log)
            self.attempted += a
            self.failed += f
            too_late += int(log.too_late.sum()) if "too_late" in log else 0
            if name == "open":
                lat = wl.latency(ph, inputs, log)
        if wl.stream_kw.get("too_late_share"):
            dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                          for p in self.drain_prog + self.open_prog for op in p.get("stateOperators") or [])
            self.layer["state.rows_dropped_by_watermark"] = dropped
            self.attempted += 1
            self.failed += int(dropped != too_late)
        self.layer["gen.too_late_events"] = too_late
        if len(lat) == 0:
            raise BenchError("no latency samples in the open loop")
        self.metrics["latency_p50_s"] = _pct(lat, 0.50)
        self.metrics["latency_p99_s"] = _pct(lat, 0.99)
        self.layer["latency.samples"] = len(lat)
        self.layer["check.error_rate"] = self.failed / max(self.attempted, 1)
        self.tracer.add("phase.check", t, time.time())
        print(f"# {wl.name}: latency p50={self.metrics['latency_p50_s']:.4f}s "
              f"p99={self.metrics['latency_p99_s']:.4f}s (n={len(lat)}); "
              f"checked {self.attempted} rows, {self.failed} wrong", flush=True)

    # ---- per-layer ----------------------------------------------------
    def layers(self) -> None:
        from spans import parse_event_log, progress_spans

        from workloads import dir_files_bytes

        L = self.layer
        rows = progress_spans(self.tracer, self.open_prog, "open", self.open_phase.parent_span)
        drain_rows = progress_spans(self.tracer, self.drain_prog, "drain", self.drain_phase.parent_span)
        data = [r for r in rows if r["rows"] > 0] or rows
        L["batch.count"] = len(rows)
        L["source.latest_offset_ms"] = _median(r["latestOffset"] for r in rows)
        L["source.get_batch_ms"] = _median(r["getBatch"] for r in rows)
        L["source.rows_per_batch"] = _median(r["rows"] for r in data)
        L["batch.trigger_ms_p50"] = _median(r["trigger_ms"] for r in rows)
        L["batch.trigger_ms_p99"] = _pct([r["trigger_ms"] for r in rows], 0.99)
        L["batch.add_batch_ms_p50"] = _median(r["addBatch"] for r in rows)
        L["batch.self_ms"] = _median(r["self_ms"] for r in rows)
        L["plan.query_planning_ms"] = _median(r["queryPlanning"] for r in rows)
        L["ckpt.wal_commit_ms"] = _median(r["walCommit"] for r in rows)
        L["ckpt.commit_offsets_ms"] = _median(r["commitOffsets"] for r in rows)
        L["trace.reconcile_violations"] = sum(1 for r in rows + drain_rows if r["self_ms"] < 0)

        def state(key):
            return [sum(op.get(key, 0) for op in r["state"]) for r in rows]

        if any(r["state"] for r in rows):
            L["state.rows_total"] = max(state("numRowsTotal"))
            L["state.memory_bytes"] = max(state("memoryUsedBytes"))
            L["state.commit_ms"] = _median(state("commitTimeMs"))
            L["state.all_updates_ms"] = _median(state("allUpdatesTimeMs"))
            L["state.all_removals_ms"] = _median(state("allRemovalsTimeMs"))
        L.update(parse_event_log(self.path("eventlog"), self.open_t[0], self.drain_t[1]))

        batches = self.open_phase.batches
        L["sink.call_s_p50"] = _median(b["sink_s"] for b in batches)
        files, size = 0, 0
        for ph in (self.drain_phase, self.open_phase):
            f, b = dir_files_bytes(ph.sink_dir)
            files, size = files + f, size + b
        L["sink.files_written"], L["sink.bytes_written"] = files, size
        if self.wl.kind == "docs":
            both = self.drain_phase.batches + batches
            L["dedup.construct_s"] = _median(b["construct_s"] for b in both)
            L["dedup.pairs_write_s"] = _median(b["pairs_write_s"] for b in both)
            L["dedup.index_append_s"] = _median(b["index_append_s"] for b in both)
            L["dedup.index_files_per_batch"] = statistics.mean(b["index_files"] for b in both)
            pairs = sum(len(self.wl.actual(ph)) for ph in (self.drain_phase, self.open_phase))
            cands = sum(b["candidates"] for b in both)
            L["dedup.pairs_emitted"], L["dedup.candidates"] = pairs, cands
            L["dedup.verify_yield"] = pairs / cands if cands else 0.0
        L["trace.latency_p50_s"] = self.metrics["latency_p50_s"]
        L["trace.drain_eps"] = self.metrics["drain_eps"]

    def scale_local1(self) -> None:
        """The same drain with SPARK_GRAFT_CPUS=1, in a child process."""
        env = dict(os.environ, SPARK_GRAFT_CPUS="1")
        env.pop("SPARK_LOCAL_DIRS", None)
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", self.wl.name, "--seed",
               str(self.args.seed), "--seconds", str(self.args.seconds), "--trace", "0", "--drain-only"]
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, cwd=ROOT)
        self.procs.append(p)
        out, _ = p.communicate(timeout=max(5.0, self.deadline - time.time()))
        if p.returncode != 0:
            raise BenchError("the local[1] drain failed")
        res = json.loads(out.strip().splitlines()[-1])
        self.layer["scale.drain_eps_local1"] = res["metrics"]["drain_eps"]["value"]

    # ---- driver -------------------------------------------------------
    def execute(self) -> dict:
        from procfs import peak_rss_mb

        self.prepare()
        if self.trace and self.wl.kind == "docs":
            self.wl.count_candidates = True
        try:
            self.start_spark()
            self.warmup()
            # the drain-only child warms up with a first drain instead of the open loop
            self.drain("predrain") if self.args.drain_only else self.open_loop()
            self.drain()
            if self.args.drain_only:
                return {k: self.metrics[k] for k in ("setup_s", "drain_eps")}
            self.metrics["peak_rss_mb"] = peak_rss_mb(self.jvm_pid)
        finally:
            self.stop_spark()
        self.verify()
        if not self.trace:
            return {k: self.metrics[k] for k in END_TO_END}
        self.layers()
        self.scale_local1()
        self.layer["trace.spans"] = len(self.tracer.spans) + 1
        self.tracer.add("run", T_PROC, time.time())
        self.tracer.write(os.path.join(ROOT, ".perfbench_run", f"spans-{self.wl.name}.json"))
        return self.layer

    def close(self, keep: bool) -> None:
        for p in self.procs:
            if p.poll() is None:
                p.kill()
            p.wait()
        if not keep:
            shutil.rmtree(self.work, ignore_errors=True)


def parse_args(argv=None) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="open-loop schedule length")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--drain-only", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def main() -> int:
    if not os.path.isfile(os.path.join(ROOT, "flink_samples_spark", "session.py")):
        print("perfbench: run from a checkout of the repository; flink_samples_spark/ is missing",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    args = parse_args()
    run = Run(args)
    units = PER_LAYER if args.trace else END_TO_END
    code = 1
    try:
        metrics = run.execute()
        result = {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed}
        code = 0
    except Exception:
        traceback.print_exc()
        metrics = {}
        result = {"correct": False, "attempted": max(run.attempted, 1), "failed": max(run.attempted, 1)}
        code = 1
    finally:
        run.close(keep=code != 0 or run.failed > 0)  # keep a failed run's files to look at
    if args.drain_only:
        result.update(attempted=max(result["attempted"], 1))
        units = {**END_TO_END}
    result["metrics"] = {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
