"""Steadiness check: run workloads on several seeds and report, per
end-to-end metric, the median and the spread (distance between the
first and third quartile, ``statistics.quantiles(n=4)``) as a share
of the median, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --workloads session_keyed --seeds 1-5 [--trace]

Run from the repository root. Results go to stdout and, as JSON, to
``--out`` (default ``.perfbench_run/steady.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t = time.time()
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=200)
    wall = time.time() - t
    res = json.loads(out.stdout.strip().splitlines()[-1])
    res["exit"] = out.returncode
    return res, wall


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True, help="comma-separated workload names")
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,7,9")
    ap.add_argument("--trace", action="store_true", help="also make one traced run per workload")
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_run", "steady.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for wl in args.workloads.split(","):
        runs = []
        for s in seeds(args.seeds):
            res, wall = run_once(wl, s, bench["run_seconds"], 0)
            runs.append({"seed": s, "wall_s": wall, **res})
            vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"{wl} seed={s} wall={wall:.1f}s correct={res['correct']} {vals}", flush=True)
        summary = {}
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
            if len(vals) >= 2:
                summary[name] = {"median": statistics.median(vals), "spread": spread(vals), "bound": bound}
                print(f"  {name:20s} median={summary[name]['median']:.4f} "
                      f"spread={summary[name]['spread']:.3f} bound={bound}", flush=True)
        walls = [r["wall_s"] for r in runs]
        print(f"  wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s", flush=True)
        entry = {"runs": runs, "summary": summary}
        if args.trace:
            res, wall = run_once(wl, seeds(args.seeds)[0], bench["run_seconds"], 1)
            m = {k: v["value"] for k, v in res["metrics"].items()}
            entry["traced"] = {"wall_s": wall, **res}
            for name in ("latency_p50_s", "drain_eps"):
                if f"trace.{name}" in m and name in summary:
                    over = m[f"trace.{name}"] / summary[name]["median"] - 1.0
                    entry["traced"][f"overhead.{name}"] = over
                    print(f"  traced {name}: {m[f'trace.{name}']:.4f} ({over:+.1%} vs untraced median)")
        report[wl] = entry
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
