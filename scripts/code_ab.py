#!/usr/bin/env python
"""Same-host code A/B — the repo's standing bench-flag adjudicator
(BASELINE.md protocol, mechanized in round 13).

When `bench_compare.py` flags a query, the question is always "code or
host?" — and round-over-round snapshot ratios cannot answer it because
the two records captured different host windows. This tool answers it
the way rounds 11-12 did by hand: extract the OLD code into a temp
directory and run BOTH trees through identical process blocks,
ALTERNATING old/new within the same minutes, so every comparison pair
shares one host window.

    python scripts/code_ab.py OLD_REF q_a q_b ...
    python scripts/code_ab.py OLD_REF q_a --blocks 3 --samples 2 \
        --sf-dir /root/testdata/sf0.1
    python scripts/code_ab.py OLD_REF --perfbench ewma_python_state \
        --pairs 10 --seeds 11-20

Per block it runs both trees (fresh process each, same query list,
best-of-``--samples`` per query inside the process), old first on even
blocks and new first on odd ones, and the verdict
per query is min-across-blocks(new) / min-across-blocks(old): the min
over alternating blocks is the fairest same-window estimate either
tree gets. Ratios ≤ ~1.1 mean the flag was host noise (A/B-REFUTED);
sustained ratios above that are a real code regression and point at
the diff. Exit code is 0 always — the output is an adjudication
record, not a gate; pipe it into the round notes.

``--perfbench WORKLOAD`` A/Bs the streaming benchmark instead: each
pair runs ``perfbench/run.py`` once per tree on the same seed (seeds
cycle through ``--seeds``), alternating which tree goes first. The
summary gives, per BENCHMARK.json end-to-end metric (plus the
per-layer ones with ``--trace 1``), each side's median and quartiles
and the share of pairs the new tree won; ties count for neither.

The old tree is extracted with ``git archive`` into a temp directory
(honours TMPDIR) and removed afterwards; the repo's working tree is
never touched.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The per-process runner: times each named query best-of-N with the
# noop sink (full execution, zero driver transfer), construction inside
# the timing, caches cleared between runs — the same measurement
# bench.py makes. Written to a temp file so BOTH trees run the exact
# same measurement code regardless of what their checked-out bench.py
# looks like.
RUNNER = r'''
import json, os, sys, time

repo, sf_dir, samples = sys.argv[1], sys.argv[2], int(sys.argv[3])
names = sys.argv[4:]
sys.path.insert(0, repo)
from flink_samples_spark.plans import QUERIES
from flink_samples_spark.session import get_spark

spark = get_spark(app_name="code-ab")
spark.sparkContext.setLogLevel("ERROR")
out = {}
for name in names:
    try:
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()  # warm the lane; timings below re-execute in full
        spark.catalog.clearCache()
        best = float("inf")
        for _ in range(samples):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
        out[name] = round(best, 3)
    except Exception as e:  # noqa: BLE001 — its own row
        out[name] = f"ERROR {type(e).__name__}: {e}"[:200]
print("AB_RESULT " + json.dumps(out))
'''


def run_tree(repo: str, runner: str, sf_dir: str, samples: int,
             names: list[str]) -> dict:
    proc = subprocess.run(
        [sys.executable, runner, repo, sf_dir, str(samples), *names],
        capture_output=True,
        text=True,
        cwd="/tmp",  # neither tree's cwd-relative state leaks in
    )
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("AB_RESULT "):
            return json.loads(line[len("AB_RESULT "):])
    return {n: f"ERROR runner rc={proc.returncode}: "
               f"{proc.stderr.strip()[-150:]}" for n in names}


def perfbench_run(repo: str, workload: str, seed: int, seconds: float,
                  trace: int) -> dict | None:
    """One ``perfbench/run.py`` process in ``repo``; its result line as
    a dict, or None when the run printed none."""
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, cwd=repo,
    )
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    return None


def summarize(pairs: list[tuple[dict, dict]],
              metrics: list[tuple[str, str]]) -> list[dict]:
    """Per metric: each side's median and quartiles, and how many pairs
    the new side won. ``pairs`` holds (old, new) name→value dicts from
    the same seed; ``metrics`` holds (name, "higher"|"lower") — which
    direction is better. A tie, or a pair missing the metric on either
    side, counts for neither side."""

    def spread(vals: list[float]) -> dict:
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med,) * 3
        return {"median": med, "q1": q1, "q3": q3}

    rows = []
    for name, better in metrics:
        both = [(o[name], n[name]) for o, n in pairs if name in o and name in n]
        if not both:
            continue
        sign = 1 if better == "higher" else -1
        rows.append({
            "name": name,
            "better": better,
            "old": spread([o for o, _ in both]),
            "new": spread([n for _, n in both]),
            "wins": sum(sign * (n - o) > 0 for o, n in both),
            "pairs": len(pairs),
        })
    return rows


def format_summary(rows: list[dict]) -> str:
    def q(side: dict) -> str:
        return f"{side['median']:.4g} [{side['q1']:.4g}, {side['q3']:.4g}]"

    out = ["| metric | better | old median [q1, q3] | new median [q1, q3] "
           "| change | new won |", "|---|---|---|---|---|---|"]
    for r in rows:
        o, n = r["old"]["median"], r["new"]["median"]
        change = f"{n / o - 1:+.1%}" if o else "—"
        out.append(f"| {r['name']} | {r['better']} | {q(r['old'])} | "
                   f"{q(r['new'])} | {change} | {r['wins']}/{r['pairs']} |")
    return "\n".join(out)


def seed_list(spec: str) -> list[int]:
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def block_order(i: int, old_tree: str) -> list[tuple[str, str]]:
    """(side, tree) in the order block or pair ``i`` runs them: old
    first on even ``i``, new first on odd, so neither tree always runs
    right after the other's process exits."""
    order = [("old", old_tree), ("new", ROOT)]
    return order[::-1] if i % 2 else order


def run_perfbench(args: argparse.Namespace, old_tree: str, label: str) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    if args.trace:
        metrics += [(m["name"], m["better"]) for m in bench["per_layer"]]
    seeds = seed_list(args.seeds)
    pairs, failed = [], {"old": 0, "new": 0}
    for i in range(args.pairs):
        seed = seeds[i % len(seeds)]
        got = {}
        for side, repo in block_order(i, old_tree):
            res = perfbench_run(repo, args.perfbench, seed,
                                bench["run_seconds"], args.trace)
            if res is None or res.get("failed", 1) or not res.get("correct"):
                failed[side] += 1
            got[side] = {k: v["value"] for k, v in (res or {}).get("metrics", {}).items()}
            print(f"pair {i + 1}/{args.pairs} seed={seed} {side}: "
                  f"{json.dumps(res)}", file=sys.stderr, flush=True)
        pairs.append((got["old"], got["new"]))
    print(f"# perfbench A/B: {label} -> working tree, workload "
          f"{args.perfbench}, {args.pairs} alternating pairs, seeds "
          f"{args.seeds}, trace {args.trace}")
    print(f"failed runs: old {failed['old']}/{args.pairs}, "
          f"new {failed['new']}/{args.pairs}")
    print(format_summary(summarize(pairs, metrics)))


def run_queries(args: argparse.Namespace, old_tree: str, label: str) -> None:
    blocks: list[dict[str, dict]] = []
    with tempfile.TemporaryDirectory(prefix="code_ab_runner_") as d:
        runner = os.path.join(d, "runner.py")
        with open(runner, "w") as f:
            f.write(RUNNER)
        for b in range(args.blocks):
            block = {}
            for side, repo in block_order(b, old_tree):
                block[side] = run_tree(repo, runner, args.sf_dir,
                                       args.samples, args.queries)
                print(f"block {b + 1}/{args.blocks} {side}: "
                      f"{json.dumps(block[side])}", file=sys.stderr)
            blocks.append(block)
    print(f"# code A/B: {label} -> HEAD, "
          f"{args.blocks} alternating blocks × best-of-{args.samples}, "
          f"sf_dir={args.sf_dir}")
    print("| query | old min s | new min s | ratio | verdict |")
    print("|---|---|---|---|---|")
    for q in args.queries:
        olds = [b["old"].get(q) for b in blocks]
        news = [b["new"].get(q) for b in blocks]
        o_num = [x for x in olds if isinstance(x, (int, float))]
        n_num = [x for x in news if isinstance(x, (int, float))]
        if not o_num or not n_num:
            print(f"| {q} | {olds} | {news} | — | ERROR |")
            continue
        o, n = min(o_num), min(n_num)
        r = n / o if o > 0 else float("inf")
        verdict = ("A/B-REFUTED (host noise)" if r <= 1.1
                   else "INVESTIGATE: real code delta" if r > 1.2
                   else "borderline — add blocks")
        print(f"| {q} | {o:.3f} | {n:.3f} | {r:.2f}x | {verdict} |")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("old_ref", help="git ref of the OLD code (e.g. the "
                                    "prior round's snapshot commit)")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--blocks", type=int, default=3,
                    help="alternating old/new process blocks (default 3)")
    ap.add_argument("--samples", type=int, default=2,
                    help="best-of-N inside each process (default 2)")
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--perfbench", metavar="WORKLOAD",
                    help="A/B this perfbench workload instead of queries")
    ap.add_argument("--pairs", type=int, default=10,
                    help="perfbench: alternating old/new pairs (default 10)")
    ap.add_argument("--seeds", default="1-10",
                    help="perfbench: seed range A-B, cycled over the pairs")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0,
                    help="perfbench: --trace value passed to run.py")
    args = ap.parse_args()
    if not args.perfbench and not args.queries:
        ap.error("name at least one query, or --perfbench WORKLOAD")

    old_sha = subprocess.run(
        ["git", "rev-parse", "--short", args.old_ref],
        capture_output=True, text=True, cwd=ROOT, check=True,
    ).stdout.strip()
    old_tree = tempfile.mkdtemp(prefix=f"code_ab_{old_sha}_")
    archive = subprocess.run(["git", "archive", args.old_ref], cwd=ROOT,
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", old_tree], input=archive, check=True)
    label = f"{args.old_ref} ({old_sha})"
    try:
        if args.perfbench:
            run_perfbench(args, old_tree, label)
        else:
            run_queries(args, old_tree, label)
    finally:
        shutil.rmtree(old_tree, ignore_errors=True)


if __name__ == "__main__":
    main()
