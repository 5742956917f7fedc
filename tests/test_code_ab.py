"""scripts/code_ab.py — the mechanized same-host code A/B
(BASELINE.md protocol). The heavy path (old-tree checkout + two Spark
processes per block) is exercised live each time a bench flag is
adjudicated; these tests pin the cheap contracts that would otherwise
only fail mid-adjudication."""

from __future__ import annotations

import ast
import importlib.util
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(ROOT, "scripts", "code_ab.py")


def _load():
    spec = importlib.util.spec_from_file_location("code_ab", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_runner_source_is_valid_python():
    """The per-process runner is shipped as a STRING into both code
    trees — a syntax error in it would kill every block of a live
    adjudication with an opaque rc!=0 row."""
    ast.parse(_load().RUNNER)


def test_help_runs_and_documents_the_protocol():
    r = subprocess.run(
        [sys.executable, SCRIPT, "--help"], capture_output=True, text=True
    )
    assert r.returncode == 0
    assert "OLD_REF" in r.stdout or "old_ref" in r.stdout
    assert "--blocks" in r.stdout


def test_run_tree_surfaces_runner_failure_as_error_rows(tmp_path):
    """A tree whose runner process dies (missing repo, import error)
    must yield per-query ERROR rows, not crash the adjudication."""
    mod = _load()
    runner = tmp_path / "runner.py"
    runner.write_text("import sys; sys.exit(3)\n")
    out = mod.run_tree("/nonexistent", str(runner), "/tmp", 1, ["q_x", "q_y"])
    assert set(out) == {"q_x", "q_y"}
    assert all(str(v).startswith("ERROR") for v in out.values())


def test_run_tree_parses_result_line(tmp_path):
    mod = _load()
    runner = tmp_path / "runner.py"
    runner.write_text(
        "import json,sys\n"
        "print('noise before')\n"
        "print('AB_RESULT ' + json.dumps({n: 1.5 for n in sys.argv[4:]}))\n"
    )
    out = mod.run_tree("/anywhere", str(runner), "/tmp", 2, ["q_a"])
    assert out == {"q_a": 1.5}


def test_summarize_medians_quartiles_and_wins():
    """The perfbench A/B summary: per-side median and quartiles, and
    the pairs the new side won in the metric's better direction — a
    tie or a pair missing the metric counts for neither side."""
    mod = _load()
    pairs = [
        ({"drain_eps": 100.0, "latency_p50_s": 0.5}, {"drain_eps": 130.0, "latency_p50_s": 0.4}),
        ({"drain_eps": 110.0, "latency_p50_s": 0.5}, {"drain_eps": 110.0, "latency_p50_s": 0.6}),
        ({"drain_eps": 90.0, "latency_p50_s": 0.5}, {"drain_eps": 120.0, "latency_p50_s": 0.5}),
        ({"drain_eps": 120.0}, {}),  # a failed new run: no metrics
    ]
    rows = mod.summarize(
        pairs, [("drain_eps", "higher"), ("latency_p50_s", "lower"), ("setup_s", "lower")]
    )
    by = {r["name"]: r for r in rows}
    assert set(by) == {"drain_eps", "latency_p50_s"}  # no data, no row
    d = by["drain_eps"]
    assert d["old"]["median"] == 100.0 and d["new"]["median"] == 120.0
    assert (d["old"]["q1"], d["old"]["q3"]) == (90.0, 110.0)
    assert d["wins"] == 2 and d["pairs"] == 4  # tie and missing count for neither
    lat = by["latency_p50_s"]
    assert lat["wins"] == 1  # lower is better: 0.4 < 0.5 only
    # one pair: quartiles collapse onto the value instead of raising
    one = mod.summarize([({"x": 1.0}, {"x": 2.0})], [("x", "higher")])[0]
    assert one["old"] == {"median": 1.0, "q1": 1.0, "q3": 1.0}
    table = mod.format_summary(rows)
    assert "| drain_eps | higher | 100 [90, 110] | 120 [110, 130] | +20.0% | 2/4 |" in table


def test_seed_list_accepts_range_and_single_seed():
    mod = _load()
    assert mod.seed_list("11-14") == [11, 12, 13, 14]
    assert mod.seed_list("5") == [5]


def test_query_blocks_alternate_which_tree_runs_first(tmp_path, monkeypatch):
    """Query mode must not always start the new tree right after the
    old one exits (an order effect read up to 1.22x on trees that do
    the same work): blocks alternate the order, as perfbench pairs do."""
    import argparse

    mod = _load()
    calls = []

    def fake_run_tree(repo, runner, sf_dir, samples, names):
        calls.append(repo)
        return {n: 1.0 for n in names}

    monkeypatch.setattr(mod, "run_tree", fake_run_tree)
    args = argparse.Namespace(blocks=3, samples=1, sf_dir="/tmp", queries=["q_a"])
    mod.run_queries(args, "OLD", "label")
    assert calls == ["OLD", mod.ROOT, mod.ROOT, "OLD", "OLD", mod.ROOT]
    assert mod.block_order(1, "OLD") == [("new", mod.ROOT), ("old", "OLD")]
