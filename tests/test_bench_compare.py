"""bench_compare.py + bench.py contention-proofing contracts
(round-10 verdict items 1 and 4).

The official round record is read through these two files; their
fields must suffice to classify a timing outlier as co-tenant load
without narrative. These tests pin: the probe-less fallback, the
LOAD-SUSPECT annotation on flagged queries, and bench.py's
suite-start load gate.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(ROOT, "scripts", "bench_compare.py")


def run_compare(tmp_path, old: dict, new: dict, *extra: str):
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    return subprocess.run(
        [sys.executable, SCRIPT, str(po), str(pn), *extra],
        capture_output=True,
        text=True,
    )


def test_probe_less_pair_falls_back(tmp_path):
    """r10 verdict item 4: a pair with NO drift probes on either side
    must take the explicit 'no usable drift probes — raw ratios only'
    path — factor 1.0, normalized column == raw column, exit 0."""
    old = {"queries": {"q_a": 1.0, "q_b": 2.0}}
    new = {"queries": {"q_a": 1.2, "q_b": 2.0}}
    r = run_compare(tmp_path, old, new)
    assert r.returncode == 0, r.stdout + r.stderr
    assert "drift factor: 1.000" in r.stdout
    assert "no usable drift probes — raw ratios only" in r.stdout
    assert "| q_a | 1.000 | 1.200 | 1.20x | 1.20x |  |" in r.stdout


def test_zero_valued_probes_fall_back(tmp_path):
    """Shared probe names whose values are zero must hit the same
    fallback, not divide by zero or skew the geomean."""
    old = {"queries": {"q_a": 1.0}, "drift_probes": {"p1": 0.0, "p2": 0.0}}
    new = {"queries": {"q_a": 1.0}, "drift_probes": {"p1": 0.1, "p2": 0.0}}
    r = run_compare(tmp_path, old, new)
    assert r.returncode == 0, r.stdout + r.stderr
    assert "drift factor: 1.000" in r.stdout
    assert "no usable drift probes — raw ratios only" in r.stdout


def test_data_heavy_probe_preferred_for_normalization(tmp_path):
    """r12 verdict item 2: when both sides carry the seconds-long
    data-heavy probe (sf_scan_agg), the drift factor is ITS ratio —
    the sub-second fixed-overhead probes stay flat under co-tenant
    steal and over-flag data-heavy queries when averaged in. Here the
    small probes read flat (1.0×) while the data probe reads 2× and
    q_a reads 2×: with the preference q_a normalizes to 1.0 (host),
    with the old geomean-of-all it would read ~1.26× and flag."""
    old = {
        "queries": {"q_a": 2.0},
        "drift_probes": {"range_sum": 0.2, "range_group": 0.4, "sf_scan_agg": 1.2},
    }
    new = {
        "queries": {"q_a": 4.0},
        "drift_probes": {"range_sum": 0.2, "range_group": 0.4, "sf_scan_agg": 2.4},
    }
    r = run_compare(tmp_path, old, new, "--strict")
    assert r.returncode == 0, r.stdout + r.stderr
    assert "drift factor: 2.000" in r.stdout
    assert "data-heavy probe ratio (sf_scan_agg 2.00x" in r.stdout
    assert "fixed-overhead probes, informational" in r.stdout
    assert "| q_a | 2.000 | 4.000 | 2.00x | 1.00x |  |" in r.stdout
    assert "no normalized regressions above threshold" in r.stdout


def test_amplified_only_regression_is_not_flagged(tmp_path):
    """r13 flag rule: when the drift factor is < 1 (new-side host
    FASTER), normalization AMPLIFIES ratios — a query whose raw ratio
    is clean must not flag on the amplified number alone (three
    rounds of A/Bs adjudicated every such flag as host noise), while
    a query over the threshold on BOTH raw and normalized still
    flags."""
    old = {
        "queries": {"q_clean": 1.0, "q_slow": 1.0},
        "drift_probes": {"sf_scan_agg": 2.0},
    }
    new = {
        # factor 0.5: q_clean raw 1.1x -> normalized 2.2x (amplified
        # past threshold, raw clean); q_slow raw 1.5x -> normalized 3x
        "queries": {"q_clean": 1.1, "q_slow": 1.5},
        "drift_probes": {"sf_scan_agg": 1.0},
    }
    r = run_compare(tmp_path, old, new, "--strict")
    assert r.returncode == 1, r.stdout + r.stderr
    assert "drift factor: 0.500" in r.stdout
    clean = next(line for line in r.stdout.splitlines() if "| q_clean |" in line)
    slow = next(line for line in r.stdout.splitlines() if "| q_slow |" in line)
    assert "REGRESSION" not in clean
    assert "REGRESSION" in slow
    assert "FLAGGED (1): q_slow" in r.stdout


def test_probe_failure_is_recorded_not_fatal(monkeypatch):
    """r12 ADVICE (medium): a probe that raises — e.g. the py_udf
    worker lane failing worker-side — must cost its own row and land
    in the gate's probe_errors, never abort the gate or the suite."""
    bench = _load_bench_module()

    class _NoopWriter:
        """Mimics df.write.format('noop').mode('overwrite').save()."""

        @property
        def write(self):
            return self

        def format(self, _):
            return self

        def mode(self, _):
            return self

        def save(self):
            return None

    def fake_probe_fns(spark):
        def boom():
            raise RuntimeError("worker died")

        return (("good", _NoopWriter), ("bad", boom))

    monkeypatch.setattr(bench, "_drift_probe_fns", fake_probe_fns)
    errs: dict = {}
    best = bench._run_probes(spark=None, errors=errs)
    assert "good" in best and "bad" not in best
    assert "bad" in errs and "worker died" in errs["bad"]


def test_gate_refuses_covert_data_lane_steal(monkeypatch):
    """r13: a window where the sub-second probes read flat but the
    data-heavy probe reads past $SPARK_GRAFT_BENCH_DATA_PROBE_GATE
    (covert co-tenant steal — measured at cgroup load1 0.07) must NOT
    pass even though the geomean clears 1.2; the record says why."""
    bench = _load_bench_module()
    ref = json.load(open(os.path.join(ROOT, "scripts",
                                      "quiet_host_reference.json")))["probes"]
    covert = dict(ref)
    covert["sf_scan_agg"] = ref["sf_scan_agg"] * 1.7  # small probes flat
    monkeypatch.setattr(
        bench, "_run_probes", lambda spark, errors=None: dict(covert)
    )
    gate = bench.probe_preflight_gate(spark=None, budget_s=0.0)
    assert gate["result"] == "timed_out"
    assert gate["factor"] <= 1.2  # the geomean alone would have passed
    assert "sf_scan_agg" in gate["data_probe_over"]

    quiet = dict(ref)
    quiet["sf_scan_agg"] = ref["sf_scan_agg"] * 1.2  # known-quiet band
    monkeypatch.setattr(
        bench, "_run_probes", lambda spark, errors=None: dict(quiet)
    )
    gate = bench.probe_preflight_gate(spark=None, budget_s=0.0)
    assert gate["result"] == "passed"
    assert "data_probe_over" not in gate


def test_gate_with_all_probes_failing_records_error(monkeypatch):
    """Every probe failing leaves nothing to gate on: the gate must
    record result='error' (with the probe_errors), not fake a pass
    through an empty geomean — and still never abort."""
    bench = _load_bench_module()

    def all_fail(spark, errors=None):
        if errors is not None:
            errors["range_sum"] = "RuntimeError: boom"
        return {}

    monkeypatch.setattr(bench, "_run_probes", all_fail)
    gate = bench.probe_preflight_gate(spark=None, budget_s=0.0)
    assert gate["result"] == "error"
    assert "range_sum" in gate.get("probe_errors", {})


def test_flagged_query_under_load_is_annotated(tmp_path):
    """A flagged regression whose timed runs started above the gate
    threshold gets a LOAD-SUSPECT annotation carrying the samples —
    the mechanical classification the r10 verdict asked for."""
    old = {
        "queries": {"q_hot": 1.0, "q_quiet": 1.0},
        "drift_probes": {"p1": 0.1},
        "query_load": {"q_hot": [1.0, 1.1], "q_quiet": [1.0, 1.0]},
        "load_gate": {"threshold": 8.0, "result": "passed"},
    }
    new = {
        "queries": {"q_hot": 3.0, "q_quiet": 3.0},
        "drift_probes": {"p1": 0.1},
        "query_load": {"q_hot": [22.5, 1.2], "q_quiet": [1.0, 1.0]},
        "load_gate": {"threshold": 8.0, "result": "timed_out"},
    }
    r = run_compare(tmp_path, old, new)
    assert r.returncode == 0, r.stdout + r.stderr
    hot_line = next(line for line in r.stdout.splitlines() if "| q_hot |" in line)
    quiet_line = next(line for line in r.stdout.splitlines() if "| q_quiet |" in line)
    assert "LOAD-SUSPECT" in hot_line and "22.5" in hot_line
    assert "REGRESSION" in quiet_line and "LOAD-SUSPECT" not in quiet_line
    # both sides' gate summaries are printed for the adjudication log
    assert "new load gate: timed_out" in r.stdout


def test_old_jsons_without_load_fields_still_compare(tmp_path):
    """Pre-r11 BENCH JSONs carry no query_load/load_gate — the
    comparison (including flags) must work unannotated."""
    old = {"queries": {"q_a": 1.0}, "drift_probes": {"p1": 0.1}}
    new = {"queries": {"q_a": 5.0}, "drift_probes": {"p1": 0.1}}
    r = run_compare(tmp_path, old, new, "--strict")
    assert r.returncode == 1  # flagged under strict
    assert "REGRESSION" in r.stdout
    assert "LOAD-SUSPECT" not in r.stdout


def _load_bench_module():
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(ROOT, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_load_gate_passes_on_quiet_host(monkeypatch):
    bench = _load_bench_module()
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.5, 0.8, 1.2))
    gate = bench.wait_for_quiet_host()
    assert gate["result"] == "passed"
    assert gate["waited_s"] < 1
    assert gate["loadavg_initial"] == [0.5, 0.8, 1.2]


def test_load_gate_quiet_now_overrides_stale_15min(monkeypatch):
    """A decaying 15-min figure must not stall a demonstrably quiet
    host: 1- and 5-min under half the threshold pass immediately."""
    bench = _load_bench_module()
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (1.0, 2.0, 20.0))
    gate = bench.wait_for_quiet_host()
    assert gate["result"] == "passed"


def test_load_gate_times_out_bounded_and_proceeds(monkeypatch):
    bench = _load_bench_module()
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (20.0, 20.0, 20.0))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_LOAD_WAIT_S", "0")
    gate = bench.wait_for_quiet_host()
    assert gate["result"] == "timed_out"
    assert gate["waited_s"] < 1  # bounded: zero budget -> no sleep


def test_load_gate_unavailable_platform(monkeypatch):
    bench = _load_bench_module()

    def boom():
        raise OSError("no loadavg here")

    monkeypatch.setattr(bench.os, "getloadavg", boom)
    gate = bench.wait_for_quiet_host()
    assert gate["result"] == "unavailable"


def test_probe_preflight_gate_passes_quiet_and_waits_when_loaded(monkeypatch):
    """r11 verdict item 3: the suite start is gated on MEASURED probe
    overhead vs the committed quiet-host reference — geomean of the
    floored ratios ≤ threshold. A loaded host (probes ~3×) must not
    pass; with a zero wait budget the gate times out, proceeds, and
    records itself."""
    bench = _load_bench_module()
    ref = json.load(open(os.path.join(ROOT, "scripts",
                                      "quiet_host_reference.json")))["probes"]

    quiet = dict(ref)
    monkeypatch.setattr(bench, "_run_probes", lambda spark, errors=None: dict(quiet))
    gate = bench.probe_preflight_gate(spark=None)
    assert gate["result"] == "passed"
    assert gate["factor"] <= 1.0 + 1e-9
    assert gate["attempts"] == 1

    loaded = {k: v * 3 for k, v in ref.items()}
    monkeypatch.setattr(bench, "_run_probes", lambda spark, errors=None: dict(loaded))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_LOAD_WAIT_S", "0")
    gate = bench.probe_preflight_gate(spark=None)
    assert gate["result"] == "timed_out"
    assert gate["factor"] > 1.2
    assert gate["waited_s"] < 5  # bounded: zero budget -> no sleep


def test_probe_preflight_gate_small_probe_noise_is_floored(monkeypatch):
    """The ~50 ms range_scan probe spans 0.017-0.091 s across
    known-quiet rounds — a 2× wobble on it alone must not fail the
    gate (0.1 s floor on both ratio sides)."""
    bench = _load_bench_module()
    ref = json.load(open(os.path.join(ROOT, "scripts",
                                      "quiet_host_reference.json")))["probes"]
    wobble = dict(ref)
    wobble["range_scan"] = ref["range_scan"] * 2  # still under the floor
    monkeypatch.setattr(bench, "_run_probes", lambda spark, errors=None: dict(wobble))
    gate = bench.probe_preflight_gate(spark=None)
    assert gate["result"] == "passed"


def test_budget_line_always_fits_and_keeps_the_brace():
    """The final stdout line must parse out of a 2000-char tail
    capture even with 53 queries and a pile of errors (the r11
    failure mode was unbounded growth truncating the opening brace)."""
    bench = _load_bench_module()
    # the REAL headline list — the budget guarantee is a contract on
    # the actual suite (53 queries incl. 25-char multimodal names),
    # not on arbitrarily long synthetic ids
    payload = {
        "metric": "headline-suite wall time (noop-materialized, local)",
        "value": 123.456,
        "unit": "sec",
        "queries": {name: i + 0.123 for i, name in enumerate(bench.HEADLINE)},
        "sf": "0.1",
        "drift_probes": {"range_sum": 0.1, "range_group": 0.3, "range_scan": 0.02},
        "loadavg_start": [1.0, 2.0, 3.0],
        "loadavg": [20.0, 15.0, 10.0],
        "load_gate": "passed",
        "probe_gate": "passed(1.04x)",
        "errors": {f"q_err_{i}": "SomeException: " + "x" * 290 for i in range(20)},
    }
    line = bench.budget_line(payload)
    assert len(line) <= 1900
    tail = line[-2000:]  # what the driver sees
    parsed = json.loads(tail)
    assert len(parsed["queries"]) == len(bench.HEADLINE)
    assert parsed["value"] == 123.456
    # errors survived in truncated or counted form
    assert "errors" in parsed or parsed.get("errors_n") == 20


def test_compare_accepts_r12_string_gates(tmp_path):
    """The r12 driver line carries load_gate/probe_gate as verdict
    STRINGS (full dicts live in the sidecar) — the comparison must
    print them without crashing (the r12 gate log caught a .get on a
    string mid-table)."""
    old = {
        "queries": {"q_a": 1.0},
        "drift_probes": {"p1": 0.1},
        "load_gate": {"threshold": 8.0, "result": "passed", "waited_s": 0},
    }
    new = {
        "queries": {"q_a": 1.1},
        "drift_probes": {"p1": 0.1},
        "load_gate": "passed",
        "probe_gate": "passed_after_wait(0.79x)",
    }
    r = run_compare(tmp_path, old, new)
    assert r.returncode == 0, r.stdout + r.stderr
    assert "new load gate: passed" in r.stdout
    assert "new probe gate: passed_after_wait(0.79x)" in r.stdout


def test_gate_wait_budget_is_shared(monkeypatch):
    """The two suite-start gates share ONE wait budget: a probe gate
    handed budget_s=0 must time out immediately instead of waiting its
    own full $SPARK_GRAFT_BENCH_LOAD_WAIT_S on top of the loadavg
    gate's spend."""
    bench = _load_bench_module()
    ref = json.load(open(os.path.join(ROOT, "scripts",
                                      "quiet_host_reference.json")))["probes"]
    loaded = {k: v * 3 for k, v in ref.items()}
    monkeypatch.setattr(bench, "_run_probes", lambda spark, errors=None: dict(loaded))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_LOAD_WAIT_S", "900")  # ignored
    gate = bench.probe_preflight_gate(spark=None, budget_s=0.0)
    assert gate["result"] == "timed_out"
    assert gate["waited_s"] < 5


def test_budget_spent_in_sleep_keeps_a_hard_pass(monkeypatch):
    """A window that hard-passes every round but misses the soft data
    target keeps waiting; when the budget runs out DURING the sleep,
    the gate must still report the hard pass plus soft_miss (as it
    does when the budget runs out before the sleep), never
    timed_out."""
    import types

    bench = _load_bench_module()
    ref = json.load(open(os.path.join(ROOT, "scripts",
                                      "quiet_host_reference.json")))["probes"]
    soft = dict(ref)
    soft["sf_scan_agg"] = ref["sf_scan_agg"] * 1.4  # hard 1.5 > 1.4 > soft 1.25
    monkeypatch.setattr(bench, "_run_probes", lambda spark, errors=None: dict(soft))
    clock = [0.0]

    def sleep(s: float) -> None:
        clock[0] += s

    monkeypatch.setattr(
        bench, "time", types.SimpleNamespace(monotonic=lambda: clock[0], sleep=sleep)
    )
    gate = bench.probe_preflight_gate(spark=None, budget_s=100.0)
    assert gate["result"] == "passed_after_wait"
    assert gate["attempts"] == 3  # sleeps of 45, 45, then the last 10 s
    assert "sf_scan_agg" in gate["soft_miss"]
    assert gate["waited_s"] == 100.0
