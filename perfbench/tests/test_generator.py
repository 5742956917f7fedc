import glob
import json
import os
import subprocess
import sys
import time

import pandas as pd

import generator

GEN = os.path.join(os.path.dirname(generator.__file__), "generator.py")


def _backlog(tmp, name, seed, kind="events", kw="{}"):
    out, log = os.path.join(tmp, name), os.path.join(tmp, name + ".log")
    subprocess.run([sys.executable, GEN, "--kind", kind, "--mode", "backlog", "--seed", str(seed),
                    "--per-file", "200", "--dt", "0.5", "--stream-kw", kw, "--out", out,
                    "--log", log, "--files", "6", "--sentinel"], check=True)
    return out, log


def _files(d):
    return {os.path.basename(p): pd.read_parquet(p).drop(columns="created")
            for p in sorted(glob.glob(os.path.join(d, "*.parquet")))}


def test_same_seed_gives_identical_files(tmp_path):
    kw = json.dumps({"late_share": 0.1, "too_late_share": 0.02, "too_late_from": 2})
    a, _ = _backlog(str(tmp_path), "a", 7, kw=kw)
    b, _ = _backlog(str(tmp_path), "b", 7, kw=kw)
    c, _ = _backlog(str(tmp_path), "c", 8, kw=kw)
    fa, fb, fc = _files(a), _files(b), _files(c)
    assert list(fa) == [f"{i:06d}.parquet" for i in range(7)]  # 6 files + sentinel
    assert list(fa) == list(fb)
    for name in fa:
        pd.testing.assert_frame_equal(fa[name], fb[name])
    assert not fa["000001.parquet"].equals(fc["000001.parquet"])
    assert not os.path.exists(a + ".staging")  # every file was renamed in


def test_same_seed_gives_identical_documents(tmp_path):
    a, _ = _backlog(str(tmp_path), "a", 3, kind="docs")
    b, _ = _backlog(str(tmp_path), "b", 3, kind="docs")
    fa, fb = _files(a), _files(b)
    for name in fa:
        pd.testing.assert_frame_equal(fa[name], fb[name])


def test_log_records_lateness_and_too_late_events(tmp_path):
    kw = json.dumps({"late_share": 0.1, "too_late_share": 0.05, "too_late_from": 2})
    out, log = _backlog(str(tmp_path), "a", 1, kw=kw)
    recs = [json.loads(line) for line in open(log)]
    files, summary = recs[:-1], recs[-1]
    assert summary["summary"] and summary["late_s_max"] >= 0
    assert files[0]["too_late"] == files[1]["too_late"] == 0
    assert sum(r["too_late"] for r in files) > 0
    ev = pd.concat(pd.read_parquet(p) for p in sorted(glob.glob(os.path.join(out, "*.parquet"))))
    for r in files:
        if r.get("sentinel"):
            continue
        late = ev[ev.event_id.isin(r["too_late_ids"])]
        assert len(late) == r["too_late"]
        on_time_max = ev[(ev.event_id // 200 == r["file"]) & ~ev.event_id.isin(r["too_late_ids"])].ts.max()
        assert abs((on_time_max - generator.T0).total_seconds() - r["max_on_time_ts_s"]) < 1e-6
    # no two too-late events share a (user, 10 s window)
    late = ev[ev.event_id.isin({i for r in files for i in r["too_late_ids"]})]
    win = (late.ts - generator.T0).dt.total_seconds() // generator.WINDOW_S
    assert not pd.DataFrame({"u": late.user_id, "w": win}).duplicated().any()


def test_open_loop_waits_for_go_and_keeps_schedule(tmp_path):
    out, log, go = (os.path.join(str(tmp_path), n) for n in ("land", "open.log", "go"))
    p = subprocess.Popen([sys.executable, GEN, "--kind", "events", "--mode", "open", "--seed", "1",
                          "--per-file", "50", "--dt", "0.1", "--out", out, "--log", log,
                          "--seconds", "0.5", "--go", go])
    try:
        deadline = time.time() + 30
        while not os.path.exists(os.path.join(out, "000000.parquet")) and time.time() < deadline:
            time.sleep(0.05)
        time.sleep(0.3)  # the schedule must not start before the go file
        assert os.listdir(out) == ["000000.parquet"]
        open(go, "w").close()
        assert p.wait(timeout=30) == 0
    finally:
        if p.poll() is None:
            p.kill()
    recs = [json.loads(line) for line in open(log)]
    assert [r["file"] for r in recs[:-1]] == list(range(6))
    dues = [r["due"] for r in recs[1:-1]]
    assert all(abs((b - a) - 0.1) < 1e-6 for a, b in zip(dues, dues[1:]))
    assert recs[-1]["late_s_max"] < 0.5
