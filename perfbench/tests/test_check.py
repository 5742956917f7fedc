import numpy as np
import pandas as pd

import check
from generator import T0, DocStream, EventStream


def _events(rows):
    """rows: (event_id, user_id, seconds after T0, value)."""
    df = pd.DataFrame(rows, columns=["event_id", "user_id", "s", "value"])
    df["ts"] = (T0 + pd.to_timedelta(df.s, unit="s")).astype("datetime64[us]")
    return df.drop(columns="s")


def _us(s):
    return int((T0 + pd.Timedelta(seconds=s)).value // 1000)


def test_sessions_gaps_and_islands():
    ev = _events([(0, 1, 0.0, 0), (1, 1, 4.0, 0), (2, 1, 9.0, 0), (3, 1, 14.5, 0), (4, 2, 1.0, 0),
                  (-1, -1, 86400.0, 0)])
    ref = check.ref_sessions(ev).sort_values(["user_id", "window_start"]).reset_index(drop=True)
    # 9.0 -> 14.5 is more than 5 s apart: a new session; 4 -> 9 is exactly 5 s: merged
    assert ref.values.tolist() == [
        [1, _us(0), _us(14.0), 3], [1, _us(14.5), _us(19.5), 1], [2, _us(1), _us(6), 1]]


def test_tumbling_drops_too_late_events():
    ev = _events([(0, 1, 1.0, 0), (1, 1, 2.0, 0), (2, 1, 12.0, 0), (3, 1, 3.0, 0)])
    ref = check.ref_tumbling(ev, too_late_ids={3})
    assert sorted(ref[["window_start", "sum_id", "n"]].values.tolist()) == [
        [_us(0), 1, 2], [_us(10), 2, 1]]


def test_ewma_recursion_in_time_order():
    ev = _events([(0, 1, 0.0, 10.0), (1, 1, 1.0, 20.0), (2, 2, 0.5, -4.0), (3, 1, 2.0, 0.0)])
    ref = check.ref_ewma(ev).set_index("event_id").ewma
    assert ref[0] == 10.0 and ref[1] == 12.5 and ref[3] == 9.375 and ref[2] == -4.0


def test_dedup_reference_finds_planted_pairs():
    gen = DocStream(seed=5, stream=0, docs_per_file=40, dup_share=0.3)
    files = [gen.file(i) for i in range(3)]
    pairs = check.ref_dedup_pairs(pd.concat([f[0] for f in files], ignore_index=True))
    n_dups = sum(f[1]["dups"] for f in files)
    assert n_dups > 0 and len(pairs) == n_dups
    assert (pairs.jaccard >= 0.9).all()


def test_corrupted_output_is_caught():
    gen = EventStream(seed=2, stream=0, events_per_file=500, dt=1.0)
    ev = pd.concat([gen.file(i)[0] for i in range(5)], ignore_index=True)
    ref = check.ref_sessions(ev)
    cols = ["user_id", "window_start", "window_end", "total"]
    assert check.compare(ref, ref.sample(frac=1, random_state=0), cols) == (len(ref), 0)
    bad = ref.copy()
    bad.loc[3, "total"] += 1  # one wrong count
    assert check.compare(ref, bad, cols) == (len(ref), 2)
    assert check.compare(ref, ref.drop(index=[0, 1]), cols)[1] == 2  # missing rows
    assert check.compare(ref, pd.concat([ref, ref.head(1)]), cols)[1] == 1  # a duplicate
    ew = check.ref_ewma(ev)
    noisy = ew.assign(ewma=ew.ewma + np.where(ew.index == 7, 1e-3, 0.0))
    assert check.compare(ew, noisy, ["event_id", "ewma"], round_cols=("ewma",))[1] == 2


def test_could_emit_is_first_file_reaching_end_plus_delay():
    log = pd.DataFrame({"file": [0, 1, 2, 3], "created": [100.0, 101.0, 102.0, 103.0],
                        "max_on_time_ts_s": [1.0, 2.0, None, 4.0]})
    created, files = check.could_emit_windows(np.array([_us(0.5), _us(2.9), _us(9.0)]), log, 1.0)
    assert files.tolist() == [1, 3, -1]
    assert created[:2].tolist() == [101.0, 103.0] and np.isnan(created[2])
