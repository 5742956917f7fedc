"""Independent reference results over the generated input files, the
comparison that feeds ``error_rate``, and the "could be emitted"
moments that latency is measured from.

Nothing here imports the engine: the references are pandas and
DuckDB computations over the same parquet files the stream read.
"""

from __future__ import annotations

import glob
import json
import math
import os

import numpy as np
import pandas as pd

from generator import SENTINEL_ID, T0

US = 1_000_000
T0_US = int(T0.value // 1000)


def read_inputs(land_dir: str) -> pd.DataFrame:
    """All rows of a landing directory, with the index of the file
    each row came from."""
    frames = []
    for path in sorted(glob.glob(os.path.join(land_dir, "*.parquet"))):
        df = pd.read_parquet(path)
        df["file"] = int(os.path.basename(path).split(".")[0])
        frames.append(df)
    return pd.concat(frames, ignore_index=True)


def read_log(log_path: str) -> tuple[pd.DataFrame, dict]:
    """Per-file generator records and the closing summary."""
    rows, summary = [], {}
    with open(log_path) as f:
        for line in f:
            rec = json.loads(line)
            if rec.get("summary"):
                summary = rec
            else:
                rows.append(rec)
    return pd.DataFrame(rows).sort_values("file").reset_index(drop=True), summary


def _ts_us(s: pd.Series) -> np.ndarray:
    return s.astype("datetime64[us]").astype(np.int64).to_numpy()


# ---- references -------------------------------------------------------

def ref_sessions(ev: pd.DataFrame, gap_s: float = 5.0) -> pd.DataFrame:
    """Gaps-and-islands sessions per user: a new session starts when
    an event is MORE than ``gap_s`` after the previous one (gap-equal
    events merge, as Spark's session_window does)."""
    ev = ev[ev.user_id != SENTINEL_ID]
    d = pd.DataFrame({"user_id": ev.user_id.to_numpy(), "t": _ts_us(ev.ts)})
    d = d.sort_values(["user_id", "t"], kind="mergesort")
    gap = int(gap_s * US)
    brk = (d.user_id.diff() != 0) | (d.t.diff() > gap)
    d["sid"] = brk.cumsum()
    g = d.groupby("sid").agg(user_id=("user_id", "first"), start=("t", "min"),
                             last=("t", "max"), total=("t", "size"))
    return pd.DataFrame({"user_id": g.user_id, "window_start": g.start,
                         "window_end": g["last"] + gap, "total": g.total}).reset_index(drop=True)


def ref_tumbling(ev: pd.DataFrame, too_late_ids: set[int], size_s: float = 10.0) -> pd.DataFrame:
    """Per-user tumbling sums of event_id, too-late events removed."""
    ev = ev[(ev.user_id != SENTINEL_ID) & ~ev.event_id.isin(too_late_ids)]
    size = int(size_s * US)
    start = (_ts_us(ev.ts) // size) * size
    d = pd.DataFrame({"user_id": ev.user_id.to_numpy(), "window_start": start,
                      "event_id": ev.event_id.to_numpy()})
    g = d.groupby(["user_id", "window_start"]).event_id.agg(["sum", "size"]).reset_index()
    return pd.DataFrame({"user_id": g.user_id, "window_start": g.window_start,
                         "window_end": g.window_start + size, "sum_id": g["sum"], "n": g["size"]})


def ref_ewma(ev: pd.DataFrame, alpha: float = 0.25) -> pd.DataFrame:
    """Per-user EWMA in arrival order, s1 = v1, s_t = a*v_t + (1-a)*s_{t-1},
    rounded half away from zero to 6 places."""
    d = pd.DataFrame({"event_id": ev.event_id.to_numpy(), "user_id": ev.user_id.to_numpy(),
                      "t": _ts_us(ev.ts), "value": ev.value.to_numpy()})
    d = d.sort_values(["user_id", "t", "event_id"], kind="mergesort")
    out = np.empty(len(d))
    s, prev_user = 0.0, None
    for i, (u, v) in enumerate(zip(d.user_id.to_numpy(), d.value.to_numpy())):
        s = v if u != prev_user else alpha * v + (1.0 - alpha) * s
        prev_user = u
        out[i] = math.copysign(math.floor(abs(s) * 1e6 + 0.5) / 1e6, s)
    return pd.DataFrame({"event_id": d.event_id.to_numpy(), "ewma": out})


def ref_dedup_pairs(docs: pd.DataFrame, threshold: float = 0.8) -> pd.DataFrame:
    """Near-duplicate pairs by exact 3-word-shingle Jaccard, as in the
    q_dedup_near oracle, computed in DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("documents", docs[["doc_id", "text"]])
        return con.execute(
            """
            WITH words AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
            sh AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(ws) - 2, 1) + 1),
                       i -> array_to_string(ws[i:i+2], ' ')))) AS shingle
              FROM words),
            counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle
              WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
            SELECT doc_a, doc_b,
                   round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
            FROM inter JOIN counts ca ON ca.doc_id = doc_a JOIN counts cb ON cb.doc_id = doc_b
            WHERE CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) >= ?
            """,
            [threshold],
        ).df()
    finally:
        con.close()


# ---- comparison -------------------------------------------------------

def compare(expected: pd.DataFrame, actual: pd.DataFrame, cols: list[str],
            round_cols: tuple[str, ...] = ()) -> tuple[int, int]:
    """(attempted, failed): attempted is the number of expected rows;
    failed counts rows in either side that the other side lacks, as a
    multiset, so duplicates and extras count too."""

    def keyed(df: pd.DataFrame) -> pd.Series:
        df = df[cols].copy()
        for c in round_cols:
            df[c] = df[c].astype(float).round(6)
        return df.astype(str).agg("|".join, axis=1).value_counts()

    e, a = keyed(expected), keyed(actual)
    diff = e.sub(a, fill_value=0).abs().sum()
    return max(len(expected), 1), int(diff)


# ---- latency ----------------------------------------------------------

def could_emit_windows(window_end_us: np.ndarray, log: pd.DataFrame, delay_s: float) -> tuple[np.ndarray, np.ndarray]:
    """For each window end (µs since the epoch), the creation time of
    the first file whose running maximum on-time event time reaches
    end + watermark delay, and that file's index (-1 when no file
    does)."""
    mx = (log.max_on_time_ts_s.fillna(-np.inf).to_numpy() * US).astype(float)
    run = np.maximum.accumulate(mx)
    need = (window_end_us - T0_US).astype(float) + delay_s * US
    pos = np.searchsorted(run, need, side="left")
    ok = pos < len(run)
    created = np.full(len(need), np.nan)
    files = np.full(len(need), -1)
    created[ok] = log.created.to_numpy()[pos[ok]]
    files[ok] = log.file.to_numpy()[pos[ok]]
    return created, files
