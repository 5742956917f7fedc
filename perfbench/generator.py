"""Seeded open-loop input generator for the streaming benchmark.

Runs as its own process, separate from Spark. It writes parquet files
into a landing directory: each file is built in a staging directory
and moved in with one ``os.rename``, so the file source never sees a
half-written file. Every row carries ``created``, the wall-clock time
(epoch seconds) at which the generator built it.

Two modes:

- ``open``: writes file 0 at once, waits for the ``--go`` file, then
  writes file ``i`` at ``go + i * dt`` whether or not the system under
  test keeps up (open loop), and finally an optional flush sentinel.
- ``backlog``: writes all files as fast as it can, with increasing
  modification times, for the drain phase.

Either way it appends one JSON line per file to ``--log``: when the
file was due, when it was written, its row count, the maximum on-time
event time, and its too-late and in-bound late events. The last line
is a summary with ``late_s_max``, how far behind schedule it ran.

Event time is virtual and deterministic: file ``i`` covers event time
``[i * e, (i + 1) * e)`` seconds after ``T0``, where ``e`` is ``dt``
unless the stream sets ``event_dt``, so the same seed gives the same
rows in every run; only ``created`` differs.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pandas as pd

T0 = pd.Timestamp("2024-01-01 00:00:00")
N_USERS = 10_000
ZIPF_S = 1.3
WINDOW_S = 10  # tumbling window of late_tumbling_sink, for too-late uniqueness
SENTINEL_ID = -1
SENTINEL_TS_S = 86_400.0  # one day after T0: flushes every window

EVENT_SCHEMA = "event_id bigint, user_id bigint, ts timestamp, value double, created double"
DOC_SCHEMA = "doc_id bigint, text string, created double"


class EventStream:
    """Deterministic event files for the window and EWMA workloads.

    ``late_share`` of events are shifted 1-10 s back in event time
    (in-bound: the 11 s watermark keeps them); ``too_late_share`` are
    shifted 60-90 s back (the watermark drops them). Too-late events
    start at file ``too_late_from``: Spark filters late rows with the
    watermark of the batch before the previous one, so the first two
    micro-batches must hold none. No two too-late events share a
    (user, window) pair, so Spark's dropped-row count, which counts
    partially aggregated groups, equals the number of too-late events.
    """

    def __init__(
        self,
        seed: int,
        stream: int,
        events_per_file: int,
        dt: float,
        late_share: float = 0.0,
        too_late_share: float = 0.0,
        too_late_from: int = 1,
        event_dt: float | None = None,
    ):
        self.rng = np.random.default_rng([seed, stream])
        p = np.arange(1, N_USERS + 1, dtype=float) ** -ZIPF_S
        self.p = p / p.sum()
        self.n = events_per_file
        self.dt = event_dt or dt  # event time per file; more than dt replays faster than real time
        self.late_share = late_share
        self.too_late_share = too_late_share
        self.too_late_from = too_late_from
        self.next_id = 0
        self.used_too_late: set[tuple[int, int]] = set()

    def file(self, i: int) -> tuple[pd.DataFrame, dict]:
        rng, n = self.rng, self.n
        nominal = i * self.dt + np.sort(rng.uniform(0.0, self.dt, n))
        users = rng.choice(N_USERS, size=n, p=self.p) + 1
        values = np.round(rng.normal(0.0, 10.0, n), 3)
        u = rng.random(n)
        late = u < self.late_share
        too_late = (u >= self.late_share) & (u < self.late_share + self.too_late_share)
        if i < self.too_late_from:
            too_late[:] = False
        shift = np.where(late, rng.uniform(1.0, 10.0, n), 0.0)
        shift = np.where(too_late, rng.uniform(60.0, 90.0, n), shift)
        ts_us = np.round((nominal - shift) * 1e6).astype(np.int64)
        for j in np.flatnonzero(too_late):
            win = int(ts_us[j] // (WINDOW_S * 1_000_000))
            while (int(users[j]), win) in self.used_too_late:
                users[j] = users[j] % N_USERS + 1
            self.used_too_late.add((int(users[j]), win))
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        df = pd.DataFrame(
            {
                "event_id": ids,
                "user_id": users.astype(np.int64),
                "ts": (T0 + pd.to_timedelta(ts_us, unit="us")).astype("datetime64[us]"),
                "value": values,
            }
        )
        on_time = ~too_late
        info = {
            "rows": n,
            "max_on_time_ts_s": float(ts_us[on_time].max() / 1e6) if on_time.any() else None,
            "too_late": int(too_late.sum()),
            "late_kept": int(late.sum()),
            "too_late_ids": ids[too_late].tolist(),
        }
        return df, info

    @staticmethod
    def sentinel() -> tuple[pd.DataFrame, dict]:
        df = pd.DataFrame(
            {
                "event_id": np.array([SENTINEL_ID], dtype=np.int64),
                "user_id": np.array([SENTINEL_ID], dtype=np.int64),
                "ts": (T0 + pd.to_timedelta([SENTINEL_TS_S], unit="s")).astype("datetime64[us]"),
                "value": [0.0],
            }
        )
        info = {"rows": 1, "max_on_time_ts_s": SENTINEL_TS_S, "too_late": 0,
                "late_kept": 0, "too_late_ids": [], "sentinel": True}
        return df, info


class DocStream:
    """Deterministic document files for the dedup workload.

    ``dup_share`` of documents are near-duplicates of an original from
    an EARLIER file (so pairs cross batch boundaries): a copy with one
    word replaced, 3-word-shingle Jaccard >= 0.94 for the 100-140 word
    documents used here. Each original is copied at most once, so no
    pair of copies sits near the 0.8 threshold.
    """

    VOCAB = 5000

    def __init__(self, seed: int, stream: int, docs_per_file: int, dup_share: float = 0.15):
        self.rng = np.random.default_rng([seed, stream])
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab_rng = np.random.default_rng(12345)  # shared vocabulary
        self.words = np.array(
            ["".join(vocab_rng.choice(letters, size=vocab_rng.integers(3, 9)))
             for _ in range(self.VOCAB)]
        )
        self.n = docs_per_file
        self.dup_share = dup_share
        self.next_id = 0
        self.originals: list[list[str]] = []  # un-copied originals of earlier files

    def file(self, i: int) -> tuple[pd.DataFrame, dict]:
        rng = self.rng
        ids, texts, fresh = [], [], []
        n_dups = 0
        for _ in range(self.n):
            if self.originals and rng.random() < self.dup_share:
                words = list(self.originals.pop(int(rng.integers(len(self.originals)))))
                words[int(rng.integers(len(words)))] = str(self.words[rng.integers(self.VOCAB)])
                n_dups += 1
            else:
                words = [str(w) for w in self.words[rng.integers(self.VOCAB, size=int(rng.integers(100, 141)))]]
                fresh.append(words)
            ids.append(self.next_id)
            texts.append(" ".join(words))
            self.next_id += 1
        self.originals.extend(fresh)
        df = pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": texts})
        return df, {"rows": self.n, "dups": n_dups}


def make_stream(kind: str, seed: int, stream: int, per_file: int, dt: float, **kw):
    if kind == "docs":
        return DocStream(seed, stream, per_file, **kw)
    return EventStream(seed, stream, per_file, dt, **kw)


def write_file(df: pd.DataFrame, out_dir: str, stage_dir: str, i: int, mtime: float | None = None) -> str:
    """Write ``df`` as ``<out_dir>/<i>.parquet`` by atomic rename."""
    name = f"{i:06d}.parquet"
    tmp = os.path.join(stage_dir, name)
    df.to_parquet(tmp, index=False)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    dst = os.path.join(out_dir, name)
    os.rename(tmp, dst)
    return dst


def run(args: argparse.Namespace) -> None:
    os.makedirs(args.out, exist_ok=True)
    stage = args.out.rstrip("/") + ".staging"
    os.makedirs(stage, exist_ok=True)
    kw = json.loads(args.stream_kw)
    gen = make_stream(args.kind, args.seed, args.stream, args.per_file, args.dt, **kw)
    late_max = 0.0
    with open(args.log, "w") as log:

        def emit(i: int, due: float, mtime: float | None = None, sentinel: bool = False) -> None:
            nonlocal late_max
            df, info = EventStream.sentinel() if sentinel else gen.file(i)
            created = time.time()
            df["created"] = created
            write_file(df, args.out, stage, i, mtime)
            written = time.time()
            late_max = max(late_max, written - due)
            log.write(json.dumps({"file": i, "due": due, "created": created,
                                  "written": written, **info}) + "\n")
            log.flush()

        if args.mode == "backlog":
            base = time.time() - args.files - 10
            for i in range(args.files):
                emit(i, time.time(), mtime=base + i)
            if args.sentinel:
                emit(args.files, time.time(), mtime=base + args.files, sentinel=True)
        else:
            emit(0, time.time())
            while not os.path.exists(args.go):
                time.sleep(0.002)
            go = time.time()
            i = 1
            while i * args.dt <= args.seconds + 1e-9:
                due = go + i * args.dt
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                emit(i, due)
                i += 1
            if args.sentinel:
                due = go + i * args.dt
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                emit(i, due, sentinel=True)
        log.write(json.dumps({"summary": True, "late_s_max": late_max}) + "\n")
    os.rmdir(stage)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--kind", choices=["events", "docs"], required=True)
    ap.add_argument("--mode", choices=["open", "backlog"], required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--stream", type=int, default=0, help="sub-stream id within the seed")
    ap.add_argument("--per-file", type=int, required=True, help="rows per file")
    ap.add_argument("--dt", type=float, required=True, help="event time (and open-loop period) per file, s")
    ap.add_argument("--stream-kw", default="{}", help="JSON keyword arguments of the stream")
    ap.add_argument("--out", required=True, help="landing directory")
    ap.add_argument("--log", required=True, help="per-file JSON-lines log")
    ap.add_argument("--files", type=int, default=0, help="backlog: number of files")
    ap.add_argument("--seconds", type=float, default=0.0, help="open: schedule length, s")
    ap.add_argument("--go", default="", help="open: start the schedule once this file exists")
    ap.add_argument("--sentinel", action="store_true", help="end with a flush sentinel file")
    return ap.parse_args(argv)


if __name__ == "__main__":
    run(parse_args())
