"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY.md §2.9/§2.10 — the escape hatch for semantics the built-in
window operators can't express).

The demo operator is a per-key session aggregator with a custom
emission payload (count + min/max event time + sum) — the same
semantics as ``session_window_agg`` for per-key time-ordered arrival
(so tests can differentially check it) but computed with
user-managed state: one state entry per key holding the open
session, extended on both sides by in-gap events and finalized when
the watermark passes session end + gap. One approximation: an event
older than the open session by more than the gap emits as a
singleton session immediately (single-open-session state can't hold
two; the built-in operator could still merge it with other equally
late stragglers).

Scale notes: the sessionizers, CEP and absence operators keep state
per key (one open session or anchor list each), evicted on timeout
or drain — bounded like the built-in operator — and their pandas
function receives Arrow batches per key. EWMA keeps state per key
BUCKET (``EWMA_BUCKETS``, fixed): one call per bucket per micro-batch,
and a batch rewrites every bucket it touches, which is O(keys in
those buckets) — ~160 KB of keys and doubles at 10k keys when every
bucket is touched. A checkpoint written by the earlier per-key EWMA
state fails on restart with STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE
and must start fresh. In either layout state stays on the executors.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Rounding contract for emitted sums: half-away-from-zero to 6 places
# (SQL ROUND; Python round() is half-even — they diverge exactly on
# the boundary products the parity fixtures exercise). The formula is
# INLINED inside each state fn rather than shared at module level:
# the pickled fn must stay self-contained because executors' Python
# workers do not have this package importable (same reason every fn
# re-imports pandas locally).


def sessionize_with_state(
    events: DataFrame,
    gap_seconds: int = 5,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Custom sessionizer: groupBy(key).applyInPandasWithState with
    event-time timeout. Emits one row per closed session.

    Exact reduction to :func:`sessionize_dynamic_gap` with a constant
    gap column (its own docstring proves the identity: end ≡ last +
    gap, so merge/singleton/timeout conditions coincide term for
    term) — one interval-merge state machine in the module to test
    and fix, not two drifting copies."""
    from pyspark.sql import functions as F

    gap_col = "__session_gap_s"
    return sessionize_dynamic_gap(
        events.withColumn(gap_col, F.lit(int(gap_seconds))),
        gap_col=gap_col,
        ts_col=ts_col,
        key_col=key_col,
        value_col=value_col,
        watermark=watermark,
    )


# EWMA state is kept per key BUCKET, not per key: one
# applyInPandasWithState call costs a fixed Arrow slice, GroupState
# JSON/pickle round trip and pandas frame, so grouping by a fixed hash
# bucket bounds the Python calls per micro-batch at EWMA_BUCKETS
# however many keys the batch touches. A constant, never a parameter
# or session conf: a key's bucket must not change across restarts of
# one checkpoint.
EWMA_BUCKETS = 64
EWMA_STATE_SCHEMA = "k array<bigint>, s array<double>"


def ewma_with_state(
    events: DataFrame,
    alpha: float = 0.25,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming per-key EWMA: the incremental twin of the batch
    :func:`~flink_samples_spark.operators.timeseries.ewma` — identical
    recursion (s₁=v₁, sₜ = α·vₜ + (1-α)·sₜ₋₁), user-managed state of
    ONE double per key, one output row per event, emitted in the
    event's own micro-batch (no watermark-flush latency, no timeout).

    Rows are grouped by ``pmod(xxhash64(key), EWMA_BUCKETS)``, so each
    micro-batch makes at most EWMA_BUCKETS Python calls. A call sorts
    its rows by (key, ts, id, value), runs the recursion key by key
    from the bucket's state — parallel arrays of keys (a NULL key is
    its own key, as in the batch operator's groupBy) and their last
    smoothed values — and writes the whole bucket state back.

    The recursion uses the same IEEE ops in the same order as the
    batch operator's pandas ``ewm`` C-loop, and the same explicit
    half-away rounding, so for per-key time-ordered arrival the
    streamed results are BIT-IDENTICAL to the batch oracle — the
    batch/stream-parity contract (StreamingFlinkSQL.java's premise)
    extended to a custom stateful operator. State is O(keys), one key
    and one double each: unconditionally bounded, no eviction needed;
    a batch rewrites every bucket it touches, O(keys in those buckets).
    """
    from pyspark.sql import functions as F

    output_schema = (
        f"{id_col} bigint, {key_col} bigint, {ts_col} timestamp, "
        f"{value_col} double, ewma double"
    )

    def fn(
        _bucket: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        pdf = pd.concat(list(batches), ignore_index=True)
        keys = pdf[key_col]
        null = keys.isna().to_numpy()
        # a chunk holding a NULL key arrives as float64: exact only up
        # to 2**53 — fail rather than merge two keys' recursions
        if null.any() and keys.abs().max() > 2**53:
            raise ValueError(
                "ewma_with_state: |key| > 2**53 next to a NULL key "
                "cannot be told apart in float64"
            )
        kint = keys.fillna(0).to_numpy(np.int64)
        ids = pdf[id_col].to_numpy()
        ts = pdf[ts_col].to_numpy()
        vals = pdf[value_col].to_numpy(np.float64)
        order = np.lexsort((vals, ids, ts.view(np.int64), kint, null))
        kint, null, vals = kint[order], null[order], vals[order]
        starts = np.flatnonzero(
            np.r_[True, (kint[1:] != kint[:-1]) | (null[1:] != null[:-1])]
        )

        last = dict(zip(*state.get)) if state.exists else {}
        vs = vals.tolist()
        out = [0.0] * len(vs)
        a, b = alpha, 1.0 - alpha
        for lo, hi in zip(starts.tolist(), [*starts[1:].tolist(), len(vs)]):
            k = None if null[lo] else int(kint[lo])
            s = last.get(k)
            for i in range(lo, hi):
                s = vs[i] if s is None else a * vs[i] + b * s
                out[i] = s
            last[k] = s
        state.update((list(last), list(last.values())))

        e = np.array(out)
        yield pd.DataFrame(
            {
                id_col: ids[order],
                key_col: keys.to_numpy()[order],
                ts_col: ts[order],
                value_col: vals,
                "ewma": np.copysign(np.floor(np.abs(e) * 1e6 + 0.5) / 1e6, e),
            }
        )

    bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(EWMA_BUCKETS))
    return (
        events.withColumn("__ewma_bucket", bucket)
        .groupBy("__ewma_bucket")
        .applyInPandasWithState(
            fn,
            outputStructType=output_schema,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


DYN_STATE_SCHEMA = "start long, send long, total long, sum_value double"


def sessionize_dynamic_gap(
    events: DataFrame,
    gap_col: str = "gap_s",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Dynamic-gap sessionizer — the analog of Flink's
    ``SessionWindowTimeGapExtractor``: every event carries its own
    gap (``gap_col``, seconds), defines the interval
    [ts, ts + gap), and overlapping intervals merge into one session
    whose end is max(tsᵢ + gapᵢ). Spark's built-in session_window
    takes only a constant (or expression evaluated per event — but
    not merge-correct for shrinking gaps); this state op implements
    the full interval-merge semantics with one open session per key,
    finalized by event-time timeout at the session end.

    For a CONSTANT gap column this reduces exactly to
    :func:`sessionize_with_state` (end ≡ last + gap). Same
    scale/approximation contract: state is O(keys), an out-of-order
    event whose interval closes before the open session's start
    emits as a singleton.
    """

    output_schema = (
        f"{key_col} bigint, window_start timestamp, window_end timestamp, "
        "total bigint, sum_value double"
    )

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        import pandas as pd

        rows = []

        def close(start_us: int, end_us: int, total: int, sv: float) -> None:
            rows.append(
                {
                    key_col: key[0],
                    "window_start": pd.Timestamp(start_us, unit="us"),
                    "window_end": pd.Timestamp(end_us, unit="us"),
                    "total": total,
                    "sum_value": math.copysign(
                        math.floor(abs(sv) * 1e6 + 0.5) / 1e6, sv
                    ),
                }
            )

        if state.hasTimedOut:
            if state.exists:
                close(*state.get)
                state.remove()
        else:
            evs = []
            for pdf in batches:
                for t, g, v in zip(pdf[ts_col], pdf[gap_col], pdf[value_col]):
                    # float first: a fractional gap (2.5 s) must keep
                    # its sub-second part in the µs interval end
                    gs = float(g)
                    # `not (gs > 0)` instead of `gs <= 0`: a NULL gap
                    # arrives as NaN, every NaN comparison is False,
                    # and it would sail past a <=0 check only to die
                    # later on int(NaN) with no indication which row
                    # was bad. Same contract as the batch twin: a
                    # non-positive (or missing) gap would make an
                    # inverted [ts, ts+gap) interval — fail, don't
                    # corrupt.
                    if not (gs > 0):
                        raise ValueError(
                            f"sessionize_dynamic_gap: non-positive or "
                            f"NULL gap {gs!r}"
                        )
                    evs.append(
                        (int(t.value // 1000), int(gs * 1_000_000), float(v))
                    )
            evs.sort()
            if state.exists:
                start, send, total, sv = state.get
            else:
                start, send, total, sv = None, None, 0, 0.0
            for t, g, v in evs:
                if start is None:
                    start, send, total, sv = t, t + g, 1, v
                elif t + g < start:
                    # interval ends before the open session starts:
                    # a separate earlier session (singleton emission —
                    # same single-open-session approximation as the
                    # fixed-gap operator)
                    close(t, t + g, 1, v)
                elif t <= send:
                    # overlapping interval: merge (may extend backward)
                    start = min(start, t)
                    send = max(send, t + g)
                    total, sv = total + 1, sv + v
                else:
                    close(start, send, total, sv)
                    start, send, total, sv = t, t + g, 1, v
            if start is not None:
                state.update((start, send, total, sv))
                state.setTimeoutTimestamp(send // 1000 + 1)
        if rows:
            yield pd.DataFrame(rows)

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=output_schema,
            stateStructType=DYN_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def cep_with_state(
    events: DataFrame,
    pattern: list[str],
    within_seconds: float,
    type_col: str = "event_type",
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming CEP — the per-key NFA Flink-CEP runs, as a custom
    state operator: each ``pattern[0]`` event opens an anchor; every
    pending anchor at stage s advances when an event of type
    ``pattern[s+1]`` arrives (earliest-match, relaxed contiguity —
    the same semantics as the batch
    :func:`~flink_samples_spark.operators.behavior.detect_sequence`,
    so for ordered replay the two agree exactly and share one
    oracle). A chain completing its last stage within
    ``within_seconds`` of its anchor emits immediately, in its own
    micro-batch — no watermark-flush latency.

    State is the pending-anchor list per key: each entry is
    (anchor_ts, stage, ts_0..ts_{k-1}); anchors older than the
    pattern window are pruned on every call and the state row is
    removed outright when no anchor is pending, so state is bounded
    by the anchor arrival rate × window — the same bound Flink's CEP
    operator carries. Stored as a flattened long array in one state
    column. A key that goes quiescent while holding a live anchor
    keeps it until the next event for that key arrives (NoTimeout
    operator — bounded replays and tests don't care; a long-running
    deployment that does should front a watermark and periodic
    heartbeat events, or accept ≤ anchors-per-window residue per
    idle key).

    Equal-timestamp events are applied in PATTERN-STAGE order (the
    stage each type first occupies), not arrival/lexicographic order:
    the batch as-of rewrite gives every stage at-or-after (>=)
    semantics, so an advancing event at the same timestamp as its
    anchor must still advance regardless of how the type names sort.
    Exact tie parity holds for patterns of DISTINCT types. For a
    repeated non-adjacent type (e.g. A,B,A) the two sides diverge on
    ties by design: the as-of rewrite can bind ONE physical A event
    to both stage 0 and stage 2 at the same timestamp, while the NFA
    — like Flink CEP — consumes each event once and requires a
    second A. Per-key (key, ts)-unique data (the same precondition
    ewma documents) makes them identical for repeated types too.
    """
    k = len(pattern)
    if k < 2:
        # same contract as the batch twin (behavior.detect_sequence):
        # a one-stage "pattern" is a filter, and the NFA's
        # open-anchor-after-advance design could never complete it
        raise ValueError("pattern needs at least two stages")
    win_us = int(within_seconds * 1_000_000)
    # first stage each event type occupies; unknown types sort last
    # (they can never advance an anchor, so their slot is irrelevant)
    stage_of: dict[str, int] = {}
    for i, p in enumerate(pattern):
        stage_of.setdefault(p, i)
    out_cols = ", ".join(f"ts_{i} timestamp" for i in range(k))
    output_schema = f"{key_col} bigint, {out_cols}"

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import pandas as pd

        # pending: list of [stage, ts_0 .. ts_{k-1}] (µs; unfilled = 0)
        if state.exists:
            flat = list(state.get[0])
            pending = [flat[i : i + k + 1] for i in range(0, len(flat), k + 1)]
        else:
            pending = []
        rows = []
        evs = []
        for pdf in batches:
            for t, ty in zip(pdf[ts_col], pdf[type_col]):
                ty = str(ty)
                evs.append((int(t.value // 1000), stage_of.get(ty, k), ty))
        evs.sort()
        for t_us, _stage, ty in evs:
            # prune anchors that can no longer complete in-window
            pending = [a for a in pending if t_us - a[1] <= win_us]
            advanced = []
            for a in pending:
                stage = a[0]
                if stage < k and ty == pattern[stage]:
                    a[stage + 1] = t_us
                    a[0] = stage + 1
                    if a[0] == k:
                        if t_us - a[1] <= win_us:
                            rows.append(
                                {
                                    key_col: key[0],
                                    **{
                                        f"ts_{i}": pd.Timestamp(a[i + 1], unit="us")
                                        for i in range(k)
                                    },
                                }
                            )
                        continue  # completed (or expired): drop from pending
                advanced.append(a)
            pending = advanced
            # open the new anchor AFTER the advance pass: an event
            # never satisfies two adjacent stages of its own chain,
            # so patterns with equal adjacent types (A followed-by A)
            # get true strictly-later semantics
            if ty == pattern[0]:
                anchor = [1] + [0] * k
                anchor[1] = t_us
                pending.append(anchor)
        if pending:
            state.update((sum(pending, []),))
        elif state.exists:
            # drained keys drop their state row entirely — no empty
            # arrays accumulating for every key ever seen
            state.remove()
        if rows:
            yield pd.DataFrame(rows)

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType="flat array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def absence_with_state(
    events: DataFrame,
    first: str,
    absent: str,
    within_seconds: float,
    type_col: str = "event_type",
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming CEP ABSENCE pattern — "``first`` NOT followed by
    ``absent`` within T": the hardest emission semantics in CEP,
    because a match is the NON-arrival of an event, so a row may only
    emit once the WATERMARK proves the window closed empty (Flink's
    notFollowedBy + within, which Flink itself only allows with a
    window bound, for exactly this reason).

    Per-key state: the pending ``first``-anchor timestamps. An
    ``absent`` event at-or-after an anchor inside the window kills
    that anchor; an event-time timer at the earliest anchor's window
    end fires when the watermark passes it, emitting every anchor
    whose window is provably over. Matches the batch
    :func:`~flink_samples_spark.operators.behavior` as-of dual
    (q_pattern_absence) exactly, so both share one oracle. State is
    bounded by anchors-per-window, same as the positive-pattern NFA.

    Equal-timestamp events are applied ``first``-before-``absent``
    (stage order, not lexicographic): the batch dual kills an anchor
    on an ``absent`` event AT-or-after it, so an absent event sharing
    the anchor's timestamp must see the anchor already open no matter
    how the two type names sort.
    """
    win_us = int(within_seconds * 1_000_000)

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import pandas as pd

        pending = list(state.get[0]) if state.exists else []
        rows = []

        def emit_expired(horizon_us: int) -> None:
            nonlocal pending
            done = [a for a in pending if a + win_us < horizon_us]
            pending = [a for a in pending if a + win_us >= horizon_us]
            rows.extend(
                {key_col: key[0], "ts_0": pd.Timestamp(a, unit="us")}
                for a in sorted(done)
            )

        if state.hasTimedOut:
            emit_expired(state.getCurrentWatermarkMs() * 1000)
        else:
            evs = []
            stage = {first: 0, absent: 1}
            for pdf in batches:
                for t, ty in zip(pdf[ts_col], pdf[type_col]):
                    ty = str(ty)
                    evs.append((int(t.value // 1000), stage.get(ty, 2), ty))
            evs.sort()
            for t_us, _stage, ty in evs:
                if ty == absent:
                    pending = [
                        a for a in pending if not (t_us >= a and t_us - a <= win_us)
                    ]
                if ty == first:
                    pending.append(t_us)
            # emit ONLY what the WATERMARK proves closed — never the
            # current event time: an out-of-order (but non-late)
            # 'absent' in a later micro-batch can still kill any
            # anchor whose window end is past the watermark, so
            # event-horizon emission would fabricate matches the
            # batch dual never reports. The timer covers quiescence.
            emit_expired(state.getCurrentWatermarkMs() * 1000)
        if pending:
            state.update((pending,))
            state.setTimeoutTimestamp((min(pending) + win_us) // 1000 + 1)
        elif state.exists:
            state.remove()
        if rows:
            yield pd.DataFrame(rows)

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=f"{key_col} bigint, ts_0 timestamp",
            stateStructType="anchors array<long>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
