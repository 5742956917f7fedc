"""Small shared utilities."""

from __future__ import annotations

import logging
import os
import threading
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def committed_batch_dirs(root: str) -> dict[int, str]:
    """``{batch id: path}`` of the ``batch=<int>`` directories under
    ``root`` (empty when ``root`` does not exist). Crash leftovers such
    as ``batch=3.tmp`` and marker files are skipped: read by explicit
    path, the committed directories are all a reader sees, so a
    leftover can neither come back as data nor turn the discovered
    ``batch`` partition column into a string. A local-filesystem
    listing: the engine's sink and index directories are driver-visible
    paths; an object-store deployment would list through the Hadoop
    FileSystem API instead."""
    if not os.path.isdir(root):
        return {}
    out = {}
    for d in os.listdir(root):
        name, sep, value = d.partition("=")
        if name == "batch" and sep and value.isdecimal():
            out[int(value)] = os.path.join(root, d)
    return dict(sorted(out.items()))


def epoch_double(df: DataFrame, col_name: str) -> Column:
    """Epoch seconds as DOUBLE for any timestamp flavor (or numeric).

    Spark 4 refuses ``cast(ts AS DOUBLE)`` on TIMESTAMP_NTZ — which is
    what a parquet ``timestamp[us]`` column with no timezone (the
    driver testdata's ``events.ts``) reads as. Routing NTZ through
    TIMESTAMP_LTZ first is legal and, under this repo's pinned-UTC
    session timezone, yields the same epoch the LTZ column would.
    Numeric columns pass straight through so band joins on plain
    doubles keep full precision. Binds ``df[col_name]`` (the frame's
    attribute id), not the bare name — unambiguous even after a join
    where both sides carry the same column name."""
    dt = dict(df.dtypes).get(col_name)
    c = df[col_name]
    if dt is not None and dt.startswith("timestamp"):
        return c.cast("timestamp_ltz").cast("double")
    return c.cast("double")


def parallelize_narrow(df: DataFrame) -> DataFrame:
    """Ensure a narrow (per-row) stage has at least one partition per
    core. A single-file input collapses to 1 partition and would run a
    pandas stage on one core; at real scale the scan is already
    maxPartitionBytes-parallel and this is a no-op (the
    getNumPartitions probe is driver-side planning only, no job)."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def parallelize_by_key(df: DataFrame, key: str) -> DataFrame:
    """:func:`parallelize_narrow` for frames that downstream JOINS will
    re-key on ``key`` (r14, guide §2.4): hash-partition on the key (at
    least one partition per core — same width rule as
    parallelize_narrow, never shrinking an already-parallel scan) and
    sort within partitions, so every later sort-merge join on ``key``
    REUSES the layout instead of exchanging + sorting the frame once
    per consumer. The dedup sketch frames are the motivating case:
    they are cached and then attached on doc_id by TWO merge joins in
    the verify tail — under round-robin parallelization each join paid
    a full exchange + sort of the multi-KB sketch rows; partitioned
    and sorted once before the cache, both joins shuffle only the
    16-byte candidate side (the InMemoryRelation forwards partitioning
    and ordering through the aliasing projections). At 100 TB this
    removes two O(corpus-sketch) exchanges per dedup run for one
    up-front exchange the narrow form was already paying on narrow
    inputs."""
    spark = df.sparkSession
    target = max(
        spark.sparkContext.defaultParallelism, df.rdd.getNumPartitions()
    )
    return df.repartition(target, F.col(key)).sortWithinPartitions(key)


def pin_plan_with_confs(df: DataFrame, confs: dict[str, str]) -> DataFrame:
    """Physically plan ``df`` under temporarily-set session confs,
    then restore the session. Spark memoizes a Dataset's
    QueryExecution, so the pinned physical plan (including any
    optimizer rules the confs unlocked, e.g. runtime bloom-filter
    injection) is what later actions on THIS DataFrame execute —
    while every other query planned in the session sees the original
    confs. The per-query planner-scope Spark itself lacks.
    """
    spark = df.sparkSession
    old: dict[str, str | None] = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df._jdf.queryExecution().executedPlan()  # force + memoize
        return df
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def observe_and_warn(
    df: DataFrame,
    log: logging.Logger,
    metrics: list[Column],
    message: Callable[[dict], str | None],
    on_done: Callable[[], object] | None = None,
    thread_name: str = "observe-waiter",
) -> DataFrame:
    """Attach a ``df.observe`` of ``metrics`` and a daemon waiter that,
    once the first action over the plan completes, runs ``on_done``
    and then logs ``message(values)`` as a WARNING unless it returns
    None. Zero extra Spark jobs: the metrics are computed by the same
    tasks that run the query. The waiter parks on ``Observation.get``
    and dies with the process if the plan is never executed. With no
    ``on_done`` and WARNING disabled on ``log``, ``df`` is returned
    as is and no thread spawns."""
    if on_done is None and not log.isEnabledFor(logging.WARNING):
        return df
    obs = Observation()
    out = df.observe(obs, *metrics)

    def wait_and_log() -> None:
        try:
            values = obs.get  # blocks until the first action finishes
        except Exception:  # session torn down before any action
            return
        finally:
            if on_done is not None:
                try:
                    on_done()
                except Exception:  # session torn down mid-callback
                    pass
        text = message(values)
        if text:
            log.warning(text)

    threading.Thread(target=wait_and_log, daemon=True, name=thread_name).start()
    return out
