"""Streaming source constructors (SURVEY.md §2.1, §2.9).

Reference parity:
- ``NumberSequenceSource(0, Long.MAX_VALUE)`` (DataStreamJob.java:45-49)
  → :func:`rate_stream`: the rate source's ``value`` column IS a
  monotonically increasing bigint.
- datagen table source, 100 rows/s, random STRING f0 + event_time
  (StreamingFlinkSQL.java:14-22) → :func:`datagen_stream`.
- custom PojoSource, 200-1000 rec/s with 10% of records stamped
  1-10 s late (CassandraPojoSinkStreaming.java:51-56,109-148) →
  :func:`rate_stream` + synthetic lateness (every 10th record
  shifted back 1-10 s, matching the reference's profile); for
  deterministic tests, :func:`file_replay_stream` replays parquet
  files one per micro-batch.

The reference attaches event time OUT-OF-BAND
(``collectWithTimestamp``, CassandraPojoSinkStreaming.java:131-135);
Spark's model makes it an explicit ``ts`` column that
``withWatermark`` references — the central model translation
(SURVEY.md §1.1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Unbounded number sequence: columns (timestamp, value)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def datagen_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Random-string + event-time datagen (f0 STRING, event_time
    TIMESTAMP), the reference's SQL source table shape."""
    return rate_stream(spark, rows_per_second).select(
        F.expr("uuid()").alias("f0"),
        F.col("timestamp").alias("event_time"),
    )


def pojo_stream_with_lateness(
    spark: SparkSession, rows_per_second: int = 500
) -> DataFrame:
    """Pojo(id) stream with the reference's lateness profile: every
    10th record's event time is shifted 1-10 s into the past
    (deterministically from the id, vs. the reference's Random)."""
    base = rate_stream(spark, rows_per_second)
    # which records are late: every 10th (value % 10 == 9); how late:
    # the NEXT digit up (value div 10 % 10 + 1) spans the full 1-10 s
    # range independently of the selection digit
    late_secs = F.when(
        F.col("value") % 10 == 9,
        (F.expr("value div 10") % 10 + 1).cast("double"),
    ).otherwise(F.lit(0.0))
    return base.select(
        F.col("value").alias("id"),
        (F.col("timestamp") - F.make_interval(secs=late_secs)).alias("ts"),
    )


def write_replay_files(df, out_dir: str, n_files: int = 10, order_col: str = "ts"):
    """Materialize a batch DataFrame as N single-file parquet chunks in
    event-time order — one micro-batch each under
    ``maxFilesPerTrigger=1``. Deterministic harness for
    watermark/late-data/restart tests (SURVEY.md §5.3).

    .. warning:: TEST HARNESS ONLY — do not promote to production.
       The global ``orderBy`` + ``toPandas`` below materializes the
       whole input on the driver; the hard 1M-row refusal exists so
       this path can never silently ride into a real pipeline. For
       production replays, write range-partitioned sorted chunks with
       Spark itself (``df.repartitionByRange(order_col).sortWithin
       Partitions(order_col).write.parquet(...)``) and feed them to
       :func:`file_replay_stream` directly.

    Returns the maximum ``order_col`` value (the last row of the
    sorted fetch; ``None`` for an empty or all-null input), so a
    caller that needs the replay's max event time for a flush sentinel
    runs no separate max-aggregate job over the same input.
    """
    os.makedirs(out_dir, exist_ok=True)
    # full-column tie-break: orderBy(order_col) alone leaves equal
    # timestamps in nondeterministic relative order across runs, so a
    # chunk boundary could split a tie differently run-to-run — the
    # opposite of this harness's determinism contract. The 1M-row
    # guard rides the SAME fetch (limit 1M+1: for inputs under the
    # cap, sort+limit+collect returns exactly the full sorted set;
    # over it, the surplus row trips the refusal) — r13: previously a
    # separate bounded count job probed the size first, one extra
    # Spark job per streaming query.
    tiebreak = [c for c in df.columns if c != order_col]
    pdf = df.orderBy(order_col, *tiebreak).limit(1_000_001).toPandas()
    if len(pdf) > 1_000_000:
        raise ValueError(
            "write_replay_files is a driver-side test harness; got more "
            "than 1M rows. Use a Spark-native sorted write for large replays."
        )
    n = len(pdf)
    mx = pdf[order_col].iloc[-1] if n else None
    # NaT guard (ADVICE r13): an all-null order column sorts NaT
    # last, and a NaT sentinel would later feed a null timestamp
    # literal — report None exactly like the empty-input case (a
    # Spark max()-aggregate over all-null rows returns NULL too)
    if mx is not None and mx != mx:  # NaN/NaT are not equal to themselves
        mx = None
    per = max(n // n_files, 1)
    for i in range(n_files):
        lo = i * per
        hi = n if i == n_files - 1 else (i + 1) * per
        if lo >= n:
            break
        chunk = pdf.iloc[lo:hi]
        path = os.path.join(out_dir, f"chunk_{i:05d}.parquet")
        # µs timestamps so the declared TimestampType stream schema
        # matches (the engine reads parquet NANOS as int64 instead).
        chunk.to_parquet(
            path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        # file mtime ordering == replay order
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    # pandas Timestamp → plain datetime so downstream
    # createDataFrame/literal use sees exactly what a Spark
    # max()-aggregate row would have carried
    return mx.to_pydatetime() if hasattr(mx, "to_pydatetime") else mx


def file_replay_stream(
    spark: SparkSession, replay_dir: str, schema, files_per_trigger: int = 1
) -> DataFrame:
    """Deterministic micro-batch replay of :func:`write_replay_files`
    output."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(replay_dir)
    )
