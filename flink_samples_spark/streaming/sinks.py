"""Streaming sinks (SURVEY.md §2.1, §2.9).

Reference parity:
- row-format file sink (DataStreamJob.java:51-59) →
  ``writeStream.format("parquet")`` (or json/csv) with a checkpoint.
- print sink (CassandraPojoSource.java:64) → ``format("console")``.
- blackhole sink (StreamingFlinkSQL.java:25-32) → ``format("noop")``.
- Cassandra POJO sink with exactly-once upsert semantics
  (CassandraPojoSinkStreaming.java:70-79): the reference relies on
  Cassandra PRIMARY-KEY overwrite for idempotence; our equivalent is
  :func:`idempotent_parquet_sink` — each micro-batch (re)writes its
  own ``batch=<id>`` partition atomically, so a replayed batch after
  restart overwrites instead of duplicating. Spark's checkpoint gives
  exactly-once state; the deterministic per-batch overwrite turns the
  at-least-once side effects into exactly-once sink contents.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Single source of truth for the connector's DSv2 format name; the
# jar is absent in this sandbox (see readers.CASSANDRA_FORMAT).
from flink_samples_spark.sources.readers import CASSANDRA_FORMAT
from flink_samples_spark.utils import committed_batch_dirs

# file formats the generic idempotent branch supports; read_sink can
# only read parquet back, so the others are write-only sinks
_FILE_FORMATS = {"parquet", "json", "csv", "orc", "text", "avro"}


def idempotent_parquet_sink(out_dir: str, **options: str):
    """``foreachBatch`` function writing each micro-batch to an
    overwrite-on-replay partition directory (idempotent upsert keyed
    by batch id — the parquet analog of the reference's Cassandra
    PRIMARY-KEY overwrite). ``options`` pass through to the parquet
    writer (e.g. compression)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _reject_batch_column(batch_df)
        (
            batch_df.write.mode("overwrite")
            .options(**options)
            .parquet(os.path.join(out_dir, f"batch={batch_id}"))
        )

    return write_batch


def _reject_batch_column(batch_df: DataFrame) -> None:
    """The idempotent file sinks key replay-overwrite on a
    ``batch=<id>`` partition DIRECTORY; on read-back, partition
    discovery materializes that directory name as a ``batch`` column.
    A logical data column with the same name would be silently
    shadowed by the partition value (Spark prefers the discovered
    partition column), so the collision must fail at write time, not
    flow through as wrong data. Matched case-INSENSITIVELY: Spark's
    default analysis (spark.sql.caseSensitive=false) resolves
    'Batch'/'BATCH' against the discovered partition column too."""
    if any(c.lower() == "batch" for c in batch_df.columns):
        raise ValueError(
            "idempotent file sink: the micro-batch schema contains a column "
            "named 'batch', which collides with the sink's batch=<id> "
            "partition directory — partition discovery would shadow the data "
            "column on read-back. Rename the column before the sink."
        )


def idempotent_sink(target: str, fmt: str = "parquet", **options: str):
    """Format-parameterized idempotent micro-batch sink (default
    parquet).

    ``fmt="cassandra"`` reproduces the reference's streaming sink
    (``CassandraPojoSinkStreaming.java:70-79``): append-mode writes
    through the connector are PRIMARY-KEY upserts, so replayed batches
    after restart overwrite instead of duplicating — the same
    exactly-once-contents argument as the parquet
    ``batch=<id>`` overwrite, enforced by the database instead of the
    directory layout. ``options`` plumb the connector's mapper knobs
    (keyspace, table, spark.cassandra.output.* e.g. saveNullsAsUnset /
    ttl — the analog of the reference's ``Mapper.Option`` list).
    The connector jar is absent in this sandbox; invoking the
    cassandra branch raises a clear error naming the package.
    """
    if fmt == "parquet":
        return idempotent_parquet_sink(target, **options)
    if fmt == "cassandra":
        missing = {"keyspace"} - set(options)
        if missing:
            raise ValueError(f"cassandra sink needs options: {sorted(missing)}")
        opts = {"table": target, **options}

        def write_batch_cassandra(batch_df: DataFrame, batch_id: int) -> None:
            try:
                (
                    batch_df.write.format(CASSANDRA_FORMAT)
                    .mode("append")  # append == upsert under a PRIMARY KEY
                    .options(**opts)
                    .save()
                )
            except Exception as ex:
                # wrap ONLY the missing-connector case; a live write
                # failure (timeout, auth, schema) must surface as
                # itself, not as a phantom packaging problem
                msg = str(ex)
                if (
                    "Failed to find data source" in msg
                    or "ClassNotFound" in msg
                    or CASSANDRA_FORMAT in msg
                ):
                    raise RuntimeError(
                        "Cassandra connector jar (com.datastax.spark:"
                        "spark-cassandra-connector) is not on the classpath in "
                        "this sandbox; add it via spark.jars.packages to write "
                        f"{opts.get('keyspace')}.{target} live"
                    ) from ex
                raise

        return write_batch_cassandra
    if fmt not in _FILE_FORMATS:
        # fail at construction, not inside the running StreamingQuery
        raise ValueError(
            f"idempotent_sink: unknown format {fmt!r}; expected 'cassandra' "
            f"or one of {sorted(_FILE_FORMATS)}"
        )

    def write_batch_generic(batch_df: DataFrame, batch_id: int) -> None:
        _reject_batch_column(batch_df)
        (
            batch_df.write.format(fmt)
            .mode("overwrite")
            .options(**options)
            .save(os.path.join(target, f"batch={batch_id}"))
        )

    return write_batch_generic


def sink_to_batch(df: DataFrame, schema) -> DataFrame:
    """Materialize a sink read-back as an in-memory batch DataFrame
    that survives deletion of the temp sink directory.

    Vanilla-session safe: never round-trips through pandas. The old
    ``toPandas() -> createDataFrame()`` pattern broke under a
    config-free SparkSession because pandas coerces a NULL-able
    bigint column (e.g. an outer join's unmatched side) to float64,
    and the non-Arrow ``createDataFrame`` verifier rejects ``4828.0``
    for ``LongType``. Instead: drop the idempotent sink's ``batch``
    partition column, cast to the declared result schema, and
    ``localCheckpoint(eager=True)`` so the partitions are held by the
    block manager and the parquet files can be removed.

    ``schema`` is a StructType or a DDL string.
    """
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    # Drop the sink's `batch` partition column ONLY when the declared
    # result schema doesn't claim it — a logical result legitimately
    # named `batch` must survive the round-trip, not fail the cast
    # below on a silently-removed column. (A schema-claimed `batch`
    # can only arrive via a DIRECT call: the idempotent writers reject
    # data columns named `batch` at write time — see
    # _reject_batch_column — so a read-back `batch` is always the
    # partition value, never shadowed data.)
    if "batch" in df.columns and "batch" not in schema.fieldNames():
        df = df.drop("batch")
    out = df.select(
        [F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )
    return out.localCheckpoint(eager=True)


def read_sink(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the idempotent sink's accumulated contents back (parquet
    sinks only). Reads the committed ``batch=<int>`` directories by
    explicit path (:func:`utils.committed_batch_dirs`), so a crash
    leftover such as ``batch=2.tmp`` is not read as data and ``batch``
    stays an int partition column. Raises a clear error when no batch
    has committed yet — a poller should treat that as "not ready", not
    as corruption."""
    dirs = committed_batch_dirs(out_dir)
    if not dirs:
        raise FileNotFoundError(
            f"read_sink: no batch=<id> directory under {out_dir} yet — the "
            "streaming query has not committed its first micro-batch"
        )
    return spark.read.option("basePath", out_dir).parquet(*dirs.values())
