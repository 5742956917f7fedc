"""Mid-batch kill fault injection for the streaming recovery paths
(round-6 verdict item 7).

The clean-restart tests (test_streaming.py, test_stateful.py) stop the
query BETWEEN batches; these kill foreachBatch IN THE MIDDLE of a
batch — after state has been written but before the checkpoint offset
commits — which is the adversarial interleaving the idempotency
arguments (snapshot-version overwrite, batch=<id> partition overwrite,
prior-index exclusion of the in-flight batch) exist for. A restart
must converge to the exact batch answer with no duplicates and no
loss.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_samples_spark.streaming.sources import (
    file_replay_stream,
    write_replay_files,
)


def _run_foreach(spark, stream_df, process, cp: str, max_attempts: int = 5) -> int:
    """Run an availableNow foreachBatch query, restarting from the
    same checkpoint after injected mid-batch failures. Returns the
    number of attempts used; fails the test if it never converges."""
    for attempt in range(1, max_attempts + 1):
        q = (
            stream_df.writeStream.foreachBatch(process)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120), "streaming query hung"
            return attempt
        except AssertionError:
            raise
        except Exception:
            q.stop()
            continue  # injected kill — restart from the checkpoint
    pytest.fail(f"query did not converge in {max_attempts} attempts")


def test_upsert_snapshot_survives_midbatch_kill(spark, tmp_path):
    """q_stream_upsert's recovery shape: kill foreachBatch AFTER the
    new snapshot version is written (and the driver-side version
    pointer advanced) but BEFORE the checkpoint commits. The replayed
    batch re-merges the same change-set — MERGE is idempotent
    (absolute upsert values, deletes) — so the final snapshot must
    equal the clean-run answer with no duplicated or lost keys."""
    from flink_samples_spark.operators.joins import merge_upsert

    replay = str(tmp_path / "replay")
    snap_root = str(tmp_path / "snap")
    cp = str(tmp_path / "cp")

    target = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k long, v double"
    )
    changes = spark.createDataFrame(
        [
            (1, 100.0, "upsert"),
            (2, 0.0, "delete"),
            (3, 300.0, "upsert"),
            (4, 0.0, "delete"),
            (5, 500.0, "upsert"),
            (6, 0.0, "delete"),
            (21, 21.0, "upsert"),
            (22, 22.0, "upsert"),
            (23, 23.0, "upsert"),
        ],
        "k long, v double, op string",
    )
    write_replay_files(changes, replay, n_files=3, order_col="k")
    target.write.mode("overwrite").parquet(os.path.join(snap_root, "v0"))

    cur = {"v": 0}
    killed = {"done": False}

    def apply_batch(batch_df, batch_id: int) -> None:
        snap = spark.read.parquet(os.path.join(snap_root, f"v{cur['v']}"))
        merged = merge_upsert(snap, batch_df, "k")
        merged.write.mode("overwrite").parquet(
            os.path.join(snap_root, f"v{cur['v'] + 1}")
        )
        cur["v"] += 1
        if batch_id == 1 and not killed["done"]:
            killed["done"] = True  # state written, offsets NOT committed
            raise RuntimeError("injected mid-batch kill (upsert)")

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("op", T.StringType()),
        ]
    )
    attempts = _run_foreach(
        spark, file_replay_stream(spark, replay, schema), apply_batch, cp
    )
    assert attempts == 2, "the injected kill must actually fire once"
    assert killed["done"]

    final = {
        r["k"]: r["v"]
        for r in spark.read.parquet(
            os.path.join(snap_root, f"v{cur['v']}")
        ).collect()
    }
    expected = {i: float(i) for i in range(20)}
    for k in (2, 4, 6):
        expected.pop(k)
    expected.update({1: 100.0, 3: 300.0, 5: 500.0, 21: 21.0, 22: 22.0, 23: 23.0})
    assert final == expected


def test_dedup_index_survives_midbatch_kills_both_interleavings(spark, tmp_path):
    """q_stream_dedup_index's recovery shape, killed at BOTH partial
    points: (a) after the pair sink write but before the index
    append, and (b) after the index append but before the checkpoint
    commit. Recovery leans on three contracts — the batch=<id> sink
    overwrite, the index's per-batch partition overwrite, and
    read_prior_index EXCLUDING the in-flight batch's own (possibly
    partial) signatures — and must land exactly the batch operator's
    pair set. Each batch runs the production path: temp views on the
    batch's own session and fused_pairs_via_views."""
    from flink_samples_spark.llmops.dedup import (
        build_dedup_index,
        fused_pairs_via_views,
        minhash_lsh_pairs,
        read_prior_index,
    )
    from flink_samples_spark.streaming.sinks import (
        idempotent_parquet_sink,
        read_sink,
    )

    replay = str(tmp_path / "replay")
    sink = str(tmp_path / "sink")
    cp = str(tmp_path / "cp")
    idx = str(tmp_path / "idx")

    base = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs today",
        "sphinx of black quartz judge my vow tonight",
        "how vexingly quick daft zebras jump around here",
        "the five boxing wizards jump quickly at dawn",
        "jackdaws love my big sphinx of quartz forever",
        "bright vixens jump while dozy fowl quack loudly",
        "two driven jocks help fax my big quiz now",
    ]
    # 12 docs in 3 replay files (ordered by doc_id): dup pairs within
    # batch 0 (1,2), within batch 2 (9,10), and across batches (3,7)
    # and (4,11) — the cross pairs are exactly what the index serves
    dup_of = {2: 1, 7: 3, 10: 9, 11: 4}
    texts: dict[int, str] = {}
    fresh = iter(base)
    for i in range(1, 13):
        texts[i] = texts[dup_of[i]] if i in dup_of else next(fresh)
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    expected = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(docs, k=3, threshold=0.8).collect()
    }
    spark.catalog.clearCache()
    assert {(a, b) for a, b, _ in expected} == {
        (1, 2),
        (3, 7),
        (9, 10),
        (4, 11),
    }

    write_replay_files(docs, replay, n_files=3, order_col="doc_id")
    sink_fn = idempotent_parquet_sink(sink)
    kills = {1: "after_sink", 2: "after_index"}

    def process(batch, batch_id: int) -> None:
        sp = batch.sparkSession
        bidx = build_dedup_index(batch, k=3).cache()
        prior = read_prior_index(sp, idx, batch_id)
        bidx.createOrReplaceTempView("t_fi_batch")
        if prior is not None:
            prior.createOrReplaceTempView("t_fi_index")
        pairs = fused_pairs_via_views(
            sp, "t_fi_batch", "t_fi_index" if prior is not None else None, threshold=0.8
        )
        sink_fn(pairs, batch_id)
        if kills.get(batch_id) == "after_sink":
            kills.pop(batch_id)
            raise RuntimeError("injected kill: sink written, index NOT appended")
        bidx.write.mode("overwrite").parquet(os.path.join(idx, f"batch={batch_id}"))
        bidx.unpersist()
        spark.catalog.clearCache()
        if kills.get(batch_id) == "after_index":
            kills.pop(batch_id)
            raise RuntimeError("injected kill: index appended, offsets NOT committed")

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    attempts = _run_foreach(
        spark, file_replay_stream(spark, replay, schema), process, cp
    )
    assert attempts == 3, "both injected kills must fire"
    assert not kills

    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in read_sink(spark, sink).select("doc_a", "doc_b", "jaccard").collect()
    }
    assert got == expected
