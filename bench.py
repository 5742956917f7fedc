#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line (stdout carries NOTHING else):
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": ..., ...}

The driver records only the LAST ~2000 characters of stdout — round
11's record was lost because per-query load-sample fields grew the
line past that window and truncated the opening brace (r11 verdict
item 1). The final line is therefore BUDGETED (hard guard < 1900
chars, shrink ladder below); everything bulky — per-sample timings,
per-run load samples, full gate detail — goes to a SIDECAR file
($SPARK_GRAFT_BENCH_SIDECAR, default ``bench_sidecar.json`` next to
this script; committed per round as ``BENCH_rN_local.json``).

Each query is materialized with a noop sink (full execution, zero
driver-transfer cost), timed after one warm-up of the session (JVM +
parquet footer caches), BEST-OF-3 (see sampling policy below).

Contention-proofing (round-10/11 verdict items) — this host is
shared, and the official round record must be classifiable from its
own fields when a co-tenant inflates a timing:

* **load gate**: the suite start is gated on the 15-minute loadavg
  (threshold $SPARK_GRAFT_BENCH_LOAD_GATE, default 8.0) with ONE
  bounded retry window (up to $SPARK_GRAFT_BENCH_LOAD_WAIT_S seconds,
  default 1500 — raised from 900 in r14 per the r13 verdict: the r13
  driver record started on a window that degraded mid-suite, and the
  gates' shared budget was too small to outwait it; the probe gate
  additionally holds out for a data-probe ratio within
  $SPARK_GRAFT_BENCH_DATA_PROBE_SOFT (default 1.25) while budget
  remains, recording ``soft_miss`` when it settles for a hard-pass
  window above that. Polling every 30 s). A host that is demonstrably quiet
  RIGHT NOW (1- and 5-min both under half the threshold) passes early
  even while a stale 15-min figure decays. The gate never aborts — on
  timeout it proceeds and says so in the JSON (``load_gate``).
* **drift-probe pre-flight gate** (r11 verdict item 3 — the loadavg
  gate alone let an r11 record start at load15 7.78 and then run
  under sustained 12-22 load): before the warm-up, the five constant
  drift probes run (one warm pass, then min over two min-of-2
  rounds) and the GEOMEAN of their 0.1 s-floored ratios to the
  committed quiet-host reference
  (``scripts/quiet_host_reference.json``) must be within
  $SPARK_GRAFT_BENCH_PROBE_GATE (default 1.2); otherwise wait and
  re-probe within the same bounded window. Geomean, not per-probe:
  the 20-30 ms range_scan probe spans 0.017-0.091 s across known-
  quiet rounds, so a per-probe 1.2× bound false-fails on a quiet
  host, while real co-tenant load inflates every probe together. Never aborts; the result rides in the JSON
  (``probe_gate``), so a record that started on a busy host is
  mechanically identifiable.
* **best-of-3, interleaved for queries > 1 s**: a slow query's
  second and third runs come from two deferred passes spaced across
  the suite — sustained co-tenant load defeats adjacent samples, and
  for seconds-long queries the separation costs little. Sub-second
  queries take all three samples BACK-TO-BACK: Spark's JVM codegen
  cache is a small LRU, evicted across a 53-query pass, so a
  pass-separated sample of a sub-second query re-pays per-stage
  compilation and prices the compiler instead of the query (measured:
  interleaving everything read a uniform ~1.3× on flat code while the
  drift probes read FAST — the exact false-regression the probes
  can't normalize away). Three samples instead of two because this
  host carries persistent background ticks: with two, whichever
  queries both samples happened to hit showed a random 1.2-1.7× tail.
  A failed SECOND or THIRD run keeps the already-valid earlier
  samples and records the failure separately (indexed ``<q>_rerunN``
  keys in errors; surviving counts in the sidecar's
  ``sample_counts``) — a transient late-suite error must not convert
  a measured query into an error row (r11/r12 ADVICE).
* **suite-spaced streaming samples**: the two streaming contract
  rates are best-of-3 with one replay BEFORE the batch loops and two
  after (~10 min apart end to end) — this host's co-tenant bursts
  last ~5 min, and adjacent replays let one burst poison every
  sample of a contract number with a hard 1,000 ev/s floor.
* **per-query load samples**: the 1-minute loadavg at the start of
  each timed run is recorded per query (``query_load``: {q: [one per
  best-of-3 sample]}, SIDECAR ONLY), so a 10× outlier is mechanically
  classifiable as load (scripts/bench_compare.py reads these) rather
  than narratively.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd  # noqa: E402 — the py_udf probe's type hints
from pyspark.sql import functions as F  # noqa: E402

from flink_samples_spark.plans import QUERIES  # noqa: E402
from flink_samples_spark.session import get_spark  # noqa: E402

# One headline per operator family (SURVEY.md §2) — the set the
# driver records against BASELINE.md.
HEADLINE = [
    "q_session_window",        # flagship (reference's own query)
    "q_session_window_keyed",  # keyed session path
    "q_tumbling_window",       # reference's windowed reduce
    "q_sliding_window",
    "q_scan_parquet",          # raw scan throughput
    "q_filter",                # pushdown path
    "q_agg_multi",             # TPC-H Q1 shape
    "q_agg_rollup",
    "q_join_broadcast",
    "q_join_smj",              # big x big shuffle join
    "q_join_star",             # 5-way star
    "q_win_rank",              # analytic window
    "q_topk_per_group",
    "q_pipeline_topk_revenue", # TPC-H Q3 shape
    "q_pipeline_filtered_agg", # TPC-H Q6 shape
    "q_udtf",                  # Arrow UDF path
    "q_dedup_exact",
    "q_dedup_near",            # MinHash LSH
    "q_dedup_groups",          # iterative connected components
    "q_join_asof",             # as-of join (union + running-last)
    "q_sample_hash",           # deterministic corpus sampling
    "q_sim_topk",              # brute-force ANN baseline
    "q_text_stats",
    "q_sql_session_window",    # SQL-string entry (reference's literal path)
    "q_join_band",             # banded range join (equi-join scale path)
    "q_chunk_docs",            # context-window chunking (narrow JVM map)
    "q_dedup_cross",           # cross-corpus decontamination (MinHash A×B)
    "q_embed_quantize",        # int8 embedding quantization
    "q_training_pipeline",     # composed curate→dedup→split→chunk pipeline
    # round-4 headliners: the window-rotation burn-down set
    "q_boilerplate",           # C4-style document-frequency filter
    "q_tokenize_vocab",        # vocab build + id-encode checksum
    "q_dedup_apply",           # detect→group→APPLY surviving corpus
    "q_stream_curate",         # curation pipeline as a REAL streaming run
    # round-4 additions: one per new plan shape
    "q_tfidf",                 # (doc,term) two-phase count + scalar-attach
    "q_corpus_shuffle",        # distributed total-order index (no global window)
    "q_merge_upsert",          # broadcast-anti MERGE change-set apply
    # round-4 late additions: sub-document rewrites + model-based scoring
    "q_dedup_span",            # corpus-frequent span deletion (hash-keyed)
    "q_dedup_within",          # within-doc repeated-span rewrite (zero-shuffle)
    "q_lm_score",              # corpus-trained bigram LM perplexity proxy
    "q_join_bloom",            # runtime bloom-filter-pruned fact join
    "q_curation_v2",           # composed round-4 pipeline (ensemble→rewrites→chunk)
    # round-5 certification set: the newest scale claims
    "q_embed_pca",             # distributed PCA (batch-partial Gram, d×d driver state)
    "q_dedup_incremental",     # ingestion dedup vs persisted signature index
    "q_stream_dedup_index",    # the same, as a REAL streaming run w/ growing index
    # round-8 addition: the de-stubbed REAL codec path (Arrow-batched
    # binary parse + numpy stats — the multimodal decode shape)
    "q_multimodal_decode",
    # round-9 additions: the COMPRESSED real codec (stdlib zlib inflate
    # + per-scanline filter reconstruction over the same Arrow batches)
    # and the AUDIO real codec (RIFF/PCM parse + per-channel means)
    "q_multimodal_decode_png",
    "q_multimodal_decode_wav",
    # round-10 additions: the LOSSY real codec (baseline JPEG Huffman
    # decode + batched numpy IDCT + JFIF color transform), the VIDEO
    # container (y4m planar stream, per-frame iteration), the
    # PALETTE+LZW codec (animated GIF — dictionary coding), and the
    # COMPRESSED VIDEO codec (MJPEG-in-AVI — RIFF walk + per-frame
    # JPEG decode)
    "q_multimodal_decode_jpeg",
    "q_multimodal_decode_y4m",
    "q_multimodal_decode_gif",
    "q_multimodal_decode_mjpeg",
    # round-10 late additions: the COMPRESSED LOSSLESS audio codec
    # (FLAC — Rice residuals, FIXED/LPC prediction, stereo
    # decorrelation, CRC-8/16 + MD5 verification) and the INTER-FRAME
    # video codec (MS-RLE8-in-AVI — skip opcodes carry pixels forward
    # from the previous frame)
    "q_multimodal_decode_flac",
    "q_multimodal_decode_rle",
]


def _loadavg() -> list[float] | None:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return None


def _load1() -> float | None:
    la = _loadavg()
    return la[0] if la else None


# Probes running a seconds-long data-heavy shape — these get their own
# gate bound and are preferred by scripts/bench_compare.py's
# normalization (keep the two tuples in sync).
DATA_PROBES = ("sf_scan_agg",)

# The data-heavy probe's input is PINNED to the default sf0.1 table,
# independent of $SPARK_GRAFT_SF_DIR: drift probes measure the HOST
# against the committed quiet-host reference, so their cost must be a
# constant — a bench run at another sf must not silently rescale the
# normalizer.
_PROBE_SF_PARQUET = "/root/testdata/sf0.1/lineitem.parquet"


def _drift_probe_fns(spark):
    """The five constant-cost probes, shared by the pre-flight gate
    and the end-of-suite drift record so the two are comparable.
    Three are JVM fixed-overhead only; ``py_udf`` (added r12)
    exercises the Arrow → Python-worker → numpy path, because JVM
    probes are structurally BLIND to Python-worker drift; and
    ``sf_scan_agg`` (added r13, r12 verdict item 2) is a SECONDS-LONG
    data-heavy shape — sf0.1 parquet scan → 32-way shuffle → two-phase
    agg with a distinct expand — because the round-12 same-host code
    A/B proved the sub-second cache-resident probes slip into
    scheduler gaps that data-heavy queries cannot: co-tenant
    containers steal CPU without appearing in this cgroup's loadavg,
    the small probes read FLAT, and bench_compare's normalization
    over-flagged byte-identical code 31× in r11 and 18× in r12. The
    long probe contends on the same resources (page cache, memory
    bandwidth, sustained cores) as the suite queries it normalizes.
    Gate/normalization use whichever probe names both sides share, so
    pre-r13 comparisons are unaffected."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _py_probe(s: pd.Series) -> pd.Series:
        import numpy as np

        a = s.to_numpy(dtype=np.float64)
        # fixed numpy work per batch: a few vector ops + a sort
        return pd.Series(np.sqrt(a * 1.0001 + 7.0) + np.sort(a % 97.0))

    return (
        # pure codegen pipeline: range → filter → sum (no shuffle)
        ("range_sum", lambda: spark.range(50_000_000)
            .filter("id % 7 != 0").agg({"id": "sum"})),
        # one shuffle: range → groupBy → count (exchange fixed cost)
        ("range_group", lambda: spark.range(5_000_000)
            .groupBy((F.col("id") % 1024).alias("k")).count()),
        # scheduler fixed cost: 32-partition no-op scan
        ("range_scan", lambda: spark.range(0, 1_000_000, 1, 32)),
        # Arrow batch transfer + python-worker numpy throughput
        ("py_udf", lambda: spark.range(0, 4_000_000, 1, 32)
            .select(F.sum(_py_probe(F.col("id"))).alias("s"))),
        # seconds-long data-heavy shape: 8-column sf0.1 scan, full-row
        # 32-way shuffle, two-phase agg + count_distinct expand
        ("sf_scan_agg", lambda: spark.read.parquet(_PROBE_SF_PARQUET)
            .repartition(32, "l_orderkey")
            .groupBy(
                "l_returnflag",
                "l_linestatus",
                (F.col("l_orderkey") % 4096).alias("b"),
            )
            .agg(
                F.sum("l_quantity").alias("q"),
                F.sum("l_extendedprice").alias("s"),
                F.avg("l_discount").alias("d"),
                F.sum("l_tax").alias("t"),
                F.max("l_shipdate").alias("m"),
                F.count_distinct("l_suppkey").alias("u"),
            )),
    )


def _run_probes(spark, errors: dict | None = None) -> dict[str, float]:
    """Min-of-2 per probe (the r8-r11 sampling, kept for round-over-
    round comparability of the drift factor). Per-probe try/except
    (r12 ADVICE): one broken probe — e.g. the py_udf worker lane, or
    a missing sf0.1 table under ``sf_scan_agg`` — must cost its own
    row, never abort the gate or the suite; the failure message lands
    in ``errors`` when the caller passes a dict."""
    best: dict[str, float] = {}
    for name, fn in _drift_probe_fns(spark):
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                fn().write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best[name] = min(best.get(name, float("inf")), dt)
        except Exception as e:  # noqa: BLE001 — record and keep probing
            best.pop(name, None)
            if errors is not None:
                errors[name] = f"{type(e).__name__}: {e}"[:300]
    return {k: round(v, 3) for k, v in best.items()}


def _geomean(xs: list[float]) -> float:
    import math

    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 1.0


def probe_preflight_gate(spark, budget_s: float | None = None) -> dict:
    """r11 verdict item 3: gate the suite on measured engine overhead,
    not loadavg alone. Runs the drift probes and requires BOTH the
    GEOMEAN of their ratios to the committed quiet-host reference
    within $SPARK_GRAFT_BENCH_PROBE_GATE (default 1.2) AND each
    data-heavy probe's ratio within $SPARK_GRAFT_BENCH_DATA_PROBE_GATE
    (default 1.5 — covert co-tenant steal can leave the small probes
    flat while the data lane runs 1.6×+); on failure,
    waits (45 s steps) and re-probes within ``budget_s`` seconds
    (default $SPARK_GRAFT_BENCH_LOAD_WAIT_S). Never aborts — a
    timed-out gate proceeds and records itself. ``budget_s`` is how
    main() shares ONE wait budget across both suite-start gates: the
    loadavg gate spends first, this gate gets the remainder, so the
    worst-case pre-suite wait is bounded at max_wait TOTAL (not per
    gate — a driver-side bench timeout must never be eaten by gates
    alone)."""
    threshold = float(os.environ.get("SPARK_GRAFT_BENCH_PROBE_GATE", "1.2"))
    # The data-heavy probe gets its OWN bound (r13): covert co-tenant
    # steal leaves the sub-second probes near-flat while the data lane
    # runs 1.6×+ (measured: a window with cgroup load1 0.07 read
    # sf_scan_agg at 1.59-1.95× reference while the small-probe ratios
    # sat at 0.96-1.09 — geomean 1.12, under the 1.2 gate), and the
    # data lane is what the suite's queries actually contend on.
    # Known-quiet pre-suite windows read 1.09-1.23×; 1.5 separates.
    data_threshold = float(
        os.environ.get("SPARK_GRAFT_BENCH_DATA_PROBE_GATE", "1.5")
    )
    # SOFT data-probe target (r14, r13 verdict item 2: the r13 driver
    # record started at d1.25× — under the 1.5 hard gate — and the
    # window then degraded to ~1.9×, eating the round's raw signal).
    # A hard-passing window whose data ratio still exceeds this target
    # keeps waiting within the shared budget for a quieter one; on
    # budget exhaustion it PROCEEDS (the gate never aborts) and the
    # recorded d-ratio makes the compromise self-describing. 1.25, not
    # 1.2: known-quiet pre-suite windows read up to 1.23× against the
    # committed reference, so 1.2 would burn the whole budget on an
    # idle host.
    soft_target = float(
        os.environ.get("SPARK_GRAFT_BENCH_DATA_PROBE_SOFT", "1.25")
    )
    max_wait = (
        budget_s
        if budget_s is not None
        else float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_WAIT_S", "1500"))
    )
    ref_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "scripts",
        "quiet_host_reference.json",
    )
    gate: dict = {"threshold": threshold}
    try:
        with open(ref_path) as f:
            ref = {k: v for k, v in json.load(f)["probes"].items() if v > 0}
    except (OSError, ValueError, KeyError):
        ref = {}
    if not ref:
        gate["result"] = "no_reference"
        return gate
    gate["reference"] = ref
    t0 = time.monotonic()
    attempts = 0
    probe_errors: dict[str, str] = {}
    # One unrecorded warm pass: the gate runs PRE-warmup on a fresh
    # session, and the first probe round pays JIT/codegen compilation
    # (measured ~1.5× the warmed value on an IDLE host) — gating on it
    # would false-fail quiet hosts. The reference was recorded warmed.
    _run_probes(spark, probe_errors)
    while True:
        # min over two rounds per attempt: single min-of-2 rounds
        # bounce up to 1.6× on an idle host (scheduler ticks)
        m1, m2 = _run_probes(spark, probe_errors), _run_probes(spark, probe_errors)
        measured = {k: min(m1.get(k, float("inf")), m2.get(k, float("inf")))
                    for k in set(m1) | set(m2)}
        attempts += 1
        # 0.1 s floor on BOTH sides: the ~50 ms range_scan probe is
        # scheduler noise at idle (0.017-0.091 s across known-quiet
        # runs) and would dominate the geomean; under real co-tenant
        # load it reads 0.5 s+ and still trips the floored ratio.
        ratios = {
            k: max(measured[k], 0.1) / max(ref[k], 0.1)
            for k in ref
            if k in measured
        }
        gate.update(
            measured=measured,
            ratios={k: round(r, 3) for k, r in ratios.items()},
            attempts=attempts,
        )
        if probe_errors:
            gate["probe_errors"] = probe_errors
        if not ratios:
            # every probe failed — nothing to gate on; never abort,
            # never fake a pass with an empty geomean (r12 ADVICE)
            gate["result"] = "error"
            break
        factor = round(_geomean(list(ratios.values())), 3)
        gate["factor"] = factor
        data_over = {
            k: round(r, 3)
            for k, r in ratios.items()
            if k in DATA_PROBES and r > data_threshold
        }
        gate["data_threshold"] = data_threshold
        gate["data_soft_target"] = soft_target
        if data_over:
            gate["data_probe_over"] = data_over
        else:
            gate.pop("data_probe_over", None)
        hard_pass = factor <= threshold and not data_over
        data_soft_over = {
            k: round(r, 3)
            for k, r in ratios.items()
            if k in DATA_PROBES and r > soft_target
        }
        if hard_pass and not data_soft_over:
            gate["result"] = "passed" if attempts == 1 else "passed_after_wait"
            gate.pop("soft_miss", None)
            break
        # clamp the sleep to the remaining shared budget, and re-check
        # it before spending another full probe round (tens of seconds
        # with py_udf + sf_scan_agg) — the pre-suite wait is bounded at
        # max_wait TOTAL, not max_wait plus a sleep plus a round
        elapsed = time.monotonic() - t0
        if elapsed < max_wait:
            time.sleep(min(45.0, max_wait - elapsed))
        if time.monotonic() - t0 >= max_wait:
            if hard_pass:
                # hard gate satisfied, soft data target never reached
                # within budget: proceed (never abort) and say so
                gate["result"] = (
                    "passed" if attempts == 1 else "passed_after_wait"
                )
                gate["soft_miss"] = data_soft_over
            else:
                gate["result"] = "timed_out"
            break
    gate["waited_s"] = round(time.monotonic() - t0, 1)
    return gate


def budget_line(payload: dict, limit: int = 1900) -> str:
    """The driver captures ~2000 trailing stdout chars; budget the
    final line to ``limit`` with a shrink ladder — 2-decimal timings,
    then truncated error strings, then errors→count — so the opening
    brace ALWAYS survives the tail window (round 11 lost its record
    to exactly this). Compact separators throughout. Mutates and
    serializes ``payload``; the sidecar keeps the full detail."""
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > limit and "queries" in payload:
        payload["queries"] = {
            k: round(v, 2) for k, v in payload["queries"].items()
        }
        line = json.dumps(payload, separators=(",", ":"))
    if len(line) > limit and "errors" in payload:
        payload["errors"] = {k: v[:60] for k, v in payload["errors"].items()}
        line = json.dumps(payload, separators=(",", ":"))
        if len(line) > limit:
            payload["errors_n"] = len(payload.pop("errors"))
            line = json.dumps(payload, separators=(",", ":"))
    # last-resort rungs (sidecar keeps every dropped field): loadavg
    # pairs, then the long metric string — the timings themselves are
    # never dropped, they ARE the record
    for key in ("loadavg_start", "loadavg"):
        if len(line) > limit and key in payload:
            payload.pop(key)
            line = json.dumps(payload, separators=(",", ":"))
    if len(line) > limit:
        payload["metric"] = "headline-suite sec"
        line = json.dumps(payload, separators=(",", ":"))
    return line


def wait_for_quiet_host() -> dict:
    """Gate the suite start on the 15-minute loadavg (r10 verdict
    item 1a). One bounded retry window; never aborts — a timed-out
    gate proceeds and records itself so the JSON is self-describing."""
    threshold = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_GATE", "8.0"))
    max_wait = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_WAIT_S", "1500"))
    gate: dict = {"threshold": threshold, "max_wait_s": max_wait}
    start = _loadavg()
    gate["loadavg_initial"] = start
    if start is None:  # platform without getloadavg — nothing to gate on
        gate["result"] = "unavailable"
        return gate
    t0 = time.monotonic()
    first = True
    while True:
        la = _loadavg()
        quiet_now = la[0] <= threshold / 2 and la[1] <= threshold / 2
        if la[2] <= threshold or quiet_now:
            gate["result"] = "passed" if first else "passed_after_wait"
            break
        if time.monotonic() - t0 >= max_wait:
            gate["result"] = "timed_out"
            break
        first = False
        time.sleep(30)
    gate["waited_s"] = round(time.monotonic() - t0, 1)
    gate["loadavg_at_start"] = _loadavg()
    return gate


def main() -> None:
    load_gate = wait_for_quiet_host()
    loadavg_start = load_gate.get("loadavg_at_start") or load_gate.get(
        "loadavg_initial"
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="fss-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # shared wait budget across BOTH suite-start gates (the loadavg
    # gate spent first; the probe gate gets what remains)
    total_wait = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_WAIT_S", "1500"))
    try:
        probe_gate = probe_preflight_gate(
            spark, budget_s=max(0.0, total_wait - load_gate.get("waited_s", 0.0))
        )
    except Exception as e:  # noqa: BLE001 — r12 ADVICE: the gate's
        # documented contract is 'never aborts'; an unexpected failure
        # OUTSIDE the per-probe guards (reference parse, clock, ...)
        # must cost the gate row, not the whole bench record
        probe_gate = {"result": "error", "error": f"{type(e).__name__}: {e}"[:300]}

    # Warm-up pass: JVM codegen, Python worker pool, parquet footers.
    # No DataFrame/result caching — only engine infrastructure warms;
    # the timed pass re-plans and re-executes every query in full.
    # Per-query try/except: one broken query must never zero out the
    # whole bench record (round 2 lost its entire perf signal that way).
    errors: dict[str, str] = {}
    for name in HEADLINE:
        try:
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — record and keep benching
            errors[name] = f"{type(e).__name__}: {e}"[:300]
    # drop data caches (CacheManager matches canonical plans, so the
    # timed pass would silently reuse warm-up .cache() results);
    # JVM/codegen/worker-pool warmth is what we want to keep
    spark.catalog.clearCache()

    # Best-of-2 with the r10 verdict's split sampling policy:
    # sub-second queries take their two samples BACK-TO-BACK (the JVM
    # codegen cache is a small LRU — evicted across a 53-query pass —
    # so a pass-separated sample re-pays per-stage compilation and
    # prices the compiler, not the query); queries over 1 s take the
    # second sample in a deferred INTERLEAVED pass ~a suite apart,
    # because a sustained co-tenant burst defeats adjacent samples and
    # seconds of real work amortize the compile cost. The min measures
    # the query, not the neighbor. Caches are cleared between runs, so
    # each run still executes in full. The 1-min loadavg at each run's
    # start is kept per query so adjudication of an outlier is
    # mechanical (query_load in the JSON; bench_compare reads it).
    samples: dict[str, list[float]] = {}
    query_load: dict[str, list[float | None]] = {}

    def timed_run(name: str) -> bool:
        """One timed noop-materialized run; False on error.
        Construction INSIDE the timing: iterative operators (connected
        components) execute jobs while the DataFrame is being built,
        and plan analysis is part of latency."""
        try:
            load = _load1()
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            spark.catalog.clearCache()
        except Exception as e:  # noqa: BLE001 — record and keep benching
            # A failed re-run keeps the already-valid earlier samples
            # (r11 ADVICE): the min over the surviving samples is still
            # a true measurement; only a FIRST-run failure leaves the
            # query with no timing at all. Rerun error keys are INDEXED
            # (r12 ADVICE: a flat `<q>_rerun` key let a second failure
            # overwrite the first, and a query silently degraded from
            # best-of-3 to best-of-1); the sidecar's sample_counts
            # makes any degraded best-of-N visible.
            if name not in samples:
                key = name
            else:
                n = 2
                while f"{name}_rerun{n}" in errors:
                    n += 1
                key = f"{name}_rerun{n}"
            errors[key] = f"{type(e).__name__}: {e}"[:300]
            return False
        samples.setdefault(name, []).append(dt)
        query_load.setdefault(name, []).append(load)
        return True

    # best-of-3 everywhere (a co-tenant burst must span all three
    # samples to poison the min — two-sample runs on this host left a
    # random ~1.2-1.7× tail on whichever queries both samples hit):
    # sub-second queries take all three back-to-back, slow queries
    # take samples two and three in two separate deferred passes.
    # Streaming throughput machinery, hoisted so its samples can be
    # SPACED across the whole suite (one pass before the batch loops,
    # two after — ~10 min apart end to end): the streaming rates are
    # contract numbers against a hard 1,000 ev/s floor, this host's
    # co-tenant bursts last ~5 min, and adjacent replays let one burst
    # poison every sample (observed thrice this round). Caches are
    # cleared between replays so each executes end-to-end. Inside
    # try/except like every other probe: a missing/corrupt
    # events.parquet must cost the two streaming rows, not the whole
    # bench record (the round-2 lesson).
    try:
        n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    except Exception as e:  # noqa: BLE001
        n_events = None
        errors["stream_event_count"] = f"{type(e).__name__}: {e}"[:300]

    stream_best: dict[str, float] = {}
    stream_load: dict[str, list[float | None]] = {}

    def stream_pass() -> None:
        for qname in ("q_stream_session", "q_stream_ewma"):
            if n_events is None or qname in errors:
                continue
            try:
                load = _load1()
                t0 = time.perf_counter()
                QUERIES[qname](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                spark.catalog.clearCache()
            except Exception as e:  # noqa: BLE001
                errors[qname] = f"{type(e).__name__}: {e}"[:300]
                stream_best.pop(qname, None)
                stream_load.pop(qname, None)
                continue
            stream_best[qname] = min(stream_best.get(qname, float("inf")), dt)
            stream_load.setdefault(qname, []).append(load)

    stream_pass()  # sample 1, before the batch loops

    # The data-heavy drift probe (sf_scan_agg) is sampled SPACED
    # across the suite — once here (post-warmup), once between the
    # two deferred passes, plus the end-of-suite min-of-2 — and the
    # recorded value is the min. The query timings it normalizes are
    # best-of-3 spaced mins (quietest window the host offered during
    # the run); a single end-of-suite sample would instead price
    # whatever residue that one moment has, injecting its variance
    # into every normalized ratio bench_compare prints.
    data_probe_samples: list[float] = []

    def sample_data_probe() -> None:
        try:
            fn = dict(_drift_probe_fns(spark))["sf_scan_agg"]
            load = _load1()
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            data_probe_samples.append(time.perf_counter() - t0)
            drift_load.setdefault("sf_scan_agg", []).append(load)
            spark.catalog.clearCache()
        except Exception as e:  # noqa: BLE001 — its own row, never the suite
            errors["drift_sf_scan_agg_spaced"] = f"{type(e).__name__}: {e}"[:300]

    drift_load: dict[str, list[float | None]] = {}
    sample_data_probe()

    deferred: list[str] = []
    for name in HEADLINE:
        if name in errors:
            continue
        if not timed_run(name):
            continue
        if samples[name][0] <= 1.0:
            # adjacent samples 2+3 (each attempt independent: a
            # transient failure of sample 2 must not cost sample 3)
            timed_run(name)
            timed_run(name)
        else:
            deferred.append(name)  # interleaved samples 2+3 below
    for _pass in range(2):
        for name in deferred:
            if name not in errors:
                timed_run(name)
        if _pass == 0:
            sample_data_probe()  # mid-suite spaced sample

    stream_pass()  # samples 2+3, ~a suite apart from sample 1
    stream_pass()

    timings = {name: round(min(ts), 3) for name, ts in samples.items()}

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline-suite wall time (noop-materialized, local)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }

    # Streaming throughput vs BASELINE.md's ≥1,000 records/s floor
    # (the reference's sources cap at 100-1,000 rows/s): the REAL
    # watermarked session-window replay (stateless contract number)
    # and the per-key EWMA applyInPandasWithState replay (stateful) —
    # best-of-3, sampled above with suite-wide spacing.
    if n_events is None:
        for key in ("stream_events_per_s", "stream_stateful_events_per_s"):
            errors[key] = "events table unavailable (see stream_event_count)"
    else:
        if "q_stream_session" in stream_best:
            payload["stream_events_per_s"] = round(
                n_events / stream_best["q_stream_session"]
            )
        if "q_stream_ewma" in stream_best:
            # STATEFUL streaming throughput (round-4 verdict item 5):
            # the same events replay through the EWMA
            # applyInPandasWithState operator — one output row per
            # event, user-managed state per key bucket (one Python
            # call per bucket) — so BENCH tracks a stateless AND a
            # stateful custom operator number against the same
            # ≥1,000 records/s floor.
            payload["stream_stateful_events_per_s"] = round(
                n_events / stream_best["q_stream_ewma"]
            )

    # Host-drift reference points: the five constant probes again at
    # END of suite, so round-over-round comparisons can normalize host
    # noise from the JSON itself (scripts/bench_compare.py). Min-of-2
    # back-to-back, the r8-r11 sampling — comparability of the drift
    # factor across rounds is the whole point of the probes; the
    # data-heavy sf_scan_agg additionally folds in its two SPACED
    # mid-suite samples (see sample_data_probe above) so its recorded
    # min is sampled the same way as the best-of-3 query timings it
    # normalizes. loadavg (1/5/15-min) records what the host was doing
    # DURING the bench — a loaded driver host shows up here, not as a
    # mystery regression in the query numbers.
    drift_best: dict[str, float] = {}
    for probe_name, probe_fn in _drift_probe_fns(spark):
        try:
            best = float("inf")
            for _ in range(2):
                load = _load1()
                t0 = time.perf_counter()
                probe_fn().write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
                drift_load.setdefault(probe_name, []).append(load)
            drift_best[probe_name] = best
        except Exception as e:  # noqa: BLE001
            errors[f"drift_{probe_name}"] = f"{type(e).__name__}: {e}"[:300]
            drift_best.pop(probe_name, None)
            drift_load.pop(probe_name, None)
    if data_probe_samples:  # spaced samples stand even if the
        # end-of-suite row failed (they are independent measurements)
        drift_best["sf_scan_agg"] = min(
            drift_best.get("sf_scan_agg", float("inf")), *data_probe_samples
        )
    payload["drift_probes"] = {k: round(v, 3) for k, v in drift_best.items()}
    # loadavg at BOTH ends: the end-of-run 1-minute figure mostly
    # reflects the bench's own local[32] execution; the start-of-run
    # figure is what exposes a host that was already busy before the
    # suite began (the signal that actually predicts inflated timings)
    if loadavg_start is not None:
        payload["loadavg_start"] = loadavg_start
    la_end = _loadavg()
    if la_end is not None:
        payload["loadavg"] = la_end

    # Gate results ride in the driver line as COMPACT summaries; the
    # full detail (references, ratios, per-attempt measurements) plus
    # every per-sample field goes to the sidecar. The r11 record died
    # by unbounded growth of exactly these fields.
    payload["load_gate"] = load_gate.get("result")
    if "factor" in probe_gate:
        _pg = "{}({}x".format(probe_gate.get("result"), probe_gate["factor"])
        _dr = probe_gate.get("ratios", {}).get("sf_scan_agg")
        if _dr is not None:  # data-lane ratio rides in the compact string
            _pg += f";d{_dr}x"
        payload["probe_gate"] = _pg + ")"
    else:
        payload["probe_gate"] = probe_gate.get("result")
    if errors:
        payload["errors"] = errors

    sidecar_path = os.environ.get(
        "SPARK_GRAFT_BENCH_SIDECAR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_sidecar.json"),
    )
    sidecar = dict(payload)
    sidecar.update(
        load_gate=load_gate,
        probe_gate=probe_gate,
        samples={k: [round(x, 3) for x in v] for k, v in samples.items()},
        # surviving best-of-N per query: 3 = full sampling, less =
        # degraded by recorded rerun failures (r12 ADVICE)
        sample_counts={k: len(v) for k, v in samples.items()},
        query_load=query_load,
        stream_best_s={k: round(v, 3) for k, v in stream_best.items()},
        stream_load=stream_load,
        drift_load=drift_load,
        sf_scan_agg_spaced=[round(x, 3) for x in data_probe_samples],
    )
    try:
        with open(sidecar_path, "w") as f:
            json.dump(sidecar, f, indent=1)
            f.write("\n")
        payload["sidecar"] = os.path.basename(sidecar_path)
        print(f"sidecar written: {sidecar_path}", file=sys.stderr)
    except OSError as e:
        print(f"sidecar write failed: {e}", file=sys.stderr)

    print(budget_line(payload))


if __name__ == "__main__":
    main()
