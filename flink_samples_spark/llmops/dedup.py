"""Deduplication operators for LLM data pipelines (SURVEY.md §2.11).

Four tiers of dedup, from exact to fuzzy, all expressed as DataFrame
compositions (shuffle-conscious; see each docstring):

- :func:`exact_dedup` — content-hash groupBy. One shuffle on the
  hash; at 100 TB the hash (16 bytes) shuffles, never the text.
- :func:`ngram_jaccard_pairs` — EXACT pairwise word-shingle Jaccard
  via shingle-explode + self-join. Quadratic in co-shingled docs;
  this is the small/medium-corpus truth baseline the LSH path is
  measured against.
- :func:`minhash_lsh_pairs` — MinHash + LSH banding. Near-linear:
  shuffle is on (band, band_hash) buckets; 128 hashes in 32 bands ×
  4 rows, where the TEXTBOOK banding analysis gives P(missing a pair
  with J≥0.8) < 5e-8 (the hash family's 64-bit wrap makes the bound
  empirical — recall-tested against the exact operator — rather than
  formal), so its output equals the exact operator's on real data
  while scaling to 100 TB (bucket-join instead of all-pairs).
- :func:`simhash_signatures` — 64-bit SimHash; near-dups differ in
  few bits. Join on rotated prefix buckets at scale.

Incremental (ingestion) dedup against a stored signature index has
four entry points: :func:`build_dedup_index` signs a batch once,
:func:`read_prior_index` reads the prior batches' index partitions,
:func:`fused_pairs_via_views` emits within-batch and batch×index
pairs from one bucketing shuffle (q_stream_dedup_index), and
:func:`dedup_against_index` emits batch×index pairs with sides
tracked, so the two may share doc_ids (q_dedup_incremental).

Skew note (100 TB): boilerplate shingles create hot LSH buckets. The
bucketed paths handle buckets over ``max_bucket`` docs by
triangle-salting them into bounded sub-buckets by default (exact same
pair set; no task ever expands a hot bucket's quadratic pair set in
one row — see :func:`_bucket_candidate_pairs`), or by dropping them
as boilerplate (``hot_buckets="drop"``). Either way an observed
metric (``df.observe`` — rides the main job, zero extra passes) logs
the hot bucket/doc counts, so recall loss is never silent.
"""

from __future__ import annotations

import logging
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_samples_spark.llmops.text import document_fingerprint
from flink_samples_spark.utils import (
    committed_batch_dirs,
    observe_and_warn,
    parallelize_by_key,
    parallelize_narrow,
    partitions_for_size,
)

_LOG = logging.getLogger(__name__)

_MERSENNE = (1 << 61) - 1
_N_HASHES = 128
_BANDS = 32
_ROWS_PER_BAND = _N_HASHES // _BANDS


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by canonical content fingerprint: one survivor
    (min doc_id) per content group + the duplicate count."""
    fp = document_fingerprint(docs)
    return fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _shingles(
    docs: DataFrame, k: int, short_docs: str = "truncate", distinct: bool = True
) -> DataFrame:
    """(doc_id, shingle) pairs: word k-grams per document, built with
    JVM HOFs (split + transform + slice) — no Python.

    ``short_docs`` picks the semantics for documents shorter than
    ``k`` words — the ONE deliberate fork between this file's callers:

    - ``"truncate"`` (default): the whole text contributes as one
      truncated shingle. This is what near-dup detection needs (two
      identical 2-word docs must still be able to match under k=3)
      and the published truncated-document decontamination rule
      (eval items shorter than the n-gram window are matched by
      their full text).
    - ``"drop"``: no shingles. Right for frequency/boilerplate
      REPORTS, where a pseudo-k-gram made of a frequent one-liner's
      full text would pollute the counts with non-k-grams.

    ``distinct=False`` keeps every occurrence (raw-frequency
    counting); the default dedups within each document.
    """
    if short_docs not in ("truncate", "drop"):
        raise ValueError(f"_shingles: unknown short_docs mode {short_docs!r}")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    if short_docs == "truncate":
        idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    else:
        idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
            F.array().cast("array<int>")
        )
    grams = F.transform(idx, lambda i: F.array_join(F.slice(words, i, k), " "))
    if distinct:
        grams = F.array_distinct(grams)
    return docs.select("doc_id", F.explode(grams).alias("shingle"))


def _shingle_hashes(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, array<long> distinct shingle hashes), all JVM-side.

    Each word is xxhash64'd once; a k-gram's hash is xxhash64 over its
    k word hashes (pure JVM, no string building). O(words·k) instead
    of the O(words²) that building k-gram STRINGS via slice-copies
    costs; the hash→k-gram mapping is injective modulo 2⁻⁶⁴
    collisions, so Jaccard over these sets equals Jaccard over string
    shingles. Truncated grams (docs shorter than k words) get a
    sentinel in the missing positions."""
    # The word-hash array is materialized in its OWN projection: if it
    # were an inline expression, Catalyst would substitute the whole
    # transform at every element access inside the gram lambda —
    # re-hashing all words per access (measured 11× slower).
    with_wh = docs.select(
        "doc_id",
        F.transform(F.split(F.col("text"), " "), lambda w: F.xxhash64(w)).alias("wh"),
    )
    wh = F.col("wh")
    idx = F.sequence(F.lit(1), F.greatest(F.size(wh) - (k - 1), F.lit(1)))

    def gram_hash(i):
        parts = [
            F.coalesce(F.try_element_at(wh, i + F.lit(j)), F.lit(-8191991))
            for j in range(k)
        ]
        return F.xxhash64(*parts)

    grams = F.array_distinct(F.transform(idx, gram_hash))
    return with_wh.select("doc_id", grams.alias("shingle_hashes"))


def ngram_jaccard_pairs(docs: DataFrame, k: int = 3, threshold: float = 0.8) -> DataFrame:
    """Exact pairs (a < b) with word-``k``-gram Jaccard ≥ threshold.

    Plan: explode distinct shingles → self-join on shingle (the only
    shuffle) → count intersections per pair → Jaccard from per-doc
    shingle counts. Counts are exact ints, so the division is
    bit-identical across engines (oracle-checkable).
    """
    sh = _shingles(docs, k).cache()
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    # no broadcast hint on the count tables: they are O(corpus) rows
    # (16 B each), and a hard hint would pin a multi-GB broadcast at
    # billions of docs. counts sits directly above the groupBy
    # shuffle, so AQE has its ACTUAL size and still picks the
    # broadcast join whenever it genuinely fits.
    jac = (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")


def _make_minhash_band_rows(packed: bool = False):
    """Build the (doc_id, shingle_hashes) → (band_id, band_hash) map
    function as a CLOSURE: cloudpickle ships it by value, so executor
    Python workers need no importable copy of this package on their
    sys.path (the driver harness may run us from anywhere).

    ``packed=True`` emits ONE row per document —
    (doc_id, shingle_hashes, band_hashes array<bigint>, band id =
    array position) — the zero-shuffle index-build form (see
    :func:`build_dedup_index`); the default emits the exploded
    (doc_id, band, band_hash) rows the bucketing shuffle consumes.

    Input shingle hashes are JVM xxhash64 (see _shingle_hashes); here
    is only vectorized numpy: sig[i] = min over shingles of
    mod_mersenne((a_i·x wrapped mod 2⁶⁴) + b_i) with seed-fixed
    constants, then per-band polynomial rollup — deterministic across
    runs and partitionings. Honesty note: the uint64 product WRAPS
    before the Mersenne reduction (exact 61-bit modular
    multiplication would need hi/lo splitting), so this is a fixed
    deterministic mixing family, not the textbook Carter-Wegman
    universal hash — the banding recall claims rest on the empirical
    recall tests against exact Jaccard, not on the CW bound."""
    n_hashes, bands, rows_per_band, mersenne = _N_HASHES, _BANDS, _ROWS_PER_BAND, _MERSENNE

    def minhash_band_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        rng = np.random.RandomState(42)
        a = rng.randint(1, mersenne, size=n_hashes, dtype=np.int64).astype(np.uint64)
        b = rng.randint(0, mersenne, size=n_hashes, dtype=np.int64).astype(np.uint64)
        # per-band polynomial weights for the rollup (base 1000003)
        poly = np.array(
            [pow(1000003, rows_per_band - 1 - i, 1 << 61) for i in range(rows_per_band)],
            dtype=np.uint64,
        )

        M = np.uint64(mersenne)
        MASK61 = np.uint64((1 << 61) - 1)

        def mod_mersenne(x):
            # exact x % (2^61-1) via shift/mask — no uint64 division
            # (the division is ~10× the cost of the multiply it follows)
            r = (x & M) + (x >> np.uint64(61))
            r[r >= M] -= M
            return r

        # Docs are processed in flat-concatenated chunks with
        # minimum.reduceat for the per-doc signature min — one numpy
        # kernel per ~64 docs instead of one Python iteration per doc.
        # The chunk cap keeps the (n_hashes × Σshingles) intermediate
        # ~8 MB: big enough to amortize loop overhead, small enough to
        # stay cache-resident (a batch-sized matrix measured 8× SLOWER
        # than the per-doc loop purely from memory traffic).
        max_flat = 8_000

        for pdf in batches:
            n_docs = len(pdf)
            if n_docs == 0:
                continue
            lens = np.fromiter(
                (len(h) for h in pdf["shingle_hashes"]), dtype=np.int64, count=n_docs
            )
            flat = mod_mersenne(
                np.concatenate(
                    [np.asarray(h, dtype=np.int64) for h in pdf["shingle_hashes"]]
                ).astype(np.uint64)
            )
            ends = np.cumsum(lens)
            starts = ends - lens
            sig = np.empty((n_hashes, n_docs), dtype=np.uint64)
            d0 = 0
            while d0 < n_docs:
                d1 = d0 + 1
                while d1 < n_docs and ends[d1] - starts[d0] <= max_flat:
                    d1 += 1
                seg = flat[starts[d0] : ends[d1 - 1]]
                m = mod_mersenne(a[:, None] * seg[None, :] + b[:, None])
                offs = (starts[d0:d1] - starts[d0]).astype(np.intp)
                sig[:, d0:d1] = np.minimum.reduceat(m, offs, axis=1)
                d0 = d1
            # per-band polynomial rollup, vectorized over all docs
            chunks = sig.reshape(bands, rows_per_band, n_docs)
            bh = ((chunks * poly[None, :, None]) & MASK61).sum(axis=1) & MASK61
            if packed:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "shingle_hashes": pdf["shingle_hashes"],
                        "band_hashes": list(bh.T.astype(np.int64)),
                    }
                )
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(np.asarray(pdf["doc_id"], dtype=np.int64), bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), n_docs),
                    "band_hash": bh.T.reshape(-1).astype(np.int64),
                }
            )

    return minhash_band_rows


def _make_oph_band_rows(packed: bool = False):
    """One-permutation MinHash (OPH) banding stage as a closure (see
    :func:`_make_minhash_band_rows` for the pickling contract and the
    ``packed`` index-row form).

    Instead of ``n_hashes`` independent permutations (128 multiply+mod
    per shingle), OPH hashes each shingle ONCE and partitions the hash
    space into ``n_hashes`` bins; the signature is the per-bin minimum
    (Li, Owen & Zhang 2012). Empty bins (a doc with S shingles leaves
    ~128·e^(-S/128) bins empty) are filled by circular
    nearest-filled-bin borrowing with a distance-salted value
    (densification à la Shrivastava & Li 2014), keeping collision
    probability ≈ Jaccard for every bin. Cost per shingle drops from
    O(n_hashes) to O(1) — the kernel that dominates signature time at
    scale — at slightly higher signature variance; the downstream
    exact-Jaccard verification step is unchanged, so precision is
    identical and only recall is at stake (checked against the exact
    operator in tests/test_llmops.py).
    """
    n_hashes, bands, rows_per_band, mersenne = _N_HASHES, _BANDS, _ROWS_PER_BAND, _MERSENNE

    def oph_band_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        M = np.uint64(mersenne)
        MASK61 = np.uint64((1 << 61) - 1)
        NBINS = np.uint64(n_hashes)
        EMPTY = np.uint64(mersenne)  # sentinel > any reduced value
        # distance salt for densified (borrowed) values — decorrelates
        # bins borrowing from the same source at different distances
        DSALT = np.uint64(0x9E3779B97F4A7C15 % mersenne)
        poly = np.array(
            [pow(1000003, rows_per_band - 1 - i, 1 << 61) for i in range(rows_per_band)],
            dtype=np.uint64,
        )

        def mod_mersenne(x):
            r = (x & M) + (x >> np.uint64(61))
            r[r >= M] -= M
            return r

        for pdf in batches:
            n_docs = len(pdf)
            if n_docs == 0:
                continue
            lens = np.fromiter(
                (len(h) for h in pdf["shingle_hashes"]), dtype=np.int64, count=n_docs
            )
            flat = np.concatenate(
                [np.asarray(h, dtype=np.int64) for h in pdf["shingle_hashes"]]
            ).astype(np.uint64)
            # ONE hash evaluation per shingle: bin from the top bits
            # (independent of the value bits used for the min)
            vals = mod_mersenne(flat)
            bins = (flat >> np.uint64(64 - 7)) % NBINS  # 2^7 = 128 bins
            doc_idx = np.repeat(np.arange(n_docs, dtype=np.uint64), lens)
            key = doc_idx * NBINS + bins
            # per-(doc, bin) minimum via one sort + reduceat — O(S log S)
            # with a tiny constant, vs the k-perm path's O(S · n_hashes)
            order = np.argsort(key, kind="stable")
            ks, vs = key[order], vals[order]
            starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
            mins = np.minimum.reduceat(vs, starts)
            sig = np.full(n_docs * n_hashes, EMPTY, dtype=np.uint64)
            sig[ks[starts].astype(np.intp)] = mins
            sig = sig.reshape(n_docs, n_hashes)
            # densification: each empty bin borrows the value of the
            # nearest filled bin to its circular left, salted by the
            # borrow distance. Doubling over shifts 1,2,4,... resolves
            # every distance ≤ 127 in 7 vectorized rounds.
            dist = np.where(sig == EMPTY, np.uint64(1 << 32), np.uint64(0))
            for s in (1, 2, 4, 8, 16, 32, 64):
                cand_v = np.roll(sig, s, axis=1)
                cand_d = np.roll(dist, s, axis=1) + np.uint64(s)
                take = cand_d < dist
                sig[take] = cand_v[take]
                dist[take] = cand_d[take]
            filled = dist > np.uint64(0)
            if filled.any():
                sig[filled] = mod_mersenne(sig[filled] + dist[filled] * DSALT)
            # per-band polynomial rollup (identical to the k-perm path);
            # sig is (n_docs, n_hashes) → transpose to (n_hashes, n_docs)
            chunks = np.ascontiguousarray(sig.T).reshape(bands, rows_per_band, n_docs)
            bh = ((chunks * poly[None, :, None]) & MASK61).sum(axis=1) & MASK61
            if packed:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "shingle_hashes": pdf["shingle_hashes"],
                        "band_hashes": list(bh.T.astype(np.int64)),
                    }
                )
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(np.asarray(pdf["doc_id"], dtype=np.int64), bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), n_docs),
                    "band_hash": bh.T.reshape(-1).astype(np.int64),
                }
            )

    return oph_band_rows


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    signature: str = "oph",
    hot_buckets: str = "salt",
    stats_out: dict | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs (a < b) with exact-Jaccard verify.

    ``signature="oph"`` (default) uses one-permutation MinHash with
    densification — O(1) hash work per shingle instead of O(n_hashes),
    the 100 TB signature path; ``signature="kperm"`` keeps the classic
    128-permutation kernel (lower variance, 128× the arithmetic) for
    recall comparison.

    Stages: (1) signature+banding (Arrow-batched pandas stage, no
    shuffle); (2) ONE groupBy shuffle on (band, band_hash) gathering
    each bucket's doc list, with in-bucket pairs expanded JVM-side
    (no self-join, no second branch over the band table, no broadcast
    for the size guard — ``F.size`` filters hot boilerplate buckets
    for free); (3) exact Jaccard verification of the candidate pairs
    via shingle intersection. ``max_bucket`` bounds the blow-up of
    any one bucket (≤ max_bucket²/2 pairs from one grouped row);
    buckets over the bound are triangle-salted into bounded
    sub-buckets by default (exact pair set preserved) or dropped
    with a logged metric under ``hot_buckets="drop"`` — see
    :func:`_bucket_candidate_pairs` for both policies and
    ``stats_out``.

    Caching contract: ``hashed`` is ``.cache()``d because it feeds
    the banding stage and both sides of the verification join;
    entries persist for the session (LRU-evicted under pressure).
    Long-lived sessions timing repeated runs should
    ``spark.catalog.clearCache()`` between them (bench.py does).
    """
    # cache the hashed-shingle arrays: they feed the banding stage AND
    # both sides of the verification join (per-doc array of longs —
    # ~2 KB/doc; Spark recomputes gracefully on eviction). r14: hash-
    # partitioned + sorted on doc_id BEFORE the cache, so each verify
    # merge join reuses the cached layout instead of exchanging and
    # sorting the sketch frame again (guide §2.4 — two O(corpus-
    # sketch) exchanges removed per run; see parallelize_by_key)
    hashed = parallelize_by_key(_shingle_hashes(docs, k), "doc_id").cache()
    bands = hashed.mapInPandas(
        _band_fn(signature), "doc_id bigint, band int, band_hash bigint"
    )
    candidates = _bucket_candidate_pairs(
        bands, ["band", "band_hash"], max_bucket, hot_buckets, stats_out
    )
    return _verify_jaccard_pairs(hashed, candidates, threshold)


def _band_fn(signature: str, packed: bool = False):
    if signature == "oph":
        return _make_oph_band_rows(packed)
    if signature == "kperm":
        return _make_minhash_band_rows(packed)
    raise ValueError(f"unknown signature kind: {signature!r}")


# index-frame schema emitted by the packed banding form (band id =
# 0-based array position; see build_dedup_index)
_INDEX_SCHEMA = (
    "doc_id bigint, shingle_hashes array<bigint>, band_hashes array<bigint>"
)


_PAIR_ARRAY_TYPE = "array<struct<doc_a:bigint,doc_b:bigint>>"


def _sql_pairs_within(arr: str) -> str:
    """All (a<b) pairs of an ASCENDING-sorted array column ``arr``, as
    array<struct<doc_a,doc_b>>: for element i, pair it with every
    later element. Pure codegen; the caller bounds the array size.
    The single definition: :func:`_pairs_within` parses this string
    for the DataFrame paths."""
    return (
        f"flatten(transform({arr}, (x, i) -> "
        f"transform(slice({arr}, i + 2, size({arr})), "
        f"y -> named_struct('doc_a', x, 'doc_b', y))))"
    )


def _sql_jaccard(a: str, b: str) -> str:
    """THE exact-Jaccard expression over two shingle-hash array columns
    (the single definition; every verify path uses it): hash-set
    intersection in the JVM, |A∩B| / |A∪B| rounded to 6 places."""
    inter = f"size(array_intersect({a}, {b}))"
    return f"round(CAST({inter} AS DOUBLE) / (size({a}) + size({b}) - {inter}), 6)"


def _sql_salted_hot_cte(hot_view: str, n_col: str, list_col: str, max_bucket: int) -> str:
    """SQL transliteration of :func:`_salted_hot_pairs` as a CTE chain
    ending in ``hot_pairs(p)``: triangle-salted redistribution of
    buckets over ``max_bucket`` docs (exact pair set, bounded tasks).
    ``hot_view`` holds (band, band_hash, ``n_col``, ``list_col``) rows
    already filtered to n > max_bucket."""
    cross = (
        "flatten(transform(lo, x -> transform(hi, y -> "
        "named_struct('doc_a', least(x, y), 'doc_b', greatest(x, y)))))"
    )
    return f"""
    hot_docs AS (
      SELECT band, band_hash,
             CAST(ceil({n_col} / {max_bucket}) AS INT) AS s,
             explode({list_col}) AS doc_id
      FROM {hot_view}
    ),
    tagged AS (
      SELECT band, band_hash, doc_id, s,
             CAST(pmod(xxhash64(doc_id, band, band_hash), s) AS INT) AS salt
      FROM hot_docs
    ),
    cells0 AS (
      SELECT band, band_hash, doc_id, salt,
             explode(sequence(0, s - 1)) AS j
      FROM tagged
    ),
    cells AS (
      SELECT /*+ REPARTITION(band, band_hash, ci, cj) */
             band, band_hash, doc_id, salt,
             least(salt, j) AS ci, greatest(salt, j) AS cj
      FROM cells0
    ),
    cellg AS (
      SELECT band, band_hash, ci, cj,
             sort_array(collect_list(CASE WHEN salt = ci THEN doc_id END)) AS lo,
             sort_array(collect_list(CASE WHEN salt <> ci THEN doc_id END)) AS hi
      FROM cells GROUP BY band, band_hash, ci, cj
    ),
    hot_pairs AS (
      SELECT explode(
        CASE WHEN ci = cj THEN {_sql_pairs_within('lo')} ELSE {cross} END
      ) AS p
      FROM cellg
    )"""


def _fused_grouped_sql(batch_view: str, index_view: str | None) -> str:
    """Statement 1 of :func:`fused_pairs_via_views`: the bucketing
    aggregate over the packed band arrays. Without an index:
    (band, band_hash, n_docs, ds); with one: (band, band_hash,
    da = index docs, db = batch docs, nb = size(db))."""
    if index_view is None:
        return f"""
        SELECT band, band_hash,
               count(1) AS n_docs,
               sort_array(collect_list(doc_id)) AS ds
        FROM (
          SELECT doc_id, CAST(pe.pos AS INT) AS band, pe.col AS band_hash
          FROM {batch_view}
          LATERAL VIEW posexplode(band_hashes) pe AS pos, col
        ) GROUP BY band, band_hash"""
    return f"""
    SELECT band, band_hash, da, db, size(db) AS nb FROM (
      SELECT band, band_hash,
             sort_array(collect_list(CASE WHEN side = 0 THEN doc_id END)) AS da,
             sort_array(collect_list(CASE WHEN side = 1 THEN doc_id END)) AS db
      FROM (
        SELECT doc_id, 0 AS side, CAST(pe.pos AS INT) AS band, pe.col AS band_hash
        FROM {index_view}
        LATERAL VIEW posexplode(band_hashes) pe AS pos, col
        UNION ALL
        SELECT doc_id, 1 AS side, CAST(pe.pos AS INT) AS band, pe.col AS band_hash
        FROM {batch_view}
        LATERAL VIEW posexplode(band_hashes) pe AS pos, col
      ) GROUP BY band, band_hash
    )"""


def _fused_pairs_sql(
    batch_view: str,
    index_view: str | None,
    threshold: float,
    max_bucket: int,
    max_bucket_pairs: int,
) -> str:
    """Statement 2 of :func:`fused_pairs_via_views`: pair expansion
    and verify over the ``{batch_view}_grouped`` and
    ``{batch_view}_grouped_hot`` views. Per bucket (da = index docs,
    db = batch docs):

    - within pairs come from ``db`` alone, so the ``max_bucket`` cap
      and the triangle-salt redistribution of over-cap buckets see
      exactly the rows a within-batch run would group;
    - cross pairs are da×db, dropped when |da|·|db| exceeds
      ``max_bucket_pairs`` (the cap of :func:`_cross_pairs_from_tagged`;
      bigint product, so a hot bucket cannot overflow int32);
    - the distinct runs over the union: within pairs have both ends in
      the batch and cross pairs one end in the index, so no pair can
      appear in both sets."""
    grouped, hot = f"{batch_view}_grouped", f"{batch_view}_grouped_hot"
    if index_view is None:
        cold = f"""
          SELECT explode({_sql_pairs_within('ds')}) AS p
          FROM {grouped} WHERE n_docs >= 2 AND n_docs <= {max_bucket}"""
        hot_cte = _sql_salted_hot_cte(hot, "n_docs", "ds", max_bucket)
        sk_body = f"SELECT doc_id, shingle_hashes FROM {batch_view}"
    else:
        empty = f"CAST(array() AS {_PAIR_ARRAY_TYPE})"
        cross_arr = (
            "flatten(transform(da, x -> transform(db, y -> "
            "named_struct('doc_a', x, 'doc_b', y))))"
        )
        cold = f"""
          SELECT explode(concat(
            CASE WHEN nb >= 2 AND nb <= {max_bucket}
                 THEN {_sql_pairs_within('db')} ELSE {empty} END,
            CASE WHEN size(da) >= 1 AND nb >= 1
                      AND CAST(size(da) AS BIGINT) * CAST(nb AS BIGINT)
                          <= {max_bucket_pairs}
                 THEN {cross_arr} ELSE {empty} END
          )) AS p FROM {grouped}"""
        hot_cte = _sql_salted_hot_cte(hot, "nb", "db", max_bucket)
        sk_body = (
            f"SELECT doc_id, shingle_hashes FROM {index_view} "
            f"UNION ALL SELECT doc_id, shingle_hashes FROM {batch_view}"
        )
    # merge-hinted sketch attaches: never broadcast (see _verify_pairs
    # for the OOM measurements)
    return f"""
    WITH cold AS ({cold}
    ),{hot_cte},
    cands AS (
      SELECT DISTINCT p.doc_a AS doc_a, p.doc_b AS doc_b FROM (
        SELECT p FROM cold UNION ALL SELECT p FROM hot_pairs
      )
    ),
    sk AS ({sk_body})
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT /*+ MERGE(l), MERGE(r) */
             c.doc_a AS doc_a, c.doc_b AS doc_b,
             {_sql_jaccard('l.shingle_hashes', 'r.shingle_hashes')} AS jaccard
      FROM cands c
      JOIN sk l ON c.doc_a = l.doc_id
      JOIN sk r ON c.doc_b = r.doc_id
    )
    WHERE jaccard >= {threshold!r}"""


def minhash_lsh_pairs_cross(
    docs_a: DataFrame,
    docs_b: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    max_bucket_pairs: int = 250_000,
    signature: str = "oph",
) -> DataFrame:
    """Cross-corpus near-dup pairs: (doc_a ∈ A, doc_b ∈ B) with word
    ``k``-gram Jaccard ≥ threshold — the decontamination primitive
    (scrub a 100 TB training corpus against a small eval/benchmark set
    without ever comparing training docs to each other).

    Same three stages as :func:`minhash_lsh_pairs`, but the band
    shuffle carries a side tag and each bucket expands only its A×B
    cross pairs JVM-side — within-corpus pairs are never generated, so
    the candidate count is bounded by cross collisions alone (in the
    common decontamination case |B| ≪ |A| this is near-linear in |A|).
    ``max_bucket_pairs`` caps any one bucket's |A-side|·|B-side|
    blow-up (hot boilerplate buckets are dropped — boilerplate by
    definition). Sides are tracked end-to-end, so A and B may even
    share doc_id values.
    """
    # keyed like minhash_lsh_pairs' sketch cache (r14): the verify tail
    # merge-joins ha on doc_a and hb on doc_b — partitioned + sorted on
    # doc_id before the cache, both attaches reuse the layout
    ha = parallelize_by_key(_shingle_hashes(docs_a, k), "doc_id").cache()
    hb = parallelize_by_key(_shingle_hashes(docs_b, k), "doc_id").cache()
    schema = "doc_id bigint, band int, band_hash bigint"
    bands = ha.mapInPandas(_band_fn(signature), schema).withColumn(
        "side", F.lit(0)
    ).unionByName(
        hb.mapInPandas(_band_fn(signature), schema).withColumn("side", F.lit(1))
    )
    return _cross_pairs_from_tagged(bands, ha, hb, threshold, max_bucket_pairs)


def _cross_pairs_from_tagged(
    bands: DataFrame,
    ha: DataFrame,
    hb: DataFrame,
    threshold: float,
    max_bucket_pairs: int,
) -> DataFrame:
    """Shared tail of the cross-corpus path: side-tagged band rows →
    per-bucket A×B expansion (within-side pairs never generated) →
    exact hashed-shingle Jaccard verify. ``ha``/``hb`` carry
    (doc_id, shingle_hashes) for the verify join."""
    da, db = F.col("da"), F.col("db")
    buckets = (
        bands.groupBy("band", "band_hash")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("side") == 0, F.col("doc_id")))
            ).alias("da"),
            F.sort_array(
                F.collect_list(F.when(F.col("side") == 1, F.col("doc_id")))
            ).alias("db"),
        )
        .filter(
            (F.size(da) >= 1)
            & (F.size(db) >= 1)
            # bigint product: a hot bucket with |A|x|B| >= 2^31 (the very
            # case the cap exists for) must not overflow int32 — ANSI mode
            # would throw, non-ANSI would wrap negative and bypass the cap.
            & (F.size(da).cast("bigint") * F.size(db).cast("bigint")
               <= max_bucket_pairs)
        )
    )
    pair_arrays = F.transform(
        da,
        lambda x: F.transform(
            db, lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
        ),
    )
    candidates = (
        buckets.select(F.explode(F.flatten(pair_arrays)).alias("p"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
        .distinct()
    )
    return _verify_pairs(candidates, ha, hb, threshold)


def _observe_hot_buckets(
    df: DataFrame, mode: str, max_bucket: int, n, on_done=None
) -> DataFrame:
    """Count hot buckets/docs at this plan point with
    :func:`~flink_samples_spark.utils.observe_and_warn` and log them
    once the first action over the plan completes.

    ``on_done`` (optional thunk) runs once the first action finishes —
    the salt paths pass the grouped table's ``unpersist`` so cache
    ownership ends with the action that needed it (ADVICE r7). When
    there is no callback AND warning logs are disabled, no waiter
    thread spawns at all — that bound applies to DROP mode only; salt
    mode always passes the unpersist callback, so its waiter always
    parks until the first action (and, for a plan that is never
    executed, until process exit)."""
    hot = n > max_bucket
    consequence = {
        "salt": "salted into sub-buckets (zero recall loss)",
        "drop": "DROPPED as boilerplate (pair recall lost for these)",
        "salt-cold": (
            "appeared AFTER the build-time probe proved the corpus "
            "cold — the pruned plan cannot redistribute them, their "
            "pairs are LOST; the upstream changed between plan "
            "construction and execution, rebuild the plan"
        ),
    }[mode]

    def message(m: dict) -> str | None:
        nb = m.get("nb") or 0
        if not nb:
            return None
        return (
            f"LSH hot buckets (> {max_bucket} docs): {nb} buckets / "
            f"{m.get('nd') or 0} doc-rows — {consequence}"
        )

    return observe_and_warn(
        df,
        _LOG,
        [F.sum(hot.cast("long")).alias("nb"), F.sum(F.when(hot, n)).alias("nd")],
        message,
        on_done=on_done,
        thread_name="lsh-hot-bucket-log",
    )


def _pairs_within(name: str) -> F.Column:
    """:func:`_sql_pairs_within` of the array column ``name``."""
    return F.expr(_sql_pairs_within(name))


def _bucket_candidate_pairs(
    keyed: DataFrame,
    bucket_keys: list,
    max_bucket: int,
    hot_buckets: str = "salt",
    stats_out: dict | None = None,
) -> DataFrame:
    """(doc_id, *bucket_keys) → distinct candidate (doc_a < doc_b)
    pairs that share a bucket.

    ``hot_buckets="drop"``: the legacy cap — ONE groupBy shuffle
    gathering each bucket's sorted doc list, in-bucket pairs expanded
    JVM-side (pure codegen — no self-join), buckets over
    ``max_bucket`` discarded as boilerplate (logged, never silent).

    ``hot_buckets="salt"`` (default): triangle-salted redistribution,
    exact pair set preserved. Construction runs ONE eager probe job
    (a count-aggregate over the persisted grouped table — the job
    that materializes the cache every later consumer reuses, so no
    extra upstream pass): when it proves zero hot buckets — the
    overwhelmingly common case — the emitted plan is the pure cold
    expansion with no salt stages and no union (~3 scheduled stages
    of empty-branch overhead saved per run, measured ~0.4 s at
    sf0.1); when buckets ARE hot, each bucket of n docs is split into
    s = ceil(n/max_bucket) salt groups by a deterministic hash of
    (doc_id, *bucket_keys); every doc is replicated into the s cells
    (min(salt,j), max(salt,j)) for j in 0..s-1, and each cell emits
    its diagonal (within-group, a<b) or off-diagonal (cross-group,
    least/greatest-normalized) pairs. Every pair of the uncapped
    expansion is produced EXACTLY once — cell (i,j) is the unique
    cell containing both salts — so salting loses zero recall while
    bounding any one task's bucket slice to ~max_bucket docs
    (replication factor s on hot docs only). Cold buckets expand
    their pairs DIRECTLY out of the grouped table — zero extra
    shuffle on the overwhelming-majority path — and only hot-bucket
    cells pay the explode → salt → repartition → regroup pipeline,
    with the repartition on the full cell key scattering a hot
    bucket's s(s+1)/2 cells across tasks (without it Spark proves
    hash(bucket_keys) already clusters the cell regroup and runs it
    partition-local — free, but then a hot bucket's whole quadratic
    pair set expands in the one task owning it: a straggler).

    The grouped table is ``persist()``-ed (MEMORY_AND_DISK, lineage
    kept — executor loss recomputes the lost partitions) because the
    cold and hot branches are two plan consumers and Spark re-executes
    the full upstream per consumer: unpersisted, the signature
    MapInPandas and band shuffle ran TWICE (measured on the executed
    plan — no AQE exchange reuse), ~1.3× the whole pipeline at sf0.1
    even with zero hot buckets. A fork-free single-pipeline variant
    (every bucket through explode→cell-regroup with s=1 for cold) was
    measured WORSE at 64× amplification (208 s vs 127 s: the cold
    majority paid the extra shuffle + re-collect); storing the grouped
    table once and reading it from both branches beats both.

    Neither policy is ever silent: a ``df.observe`` node rides the
    main job (zero extra passes) and a daemon waiter logs the hot
    bucket/doc counts once the first action completes. ``stats_out``
    (optional dict) additionally receives ``hot_bucket_count`` /
    ``hot_doc_rows`` / ``mode`` EAGERLY in both modes — that runs one
    extra count-aggregate job at build time, so it is opt-in. In salt
    mode the probe runs over the already-registered persist, so its
    job doubles as the cache materializer the main run then reuses;
    the persist itself is unpersisted by the observe waiter once the
    first main action completes (cache ownership = one action).

    SINGLE-ACTION OPTIMIZED (ADVICE r8): the waiter's unpersist fires
    when the FIRST action over the returned plan completes — including
    a partial action like ``first()``/``take()``. A caller running
    SEVERAL actions over the same returned DataFrame gets correct
    results, but every action after the first re-executes the full
    signature/banding upstream uncached AND without hot-bucket
    monitoring. Multi-action callers should ``.persist()`` the
    returned plan themselves (or rebuild it per action); every caller
    in this repo is single-action (one collect/write per plan).
    """
    if hot_buckets not in ("salt", "drop"):
        raise ValueError(f"hot_buckets must be 'salt' or 'drop', got {hot_buckets!r}")
    n = F.col("n_docs")
    buckets_all = keyed.groupBy(*bucket_keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sort_array(F.collect_list("doc_id")).alias("ds"),
    )
    if hot_buckets == "salt":
        # salt mode persists the grouped table: its consumers (the
        # eager hot probe below, then cold pairs and — when hot
        # buckets exist — the salted redistribution) would otherwise
        # each re-execute the full signature/banding upstream (see
        # docstring; measured ~1.3× the pipeline even with zero hot
        # buckets). Registered BEFORE the probe so the probe's
        # aggregate doubles as the cache materializer the main run
        # reuses (ADVICE r7). Ownership: the observe waiter
        # unpersists after the first main action completes, so a
        # library caller looping over corpora doesn't accumulate
        # MEMORY_AND_DISK entries for the session (ADVICE r7).
        buckets_all = buckets_all.persist()
    hot_nb = None
    if hot_buckets == "salt" or stats_out is not None:
        row = buckets_all.filter(n > max_bucket).agg(
            F.count(F.lit(1)).alias("nb"),
            F.coalesce(F.sum("n_docs"), F.lit(0)).alias("nd"),
        ).first()
        if stats_out is not None:
            stats_out.update(
                {
                    "hot_bucket_count": int(row["nb"]),
                    "hot_doc_rows": int(row["nd"]),
                    "mode": hot_buckets,
                }
            )
        if hot_buckets == "salt":
            hot_nb = int(row["nb"])

    def _emit(pairs: DataFrame) -> DataFrame:
        # the distinct is LOAD-BEARING at scale, not a tidy-up: on a
        # boilerplate-saturated corpus a near-dup pair collides in
        # nearly EVERY band, and deferring the dedup to the verify
        # join multiplies the verify's multi-KB array shuffle by that
        # collision factor (measured: folding it into the verify's
        # regroup filled an 80 GB disk at 64× amplification; distinct
        # 16-byte pair rows are the cheap place to collapse).
        return pairs.select(F.col("p.doc_a"), F.col("p.doc_b")).distinct()

    if hot_buckets == "drop":
        # single consumer: observe BEFORE the filter so dropped rows
        # are still seen by the metric
        buckets_all = _observe_hot_buckets(buckets_all, "drop", max_bucket, n)
        cold = buckets_all.filter((n >= 2) & (n <= max_bucket))
        return _emit(cold.select(F.explode(_pairs_within("ds")).alias("p")))
    if hot_nb == 0:
        # The probe proved every bucket fits the cap, so the salted
        # redistribution would be a union with a provably-empty
        # branch — ~3 scheduled stages of pure overhead on the
        # overwhelmingly common cold corpus. Emit the cold-only plan;
        # the waiter (observing the single consumer) still owns the
        # unpersist. The probe result is sound for the DataFrame's
        # lifetime because the grouped table is persisted: executions
        # read the materialized cache, and an eviction recomputes
        # from the same immutable source scan. Defensively, the
        # observe sits ABOVE the cap filter (like drop mode): if an
        # upstream somehow changes between probe and execution and a
        # bucket turns hot, the pruned plan cannot redistribute it —
        # but the metric sees it and the waiter logs the loss loudly
        # instead of letting the filter eat it in silence.
        observed = _observe_hot_buckets(
            buckets_all, "salt-cold", max_bucket, n,
            on_done=buckets_all.unpersist,
        )
        cold = observed.filter((n >= 2) & (n <= max_bucket))
        return _emit(cold.select(F.explode(_pairs_within("ds")).alias("p")))
    cold = buckets_all.filter((n >= 2) & (n <= max_bucket))
    pairs = cold.select(F.explode(_pairs_within("ds")).alias("p"))
    # observe sits on the single-consumer hot branch so counts aren't
    # doubled by the cold branch traversing the same node
    hot = _observe_hot_buckets(
        buckets_all.filter(n > max_bucket), "salt", max_bucket, n,
        on_done=buckets_all.unpersist,
    )
    hot_pairs = _salted_hot_pairs(hot, bucket_keys, "n_docs", "ds", max_bucket)
    return _emit(pairs.unionByName(hot_pairs))


def _salted_hot_pairs(
    hot: DataFrame,
    bucket_keys: list,
    n_col: str,
    list_col: str,
    max_bucket: int,
) -> DataFrame:
    """Triangle-salted redistribution of hot buckets (the exact-pair-
    set-preserving hot branch of :func:`_bucket_candidate_pairs`;
    :func:`_sql_salted_hot_cte` is its SQL form): ``hot`` carries
    (*bucket_keys, ``n_col`` doc count, ``list_col`` sorted doc array)
    rows already filtered to n > max_bucket; returns the exploded
    candidate pairs as one ``p`` struct column (pre-distinct). Each
    bucket of n docs splits into s = ceil(n/max_bucket) salt groups by
    a deterministic hash of (doc_id, *bucket_keys); every doc
    replicates into the s cells (min(salt,j), max(salt,j)), and each
    cell emits its diagonal (within-group, a<b) or off-diagonal
    (cross-group, least/greatest-normalized) pairs — every pair of the
    uncapped expansion produced EXACTLY once."""
    n, ds = F.col(n_col), F.col(list_col)
    hot_docs = hot.select(
        *bucket_keys,
        F.ceil(n / F.lit(max_bucket)).cast("int").alias("s"),
        F.explode(ds).alias("doc_id"),
    )
    salt = F.pmod(F.xxhash64("doc_id", *bucket_keys), F.col("s")).cast("int")
    tagged = hot_docs.select(*bucket_keys, "doc_id", "s", salt.alias("salt"))
    cells = tagged.select(
        *bucket_keys,
        "doc_id",
        "salt",
        F.explode(F.sequence(F.lit(0), F.col("s") - 1)).alias("j"),
    ).select(
        *bucket_keys,
        "doc_id",
        "salt",
        F.least("salt", "j").alias("ci"),
        F.greatest("salt", "j").alias("cj"),
    )
    # explicit cell shuffle (hot rows only — cheap): without it Spark
    # proves hash(bucket_keys) already clusters the regroup keys and
    # runs it partition-local, expanding every cell of a hot bucket in
    # the ONE task that owns the bucket (a quadratic straggler).
    cells = cells.repartition(*bucket_keys, "ci", "cj")
    # collect_list skips the NULLs the when() leaves on the other
    # side, so lo/hi partition each cell's docs by salt group
    cellg = cells.groupBy(*bucket_keys, "ci", "cj").agg(
        F.sort_array(
            F.collect_list(F.when(F.col("salt") == F.col("ci"), F.col("doc_id")))
        ).alias("lo"),
        F.sort_array(
            F.collect_list(F.when(F.col("salt") != F.col("ci"), F.col("doc_id")))
        ).alias("hi"),
    )
    cross = F.flatten(
        F.transform(
            F.col("lo"),
            lambda x: F.transform(
                F.col("hi"),
                lambda y: F.struct(
                    F.least(x, y).alias("doc_a"), F.greatest(x, y).alias("doc_b")
                ),
            ),
        )
    )
    return cellg.select(
        F.explode(
            F.when(F.col("ci") == F.col("cj"), _pairs_within("lo")).otherwise(
                cross
            )
        ).alias("p")
    )


def _verify_pairs(
    candidates: DataFrame, ha: DataFrame, hb: DataFrame, threshold: float
) -> DataFrame:
    """THE exact-Jaccard verification tail (single definition — the
    within-corpus and cross-corpus paths must stay bit-identical):
    join each candidate PAIR to its two hashed shingle arrays and
    intersect in the JVM (array_intersect is a hash-set O(n+m)) — no
    shingle-explode self-join, so candidate paths never pay the exact
    algorithm's all-pairs cost. ``ha``/``hb`` carry
    (doc_id, shingle_hashes) for the a / b sides.

    Join strategies are pinned because the sketch frames are
    O(corpus) rows of multi-KB shingle arrays — the largest table in
    the pipeline — and must NEVER be a broadcast build side. Left
    unhinted, the static planner CAN pick exactly that: the sketch
    frame is a ``.cache()``d plan, and an InMemoryRelation that is not
    yet materialized at planning time falls back to its child's
    estimate, which under-counts the Python-stage sketch blow-up —
    measured at 64× amplification (320k docs), the planner broadcast
    the ~1.3 GiB sketch table and the driver OOMed (the scale probe
    caught it on its first cold-plan run; warm runs had masked it
    because a materialized cache reports its true size and the
    planner chose SMJ). A shuffle join on doc_id is the correct
    100 TB shape: the 16-byte candidate pairs and the sketches
    partition by key, no node ever holds the corpus. Sort-merge
    specifically, because it is the one strategy where EVERY side
    spills: a ShuffledHashJoin build side cannot, and neither join
    here has a bounded side to build on — the sketch slice is
    O(corpus)/partitions of multi-KB rows, and the candidate side is
    O(pairs), which a duplicate-saturated corpus makes enormous
    (measured at 64×: hash-building on the candidate side ran 342 s
    vs sort-merge's 195 s on the same data, and either build is an
    executor OOM waiting for a partition count that doesn't keep
    up with the data). The hints cost AQE's tiny-candidates
    broadcast demotion — acceptable, since the candidate side is
    only ever tiny when the whole job is.
    """
    left = ha.select(F.col("doc_id").alias("doc_a"), F.col("shingle_hashes").alias("sh_a"))
    right = hb.select(F.col("doc_id").alias("doc_b"), F.col("shingle_hashes").alias("sh_b"))
    paired = candidates.join(left.hint("merge"), "doc_a").join(
        right.hint("merge"), "doc_b"
    )
    jac = paired.select(
        "doc_a", "doc_b", F.expr(_sql_jaccard("sh_a", "sh_b")).alias("jaccard")
    )
    return jac.filter(F.col("jaccard") >= threshold)


def _verify_jaccard_pairs(
    hashed: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Within-corpus form of :func:`_verify_pairs`: both sides of the
    pair resolve against the same hashed-shingle frame.

    Why this stays the two-join form even though the sketch frame is
    exchanged twice: the alternative — explode each pair into its two
    member rows, join the sketch ONCE on doc_id, regroup on the pair
    key — trades one sketch exchange (volume C = corpus sketch bytes)
    for a pair-keyed regroup carrying BOTH arrays per pair (volume 2P
    vs the two-join form's P, where P = candidate-pair count × array
    bytes). Net: C + 2P vs 2C + P. That wins only while P < C; on the
    boilerplate-saturated corpora dedup exists for at 100 TB, P ≫ C
    (the 64× amplified probe has ~10M verified pairs from 320k docs)
    and the single-exchange form shuffles strictly more — measured as
    a disk-exhaustion blow-up when combined with deferred candidate
    dedup. 2C is bounded by the corpus; 2P is not bounded by anything
    the operator controls, so the two-join form is the scale-safe
    default."""
    return _verify_pairs(candidates, hashed, hashed, threshold)


def simhash_signatures(docs: DataFrame, bits: int = 64) -> DataFrame:
    """64-bit SimHash over word features. Word hashing is JVM
    xxhash64 (codegen); the Python stage is vectorized numpy bit
    counting. Near-duplicate docs land within a few bits; at scale,
    bucket by rotated 16-bit prefixes and compare within buckets."""
    hashed = docs.select(
        "doc_id",
        F.transform(F.split(F.col("text"), " "), lambda w: F.xxhash64(w)).alias("word_hashes"),
    )

    def simhash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            sigs = []
            for hs in pdf["word_hashes"]:
                h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
                # bit matrix (n_words × bits) → ±1 sums → sign bits
                bit_votes = (
                    (h[:, None] >> np.arange(bits, dtype=np.uint64)[None, :]) & np.uint64(1)
                ).astype(np.int64)
                acc = (2 * bit_votes - 1).sum(axis=0)
                sig = 0
                for i in np.nonzero(acc > 0)[0]:
                    sig |= 1 << int(i)
                sigs.append(sig - (1 << 64) if sig >= (1 << 63) else sig)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "simhash": pd.Series(sigs, dtype="int64")}
            )

    return parallelize_narrow(hashed).mapInPandas(
        simhash_batch, "doc_id bigint, simhash bigint"
    )


def simhash_near_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    max_hamming: int = 12,
    max_bucket: int = 1000,
    hot_buckets: str = "drop",
) -> DataFrame:
    """SimHash-banded near-dup pairs (a < b) with exact-Jaccard verify
    — the SimHash twin of :func:`minhash_lsh_pairs`, same output
    contract (doc_a, doc_b, jaccard ≥ threshold).

    Candidate generation: the 64-bit signature splits into
    ``max_hamming + 1`` bit-bands; by pigeonhole, any pair within
    ``max_hamming`` bits agrees on at least one whole band, so a
    bucket-join on (band, band_bits) has guaranteed recall at that
    radius — no all-pairs scan. Candidates then filter on true
    bit_count(xor) ≤ max_hamming before the exact-Jaccard verify.

    Scale note: band width is 64/(max_hamming+1) bits, so bucket
    count per band is 2^width — a tight radius (classic production
    setting: max_hamming=3 → 4 bands × 16 bits → 65k buckets/band)
    keeps buckets sparse at corpus scale, while a wide radius like
    the default 12 (13 bands × ~5 bits) is only for small/synthetic
    corpora whose near-dups mutate heavily; ``max_bucket`` caps the
    per-bucket pair blow-up either way.

    ``hot_buckets`` defaults to "drop" here — the OPPOSITE of the
    MinHash paths — because SimHash's coarse bit-band key space
    (2^width buckets per band) makes an over-cap bucket mean "the
    radius is too wide for this corpus size", not "boilerplate":
    salting such buckets would faithfully compute a near-quadratic
    candidate set (measured 26 s vs 1 s at sf0.1 with the default
    radius 12). The drop is logged with bucket/doc counts either way.
    """
    if not 1 <= max_hamming <= 63:
        # max_hamming=0 makes the single band 64 bits wide and
        # (1 << 64) - 1 overflows a Java long in lit(); >= 64 makes
        # width 0 so every band key collapses to one bucket that the
        # cap then drops — both silently wrong, so refuse them
        raise ValueError(
            f"simhash_near_pairs: max_hamming must be in [1, 63], got "
            f"{max_hamming} (for exact-signature duplicates groupBy the "
            "simhash itself; a radius >= 64 means every pair matches)"
        )
    sigs = simhash_signatures(docs).cache()
    n_bands = max_hamming + 1
    width = 64 // n_bands  # last band absorbs the 64 % n_bands remainder
    band_rows = []
    for i in range(n_bands):
        off = i * width
        w = 64 - off if i == n_bands - 1 else width
        band_rows.append(
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), off)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("band_bits"),
            )
        )
    keyed = sigs.select(
        "doc_id", F.explode(F.array(*band_rows)).alias("b")
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.band_bits").alias("band_bits"))
    candidates = _bucket_candidate_pairs(
        keyed, ["band", "band_bits"], max_bucket, hot_buckets
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"))
    # same shape as _verify_pairs (sa/sb are O(corpus) rows behind an
    # unmaterialized cache whose child estimate can look broadcastable
    # to the static planner): spillable sort-merge on both attaches —
    # never broadcast, never an unbounded un-spillable hash build
    within = (
        candidates.join(sa.hint("merge"), "doc_a")
        .join(sb.hint("merge"), "doc_b")
        .filter(F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))) <= max_hamming)
        .select("doc_a", "doc_b")
    )
    # cached: the verification join consumes this frame on BOTH sides
    # (same contract as minhash_lsh_pairs' hashed cache, keyed so the
    # two merge attaches reuse the cached layout — r14)
    hashed = parallelize_by_key(_shingle_hashes(docs, k), "doc_id").cache()
    return _verify_jaccard_pairs(hashed, within, threshold)


def dedup_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pairs → dedup groups:
    (doc_id, group_id) with group_id = min doc_id in the component.
    The step that turns pairwise similarity into an actionable keep/
    drop decision (keep group_id, drop the rest).

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbors; converges in
    O(component diameter) rounds. Near-dup clusters are shallow
    (diameter ≲ 5 even for big boilerplate families), so the loop is
    a handful of self-terminating Spark jobs; each round is one join
    + one groupBy (shuffle on node id), with ``localCheckpoint``
    cutting the lineage so plans stay O(1) per round. Convergence is
    detected by the monotone label-sum invariant (strictly decreases
    until fixpoint) — one cheap agg per round, no full diff. For
    graphs with genuinely deep chains, switch to the large-star/
    small-star doubling variant (O(log d) rounds); not needed for
    dedup workloads.
    """
    # both edge directions from ONE pass over the pairs plan (a
    # union of two selects would execute the whole LSH pipeline
    # twice during checkpoint materialization)
    a, b = F.col("doc_a"), F.col("doc_b")
    both = F.explode(
        F.array(
            F.struct(a.alias("src"), b.alias("dst")),
            F.struct(b.alias("src"), a.alias("dst")),
        )
    )
    # lazy checkpoint: materialized by the init-sum job below, reused
    # by every round's join afterwards
    edges = (
        pairs.select(both.alias("e")).select("e.src", "e.dst").localCheckpoint(eager=False)
    )
    # init fused with the first propagation round: label = min(self,
    # min neighbor) — one groupBy replaces distinct + a full join round
    labels = edges.groupBy(F.col("src").alias("node")).agg(
        F.least(F.min("dst"), F.first("src")).alias("label")
    ).localCheckpoint(eager=False)
    # Seed the monotone-sum convergence invariant with the INIT labels:
    # labels only decrease, so an unchanged sum after a propagation
    # round proves fixpoint. Anchoring one step early means the common
    # near-clique dedup graph (init already assigns every node the
    # component min) exits after ONE propagation round instead of a
    # compute round plus a confirm round.
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(max_iter):
        prop = edges.join(labels.withColumnRenamed("node", "src"), "src").select(
            F.col("dst").alias("node"), "label"
        )
        # lazy checkpoint: the convergence agg below is the action that
        # materializes it — one job per round instead of two (an eager
        # checkpoint would run the plan, then the agg would re-read it)
        labels = (
            prop.union(labels).groupBy("node").agg(F.min("label").alias("label"))
        ).localCheckpoint(eager=False)
        s = labels.agg(F.sum("label")).first()[0]
        if s == prev_sum:
            break
        prev_sum = s
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("group_id"))


def span_dedup(
    docs: DataFrame,
    span_words: int = 8,
    df_threshold: int = 3,
) -> DataFrame:
    """Span-level (paragraph-analog) corpus dedup: REWRITE documents
    by deleting corpus-frequent spans while preserving word order.

    The Dolma/RefinedWeb "remove duplicated paragraphs" operator,
    adapted to this corpus's single-line documents: each document is
    cut into consecutive non-overlapping ``span_words``-word spans
    (last span may be short); a span whose exact content appears in
    more than ``df_threshold`` distinct documents is boilerplate and
    is deleted from every document containing it. Documents whose
    spans are all deleted drop out of the corpus entirely.

    Returns (doc_id, n_spans, n_kept, clean_text) — ``clean_text``
    equals the original text when nothing was deleted (spans re-join
    with the same single-space separator they were split on).

    Plan / scale: span extraction is a narrow JVM projection
    (split + transform + slice). Document frequency aggregates over
    ``xxhash64(span)`` — 8-byte keys shuffle, never span strings
    (the oracle groups the strings; equal modulo 2⁻⁶⁴ collisions).
    The surviving-span join keys on the same hash, and reassembly is
    ONE shuffle on doc_id carrying only surviving spans. At 100 TB
    the frequent-span set is tiny (boilerplate is frequent by
    definition, so distinct frequent spans ≪ corpus) — AQE turns the
    decision join into a broadcast; the doc_id reassembly shuffle
    carries less than the input corpus by exactly the boilerplate
    fraction. Reference parity: generalizes the reference's
    content-dedup semantics to sub-document granularity.
    """
    words = F.split(F.col("text"), " ")
    n_spans = F.ceil(F.size(words) / F.lit(span_words)).cast("int")
    idx = F.sequence(F.lit(0), n_spans - 1)
    spans = F.transform(
        idx,
        lambda i: F.array_join(
            F.slice(words, i * span_words + 1, span_words), " "
        ),
    )
    exploded = (
        parallelize_narrow(docs)
        .select("doc_id", n_spans.alias("n_spans"), F.posexplode(spans))
        .select(
            "doc_id",
            "n_spans",
            F.col("pos"),
            F.col("col").alias("span"),
            F.xxhash64("col").alias("span_hash"),
        )
    )
    frequent = (
        exploded.groupBy("span_hash")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") > df_threshold)
        .select("span_hash")
    )
    kept = exploded.join(frequent, "span_hash", "left_anti")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.first("n_spans").alias("n_spans"),
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "span"))),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(
            "doc_id",
            F.col("n_spans").cast("bigint").alias("n_spans"),
            "n_kept",
            "clean_text",
        )
    )


def within_doc_span_dedup(docs: DataFrame, span_words: int = 8) -> DataFrame:
    """Within-document span dedup: REWRITE each document keeping only
    the FIRST occurrence of every distinct ``span_words``-word span —
    the Gopher-style "remove repeated passages" rewrite (templated/
    looping text collapses to one copy), complementing
    :func:`span_dedup` which deletes corpus-frequent spans.

    Plan / scale: the entire operator is ONE narrow JVM projection —
    split, span slice, positional first-occurrence filter, re-join —
    zero shuffles, zero Python, so at 100 TB it runs at scan speed
    (tests/test_plans.py asserts the no-exchange plan). The
    first-occurrence scan is O(spans²) per document on an array of
    ~n_words/span elements — negligible against the string work.
    """
    words = F.split(F.col("text"), " ")
    n_spans = F.ceil(F.size(words) / F.lit(span_words)).cast("int")
    idx = F.sequence(F.lit(0), n_spans - 1)
    spans = F.transform(
        idx,
        lambda i: F.array_join(F.slice(words, i * span_words + 1, span_words), " "),
    )
    docs = docs.select("doc_id", n_spans.alias("n_spans"), spans.alias("spans"))
    kept = F.filter(
        F.col("spans"), lambda s, i: F.array_position(F.col("spans"), s) - 1 == i
    )
    return docs.select(
        "doc_id",
        F.col("n_spans").cast("bigint").alias("n_spans"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def build_dedup_index(docs: DataFrame, k: int = 3, signature: str = "oph") -> DataFrame:
    """Persistable near-dup INDEX of a corpus: one row per document
    with its hashed-shingle sketch and LSH band keys —
    ``(doc_id, shingle_hashes array<bigint>,
    band_hashes array<bigint>)`` with band id = array position.

    Sign the corpus ONCE, write this frame to parquet, and every
    future ingestion batch dedups against it via
    :func:`dedup_against_index` without touching corpus text again —
    the index is ~1-2 KB/doc regardless of document size, so the
    100 TB corpus compacts to a re-joinable sketch table.

    Build is ZERO-shuffle (r13 optimization): the banding stage
    already holds each document's full signature in one numpy matrix,
    so it emits the per-doc packed band array directly alongside the
    pass-through sketch — one narrow mapInPandas over the scan. The
    previous form exploded 32 band rows/doc, regrouped them on doc_id
    and sort-merge-joined the sketch back on: one groupBy exchange +
    two join sorts of O(corpus) multi-KB rows, all for data the
    signature kernel had in hand (measured at sf0.1 half-corpus:
    1.11 s → 0.48 s; at 100 TB the removed exchanges carried the
    entire sketch table twice). Band id as ARRAY POSITION instead of
    a struct field drops 32 redundant struct ints/doc from storage
    and Arrow transfer; :func:`_index_band_rows` restores the exact
    rows with posexplode.

    Partitions follow the input's bytes
    (:func:`utils.partitions_for_size`: one per ``minPartitionSize`` of
    estimated size, at least 1, at most one per core): the scan is
    repartitioned up to that count or coalesced down to it. A 100-doc
    micro-batch (~90 KB) signs in ONE Python task and its index append
    writes ONE file, instead of one task and one file per core, each
    task paying the Python worker's fixed cost (~0.2 s) for a handful
    of rows. Inputs of at least one ``minPartitionSize`` per core, and
    plans with no size estimate, keep the core-count layout."""
    hashed = _shingle_hashes(docs, k)
    cores = hashed.sparkSession.sparkContext.defaultParallelism
    target = partitions_for_size(hashed)
    if target == 1 < cores:
        # the micro-batch case; skips the partition-count probe below
        # (~40 ms of driver planning per batch)
        hashed = hashed.coalesce(1)
    else:
        n = hashed.rdd.getNumPartitions()
        if n < target:
            hashed = hashed.repartition(target)
        elif target < min(n, cores):
            hashed = hashed.coalesce(target)
    return hashed.mapInPandas(_band_fn(signature, packed=True), _INDEX_SCHEMA)


def _index_band_rows(bidx: DataFrame, side: int | None = None) -> DataFrame:
    """(doc_id, band, band_hash) rows restored from an index frame's
    packed ``band_hashes`` array (:func:`build_dedup_index` output) —
    the exact rows the unpacked banding stage would produce, with
    zero re-hashing (band id = 0-based array position)."""
    out = bidx.select(
        "doc_id", F.posexplode("band_hashes").alias("band", "band_hash")
    ).select("doc_id", F.col("band").cast("int").alias("band"), "band_hash")
    return out.withColumn("side", F.lit(side)) if side is not None else out


def fused_pairs_via_views(
    spark,
    batch_view: str,
    index_view: str | None,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    max_bucket_pairs: int = 250_000,
    check_disjoint: bool = False,
) -> DataFrame:
    """WITHIN-batch pairs and CROSS-index pairs (doc_a ∈ index,
    doc_b ∈ batch) from ONE bucketing shuffle and ONE verify join
    pass, over temp views holding packed index frames
    (:func:`build_dedup_index` output; :func:`read_prior_index` for
    the index side). ``index_view is None`` gives the within-batch
    pairs alone — the same pair set :func:`minhash_lsh_pairs` finds
    over the batch's documents. This is q_stream_dedup_index's
    per-micro-batch path.

    WHY SQL (r14, guide §1/§5 — driver latency is part of the query):
    built through ~70 DataFrame/Column py4j calls, each re-analyzing a
    growing tree, the plan cost ~0.5-0.6 s of driver time per batch
    before any task ran; two statements over temp views move parsing
    and analysis into one JVM round trip each.

    Statement 1 (:func:`_fused_grouped_sql`) builds the bucketing
    aggregate, ``persist()``s it (lazy — zero bytes if the result is
    never executed) and registers it as ``{batch_view}_grouped``, so
    the cold and hot branches share ONE execution of the bucketing
    shuffle (measured: the inline-CTE form re-ran the final aggregate
    per branch, ~0.2 s/batch at sf0.1). Its over-cap rows are
    registered as ``{batch_view}_grouped_hot`` under the
    :func:`_observe_hot_buckets` metric: once the first action over
    the result completes, the waiter unpersists the grouped table and
    logs a WARNING when buckets were salted — zero extra jobs, and the
    cache has an owner whatever the caller does (a later read of
    either view re-runs the bucketing aggregate uncached). Statement 2
    (:func:`_fused_pairs_sql`) expands pairs and verifies them.

    REQUIRES doc_id-disjoint sides when ``index_view`` is given (the
    ingestion contract: the index holds prior batches of the same
    stream, so ids never repeat) — the single verify join resolves
    both pair ends against the UNION sketch frame, which is only
    correct when ids are globally unique. ``check_disjoint=True`` runs
    one semi-join count job first and raises on overlap; corpora that
    may share ids use the side-tracked :func:`dedup_against_index`."""
    if check_disjoint and index_view is not None:
        n_shared = (
            spark.table(batch_view).select("doc_id")
            .join(spark.table(index_view).select("doc_id"), "doc_id", "semi")
            .count()
        )
        if n_shared:
            raise ValueError(
                f"fused_pairs_via_views requires doc_id-disjoint sides; "
                f"{n_shared} doc_id(s) appear in BOTH the batch and the "
                "index (the union-sketch verify would silently duplicate "
                "matches). Use dedup_against_index for overlapping-id "
                "corpora."
            )
    grouped = spark.sql(_fused_grouped_sql(batch_view, index_view)).persist()
    grouped.createOrReplaceTempView(f"{batch_view}_grouped")
    n = F.col("n_docs" if index_view is None else "nb")
    _observe_hot_buckets(
        grouped.filter(n > max_bucket), "salt", max_bucket, n,
        on_done=grouped.unpersist,
    ).createOrReplaceTempView(f"{batch_view}_grouped_hot")
    return spark.sql(
        _fused_pairs_sql(batch_view, index_view, threshold, max_bucket, max_bucket_pairs)
    )


# Every layout an index partition has been written in: the packed
# build_dedup_index frame, plus the pre-r13 ``bands`` struct array
# (written by an unordered collect_list). Reading with this explicit
# schema gives every partition every column (NULL where absent), so a
# directory mixing layouts loses no docs and needs no schema inference.
_STORED_INDEX_SCHEMA = (
    _INDEX_SCHEMA + ", bands array<struct<band:int,band_hash:bigint>>"
)


def read_prior_index(spark, idx_dir: str, batch_id: int) -> DataFrame | None:
    """Storage-derived view of a per-micro-batch partitioned signature
    index (``batch=<id>`` subdirectories, each written with overwrite
    by its own micro-batch) holding ONLY batches BEFORE ``batch_id``
    — or ``None`` when no prior batch exists. Rows come back in the
    packed layout whatever layout each partition was written in.

    This is the retry/restart-safe read side of streaming ingestion
    dedup: after a micro-batch retry the directory already holds THIS
    batch's own signatures (joining them would fabricate self-pairs),
    and after a checkpoint restart any in-memory "index exists" flag
    is gone (skipping the join would drop cross-batch pairs) — so
    both the existence test and the self-exclusion derive from
    storage, keyed by the batch_id the checkpoint replays. Only
    committed ``batch=<int>`` partitions are read, by explicit path
    (:func:`utils.committed_batch_dirs`): a whole-directory read would
    run partition discovery over crash leftovers, and path selection
    also IS the self-exclusion — no post-filter needed.

    A small index is read in fewer tasks: when its file bytes come to
    less than one ``minPartitionSize`` per core
    (:func:`utils.partitions_for_size`), the scan is coalesced to
    ``ceil(bytes / minPartitionSize)`` partitions, so a run of tiny
    per-batch files is not scanned one task per file. A larger index
    keeps the scan's own partitioning."""
    prior_dirs = [
        d for n, d in committed_batch_dirs(idx_dir).items() if n < batch_id
    ]
    if not prior_dirs:
        return None
    stored = spark.read.schema(_STORED_INDEX_SCHEMA).parquet(*prior_dirs)
    target = partitions_for_size(stored)
    if target < spark.sparkContext.defaultParallelism:
        stored = stored.coalesce(target)
    # array_sort orders the legacy structs by band, i.e. array position
    return stored.select(
        "doc_id",
        "shingle_hashes",
        F.expr(
            "coalesce(band_hashes, transform(array_sort(bands), b -> b.band_hash))"
        ).alias("band_hashes"),
    )


def dedup_against_index(
    batch: DataFrame,
    index: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    max_bucket_pairs: int = 250_000,
    signature: str = "oph",
) -> DataFrame:
    """Incremental ingestion dedup: near-dup pairs (doc_a ∈ index,
    doc_b ∈ batch) with word-``k``-gram Jaccard ≥ threshold — only
    the BATCH is signed; the indexed corpus contributes its stored
    sketches (``signature``/``k`` must match the index build).

    Same bucketed A×B path as :func:`minhash_lsh_pairs_cross`
    (batch-internal and index-internal pairs are never generated);
    at 100 TB the per-batch cost is O(|batch| + collisions), not
    O(|corpus|) — the corpus participates only through the band join
    and the sketch-verify join of actual candidates.

    Caching contract: the batch's hashed shingles are ``.cache()``d
    (feed banding + verify, same contract as minhash_lsh_pairs). No
    handle to that cache is returned, so nothing releases it: a
    per-micro-batch caller keeps one cached batch per call."""
    hb = parallelize_by_key(_shingle_hashes(batch, k), "doc_id").cache()
    schema = "doc_id bigint, band int, band_hash bigint"
    bands = _index_band_rows(index, side=0).unionByName(
        hb.mapInPandas(_band_fn(signature), schema).withColumn("side", F.lit(1))
    )
    ha = index.select("doc_id", "shingle_hashes")
    return _cross_pairs_from_tagged(bands, ha, hb, threshold, max_bucket_pairs)
