"""Embedding clustering for corpus curation (SURVEY.md §2.11,
tier X): semantic-domain bucketing of a 100 TB corpus — the
embedding-space analog of the source/lang grouping in
:mod:`flink_samples_spark.llmops.corpus`.

Two entry points:

- :func:`nearest_centroid_assign` — ONE assignment pass against a
  fixed centroid frame (deterministic, oracle-checkable): the serving
  path once centroids exist.
- :func:`kmeans_fit_assign` — full-data distributed spherical
  k-means (Lloyd's): assignment and the per-cluster mean are both
  Spark aggregations; only the k×dim centroid matrix ever reaches
  the driver (bounded, O(k·dim), independent of corpus size). This
  differs from the IVF trainer in ``similarity.py``, which fits on a
  bounded driver-side SAMPLE — here every row votes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Double-precision dot product, left-to-right fold (matches
    DuckDB's list_inner_product accumulation order bit-for-bit)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def nearest_centroid_assign(
    vectors: DataFrame, centroids: DataFrame
) -> DataFrame:
    """Assign every vector to its highest-cosine centroid.

    ``centroids``: (cluster_id int, centroid array) — small by
    definition (it is a clustering RESULT), so it broadcasts and the
    corpus never shuffles; the argmax is a per-vector max_by, not a
    window sort. Ties break toward the lowest cluster_id via the
    (cos, -cluster_id) struct ordering; the ranking compares RAW
    cosines (bit-identical across engines), rounding only the output.
    The vector's own norm is hoisted to one fold per ROW instead of
    one per (row, centroid) — the division sees the same two doubles,
    so results are unchanged bit-for-bit.
    """
    with_norm = vectors.withColumn(
        "__nv", F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    )
    scored = with_norm.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "cluster_id",
        (
            _dot(F.col("embedding"), F.col("centroid"))
            / (F.col("__nv") * F.sqrt(_dot(F.col("centroid"), F.col("centroid"))))
        ).alias("cos_raw"),
    )
    best = scored.groupBy("vec_id").agg(
        F.max_by(
            F.struct("cluster_id", "cos_raw"),
            F.struct(F.col("cos_raw"), (-F.col("cluster_id")).alias("neg")),
        ).alias("best")
    )
    return best.select(
        "vec_id",
        F.col("best.cluster_id").alias("cluster_id"),
        F.round("best.cos_raw", 6).alias("cos"),
    )


def _literal_assign_expr(centroids: "list[tuple[int, list[float]]]") -> Column:
    """Nearest-centroid argmax over LITERAL centroids as one narrow
    expression — struct(cluster_id, cos_raw) per row, no crossJoin,
    no groupBy, no shuffle.

    Bit-compatible with :func:`nearest_centroid_assign`: the cosine
    is the same formula with the same operation order (the per-row
    vector norm is hoisted — dividing by the SAME two doubles — and
    each centroid's norm is pre-folded in Python, which performs the
    identical left-to-right IEEE-double accumulation as the JVM
    fold), and ties break toward the lowest cluster_id via the same
    (cos, -cluster_id) struct ordering, here under array_max.

    The k·dim doubles live in the plan as literals — fine for
    hyperparameter-sized k·dim (the same bound the driver state
    carries); a huge codebook (k in the tens of thousands) should
    use the broadcast-frame path in :func:`nearest_centroid_assign`
    instead of bloating the plan.
    """
    norm_v = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    scored = F.array(
        *[
            F.struct(
                (
                    _dot(
                        F.col("embedding"),
                        F.array(*[F.lit(float(x)) for x in vec]),
                    )
                    / (norm_v * F.lit(_py_norm(vec)))
                ).alias("cos_raw"),
                F.lit(-cid).alias("neg"),
            )
            for cid, vec in centroids
        ]
    )
    best = F.array_max(scored)
    return F.struct(
        (-best["neg"]).cast("int").alias("cluster_id"),
        best["cos_raw"].alias("cos_raw"),
    )


def _py_norm(vec: "list[float]") -> float:
    """Left-to-right IEEE-double 2-norm — the same accumulation the
    JVM ``aggregate`` fold in :func:`_dot` performs. math.sqrt is
    IEEE correctly rounded like the JVM's sqrt; ``acc ** 0.5`` (C
    pow) is not required to be, and a 1-ulp difference could flip an
    argmax tie at an assignment boundary."""
    import math

    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def kmeans_fit_assign(
    emb: DataFrame, k: int = 8, n_iter: int = 5
) -> DataFrame:
    """Distributed spherical k-means over the FULL corpus.

    Deterministic by construction: centroids initialize from the k
    lowest vec_ids (no RNG), assignment ties break toward the lowest
    cluster_id, and the per-cluster mean is computed per dimension
    with an exact pairwise-invariant count and a dimension-local sum
    whose accumulation-order noise (~1e-16) is orders of magnitude
    below any assignment margin after the first iteration.

    Scale shape per iteration: the k×dim centroids ship OUT as plan
    literals, assignment is a NARROW per-row argmax expression (no
    crossJoin, no per-vector groupBy, no join back — the corpus is
    truly never shuffled), and the only exchange is the two-phase
    (cluster, dim) aggregation whose reduce side is k·dim rows.
    Driver state is the centroid matrix; n_iter is a fixed
    hyperparameter, so the job count is bounded, and lineage stays
    shallow because centroids re-enter each iteration as literals.
    """
    spark = emb.sparkSession
    init = (
        emb.orderBy("vec_id")
        .limit(k)
        .select("vec_id", "embedding")
        .collect()
    )
    if not init:
        raise ValueError("kmeans_fit_assign: empty input frame")
    dim = len(init[0].embedding)
    centroids = [
        (i, [float(x) for x in r.embedding]) for i, r in enumerate(init)
    ]

    vecs = emb.select("vec_id", "embedding")
    for _ in range(n_iter):
        # per-cluster per-dimension mean in ONE narrow pass + tiny agg
        # (two select steps: putting the argmax struct access and the
        # posexplode generator in one select trips the analyzer into
        # renaming the struct's fields to col1/col2)
        means = (
            vecs.select(
                _literal_assign_expr(centroids)["cluster_id"].alias("cluster_id"),
                "embedding",
            )
            .select("cluster_id", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("cluster_id", "pos")
            .agg(F.sum(F.col("val").cast("double")).alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cluster: dict[int, list[float]] = {}
        counts: dict[int, int] = {}
        for r in means:
            by_cluster.setdefault(r.cluster_id, [0.0] * dim)[r.pos] = r.s
            counts[r.cluster_id] = r.n
        new_centroids = []
        for cid, (old_cid, old_vec) in enumerate(centroids):
            if cid in by_cluster and counts[cid] > 0:
                m = [s / counts[cid] for s in by_cluster[cid]]
                norm = sum(x * x for x in m) ** 0.5 or 1.0
                new_centroids.append((cid, [x / norm for x in m]))
            else:  # empty cluster keeps its previous centroid
                new_centroids.append((old_cid, old_vec))
        centroids = new_centroids

    best = _literal_assign_expr(centroids)
    return vecs.select(
        "vec_id",
        best["cluster_id"].alias("cluster_id"),
        F.round(best["cos_raw"], 6).alias("cos"),
    )


def pca_fit(
    vectors: DataFrame,
    k: int = 4,
    vec_col: str = "embedding",
) -> tuple[int, "object", "object", "object", float]:
    """Distributed PCA fit: returns (n, mean, eigenvalues desc,
    components d×k, trace) for the population covariance of
    ``vec_col``.

    The classic one-pass scale shape: each Arrow batch reduces its
    rows to a PARTIAL (count, column-sum, Gram matrix X'X) inside
    ``mapInPandas`` (one BLAS call per batch); the partials explode
    to (slot, value) pairs and a single groupBy-sum over d²+d+1 slots
    merges them — the corpus streams through once and never shuffles;
    the only shuffled data is O(partitions · d²). The driver holds
    just the d×d covariance (the same bounded-driver-state contract
    as k-means' k×dim), runs ``eigh`` there, and callers broadcast
    the components back for projection. At 100 TB with d=64 the
    reduce input is a few MB per thousand partitions.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from flink_samples_spark.utils import parallelize_narrow

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            flat = np.concatenate(
                ([float(len(X))], X.sum(axis=0), (X.T @ X).ravel())
            )
            yield pd.DataFrame({"p": [flat.tolist()]})

    parts = parallelize_narrow(vectors.select(vec_col)).mapInPandas(
        partials, schema="p array<double>"
    )
    merged = (
        parts.select(F.posexplode("p").alias("slot", "v"))
        .groupBy("slot")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    if not merged:
        raise ValueError("pca_fit: empty input frame")
    # every partial emits the full 1+d+d² vector, so the merged slot
    # count determines d directly — no separate dimension-probe job
    # over the input (r13: one driver job saved per fit; 1+d+d² =
    # len(merged) ⇒ d = (√(4·len−3) − 1) / 2)
    d = int(round(((4 * len(merged) - 3) ** 0.5 - 1) / 2))
    if 1 + d + d * d != len(merged):
        raise ValueError(
            f"pca_fit: malformed partials ({len(merged)} slots is not 1+d+d²)"
        )
    flat = np.zeros(1 + d + d * d)
    for r in merged:
        flat[r["slot"]] = r["v"]
    n = int(flat[0])
    if n == 0:
        raise ValueError("pca_fit: empty input frame")
    mu = flat[1 : 1 + d] / n
    gram = flat[1 + d :].reshape(d, d)
    cov = gram / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    return n, mu, evals[order], evecs[:, order], float(np.trace(cov))


def pca_project(
    vectors: DataFrame,
    mu,
    components,
    vec_col: str = "embedding",
    out_col: str = "scores",
) -> DataFrame:
    """Project ``vec_col`` onto fitted components: a NARROW
    Arrow-batched map with the (d×k) component matrix shipped by
    closure broadcast — zero shuffles, scan-speed at any scale."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    mu_l, comp_l = list(map(float, mu)), [list(map(float, c)) for c in components]
    keep_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in vectors.schema.fields
    )

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        mu_a = np.asarray(mu_l)
        W = np.asarray(comp_l)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            S = (X - mu_a) @ W
            out = pdf.copy()
            out[out_col] = list(S)
            yield out

    return vectors.mapInPandas(
        project, schema=f"{keep_schema}, {out_col} array<double>"
    )
