"""Iterative clustering (Lloyd's k-means) over embedding columns — the
engine's representative for iterative algorithms, the class of workload
that is NOT one SQL statement (each iteration is a full pass whose output
parameterizes the next).

Spark-first shape per iteration:
- centroids live on the DRIVER (k × dim floats — trivially small) and are
  broadcast into the assignment join; the 100 TB point set never moves.
- assignment = broadcast cross join + per-point argmin (one narrow pass,
  no shuffle of the points);
- centroid update = posexplode(vec) → groupBy(cluster, pos) mean →
  regroup to arrays: one shuffle of (cluster, pos, partial sums), i.e.
  k × dim rows — independent of point count after the map-side partial
  aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkstreamingrealtimedatawithkafka_spark.operators.skew import widen_for_compute


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _neg_cos(a, b):
    # negated cosine similarity, so "smaller is nearer" like _sq_dist —
    # centroid norm divides out of the argmin, so no need to normalize
    # the means between iterations (spherical k-means equivalence).
    d = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    n2 = F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v)
    return -d / F.sqrt(n2)


def assign_nearest(
    points: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
    metric: str = "euclidean",
) -> DataFrame:
    """(id, vec, cluster): nearest centroid, ties to the lowest cluster id.
    Centroids ride in as one literal array column (driver-side constants,
    no join). ``metric="cosine"`` is the spherical variant — use it when
    the centroids feed cosine-based bucketing (IVF) so refinement and
    lookup agree on what "near" means."""
    dist_fn = _sq_dist if metric == "euclidean" else _neg_cos
    cents = F.array(*[
        F.array(*[F.lit(float(v)) for v in c]) for c in centroids
    ])
    dists = F.transform(cents, lambda c: dist_fn(F.col(vec_col).cast("array<double>"), c))
    best = F.array_position(dists, F.array_min(dists)).cast("int") - 1
    return points.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), best.alias("cluster")
    )


def update_centroids(
    assigned: DataFrame, prev_centroids: list[list[float]]
) -> list[list[float]]:
    """Element-wise mean per cluster, returned to the driver (k × dim).

    Keyed by cluster id, NOT by position in the collected result: a cluster
    that received no points keeps its previous centroid, so the returned
    list stays aligned with cluster ids (cluster id == list index in
    ``assign_nearest``) even when clusters empty out mid-iteration."""
    rows = (
        assigned.select("cluster", F.posexplode("vec").alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(F.avg("val").alias("m"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cluster", F.col("pm.m").alias("centroid"))
        .collect()
    )
    by_id = {r["cluster"]: list(r["centroid"]) for r in rows}
    return [by_id.get(i, prev_centroids[i]) for i in range(len(prev_centroids))]


def _init_centroids(
    points: DataFrame, k: int, id_col: str, vec_col: str
) -> list[list[float]]:
    init = (
        points.orderBy(id_col)
        .limit(k)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    return [r["v"] for r in init]


def kmeans_centroids(
    points: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "euclidean",
) -> list[list[float]]:
    """Lloyd's iterations, returning the refined centroids themselves
    (k x dim floats on the driver — bounded, not data-sized). This is the
    quality upgrade for IVF bucketing (operators/similarity.py): first-N
    'centroids' collapse recall when the first N corpus vectors are
    correlated; two Lloyd's passes spread them to the data's actual modes."""
    centroids = _init_centroids(points, k, id_col, vec_col)
    # Every Lloyd's pass pays assign_nearest's per-row k x dim distance
    # expressions; widen once so all passes inherit full parallelism
    # (init above reads the ORIGINAL frame — orderBy makes it
    # partitioning-independent, but no reason to shuffle before it).
    points = widen_for_compute(points)
    for _ in range(iters):
        assigned = assign_nearest(points, centroids, id_col, vec_col, metric=metric)
        centroids = update_centroids(assigned, centroids)
    return centroids


def kmeans(
    points: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means with deterministic init (the k lowest-id vectors).
    Returns the final assignment (id, cluster): the ``iters``-th assignment,
    to the centroids of ``iters - 1`` updates."""
    if iters < 1:
        raise ValueError(f"kmeans needs at least one iteration, got iters={iters}")
    centroids = kmeans_centroids(points, k, iters - 1, id_col, vec_col)
    assigned = assign_nearest(widen_for_compute(points), centroids, id_col, vec_col)
    return assigned.select("id", "cluster")
