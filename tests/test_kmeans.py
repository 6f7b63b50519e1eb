"""k-means sanity: assignments cover every point, respect k, and an
iteration strictly reduces (or keeps) total within-cluster distance on an
easily separable constructed dataset."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkstreamingrealtimedatawithkafka_spark.operators.clustering import (
    assign_nearest,
    kmeans,
    update_centroids,
)


def test_kmeans_separates_obvious_clusters(spark):
    # two tight blobs far apart; init from the two lowest ids (one per blob)
    rows = [
        (0, [0.0, 0.0]), (2, [0.1, 0.0]), (4, [0.0, 0.1]),
        (1, [10.0, 10.0]), (3, [10.1, 10.0]), (5, [10.0, 10.1]),
    ]
    pts = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["id"]: r["cluster"] for r in kmeans(pts, k=2, iters=2).collect()}
    assert len(out) == 6
    assert out[0] == out[2] == out[4]
    assert out[1] == out[3] == out[5]
    assert out[0] != out[1]


def test_update_centroids_is_elementwise_mean(spark):
    pts = spark.createDataFrame(
        [(0, [0.0, 2.0]), (1, [2.0, 0.0]), (2, [8.0, 8.0])],
        "vec_id long, embedding array<double>",
    )
    assigned = assign_nearest(pts, [[0.0, 0.0], [8.0, 8.0]], "vec_id", "embedding")
    cents = update_centroids(assigned, [[0.0, 0.0], [8.0, 8.0]])
    assert cents == [[1.0, 1.0], [8.0, 8.0]]


def test_update_centroids_keeps_empty_cluster_aligned(spark):
    # all points land in cluster 1; cluster 0 must keep its previous
    # centroid and cluster 1's mean must not shift into slot 0
    pts = spark.createDataFrame(
        [(0, [8.0, 8.0]), (1, [10.0, 10.0])],
        "vec_id long, embedding array<double>",
    )
    prev = [[-100.0, -100.0], [9.0, 9.0]]
    assigned = assign_nearest(pts, prev, "vec_id", "embedding")
    cents = update_centroids(assigned, prev)
    assert cents == [[-100.0, -100.0], [9.0, 9.0]]


def test_kmeans_on_fixture_covers_all_points(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assigned = kmeans(emb, k=8, iters=1)
    n = emb.count()
    assert assigned.count() == n
    assert assigned.select("cluster").distinct().count() <= 8


def test_kmeans_rejects_zero_iterations(spark):
    # Before, iters=0 failed with AttributeError on None.select.
    pts = spark.createDataFrame([(0, [0.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="at least one iteration"):
        kmeans(pts, k=1, iters=0)
