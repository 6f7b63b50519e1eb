"""connected_components vs a driver-side union-find on random graphs.

Both connected-components operators finish a small graph on the driver
and run distributed rounds (min-label propagation or star contraction,
with localCheckpoint lineage cuts) on a large one. Every check here runs
both paths (``conftest.cc_on_both_paths``) and asserts they agree. The
union-find below is the trivially-correct reference: any divergence
(missed transitive merge, premature convergence, label drift) fails
loudly.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from sparkstreamingrealtimedatawithkafka_spark.operators import graph
from sparkstreamingrealtimedatawithkafka_spark.operators.graph import (
    connected_components,
    connected_components_star,
)

from conftest import cc_on_both_paths, job_count

OPERATORS = {"cc": connected_components, "cc_star": connected_components_star}


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min node per component
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(0, 30, 20), (1, 50, 60), (2, 40, 39)])
def test_cc_matches_union_find(spark, seed, n_nodes, n_edges):
    rng = random.Random(seed)
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _union_find(edges)

    df = spark.createDataFrame(edges, "src int, dst int")
    got = cc_on_both_paths(connected_components, df, max_iter=50)
    assert got == set(expected.items())


def test_cc_long_path_converges(spark):
    """A pure path graph is the worst case for label propagation
    (diameter = n-1): a 25-node path must still fully converge — every
    node ends with label 0 — within max_iter."""
    edges = [(i, i + 1) for i in range(24)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = cc_on_both_paths(connected_components, df)
    assert got == {(i, 0) for i in range(25)}


@pytest.mark.parametrize("op", list(OPERATORS))
def test_int32_ids_keep_their_type(spark, op):
    df = spark.createDataFrame([(3, 1), (2, 3), (7, 8)], "src int, dst int")
    got = cc_on_both_paths(OPERATORS[op], df)
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    assert [f.dataType.simpleString() for f in OPERATORS[op](df).schema] == ["int", "int"]


@pytest.mark.parametrize("op", list(OPERATORS))
def test_self_loops_duplicate_and_reversed_edges(spark, op):
    """A self-loop alone keeps its node as a singleton; a duplicate or a
    reversed edge changes nothing."""
    pairs = [(5, 4), (4, 5), (5, 4), (4, 4), (6, 6), (6, 6), (9, 5)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = cc_on_both_paths(OPERATORS[op], df)
    assert got == {(4, 4), (5, 4), (9, 4), (6, 6)}


# A null endpoint joins no component on either path (the distributed
# rounds' equi-joins never match it). Min-label propagation still folds
# its neighbours' labels into the null node; star contraction drops its
# edges, so the null node labels itself null.
NULL_PAIRS = [(1, 2), (None, 3), (3, 4), (2, None), (8, 8), (None, None)]
NULL_ROWS = {
    "cc": {(1, 1), (2, 1), (3, 3), (4, 3), (8, 8), (None, 1)},
    "cc_star": {(1, 1), (2, 1), (3, 3), (4, 3), (8, 8), (None, None)},
}


@pytest.mark.parametrize("op", list(OPERATORS))
def test_null_endpoint(spark, op):
    df = spark.createDataFrame(NULL_PAIRS, "src long, dst long")
    assert cc_on_both_paths(OPERATORS[op], df) == NULL_ROWS[op]
    alone = spark.createDataFrame([(None, None), (5, 6)], "src long, dst long")
    assert cc_on_both_paths(OPERATORS[op], alone) == {
        (5, 5), (6, 5), (None, None)
    }


@pytest.mark.parametrize("op", list(OPERATORS))
def test_driver_finish_up_to_the_bound(spark, monkeypatch, op):
    """At most ``DRIVER_MAX_EDGES`` edge rows: two jobs (materialize with
    the count, collect) and a local result; one row more takes the
    distributed rounds."""
    df = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "src long, dst long")
    for bound, local in ((3, True), (2, False)):
        monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", bound)
        with job_count(spark) as jobs:
            labels = OPERATORS[op](df)
            eager = jobs()
        plan = labels._jdf.queryExecution().executedPlan().toString()
        assert plan.startswith("LocalTableScan") == local, plan
        assert (eager == 2) == local, eager
        assert {tuple(r) for r in labels.collect()} == {
            (1, 1), (2, 1), (3, 1), (4, 4), (5, 4)
        }


def test_empty_edge_list(spark):
    df = spark.createDataFrame([], "src long, dst long").filter(F.col("src") > 0)
    for op in OPERATORS.values():
        assert cc_on_both_paths(op, df) == set()
