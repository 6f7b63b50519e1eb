"""Spark-job counts and round limits of the iterative graph operators.

Each graph operator decides how many Spark jobs a run launches: one per
lineage cut (``localCheckpoint``), with a convergence probe riding that job
through ``observe``, plus whatever the consumer's action runs on the
result. These tests put each run in its own job group and count the jobs
the group launched, on small fixed graphs, at the depths the catalog
entries use and in every converged mode; the catalog entries that call the
operators are counted at sf0.001. A change in how the loops cut lineage or
probe for a fixpoint shows up here as a count that moved.

Counts are ``(eager, total)``: the jobs launched inside the call, then
those plus one ``collect`` of the result. With adaptive execution each
shuffle stage is a job of its own, so a count is stages plus actions.

The connected-components operators finish graphs this small on the driver;
the ``_distributed`` rows run them again with that finish off
(``DRIVER_MAX_EDGES`` 0), so the counts of their rounds stay pinned too.

Every operator runs at least one round: a depth or cap below 1 raises.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkstreamingrealtimedatawithkafka_spark.operators import graph
from sparkstreamingrealtimedatawithkafka_spark.operators.graph import (
    connected_components,
    connected_components_star,
    kcore,
    label_propagation,
    pagerank_int,
)
from sparkstreamingrealtimedatawithkafka_spark.plans.registry import REGISTRY

from conftest import SF_DIR, job_count

# Two components, a 5-node path (diameter 4) and a triangle with a tail.
PAIRS = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (12, 13)]
# A 4-clique with a pendant path: its 3-core is the clique.
KCORE_PAIRS = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]


def _sym(spark, pairs):
    df = spark.createDataFrame(pairs, ["a", "b"])
    return df.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        df.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )


def _jobs(spark, run):
    """``(eager, total)`` job counts of ``run()`` and one collect of its
    result."""
    with job_count(spark) as jobs:
        df = run()
        eager = jobs()
        rows = df.collect()
        total = jobs()
    assert rows
    return eager, total


OPERATOR_RUNS = {
    "cc": (PAIRS, lambda e: connected_components(e), (2, 2)),
    "cc_star": (PAIRS, lambda e: connected_components_star(e), (2, 2)),
    "cc_distributed": (PAIRS, lambda e: connected_components(e), (25, 26)),
    "cc_star_distributed": (PAIRS, lambda e: connected_components_star(e), (27, 31)),
    "lpa_rounds4": (PAIRS, lambda e: label_propagation(e, rounds=4), (0, 13)),
    "lpa_converged": (PAIRS, lambda e: label_propagation(e, rounds=None), (177, 178)),
    "pagerank_iter5": (PAIRS, lambda e: pagerank_int(e, iterations=5), (13, 18)),
    "pagerank_exact": (
        PAIRS,
        lambda e: pagerank_int(e, iterations=None, damp_pct=50, max_iterations=40),
        (111, 112),
    ),
    "pagerank_tol": (
        PAIRS,
        lambda e: pagerank_int(
            e, iterations=None, damp_pct=50, max_iterations=40, tol_ppm=2000
        ),
        (69, 70),
    ),
    # Fixed depth never cuts after the final round: its stages run in the
    # consumer's collect, not in a checkpoint job of their own.
    "kcore_rounds3": (KCORE_PAIRS, lambda e: kcore(e, k=3, rounds=3), (11, 16)),
    "kcore_converged": (KCORE_PAIRS, lambda e: kcore(e, k=3, rounds=None), (11, 12)),
}


def _distributed(monkeypatch, name: str) -> None:
    if name.endswith("_distributed"):
        monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 0)


@pytest.mark.parametrize("name", list(OPERATOR_RUNS))
def test_operator_job_counts(spark, monkeypatch, name):
    _distributed(monkeypatch, name)
    pairs, run, want = OPERATOR_RUNS[name]
    e = _sym(spark, pairs)
    assert _jobs(spark, lambda: run(e)) == want


# The catalog entries that run the graph operators, and their counts at
# sf0.001 after conftest's warm-up.
ENTRY_JOBS = {
    "dedup_cc_clusters": (3, 3),
    "dedup_cc_clusters_star": (3, 3),
    "graph_community_lpa": (6, 18),
    "graph_kcore": (18, 27),
    "graph_pagerank_copurchase": (16, 19),
    "pipeline_full_dedup": (14, 16),
    "dedup_cc_clusters_distributed": (21, 22),
    "dedup_cc_clusters_star_distributed": (27, 31),
    "pipeline_full_dedup_distributed": (22, 26),
}


@pytest.mark.parametrize("key", list(ENTRY_JOBS))
def test_entry_job_counts(spark, warm, monkeypatch, key):
    _distributed(monkeypatch, key)
    fn = REGISTRY[key.removesuffix("_distributed")].fn
    assert _jobs(spark, lambda: fn(spark, SF_DIR)) == ENTRY_JOBS[key]


ZERO_ROUNDS = {
    "cc": lambda e: connected_components(e, max_iter=0),
    "cc_star": lambda e: connected_components_star(e, max_rounds=0),
    "lpa_rounds": lambda e: label_propagation(e, rounds=0),
    "lpa_converged": lambda e: label_propagation(e, rounds=None, max_rounds=0),
    "kcore_rounds": lambda e: kcore(e, rounds=-1),
    "kcore_converged": lambda e: kcore(e, rounds=None, max_rounds=0),
    "pagerank_iterations": lambda e: pagerank_int(e, iterations=0),
    "pagerank_converged": lambda e: pagerank_int(e, iterations=None, max_iterations=0),
}


@pytest.mark.parametrize("name", list(ZERO_ROUNDS))
def test_zero_rounds_rejected(spark, name):
    # Before, label_propagation(rounds=0) returned None and
    # pagerank_int(iterations=0) failed on None.select.
    with pytest.raises(ValueError, match="at least one round"):
        ZERO_ROUNDS[name](_sym(spark, PAIRS))


@pytest.mark.parametrize("name", ["cc", "cc_star"])
def test_cc_rejects_zero_rounds_before_any_job(spark, name):
    """The connected-components operators materialize their input first,
    so the round check has to come before that job."""
    e = _sym(spark, PAIRS)
    with job_count(spark) as jobs:
        with pytest.raises(ValueError, match="at least one round"):
            ZERO_ROUNDS[name](e)
        assert jobs() == 0
