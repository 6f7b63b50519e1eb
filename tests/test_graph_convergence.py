"""LPA convergence-mode tests (r6 verdict ask #8): the graph family's
fixed iteration counts are a documented demo depth; this pins that the
CONVERGED mode (rounds=None) actually reaches a fixpoint, that the
fixpoint is genuine (one more synchronous round is a no-op), and that the
fixed-depth entry still equals the shared operator at the demo depth."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkstreamingrealtimedatawithkafka_spark.operators.graph import (
    connected_components,
    connected_components_star,
    kcore,
    label_propagation,
    pagerank_int,
)

from conftest import cc_on_both_paths

SF_DIR = "/root/testdata/sf0.001"


def _sym_edges(spark, pairs):
    """Undirected pairs -> symmetric directed edge list (both directions)."""
    df = spark.createDataFrame(pairs, ["a", "b"])
    return df.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        df.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )


def _one_more_round(e, labels):
    """One synchronous LPA round applied to an existing assignment — the
    fixpoint check's ground truth (same argmax encoding as the operator)."""
    K = 1_000_000_000
    return (
        e.join(labels.select(F.col("node").alias("src"), "lbl"), "src")
        .groupBy(F.col("dst").alias("node"), "lbl")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("node")
        .agg(
            (F.lit(K) - (F.max(F.col("n") * K - F.col("lbl")) % K))
            .cast("long")
            .alias("lbl")
        )
    )


def test_converged_mode_reaches_true_fixpoint_on_cliques(spark):
    """Two disjoint triangles: converged LPA must label each by its min
    member, and one further round must change nothing."""
    e = _sym_edges(spark, [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)])
    labels = label_propagation(e, rounds=None, max_rounds=30)
    got = {(r["node"], r["lbl"]) for r in labels.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)}
    again = {(r["node"], r["lbl"]) for r in _one_more_round(e, labels).collect()}
    assert again == got, "claimed fixpoint moved under one more round"


def test_converged_mode_caps_oscillation(spark):
    """A single edge 2-cycles under synchronous LPA (labels swap every
    round); converged mode must TERMINATE at the cap, not loop."""
    e = _sym_edges(spark, [(1, 2)])
    labels = label_propagation(e, rounds=None, max_rounds=5)
    assert labels.count() == 2  # terminated with a full assignment


def test_fixed_depth_entry_equals_operator_at_demo_depth(spark):
    """graph_community_lpa (the oracle-gated demo-depth entry) must equal
    the shared operator at rounds=_LPA_ROUNDS — the refactor onto
    operators.graph.label_propagation cannot drift the certified entry."""
    from sparkstreamingrealtimedatawithkafka_spark.plans.ml import (
        _LPA_ROUNDS,
        copurchase_edges,
        graph_community_lpa,
    )
    from sparkstreamingrealtimedatawithkafka_spark.plans._util import t

    entry = {
        (r["community"], r["n_members"], r["min_member"])
        for r in graph_community_lpa(spark, SF_DIR).collect()
    }
    e = copurchase_edges(t(spark, SF_DIR, "lineitem")).localCheckpoint()
    labels = label_propagation(e, rounds=_LPA_ROUNDS)
    direct = {
        (r["community"], r["n_members"], r["min_member"])
        for r in labels.groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("node").alias("min_member"),
        )
        .collect()
    }
    assert entry == direct and entry


def _one_more_pr_round(sym, ranks, base_ppm=150_000, damp_pct=85):
    """One synchronous integer-PageRank round applied to an existing rank
    assignment — ground truth for the converged-mode fixpoint check (same
    ppm div algebra as the operator)."""
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = sym.join(deg, "src")
    return (
        ed.join(ranks, ed.src == ranks.node)
        .select(F.col("dst"), F.expr("r div deg").alias("c"))
        .groupBy(F.col("dst").alias("node"))
        .agg(
            (
                F.lit(base_ppm) + F.expr(f"({damp_pct} * sum(c)) div 100")
            ).alias("r")
        )
    )


def test_pagerank_converged_mode_reaches_integer_fixpoint(spark):
    """Path graph 1-2-3 plus a disjoint edge: converged-mode integer
    PageRank must land on an assignment one further round cannot move.
    damp=50% keeps the geometric creep to ~20 rounds (the exit count is
    log(1e6)/log(100/damp) — resolution-driven, not graph-driven) so the
    test stays fast; the contract under test is identical at any damp."""
    e = _sym_edges(spark, [(1, 2), (2, 3), (10, 11)])
    ranks = pagerank_int(e, iterations=None, damp_pct=50, max_iterations=40)
    got = {(r["node"], r["rank_ppm"]) for r in ranks.collect()}
    assert len(got) == 5 and all(v > 0 for _, v in got)
    sym = e.distinct()
    relabeled = ranks.select("node", F.col("rank_ppm").alias("r"))
    again = {
        (r["node"], r["r"])
        for r in _one_more_pr_round(sym, relabeled, damp_pct=50).collect()
    }
    assert again == got, "claimed integer fixpoint moved under one more round"


def test_interval_checkpointing_preserves_fixed_depth_results(spark):
    """rounds > checkpoint_interval exercises the mid-loop lineage cut;
    the cut must be invisible in the labels (interval=1 replays the old
    per-round discipline, interval=100 never cuts — all three must
    agree at depth 6)."""
    e = _sym_edges(
        spark,
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (2, 4)],
    )
    outs = []
    for interval in (1, 4, 100):
        labels = label_propagation(e, rounds=6, checkpoint_interval=interval)
        outs.append({(r["node"], r["lbl"]) for r in labels.collect()})
    assert outs[0] == outs[1] == outs[2] and outs[0]
    ranks = []
    for interval in (1, 4, 100):
        r = pagerank_int(e, iterations=6, checkpoint_interval=interval)
        ranks.append({(x["node"], x["rank_ppm"]) for x in r.collect()})
    assert ranks[0] == ranks[1] == ranks[2] and ranks[0]


def test_pagerank_delta_tolerance_exit(spark):
    """tol_ppm is the production exit: it must terminate and land within
    tol of the exact integer fixpoint (computed via the exact-hash probe
    on the same graph). damp=50 keeps both runs ~20 rounds."""
    e = _sym_edges(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    exact = {
        (r["node"], r["rank_ppm"])
        for r in pagerank_int(
            e, iterations=None, damp_pct=50, max_iterations=40
        ).collect()
    }
    tol = 2000
    approx = {
        r["node"]: r["rank_ppm"]
        for r in pagerank_int(
            e, iterations=None, damp_pct=50, max_iterations=40, tol_ppm=tol
        ).collect()
    }
    exact_d = dict(exact)
    assert set(approx) == set(exact_d)
    # one more round moves each rank by <= damp * tol; geometric tail from
    # there bounds the distance to the fixpoint by tol * damp/(1-damp) = tol
    for n, r in approx.items():
        assert abs(r - exact_d[n]) <= tol, (n, r, exact_d[n])


def test_pagerank_converged_mode_terminates_on_fixture_graph(spark):
    """The real co-purchase graph: converged mode must terminate (fixpoint
    or cap) with one positive integer rank per node."""
    from sparkstreamingrealtimedatawithkafka_spark.plans.ml import copurchase_edges
    from sparkstreamingrealtimedatawithkafka_spark.plans._util import t

    e = copurchase_edges(t(spark, SF_DIR, "lineitem")).localCheckpoint()
    ranks = pagerank_int(e, iterations=None, max_iterations=25)
    n_nodes = e.select(F.col("dst").alias("node")).distinct().count()
    assert ranks.count() == n_nodes
    assert ranks.filter(F.col("rank_ppm") <= 0).count() == 0


def test_cc_star_equals_min_label_on_random_graphs(spark):
    """Large-star/small-star must produce exactly min-label CC's
    (node, label) assignment — seeded random graphs with several
    components and dangling chains — on the driver path and on the
    distributed rounds."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        pairs = set()
        for comp_base in (0, 1000, 2000):
            members = [comp_base + i for i in range(rng.randint(2, 25))]
            for idx, m in enumerate(members[1:], start=1):
                # attach to a random EARLIER member -> component stays
                # connected; extra random edges densify it
                pairs.add((rng.choice(members[:idx]), m))
            for _ in range(len(members) // 2):
                a, b = rng.sample(members, 2)
                pairs.add((a, b))
        pairs = {(a, b) for a, b in pairs if a != b}
        edges = spark.createDataFrame(sorted(pairs), ["src", "dst"])
        star = cc_on_both_paths(connected_components_star, edges)
        minlbl = cc_on_both_paths(connected_components, edges)
        assert star == minlbl and star, f"trial {trial} diverged"


def test_cc_star_handles_high_diameter_path(spark):
    """A 200-node path: min-label needs diameter-many rounds (200);
    star contraction must label the whole path with its min inside the
    50-round cap (it converges in ~log n alternations)."""
    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["src", "dst"]
    )
    got = cc_on_both_paths(connected_components_star, edges)
    assert got == {(i, 1) for i in range(1, n + 1)}


def test_cc_star_keeps_self_loop_only_nodes(spark):
    """A node that appears ONLY in a self-loop edge must still get its
    (x, x) row from BOTH operators, each on the driver path and on the
    distributed rounds — the shared (node, label) contract (r7 advisory:
    star built nodes after the a != b filter and silently dropped them)."""
    edges = spark.createDataFrame(
        [(1, 2), (7, 7), (9, 9), (2, 1)], ["src", "dst"]
    )
    want = {(1, 1), (2, 1), (7, 7), (9, 9)}
    assert cc_on_both_paths(connected_components_star, edges) == want
    assert cc_on_both_paths(connected_components, edges) == want


def test_pagerank_rejects_tol_with_fixed_iterations(spark):
    """tol_ppm is a converged-mode exit; combining it with a fixed
    iteration count must raise instead of silently ignoring the
    tolerance (r7 advisory)."""
    import pytest

    edges = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    with pytest.raises(ValueError, match="tol_ppm"):
        pagerank_int(edges, iterations=10, tol_ppm=500)


def test_kcore_converged_peels_to_true_core(spark):
    """4-clique with a pendant path: the 3-core is exactly the clique.
    Converged mode must reach it, and one more peel must be a no-op."""
    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    tail = [(4, 5), (5, 6)]
    e = _sym_edges(spark, clique + tail)
    core = kcore(e, k=3, rounds=None)
    got = {(r["src"], r["dst"]) for r in core.collect()}
    want = {(a, b) for a, b in clique} | {(b, a) for a, b in clique}
    assert got == want
    again = kcore(core, k=3, rounds=1)
    assert {(r["src"], r["dst"]) for r in again.collect()} == want


def test_kcore_converged_handles_fully_peeled_graph(spark):
    """A bare path has no 3-core: converged mode must terminate on the
    empty edge set, not loop at the cap."""
    e = _sym_edges(spark, [(1, 2), (2, 3), (3, 4)])
    core = kcore(e, k=3, rounds=None, max_rounds=10)
    assert core.count() == 0


def test_kcore_entry_in_lockstep_with_operator(spark):
    """graph_kcore runs the operator's ``kcore_peel`` in a loop of its own
    (it outputs per-round stats); its final-round stats must equal the
    operator at the same fixed depth on the same edges — the entry's loop
    and the operator's cannot drift."""
    from sparkstreamingrealtimedatawithkafka_spark.plans.ml import (
        copurchase_edges,
        graph_kcore,
    )
    from sparkstreamingrealtimedatawithkafka_spark.plans._util import t

    entry_last = (
        graph_kcore(spark, SF_DIR).filter(F.col("round") == 3).collect()[0]
    )
    e = copurchase_edges(t(spark, SF_DIR, "lineitem")).localCheckpoint()
    op = kcore(e, k=4, rounds=3)
    stats = op.agg(
        F.count_distinct(F.col("src")).alias("n_nodes"),
        F.count(F.lit(1)).alias("n_edges"),
        F.coalesce(F.sum("src"), F.lit(0)).alias("sum_src"),
    ).collect()[0]
    assert (entry_last["n_nodes"], entry_last["n_edges"], entry_last["sum_src"]) == (
        stats["n_nodes"], stats["n_edges"], stats["sum_src"]
    )


def test_converged_mode_terminates_on_fixture_graph(spark):
    """The real co-purchase graph: converged mode must terminate (fixpoint
    or cap) and emit one label per node with an in-edge."""
    from sparkstreamingrealtimedatawithkafka_spark.plans.ml import copurchase_edges
    from sparkstreamingrealtimedatawithkafka_spark.plans._util import t

    e = copurchase_edges(t(spark, SF_DIR, "lineitem")).localCheckpoint()
    labels = label_propagation(e, rounds=None, max_rounds=15)
    n_nodes = e.select(F.col("dst").alias("node")).distinct().count()
    assert labels.count() == n_nodes
    assert labels.select("node").distinct().count() == n_nodes
