"""Graph operators: connected components for dedup-cluster collapse.

A near-dup pass (operators/dedup.py) emits PAIRS, but a dedup pipeline
needs CLUSTERS — near-duplication is transitive in practice (A~B, B~C ⇒
keep one of {A,B,C}), so the pairs form a graph whose connected components
are the duplicate groups. The canonical keep-document is then the min id
per component, mirroring exact dedup's keep-first rule.

Every operator here is a loop of DataFrame rounds; ``_iterate`` is the one
place that decides when a round's lineage is cut and when the loop has
reached its fixpoint.
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from functools import partial

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def _iterate(
    step: Callable[[DataFrame | None], DataFrame],
    state: DataFrame | None,
    rounds: int | None,
    max_rounds: int,
    probe: tuple,
    stop: Callable[[dict | None, dict], bool] = operator.eq,
    every: int = 1,
) -> DataFrame:
    """Apply ``step`` round after round, starting from ``state``, and
    return the last round's frame.

    ``rounds=N`` is FIXED DEPTH: N steps, with INTERVAL lineage cuts — a
    localCheckpoint every ``every`` rounds, never after the final round
    (the consumer's own action executes the last segment). A demo-depth
    run (LPA rounds=4) is then ONE unrolled Spark job instead of one
    materialization job per round — isolated min-of-3 at sf0.1: 3.18 s ->
    2.09 s, labels identical — while deep runs still cut the plan every
    ``every`` rounds before planning time can compound.

    ``rounds=None`` is CONVERGED mode: every round is materialized with
    ``localCheckpoint``, which truncates the lineage (without it the plan
    grows every round and planning time explodes long before data size
    matters). ``probe = (name, *aggregates)`` is the O(1)-scalar fixpoint
    check: single-row aggregates, attached with ``observe`` so they ride
    the checkpoint's eager job — each round is ONE Spark job, not
    checkpoint + a separate collect, and no self-join diff. Job-launch
    overhead is the whole cost on small duplicate graphs (same-session
    min-of-4 A/B of ``connected_components`` on the 188-pair sf0.1 graph:
    0.57 s -> 0.43 s, identical labels), and the saving is per round. The
    loop ends once ``stop(previous, current)`` holds for the probe's
    metrics — by default, when they did not change — or after
    ``max_rounds`` rounds, where hitting the cap means "take the current
    assignment".
    """
    depth = max_rounds if rounds is None else rounds
    if depth < 1:
        raise ValueError(
            f"an iterative graph operator runs at least one round; got "
            f"rounds={rounds}, max_rounds={max_rounds}"
        )
    name, *metrics = probe
    last = None
    for done in range(1, depth + 1):
        state = step(state)
        if rounds is not None:
            if done % every == 0 and done < rounds:
                state = state.localCheckpoint()
            continue
        obs = Observation(name)
        state = state.observe(obs, *metrics).localCheckpoint()
        got = obs.get
        if stop(last, got):
            break
        last = got
    return state


def _xor_hash(*cols: str) -> Column:
    """BIT_XOR(xxhash64(cols)) as probe ``h``: over rows unique in
    ``cols`` it changes whenever any row does (w.h.p.; no xor-cancellation
    between equal rows), and xor can't hit ANSI mode's int64 SUM
    overflow."""
    return F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("h")


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 30
) -> DataFrame:
    """Connected components via min-label propagation: every node's label
    converges to the minimum node id in its component. Returns
    (node, label) for every node that appears in an edge.

    Each iteration is one shuffle (join labels to the symmetric edge list,
    fold with min); iterations needed = graph diameter. Duplicate clusters
    have tiny diameters (near-dup graphs are dense blobs, not paths), so
    this converges in a handful of rounds; for adversarial long-path
    graphs, the large-star/small-star contraction
    (``connected_components_star``) drops the round count to ~log n.

    Runs in ``_iterate``'s converged mode, capped at ``max_iter`` rounds.
    The probe is the label SUM, which strictly decreases until fixpoint
    (labels only ever move down), so "sum unchanged" means "labels
    unchanged".
    """
    # Materialize the symmetric edge list ONCE. ``edges`` is typically the
    # output of a whole near-dup pipeline (LSH banding + verification);
    # without this checkpoint every propagation round would recompute that
    # entire upstream plan — measured ~1.5s/round on the full-dedup bench
    # entry. The edge set is pairs-only (two longs a row), far smaller than
    # the corpus, so materializing it is the cheap side of the trade at any
    # scale.
    sym = (
        edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
        .union(edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr")))
        .distinct()
        .localCheckpoint()
    )

    # labels carries its node column as "lnode" so the per-round join
    # against sym can't hit Spark's ambiguous-self-join check (labels
    # derives from sym, so both would otherwise own the same attribute).
    def step(labels: DataFrame | None) -> DataFrame:
        if labels is None:
            # Round 1 is FUSED: with identity labels, label(nbr) == nbr, so
            # the propagation join is the edge list itself — one aggregate
            # computes label1(node) = min(node, min of neighbors), saving
            # the initial distinct + checkpoint and the first join round
            # (the LPA round-1 lesson applied to CC).
            labels = sym.select(F.col("node").alias("lnode"), F.col("node").alias("label"))
            prop = sym.select(F.col("node").alias("lnode"), F.col("nbr").alias("label"))
        else:
            prop = sym.join(labels, sym["nbr"] == labels["lnode"]).select(
                F.col("node").alias("lnode"), F.col("label")
            )
        return labels.union(prop).groupBy("lnode").agg(F.min("label").alias("label"))

    probe = ("cc_label_sum", F.sum("label").alias("s"))
    labels = _iterate(step, None, None, max_iter, probe)
    return labels.select(F.col("lnode").alias("node"), "label")


def connected_components_star(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_rounds: int = 50
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the O(log n)-round alternative to
    ``connected_components``'s min-label propagation, whose round count
    is the graph DIAMETER. Near-dup graphs are dense blobs (diameter
    2-3), so min-label is the right default there; this operator is for
    adversarial long-path / high-diameter graphs (linkage chains, road
    networks, time-adjacency graphs), where diameter-many shuffles is
    the difference between 3 rounds and 3000.

    One round = large-star (every node's strictly-larger neighbors
    attach to its minimum neighborhood member) then small-star (every
    node's smaller-or-equal neighbors re-attach to the local minimum):
    each is ONE groupBy(min) + one equi-join back — same shuffle shape
    as a propagation round, but the edge set contracts geometrically
    instead of labels creeping one hop per round. Convergence: the edge
    set reaches the star forest (node -> component min) and stops
    changing; ``_iterate`` probes it per round with BIT_XOR(xxhash64(a,
    b)) + count (the pair rows are unique, so the hash moves whenever
    the set does, w.h.p.). Returns (node, label) for every node that
    appears in an edge, label = min node id of its component — the SAME
    contract as ``connected_components``; equality on random graphs and
    a 200-node path is pinned in tests.
    """
    # nodes come off the RAW edge list so a node appearing only in a
    # self-loop edge still gets its (x, x) row — the same contract as
    # ``connected_components``, which unions both endpoints before any
    # filtering. The contraction rounds below then drop self-loops.
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    nodes = (
        raw.select(F.col("a").alias("node"))
        .union(raw.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint()
    )

    def step(e: DataFrame) -> DataFrame:
        # ---- large-star: from each node u, every neighbor v > u attaches
        # to m(u) = min(neighborhood(u) + u). Processes each undirected
        # edge from BOTH endpoints via the symmetric expansion; output
        # edges all point strictly downward (v > m by construction).
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mn = sym.groupBy("u").agg(F.min("v").alias("mnv"))
        ls = (
            sym.join(mn, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("a"),
                F.least(F.col("mnv"), F.col("u")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # ---- small-star: edges now point downward (b < a). For each a,
        # re-attach its smaller endpoints (and a itself) to m = min(b).
        mn2 = ls.groupBy("a").agg(F.min("b").alias("m"))
        rewired = (
            ls.join(mn2, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        return rewired.union(mn2.select(F.col("a"), F.col("m").alias("b"))).distinct()

    # canonical undirected pairs (a > b not required yet; just a != b)
    e = raw.filter(F.col("a") != F.col("b")).distinct().localCheckpoint()
    probe = ("cc_star_edge_hash", _xor_hash("a", "b"), F.count(F.lit(1)).alias("n"))
    e = _iterate(step, e, None, max_rounds, probe)
    # e is now the star forest: (node, component-min) for non-roots.
    # Roots (and only roots) never appear on the left; they label
    # themselves. Isolated nodes can't occur (every input row is an edge).
    return nodes.join(
        e.select(F.col("a").alias("node"), F.col("b").alias("label")),
        "node",
        "left",
    ).select("node", F.coalesce("label", F.col("node")).alias("label"))


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int | None = None,
    max_rounds: int = 30,
    checkpoint_interval: int = 4,
) -> DataFrame:
    """Synchronous label propagation (LPA) over a symmetric directed edge
    list (both directions present, as ``copurchase_edges`` emits): every
    node adopts the most frequent label among its neighbors each round,
    ties broken to the smallest label so the result is deterministic.
    Returns (node, lbl) for every node with an in-edge.

    ``rounds=N`` is the FIXED-DEPTH mode the catalog entry uses
    (oracle-replayable as an unrolled CTE chain — N=4 there is a demo
    depth, not a convergence claim), with a lineage cut every
    ``checkpoint_interval`` rounds. ``rounds=None`` is CONVERGED MODE:
    iterate until the label assignment reaches a fixpoint, probed per
    round by BIT_XOR(xxhash64(node, lbl)) — (node, lbl) rows are unique
    per node. Both modes are ``_iterate``'s. Capped at ``max_rounds``
    because synchronous LPA can 2-cycle on bipartite-ish neighborhoods
    (the classic LPA caveat); a production run picks the cap by graph
    diameter expectations and treats hitting it as "oscillating, take the
    current assignment".

    The per-round argmax rides one integer encoding (score = n·K − lbl,
    decode lbl = K − score mod K), so each round is ONE equi-join keyed
    on the edge source plus two keyed aggregates — no window, no UDF.
    Round 1 is fused: identity labels make the label join a no-op, so
    the edge list groups directly (saves a distinct + join off the
    front).
    """
    K = 1_000_000_000  # argmax encoding: score = n*K - lbl (0 < lbl < K)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))

    def step(labels: DataFrame | None) -> DataFrame:
        if labels is None:
            counts = e.groupBy(
                F.col("dst").alias("node"), F.col("src").alias("lbl")
            ).agg(F.count(F.lit(1)).alias("n"))
        else:
            counts = (
                e.join(labels.select(F.col("node").alias("src"), "lbl"), "src")
                .groupBy(F.col("dst").alias("node"), "lbl")
                .agg(F.count(F.lit(1)).alias("n"))
            )
        return counts.groupBy("node").agg(
            (F.lit(K) - (F.max(F.col("n") * K - F.col("lbl")) % K))
            .cast("long")
            .alias("lbl")
        )

    probe = ("lpa_label_hash", _xor_hash("node", "lbl"))
    return _iterate(step, None, rounds, max_rounds, probe, every=checkpoint_interval)


def kcore_peel(e: DataFrame, k: int) -> DataFrame:
    """One k-core peel of a SYMMETRIC (src, dst) edge list: drop the
    edges touching a node of degree < k (out-degree IS degree there)."""
    keep = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") >= k)
        .select(F.col("src").alias("node"))
    )
    return (
        e.join(keep.withColumnRenamed("node", "src"), "src", "semi")
        .join(keep.withColumnRenamed("node", "dst"), "dst", "semi")
        .select("src", "dst")
    )


def kcore(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 4,
    rounds: int | None = None,
    max_rounds: int = 30,
) -> DataFrame:
    """k-core peeling (Seidman's degeneracy algorithm) over a SYMMETRIC
    directed edge list (both directions present, as ``copurchase_edges``
    emits): repeatedly ``kcore_peel`` — drop nodes with degree < k and the
    edges touching them. Returns the surviving edge list (src, dst).

    ``rounds=N`` is fixed-depth (the ``graph_kcore`` catalog entry's
    oracle-replayable demo form, which runs the same ``kcore_peel`` in a
    loop of its own because its output is per-round STATS). ``rounds=None``
    is CONVERGED mode — peel to the true k-core: edges only ever shrink,
    so the edge COUNT is monotone and "count unchanged" means "edge set
    unchanged"; that count is ``_iterate``'s probe. Lineage is cut after
    every round (at fixed depth, every round but the last): each round's
    edge list is referenced three times by the next round (degree
    aggregate + two semi-joins), so skipping the cut would replay the
    whole peel pyramid per reference.
    AQE converts the survivor semi-joins to broadcasts at fixture scale
    and keeps shuffle joins when the survivor set outgrows the threshold
    — verified in the executed plan (ReusedExchange on the edge side,
    BroadcastHashJoin x2).
    """
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint()
    probe = ("kcore_n_edges", F.count(F.lit(1)).alias("n"))
    return _iterate(partial(kcore_peel, k=k), e, rounds, max_rounds, probe)


def pagerank_int(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int | None = 5,
    base_ppm: int = 150_000,
    damp_pct: int = 85,
    max_iterations: int = 120,
    checkpoint_interval: int = 4,
    tol_ppm: int = 0,
) -> DataFrame:
    """PageRank with EXACT INTEGER arithmetic (ppm-scaled):
    r'(v) = base_ppm + damp_pct% * Σ_{u→v} (r(u) div deg(u)), all in
    int64 ``div`` — so the result is bit-identical on any engine and
    hash-checkable, where float PageRank's cross-engine sum order never
    is. The standard damping algebra survives: truncating div loses
    < deg(u) ppm per term, identically on both engines.

    Same scale hygiene as ``connected_components``: the symmetric edge
    list + out-degrees materialize ONCE (one localCheckpoint, pairs-only
    rows); each iteration is one join + one shuffle on the destination
    key, and ``_iterate`` places the lineage cuts.

    ``iterations=N`` is FIXED-DEPTH mode — the catalog entry's choice,
    keeping the oracle replayable as an unrolled SQL CTE chain (a DEMO
    DEPTH, like ``label_propagation(rounds=N)``), with a cut every
    ``checkpoint_interval`` iterations. ``iterations=None`` is CONVERGED
    MODE: iterate until the integer rank assignment reaches an exact
    fixpoint — integer ranks make exact detection meaningful where float
    PageRank needs an epsilon — probed per round by BIT_XOR(xxhash64(node,
    r)). The damped map contracts geometrically at rate damp_pct/100, so
    reaching the EXACT integer fixpoint takes about
    log(1e6)/log(100/damp_pct) rounds (~85 at the default 85% — a
    property of the ppm resolution, not the graph; measured 76 on a
    5-node fixture). ``max_iterations`` defaults above that; truncation
    can in principle leave a ±1ppm limit cycle instead of a strict
    fixpoint, and hitting the cap means "take the current assignment"
    (the converged-LPA cap contract).

    ``tol_ppm > 0`` (converged mode only) is the PRODUCTION exit: stop
    when no rank moved more than tol_ppm this round — max|Δ| ≤ tol exits
    after ~log(1e6/tol)/log(100/damp_pct) rounds (~43 at tol=1000, damp
    85%) instead of the exact probe's ~85, at the cost of an extra
    equi-join per round against the previous (checkpointed, so
    replayed-from-blocks) assignment. The max-delta is the probe, and the
    exit starts at round 2, the first with a previous assignment to diff
    against. tol_ppm=0 keeps the exact-hash probe, which is what makes
    that mode cross-engine replayable.
    Returns (node, rank_ppm) for every node in an edge.
    """
    if tol_ppm > 0 and iterations is not None:
        raise ValueError(
            "tol_ppm is a converged-mode exit (iterations=None); "
            f"got iterations={iterations} with tol_ppm={tol_ppm} — a "
            "fixed-depth run would silently ignore the tolerance"
        )
    sym = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .union(edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
        .distinct()
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = sym.join(deg, "src").localCheckpoint()

    def step(prev: DataFrame | None) -> DataFrame:
        if prev is None:
            # round 1 fused: ranks are uniform (1_000_000), so the rank
            # join is a no-op — contributions come straight off the edge
            # list, saving the initial distinct and the first join (the
            # LPA/CC round-1 lesson)
            contrib = ed.select(
                F.col("dst"), F.expr("1000000 div deg").alias("c")
            )
        else:
            contrib = ed.join(prev, ed.src == prev.node).select(
                F.col("dst"), F.expr("r div deg").alias("c")
            )
        ranks = contrib.groupBy(F.col("dst").alias("node")).agg(
            (
                F.lit(base_ppm) + F.expr(f"({damp_pct} * sum(c)) div 100")
            ).alias("r")
        )
        if tol_ppm == 0:
            return ranks
        if prev is None:
            return ranks.withColumn("d", F.lit(None).cast("long"))
        return ranks.join(
            prev.select(F.col("node").alias("pn"), F.col("r").alias("pr")),
            F.col("node") == F.col("pn"),
        ).select("node", "r", F.abs(F.col("r") - F.col("pr")).alias("d"))

    if tol_ppm > 0:
        probe = ("pr_rank_delta", F.max("d").alias("m"))

        def stop(last: dict | None, got: dict) -> bool:
            return last is not None and int(got["m"] or 0) <= tol_ppm

    else:
        probe, stop = ("pr_rank_hash", _xor_hash("node", "r")), operator.eq
    ranks = _iterate(
        step, None, iterations, max_iterations, probe, stop, checkpoint_interval
    )
    return ranks.select("node", F.col("r").alias("rank_ppm"))
