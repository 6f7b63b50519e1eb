"""Scale-up experiment: do the catalog entries scale linearly with data?

Materializes one synthetic full-schema 10x sf-dir from sf0.1 (``materialize``:
six tables replicated 10x with perturbed keys, so key cardinality scales
with the data instead of groups growing; the other four symlinked), then
times unmodified ``REGISTRY`` entries end to end over sf0.1 and over the
10x dir — min-of-3 through ``perf_protocol.min_time`` — and prints the
scaling ratios, one JSON line per name and a summary line last.

A plan that holds at 100 TB should show time ratio ~= data ratio (linear):
sub-linear means fixed overhead still dominates at this size; super-linear
means a shuffle/skew/memory cliff — investigate before believing the 100 TB
story.

The committed ``tools/scale_check_r*.json`` rows were taken over hand
re-implementations of the entries ("shapes"); ``SHAPE_KEYS`` maps each
old shape name to the entry it copied, and its keys are the default run.
One row stays synthetic: ``ccstar_path`` (see ``ccstar_path``).

Usage: python tools/scale_check.py [name ...]
       (a name is any REGISTRY key or ccstar_path; none: every mapped key)
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from sparkstreamingrealtimedatawithkafka_spark.operators.graph import (  # noqa: E402
    connected_components_star,
)
from sparkstreamingrealtimedatawithkafka_spark.plans import REGISTRY  # noqa: E402
from sparkstreamingrealtimedatawithkafka_spark.session import build_session  # noqa: E402
from sparkstreamingrealtimedatawithkafka_spark.sources.registry import (  # noqa: E402
    TABLES,
    load_table,
)
from tools.perf_protocol import min_time, noop  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
# Flat {table}.parquet layout; the older ssk_scale10_v2 dirs hold
# per-table subdirectories with partial schemas and are never read.
SCALE_DIR = os.path.join(os.environ.get("TMPDIR", "/tmp"), "ssk_sfdir10_full")
FACTOR = 10
PATH_NODES = 100_000
SYNTHETIC = "ccstar_path"

# Old shape name -> the catalog entry it re-implemented.
SHAPE_KEYS = {
    "q1_agg": "q1_pricing_summary",
    "q3_join_agg": "q3_shipping_priority",
    "minhash_lsh_dedup": "dedup_minhash_lsh",
    "incremental_dedup": "dedup_incremental_batch",
    "asof_join": "events_asof_last_purchase",  # direction="backward"
    "gapfill_resample": "events_gapfill_resample",
    "merge_scd2": "merge_scd2_history",
    "fuzzy_twostage": "fuzzy_match_twostage",
    "bm25_search": "search_bm25_topk",
    "pack_sequences": "pack_training_sequences",
    "rolling_wau": "events_rolling_wau",
    "basket_affinity": "basket_affinity_lift",
    "pareto_deciles": "revenue_pareto_curve",
    "welch_t": "ab_test_welch_t",
    "chi2_cells": "events_chi2_independence",
    "tfidf_topk": "text_tfidf_keywords",
    "pps_sampling": "sample_weighted_systematic",
    "pagerank_5iter": "graph_pagerank_copurchase",
    "growth_accounting": "events_growth_accounting",
    "tree_ensemble_score": "ml_tree_ensemble_score",
    "khop_bfs": "graph_khop_reach",
    "link_prediction": "graph_link_prediction_jaccard",
    "feature_hashing": "ml_feature_hashing",
    "winnowing_fp": "text_winnowing_fingerprints",
    "pca_gram": "emb_pca_power_iteration",
    "countmin": "agg_countmin_sketch",
    "mad_2pass": "events_outlier_mad_2pass",
    "lpa_4rounds": "graph_community_lpa",
    "image_dhash": "multimodal_image_dhash",
    "poisson_bootstrap": "sample_poisson_bootstrap",
    "kcore_3peel": "graph_kcore",
    "cep_paths": "events_cep_pattern",
    "clamp_balance": "events_clamped_running_balance",
    "ppjoin_exact": "dedup_ppjoin_prefix",
    "snm_linear": "dedup_sorted_neighborhood",
    "ts_subseq_search": "events_ts_subsequence_search",
    "decontaminate": "decontaminate_ngram_overlap",
    "snm_multipass": "dedup_snm_multipass",
    "skyline_2d": "part_skyline_pareto",
    "full_dedup_pipeline": "pipeline_full_dedup",
    "containment": "dedup_containment",
    "audio_fingerprint": "multimodal_audio_fingerprint",
    "similarity_auto": "dedup_similarity_auto",
}
SHAPE_OF = {key: shape for shape, key in SHAPE_KEYS.items()}


# --- the 10x sf-dir -----------------------------------------------------------
# One function per replicated table: given the replica index column ``i``
# (0..FACTOR-1), the columns it overrides. Every other column is copied.


def _lineitem(i):
    """Order keys scaled (orderkey' = orderkey*10+i), so key cardinality
    scales with data — duplicating keys would instead grow groups."""
    return {"l_orderkey": F.col("l_orderkey") * FACTOR + i}


def _orders(i):
    """Order keys scaled as in lineitem, so the lineitem-orders join stays
    one-to-many and grows exactly 10x. ``o_orderdate`` also moves +i days,
    so keyed change streams (SCD-2) genuinely grow 10x instead of
    collapsing in the groupBy."""
    return {
        "o_orderkey": F.col("o_orderkey") * FACTOR + i,
        "o_orderdate": F.col("o_orderdate") + F.make_interval(days=i),
    }


def _documents(i):
    """10-way NEAR-DUPLICATE families (each replica gets one extra unique
    token), the realistic scaling regime for near-dup dedup: corpus grows
    10x AND true near-dup pairs grow 10x (45 intra-family pairs per
    original doc) — bucket count must grow with the corpus for the LSH
    plan to stay linear. ``n_chars`` follows the new text."""
    doc_id = F.col("doc_id") * FACTOR + i
    text = F.concat(F.col("text"), F.lit(" uniq"), doc_id.cast("string"))
    return {
        "doc_id": doc_id,
        "text": text,
        "n_chars": F.length(text).cast("long"),
    }


def _events(i):
    """Key cardinality scaled (user_id' = user_id*10+i) and timestamps
    jittered per replica (+i minutes), so per-user series grow in count but
    session/gap structure stays realistic — the regime where the
    event-time family's shuffles (asof union-window, gap-fill grid,
    session merge) must stay linear."""
    return {
        "event_id": F.col("event_id") * FACTOR + i,
        "user_id": F.col("user_id") * FACTOR + i,
        "ts": F.col("ts") + F.make_interval(mins=i),
    }


def _part(i):
    """Keys scaled and names UNCHANGED — the record-linkage regime: the name
    vocabulary stays fixed while every name's group grows 10x, which is
    exactly where pair-level fuzzy matching explodes and the collapse-first
    two-stage plan must stay linear. Size and price jitter per replica, so
    the skyline sees 10x DISTINCT (price, size) points, not 10 copies of
    each frontier point."""
    return {
        "p_partkey": F.col("p_partkey") * FACTOR + i,
        "p_size": (F.col("p_size") + i) % 50 + 1,
        "p_retailprice": F.col("p_retailprice") + i * 0.01,
    }


def _embeddings(i):
    """New vec_ids and a per-replica sign flip of one dimension (keeps the
    value distribution; Gram work grows exactly 10x)."""
    return {
        "vec_id": F.col("vec_id") * FACTOR + i,
        "embedding": F.expr(
            "transform(embedding, (x, d) -> CASE WHEN d = i % 64 THEN -x ELSE x END)"
        ),
    }


REPLICATED = {
    "lineitem": _lineitem,
    "orders": _orders,
    "documents": _documents,
    "events": _events,
    "part": _part,
    "embeddings": _embeddings,
}


def materialize(spark, sf_dir: str, out_dir: str) -> str:
    """Write ``{out_dir}/{table}.parquet`` for every fixture table: the
    ``REPLICATED`` ones 10x, each row once per replica ``i``; the rest
    symlinked to ``sf_dir``. ``_DONE`` is written last and is the only
    thing that lets a later call skip the work. Returns ``out_dir``."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rep = F.explode(F.sequence(F.lit(0), F.lit(FACTOR - 1))).alias("i")
    for name in TABLES:
        src = os.path.join(sf_dir, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        if name not in REPLICATED:
            if os.path.lexists(dst):
                os.remove(dst)
            os.symlink(os.path.abspath(src), dst)
            continue
        # events is read raw: load_table derives ts_us, which the schema
        # contract would then reject on the way back in.
        df = (
            spark.read.parquet(src)
            if name == "events"
            else load_table(spark, sf_dir, name)
        )
        (
            df.select("*", rep)
            .withColumns(REPLICATED[name](F.col("i")))
            .drop("i")
            .write.mode("overwrite")
            .parquet(dst)
        )
    Path(out_dir, "_DONE").touch()
    return out_dir


def ccstar_path(spark, n_nodes: int):
    """connected_components_star on a PATH graph of ``n_nodes`` — the
    adversarial high-diameter graph min-label propagation cannot finish
    (it needs diameter-many rounds; the star contraction needs ~log n
    alternations). No fixture table is such a graph, so this is the one
    synthetic row. The 10x row grows the path 10x, so the expected cost is
    ~10x * (log 10n / log n) — near-linear, NOT diameter-linear."""
    path = spark.range(1, n_nodes).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    return connected_components_star(path).agg(
        F.count(F.lit(1)).alias("n"), F.sum("label").alias("s")
    )


def main() -> None:
    names = sys.argv[1:] or [*SHAPE_KEYS.values(), SYNTHETIC]
    unknown = [n for n in names if n not in REGISTRY and n != SYNTHETIC]
    if unknown:
        raise SystemExit(f"unknown {unknown}: not a REGISTRY key or {SYNTHETIC}")
    spark = build_session(app_name="ssk-scale-check")
    sizes = {}
    if any(name in REGISTRY for name in names):  # ccstar_path reads no fixture
        materialize(spark, SF_DIR, SCALE_DIR)
        sizes = {
            "rows_1x": load_table(spark, SF_DIR, "lineitem").count(),
            "rows_10x": load_table(spark, SCALE_DIR, "lineitem").count(),
        }

    # warm up the JVM/codegen/readers so 1x isn't charged the boot cost
    noop(REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR))

    out = {
        "protocol": (
            "unmodified REGISTRY entries end to end (noop sink), min-of-3 "
            "through perf_protocol.min_time, over sf0.1 and the full-schema "
            "10x sf-dir of scale_check.materialize; ccstar_path is synthetic"
        ),
        "master": spark.sparkContext.master,
        "factor": FACTOR,
        **sizes,
        "rows": {},
    }
    for name in names:
        if name == SYNTHETIC:
            sizes = (PATH_NODES, PATH_NODES * FACTOR)
            sides = [lambda n=n: ccstar_path(spark, n) for n in sizes]
        else:
            fn = REGISTRY[name].fn
            sides = [lambda d=d: fn(spark, d) for d in (SF_DIR, SCALE_DIR)]
        s1, s10 = (min_time(spark, build) for build in sides)
        row = {
            "shape": SYNTHETIC if name == SYNTHETIC else SHAPE_OF.get(name),
            "t_1x_sec": round(s1, 3),
            "t_10x_sec": round(s10, 3),
            "time_ratio": round(s10 / s1, 2),
        }
        out["rows"][name] = row
        print(json.dumps({"key": name, **row}), flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
