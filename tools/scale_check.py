"""Scale-up experiment: do the catalog's plan shapes scale linearly?

Materializes 10x copies of sf0.1's lineitem/orders, documents, events,
part and embeddings by exploding each row 10 times with perturbed keys
(orderkey' = orderkey*10+i, so key cardinality scales with data —
duplicating keys would instead grow groups; each materializer's
docstring names its regime), then times each shape in ``SHAPES`` at 1x
and 10x — min-of-3 through ``perf_protocol.min_time`` — and prints the
scaling ratios, one JSON line per shape and a summary line last.

A plan that holds at 100 TB should show time ratio ~= data ratio (linear):
sub-linear means fixed overhead still dominates at this size; super-linear
means a shuffle/skew/memory cliff — investigate before believing the 100 TB
story.

Usage: python tools/scale_check.py [shape ...]   (no names: every shape)
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from sparkstreamingrealtimedatawithkafka_spark.functions import text as TX  # noqa: E402
from sparkstreamingrealtimedatawithkafka_spark.operators.dedup import (  # noqa: E402
    lsh_candidate_pairs,
)
from sparkstreamingrealtimedatawithkafka_spark.plans._util import cents  # noqa: E402
from sparkstreamingrealtimedatawithkafka_spark.session import build_session  # noqa: E402
from sparkstreamingrealtimedatawithkafka_spark.sources.registry import (  # noqa: E402
    load_table,
)
from tools.perf_protocol import min_time, noop  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
# v2: 10x orders now also jitters o_orderdate (+i days) so keyed change
# streams (SCD-2) genuinely grow 10x instead of collapsing in the groupBy
SCALE_DIR = os.path.join(os.environ.get("TMPDIR", "/tmp"), "ssk_scale10_v2")
FACTOR = 10
# The tables with a materialized 10x copy (five materializers: lineitem
# and orders share one); ccstar_path's path graph scales by FACTOR too.
SCALED = ("lineitem", "orders", "documents", "events", "part", "embeddings")
PATH_NODES = 100_000


def materialize(spark) -> None:
    if os.path.exists(os.path.join(SCALE_DIR, "orders", "_SUCCESS")):
        return
    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders")
    rep = F.explode(F.sequence(F.lit(0), F.lit(FACTOR - 1))).alias("i")
    (
        li.select("*", rep)
        .withColumn("l_orderkey", F.col("l_orderkey") * FACTOR + F.col("i"))
        .drop("i")
        .write.mode("overwrite")
        .parquet(os.path.join(SCALE_DIR, "lineitem"))
    )
    (
        orders.select("*", rep)
        .withColumn("o_orderkey", F.col("o_orderkey") * FACTOR + F.col("i"))
        .withColumn(
            "o_orderdate",
            F.expr("o_orderdate + make_interval(0, 0, 0, i)"),
        )
        .drop("i")
        .write.mode("overwrite")
        .parquet(os.path.join(SCALE_DIR, "orders"))
    )


def materialize_parts(spark) -> None:
    """10x part with keys scaled and names UNCHANGED — the record-linkage
    regime: the name vocabulary stays fixed while every name's group grows
    10x, which is exactly where pair-level fuzzy matching explodes and the
    collapse-first two-stage shape must stay linear."""
    if os.path.exists(os.path.join(SCALE_DIR, "part", "_SUCCESS")):
        return
    part = load_table(spark, SF_DIR, "part")
    rep = F.explode(F.sequence(F.lit(0), F.lit(FACTOR - 1))).alias("i")
    (
        part.select("p_partkey", "p_name", "p_size", "p_retailprice", rep)
        .select(
            (F.col("p_partkey") * FACTOR + F.col("i")).alias("p_partkey"),
            "p_name",
            # jitter per replica so the skyline shape sees 10x DISTINCT
            # (price, size) points, not 10 copies of each frontier point
            ((F.col("p_size") + F.col("i")) % 50 + 1).alias("p_size"),
            (F.col("p_retailprice") + F.col("i") * 0.01).alias("p_retailprice"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(SCALE_DIR, "part"))
    )


def q1_shape(li):
    price, disc = cents("l_extendedprice"), cents("l_discount")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(price * (F.lit(100) - disc)) / F.lit(10000.0)).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q3_shape(li, orders):
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            (F.sum(cents("l_extendedprice")) / F.lit(100.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def materialize_docs(spark) -> None:
    """10x documents as 10-way NEAR-DUPLICATE families (each replica gets
    one extra unique token), the realistic scaling regime for near-dup
    dedup: corpus grows 10x AND true near-dup pairs grow 10x (45 intra-
    family pairs per original doc) — bucket count must grow with the
    corpus for the LSH plan to stay linear."""
    if os.path.exists(os.path.join(SCALE_DIR, "documents", "_SUCCESS")):
        return
    docs = load_table(spark, SF_DIR, "documents")
    rep = F.explode(F.sequence(F.lit(0), F.lit(FACTOR - 1))).alias("i")
    (
        docs.select("doc_id", "text", rep)
        .select(
            (F.col("doc_id") * FACTOR + F.col("i")).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" uniq"),
                (F.col("doc_id") * FACTOR + F.col("i")).cast("string"),
            ).alias("text"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(SCALE_DIR, "documents"))
    )


def dedup_shape(docs):
    sh = docs.select("doc_id", TX.word_shingles("text", 2).alias("sh"))
    pairs = lsh_candidate_pairs(
        sh, "doc_id", "sh", num_hashes=64, bands=16, jaccard_threshold=0.4
    )
    return pairs.agg(F.count(F.lit(1)).alias("n_pairs"))


def incr_dedup_shape(docs):
    """dedup_incremental_batch's core: only pairs touching the 10% delta
    batch are expanded (delta bands vs full index), so cost must track the
    linear banding pass plus delta-proportional pair work — the contrast
    row for dedup_shape's full-corpus pairing under the same dup density."""
    from sparkstreamingrealtimedatawithkafka_spark.operators.dedup import (
        incremental_lsh_pairs,
    )

    sh = docs.select("doc_id", TX.word_shingles("text", 2).alias("sh"))
    pairs = incremental_lsh_pairs(
        sh, F.col("doc_id") % 10 == 0, "doc_id", "sh",
        num_hashes=64, bands=16, jaccard_threshold=0.4,
    )
    return pairs.agg(F.count(F.lit(1)).alias("n_pairs"))


def materialize_events(spark) -> None:
    """10x events with key cardinality scaled (user_id' = user_id*10+i) and
    timestamps jittered per replica (+i minutes) so per-user series grow in
    count but session/gap structure stays realistic — the regime where the
    event-time family's shuffles (asof union-window, gap-fill grid,
    session merge) must stay linear."""
    if os.path.exists(os.path.join(SCALE_DIR, "events", "_SUCCESS")):
        return
    ev = load_table(spark, SF_DIR, "events")
    rep = F.explode(F.sequence(F.lit(0), F.lit(FACTOR - 1))).alias("i")
    (
        ev.select("event_id", "ts_us", "user_id", "event_type", "value", rep)
        .select(
            (F.col("event_id") * FACTOR + F.col("i")).alias("event_id"),
            # i is INT from sequence(); widen before the minute multiply or
            # FACTOR >= 36 overflows int32 under ANSI (i*60e6 > 2^31)
            (F.col("ts_us") + F.col("i").cast("long") * 60_000_000).alias("ts_us"),
            (F.col("user_id") * FACTOR + F.col("i")).alias("user_id"),
            "event_type",
            "value",
        )
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .write.mode("overwrite")
        .parquet(os.path.join(SCALE_DIR, "events"))
    )


def asof_shape(ev):
    from sparkstreamingrealtimedatawithkafka_spark.operators.asof import asof_join

    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us", "value"
    )
    j = asof_join(
        clicks,
        purchases.withColumnRenamed("event_id", "p_event_id"),
        on=["user_id"],
        left_ts="ts_us",
        right_ts="ts_us",
        payload_cols=["p_event_id", "value"],
        tiebreak="p_event_id",
    )
    return j.agg(
        F.count(F.lit(1)).alias("n"), F.sum(cents("value_r")).alias("v")
    )


def gapfill_shape(ev):
    US_H = 3_600_000_000
    b = ev.groupBy(
        "event_type", (F.expr(f"ts_us div {US_H}") * US_H).alias("bucket_us")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(cents("value")).alias("sc"))
    bounds = b.groupBy("event_type").agg(
        F.min("bucket_us").alias("lo"), F.max("bucket_us").alias("hi")
    )
    grid = bounds.select(
        "event_type", F.explode(F.sequence("lo", "hi", F.lit(US_H))).alias("bucket_us")
    )
    from pyspark.sql.window import Window as W

    w = (
        W.partitionBy("event_type")
        .orderBy("bucket_us")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    filled = grid.join(b, ["event_type", "bucket_us"], "left").select(
        "event_type",
        "bucket_us",
        F.last("sc", ignorenulls=True).over(w).alias("filled"),
    )
    return filled.agg(F.count(F.lit(1)).alias("n"), F.sum("filled").alias("s"))


def scd2_shape(cust, orders):
    """The merge_scd2_history core (plans/relational.py): keyed change
    stream -> cumulative-balance window -> interval-assignment window. The
    10x side has 10x change rows per key (jittered dates), so this times
    the keyed-window-over-growing-stream regime the r4 verdict asked for."""
    from pyspark.sql.window import Window as W

    chg = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(
            F.col("o_custkey").alias("k"),
            F.col("o_orderdate").cast("date").cast("timestamp_ntz").alias("eff"),
        )
        .agg(F.sum(cents("o_totalprice")).alias("delta_cents"))
    )
    cum = W.partitionBy("k").orderBy("eff").rowsBetween(W.unboundedPreceding, 0)
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.lit("1990-01-01").cast("timestamp_ntz").alias("valid_from"),
        cents("c_acctbal").alias("bal_cents"),
    )
    changed = chg.join(cust, chg.k == cust.c_custkey).select(
        "k",
        F.col("eff").alias("valid_from"),
        (cents("c_acctbal") + F.sum("delta_cents").over(cum)).alias("bal_cents"),
    )
    versions = base.unionByName(changed)
    nxt = W.partitionBy("k").orderBy("valid_from")
    hist = versions.select(
        "k",
        "valid_from",
        "bal_cents",
        F.lead("valid_from").over(nxt).alias("valid_to"),
        F.lead("valid_from").over(nxt).isNull().alias("is_current"),
    )
    return hist.agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.sum(F.col("is_current").cast("long")).alias("n_current"),
    )


def fuzzy_shape(parts):
    """The fuzzy_match_twostage core: collapse identical names (linear
    shuffle), edit-distance match distinct names (vocabulary-bound). On
    the fixed-vocab 10x regime the match stage does not grow at all, so
    the whole shape must scale ~linearly with the collapse."""
    g = parts.groupBy("p_name").agg(
        F.min("p_partkey").alias("rep_id"), F.count(F.lit(1)).alias("n")
    )
    a = g.select(
        F.col("rep_id").alias("id_a"),
        F.col("p_name").alias("name_a"),
        F.col("n").alias("n_a"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("tok"),
    )
    b = g.select(
        F.col("rep_id").alias("id_b"),
        F.col("p_name").alias("name_b"),
        F.col("n").alias("n_b"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("tok_b"),
    )
    pairs = (
        a.join(b, (F.col("tok") == F.col("tok_b")) & (F.col("id_a") < F.col("id_b")))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= 3)
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("n_a") * F.col("n_b")).alias("implied_id_pairs"),
    )


def bm25_shape(docs):
    """search_bm25_topk's core: term-filtered tf/df + one-row stats
    broadcast + global top-k. The wide ops key on the 3 query terms, so
    cost must track the (linear) tokenize/length pass, never pair counts."""
    from pyspark.sql.window import Window as W

    TERMS = ("stream", "window", "merge")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    qtoks = toks.filter(F.col("tok").isin(*TERMS))
    df_t = (
        qtoks.select("doc_id", "tok").distinct()
        .groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    tf = qtoks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * 2.2) / (
        F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * (F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(df_t, "tok").join(dl, "doc_id").crossJoin(F.broadcast(stats))
        .groupBy("doc_id").agg(F.sum(idf * tf_part).alias("score"))
    )
    w = W.orderBy(F.desc("score"), F.asc("doc_id"))
    top = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)
    return top.agg(F.count(F.lit(1)).alias("n"), F.sum("score").alias("s"))


def pack_shape(docs):
    """pack_training_sequences' core: two-level distributed prefix sum
    (within-chunk windows + tiny chunk-offset prefix + broadcast join)
    then span-explode into 512-token blocks. Cost must track the linear
    tokenize/window pass; the only global window sees #docs/4096 rows."""
    from pyspark.sql.window import Window as W

    L, CHUNK = 512, 4096
    d = docs.select(
        "doc_id", F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("long").alias("n")
    ).withColumn("chunk", F.expr(f"doc_id div {CHUNK}"))
    within = d.withColumn(
        "w", F.sum("n").over(W.partitionBy("chunk").orderBy("doc_id")) - F.col("n")
    )
    offsets = (
        d.groupBy("chunk")
        .agg(F.sum("n").alias("ct"))
        .withColumn("off", F.sum("ct").over(W.orderBy("chunk")) - F.col("ct"))
        .select("chunk", "off")
    )
    placed = (
        within.join(F.broadcast(offsets), "chunk")
        .withColumn("start", F.col("off") + F.col("w"))
        .filter(F.col("n") > 0)
    )
    spans = placed.select(
        "start",
        "n",
        F.explode(
            F.sequence(F.expr(f"start div {L}"), F.expr(f"(start + n - 1) div {L}"))
        ).alias("seq_id"),
    )
    occ = F.least(F.col("start") + F.col("n"), (F.col("seq_id") + 1) * L) - F.greatest(
        F.col("start"), F.col("seq_id") * L
    )
    per_seq = spans.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(occ).alias("n_tokens")
    )
    return per_seq.agg(F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("t"))


def wau_shape(ev):
    """events_rolling_wau's core: 7x window-membership explode then
    per-day distinct. The fan-out is a fixed constant, so cost must track
    data linearly; output is bounded by day count."""
    contrib = ev.select(
        "user_id",
        F.expr("ts_us div 86400000000").alias("d0"),
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("d"),
    )
    wau = contrib.groupBy((F.col("d0") + F.col("d")).alias("day")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    return wau.agg(F.count(F.lit(1)).alias("n"), F.sum("wau").alias("s"))


def basket_shape(li):
    """basket_affinity_lift's r6 FULL pipeline: ONE aggregation pass to
    per-order basket arrays (localCheckpointed — the three consumers read
    blocks instead of re-running the fact scan; A/B vs the r5 self-join
    formulation at 10x: 6.7s vs 8.2s), in-array pair expansion (quadratic
    only in basket width), vocabulary-sized support joins, one-row total
    broadcast. Pair counts grow linearly with orders, so cost must too."""
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .localCheckpoint()
    )
    pair_n = (
        baskets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "parts",
                        lambda x, i: F.transform(
                            F.slice(F.col("parts"), i + F.lit(2), F.size("parts")),
                            lambda y: F.struct(x.alias("pa"), y.alias("pb")),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy("p.pa", "p.pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    part_n = (
        baskets.select(F.explode("parts").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    j = (
        pair_n.join(
            part_n.select(F.col("pk").alias("pa"), F.col("n").alias("na")), "pa"
        )
        .join(part_n.select(F.col("pk").alias("pb"), F.col("n").alias("nb")), "pb")
        .crossJoin(F.broadcast(tot))
    )
    return j.agg(F.count(F.lit(1)).alias("n"), F.sum("n_ab").alias("s"))


def pareto_shape(li):
    """revenue_pareto_curve's FIXED core (r6): part-level aggregate,
    1024 fixed-width value buckets, bucket-offset prefix over the
    FIXED-SIZE bucket table, within-bucket rank windows partitioned by
    bucket. The old global rank window was the r5-flagged 100x funnel;
    this shape must now track data linearly."""
    from pyspark.sql.window import Window as W

    NBKT = 1024
    rev = (
        li.groupBy("l_partkey")
        .agg(F.sum(cents("l_extendedprice")).alias("c"))
        .localCheckpoint()
    )
    stats = rev.agg(
        F.min("c").alias("mn"), F.max("c").alias("mx"),
        F.count(F.lit(1)).alias("np"), F.sum("c").alias("tc"),
    )
    bucketed = rev.join(F.broadcast(stats)).withColumn(
        "bkt",
        F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
            ((F.col("mx") - F.col("c")) * NBKT) / (F.col("mx") - F.col("mn") + 1)
        ).cast("long"),
    )
    offsets = (
        bucketed.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("n_b"), F.sum("c").alias("s_b"))
        .select(
            "bkt",
            F.coalesce(
                F.sum("n_b").over(W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0),
            ).alias("rnk_off"),
        )
    )
    wb = W.partitionBy("bkt").orderBy(F.desc("c"), F.asc("l_partkey"))
    ranked = bucketed.join(F.broadcast(offsets), "bkt").select(
        "c", "np", (F.col("rnk_off") + F.row_number().over(wb)).alias("rnk")
    )
    deciles = ranked.groupBy(
        F.expr("CAST(1 + (10*(rnk-1)) div np AS BIGINT)").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("s"))
    return deciles.agg(F.count(F.lit(1)).alias("n"), F.sum("s").alias("s"))


def welch_shape(li):
    """ab_test_welch_t's core: one fact pass to (n, sum, sum-of-squares)
    per (segment, arm) — three map-side-combinable integer aggregates —
    then the t algebra on the tiny per-arm table. Must be flat-to-linear
    (the moment reduction is the whole job)."""
    x = li.select(
        "l_returnflag",
        F.when(F.col("l_discount") >= 0.05, "A").otherwise("B").alias("arm"),
        cents("l_extendedprice").alias("c"),
    )
    m = x.groupBy("l_returnflag", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        # decimal(38,0) like the plan entry: c*c sums overflow int64 at 10x
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("s2"),
    )
    a = m.filter(F.col("arm") == "A").alias("a")
    b = m.filter(F.col("arm") == "B").alias("b")
    j = a.join(b, F.col("a.l_returnflag") == F.col("b.l_returnflag"))
    t_stat = (
        (F.col("a.s1") / F.col("a.n") - F.col("b.s1") / F.col("b.n"))
        / F.sqrt(
            (F.col("a.s2").cast("double") - F.col("a.s1").cast("double") * F.col("a.s1") / F.col("a.n"))
            / (F.col("a.n") - 1) / F.col("a.n")
            + (F.col("b.s2").cast("double") - F.col("b.s1").cast("double") * F.col("b.s1") / F.col("b.n"))
            / (F.col("b.n") - 1) / F.col("b.n")
        )
    )
    return j.select(t_stat.alias("t")).agg(F.count(F.lit(1)).alias("n"), F.sum("t").alias("s"))


def chi2_shape(ev):
    """events_chi2_independence's core: one fact pass to the contingency
    cells; margins/total re-aggregate the CELL table (ReusedExchange
    dedupes the shared aggregation). Flat-to-linear expected."""
    x = ev.select(
        "event_type", F.when(F.col("value") >= 50.0, 1).otherwise(0).alias("hi")
    )
    o = x.groupBy("event_type", "hi").agg(F.count(F.lit(1)).alias("n"))
    margins = o.groupBy("event_type").agg(F.sum("n").alias("row_n"))
    cols = o.groupBy("hi").agg(F.sum("n").alias("col_n"))
    tot = o.agg(F.sum("n").alias("grand"))
    expected = F.col("row_n").cast("double") * F.col("col_n") / F.col("grand")
    cells = (
        o.join(margins, "event_type")
        .join(F.broadcast(cols), "hi")
        .crossJoin(F.broadcast(tot))
        .select(F.pow(F.col("n") - expected, 2) / expected)
    )
    return cells.agg(F.count(F.lit(1)).alias("n"))


def tfidf_shape(docs):
    """text_tfidf_keywords' core: token explode -> per-doc tf, a
    vocabulary-sized df join back, one-row N broadcast, per-doc top-k
    window (WindowGroupLimit prunes map-side)."""
    from pyspark.sql.window import Window as W

    toks = docs.select("doc_id", F.explode(TX.tokenize("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    top = scored.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 3)
    return top.agg(F.count(F.lit(1)).alias("n"), F.sum("tfidf").alias("s"))


def winnow_shape(docs):
    """text_winnowing_fingerprints' full shape post-r6-rework: per-token
    Rabin-Karp prehash, 4-token shingle fold, window-min selection,
    explode_outer (NOT explode — InferFiltersFromGenerate would inline
    the chain into a filter and go quadratic per doc), fingerprint
    groupBy. The shuffled volume is ~2/(w+1) of the shingle count —
    the ratio should track the compute (linear in corpus chars)."""
    spark = docs.sparkSession
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    d = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 8)
    )
    fold = lambda arr: F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda h, x: (h * F.lit(1000003) + x) % F.lit(2147483647),
    )
    th = d.select(
        "doc_id",
        F.transform(
            "toks",
            lambda tok: fold(
                F.transform(F.split(tok, ""), lambda c: F.ascii(c).cast("long"))
            ),
        ).alias("th"),
    )
    g = th.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.size("th") - 3),
            lambda i: fold(F.slice("th", i, F.lit(4))),
        ).alias("gh"),
    )
    w = g.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("gh") - 4),
                lambda j: F.array_min(F.slice("gh", j, F.lit(5))),
            )
        ).alias("fps"),
    )
    shared = (
        w.select("doc_id", F.explode_outer("fps").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    return shared.agg(F.count(F.lit(1)).alias("n"), F.sum("n_docs").alias("s"))


def ppjoin_shape(docs):
    """dedup_ppjoin_prefix's full shape: bigram shingles → global df order
    → prefix explode → equi-join on prefix tokens → exact verify. NOTE the
    output is inherently pair-shaped: the 10x corpus replicates each doc
    with a one-token suffix delta (bigram J ≈ 0.9 within a family), so
    every original near-dup family becomes a 10x-larger clique and the
    TRUE pair count grows ~Θ(clique²) ≈ 45-50x by problem definition —
    judge the ratio against output growth, not row growth."""
    s = (
        docs.select(
            "doc_id", F.array_distinct(TX.word_shingles("text", 2)).alias("s")
        )
        .filter(F.size("s") > 0)
        .localCheckpoint()
    )
    df_tbl = (
        s.select(F.explode("s").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    ordered = (
        s.select("doc_id", F.explode("s").alias("tok"))
        .join(df_tbl, "tok")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("o"))
        .select(
            "doc_id",
            F.transform("o", lambda x: x["tok"]).alias("toks"),
            F.size("o").alias("n"),
        )
    )
    pre = ordered.select(
        "doc_id",
        "n",
        F.expr("slice(toks, 1, n - ((3*n + 4) div 5) + 1)").alias("prefix"),
    ).select("doc_id", "n", F.posexplode("prefix").alias("p0", "tok"))
    a = pre.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("na"),
        (F.col("p0") + 1).alias("pa"),
        "tok",
    )
    b = pre.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("nb"),
        (F.col("p0") + 1).alias("pb"),
        "tok",
    )
    alpha = F.floor((F.lit(3) * (F.col("na") + F.col("nb")) + F.lit(7)) / F.lit(8))
    cand = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.lit(5) * F.least("na", "nb") >= F.lit(3) * F.greatest("na", "nb"))
        .filter(
            F.lit(1) + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
            >= alpha
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("set_a"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("set_b"))
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("long")
    union = (F.size("set_a") + F.size("set_b") - inter).cast("long")
    pairs = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", inter.alias("i"), union.alias("u"))
        .filter(F.lit(5) * F.col("i") >= F.lit(3) * F.col("u"))
    )
    return pairs.agg(F.count(F.lit(1)).alias("n_pairs"))


def snm_shape(docs):
    """dedup_sorted_neighborhood's full shape on the SAME corpus as
    ppjoin_shape — the contrast row: SNM candidates are exactly n*(w-1)
    regardless of corpus diversity (two-level rank + one equi-join on
    rank), so where exact prefix blocking degenerates under fixed-
    vocabulary replication, the sort-based member of the triad stays
    linear by construction."""
    from sparkstreamingrealtimedatawithkafka_spark.plans.text_llm import (
        _SNM_W,
        _snm_ranked,
    )

    ranked = _snm_ranked(docs).localCheckpoint()
    w_off = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        ranked.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("bkt", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off"))
    )
    rn = ranked.join(F.broadcast(offs), "bkt").select(
        "doc_id", "sh", (F.col("off") + F.col("r_in")).alias("rn")
    )
    probe = rn.select(
        F.col("doc_id").alias("id_a"),
        F.col("sh").alias("sa"),
        F.explode(F.sequence(F.col("rn") + 1, F.col("rn") + (_SNM_W - 1))).alias(
            "rn2"
        ),
    )
    build = rn.select(
        F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"), F.col("rn").alias("rn2")
    )
    inter = F.size(F.array_intersect("sa", "sb")).cast("long")
    union = (F.size("sa") + F.size("sb") - inter).cast("long")
    pairs = (
        probe.join(build, "rn2")
        .select("id_a", "id_b", inter.alias("i"), union.alias("u"))
        .filter(F.lit(5) * F.col("i") >= F.lit(3) * F.col("u"))
    )
    return pairs.agg(F.count(F.lit(1)).alias("n_pairs"))


def ccstar_path_shape(path):
    """connected_components_star on a PATH graph (``path_edges``) — the
    adversarial high-diameter graph min-label propagation cannot finish
    (it needs diameter-many rounds; the star contraction needs ~log n
    alternations). The 10x row grows the path 10x, so the expected cost
    is ~10x * (log 10n / log n) — near-linear, NOT diameter-linear."""
    from sparkstreamingrealtimedatawithkafka_spark.operators.graph import (
        connected_components_star,
    )

    labels = connected_components_star(path)
    return labels.agg(
        F.count(F.lit(1)).alias("n"), F.sum("label").alias("s")
    )


def tsss_shape(ev):
    """events_ts_subsequence_search's full shape on a raw events frame:
    the claim under test is that only the events -> (type, day) count
    reduction scales with the corpus; window scoring runs on the REDUCED
    series (types x days x w rows), so 10x events should cost ~the extra
    aggregate input alone."""
    from pyspark.sql import functions as FF

    ev2 = ev.select(
        "event_type", FF.expr("ts_us div 86400000000").alias("day")
    )
    mn = ev2.agg(FF.min("day").alias("d0"))
    s = (
        ev2.crossJoin(FF.broadcast(mn))
        .select("event_type", (FF.col("day") - FF.col("d0")).alias("d"))
        .groupBy("event_type", "d")
        .agg(FF.count(FF.lit(1)).alias("c"))
        .localCheckpoint()
    )
    w = 7
    days = s.select("d").distinct()
    types = s.select("event_type").distinct()
    dense = (
        types.crossJoin(days)
        .join(s, ["event_type", "d"], "left")
        .select("event_type", "d", FF.coalesce("c", FF.lit(0)).alias("c"))
    )
    qt = types.agg(FF.min("event_type").alias("qtype"))
    q = (
        dense.crossJoin(FF.broadcast(qt))
        .filter((FF.col("event_type") == FF.col("qtype")) & (FF.col("d") < w))
        .select(FF.col("d").alias("i"), FF.col("c").alias("qc"))
    )
    pairs = (
        dense.crossJoin(FF.broadcast(q))
        .select(
            "event_type",
            (FF.col("d") - FF.col("i")).alias("o"),
            ((FF.col("c") - FF.col("qc")) * (FF.col("c") - FF.col("qc"))).alias("sq"),
        )
        .filter(FF.col("o") >= 0)
    )
    res = pairs.groupBy("event_type", "o").agg(
        FF.sum("sq").alias("ssd"), FF.count(FF.lit(1)).alias("npts")
    )
    return (
        res.filter(FF.col("npts") == w)
        .orderBy("ssd", "event_type", "o")
        .limit(10)
    )


def decon_shape(docs):
    """decontaminate_ngram_overlap's full shape: word-3-gram explode, the
    deterministic eval slice's distinct grams built first and BROADCAST,
    train side streams through one hash join on the gram string + one
    groupBy(doc_id). The 100 TB claim is that the corpus is never
    shuffled on raw text — this row pins that the broadcast-side build
    (which grows with the eval slice, also 10x here) doesn't quietly
    dominate."""
    tk = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(tk) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 2),
            lambda i: F.array_join(F.slice(tk, i, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = docs.select("doc_id", F.explode(grams).alias("g"))
    eval_grams = g.filter(F.col("doc_id") % 199 == 0).select("g").distinct()
    train = g.filter(F.col("doc_id") % 199 != 0)
    return (
        train.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_hit_grams"))
    )


def snm_multipass_shape(docs):
    """dedup_snm_multipass's full shape: two SNM passes under rotated sort
    keys (head-4-tokens, tail-4-tokens) + pair-key union-dedup. By
    construction exactly 2x the single-pass linear cost — this row pins
    that the measured ratio tracks snm_shape's (the recall hardening
    can't smuggle in a super-linear stage)."""
    from sparkstreamingrealtimedatawithkafka_spark.functions import text as TXf
    from sparkstreamingrealtimedatawithkafka_spark.plans.text_llm import _snm_pairs

    toks = TXf.tokenize("text")
    last4 = F.array_join(
        F.slice(toks, F.greatest(F.size(toks) - 3, F.lit(1)), 4), " "
    )
    p1 = _snm_pairs(docs)
    p2 = _snm_pairs(docs, key=last4)
    return (
        p1.unionByName(p2)
        .dropDuplicates(["doc_lo", "doc_hi"])
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def skyline_shape(parts):
    """part_skyline_pareto's two-level shape: domain-bounded price buckets,
    per-bucket max + tiny prefix window, fact windows partitioned by bucket
    and exact price — cost must track the two fact-window passes
    (~linear), never a single-partition rank."""
    bucket_w = 1000
    px = parts.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        "p_size",
    )
    bkt = px.withColumn("bkt", F.expr(f"price_cents div {bucket_w}"))
    bmax = bkt.groupBy("bkt").agg(F.max("p_size").alias("bkt_max"))
    w_prev = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    prev = bmax.select("bkt", F.max("bkt_max").over(w_prev).alias("prev_max"))
    w_strict = (
        Window.partitionBy("bkt")
        .orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("price_cents")
    scored = (
        bkt.join(F.broadcast(prev), "bkt")
        .withColumn("in_bkt_max", F.max("p_size").over(w_strict))
        .withColumn("same_price_max", F.max("p_size").over(w_same))
    )
    dominated = (
        F.greatest(
            F.coalesce(F.col("prev_max"), F.lit(-1)),
            F.coalesce(F.col("in_bkt_max"), F.lit(-1)),
        )
        >= F.col("p_size")
    ) | (F.col("same_price_max") > F.col("p_size"))
    return scored.filter(~dominated).agg(F.count(F.lit(1)).alias("n_frontier"))


def pps_shape(o):
    """sample_weighted_systematic's core: two-level prefix sum over the
    weighted stream, threshold crossing as a per-row expression. Linear."""
    from pyspark.sql.window import Window as W

    r = o.select("o_orderkey", cents("o_totalprice").alias("w"))
    chunked = r.withColumn("chunk", F.expr("o_orderkey div 4096"))
    wloc = W.partitionBy("chunk").orderBy("o_orderkey").rowsBetween(W.unboundedPreceding, 0)
    local = chunked.select("o_orderkey", "w", "chunk", F.sum("w").over(wloc).alias("cl"))
    per_chunk = local.groupBy("chunk").agg(F.sum("w").alias("cw"))
    woff = W.orderBy("chunk").rowsBetween(W.unboundedPreceding, -1)
    offsets = per_chunk.select("chunk", F.coalesce(F.sum("cw").over(woff), F.lit(0)).alias("off"))
    total = r.agg(F.sum("w").alias("total"))
    picked = (local.join(F.broadcast(offsets), "chunk").crossJoin(F.broadcast(total))
              .withColumn("cum", F.col("off") + F.col("cl"))
              .filter(F.expr("(cum * 1000) div total > ((cum - w) * 1000) div total")))
    return picked.agg(F.count(F.lit(1)).alias("n"))


def pagerank_shape(li):
    """graph_pagerank_copurchase's core: bounded pair expansion to edges
    with RELATIVE support (max(2, 13ppm of baskets), matching the plan —
    this shape previously kept the absolute n>=2 the r6 scale fix
    removed, and measured the 335x-densified graph at 15x), then 5
    equi-join + shuffle rounds with per-round checkpoints. Edge count
    stays sparsity-stable with orders, so rounds must too."""
    from sparkstreamingrealtimedatawithkafka_spark.operators.graph import pagerank_int
    from sparkstreamingrealtimedatawithkafka_spark.plans.ml import copurchase_edges

    und = copurchase_edges(li)
    # copurchase_edges emits both directions; pagerank_int expects the
    # undirected pair list once, as the plan entry feeds it
    pairs = und.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("pa"), F.col("dst").alias("pb"))
    pr = pagerank_int(pairs, "pa", "pb", iterations=5)
    return pr.agg(F.count(F.lit(1)).alias("n"), F.sum("rank_ppm").alias("s"))


def growth_shape(ev):
    """events_growth_accounting's core: distinct (user, week), keyed
    self-joins for prior-week membership and churn. Linear in activity."""
    wk = 604_800_000_000
    uw = ev.select("user_id", F.expr(f"ts_us div {wk}").alias("week")).distinct().localCheckpoint()
    first_w = uw.groupBy("user_id").agg(F.min("week").alias("w0"))
    prev = uw.select("user_id", (F.col("week") + 1).alias("week"), F.lit(1).alias("hp"))
    classified = (uw.join(first_w, "user_id").join(prev, ["user_id", "week"], "left")
        .select("week", F.when(F.col("week") == F.col("w0"), "new")
                .when(F.col("hp").isNotNull(), "retained").otherwise("resurrected").alias("k"))
        .groupBy("week", "k").agg(F.count(F.lit(1)).alias("n")))
    return classified.agg(F.count(F.lit(1)).alias("n"), F.sum("n").alias("s"))


def tree_score_shape(li):
    """ml_tree_ensemble_score's core: pure-expression ensemble inference
    + bounded-vocabulary histogram. Must track scan time exactly (the
    model is constant-folded; nothing else exists to grow)."""
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    disc = F.round(F.col("l_discount") * 10000, 0).cast("long")
    price = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    t1 = F.when(qty <= 25, F.when(disc <= 500, 12).otherwise(-7)).otherwise(
        F.when(price <= 3_000_000, 3).otherwise(-11))
    t2 = F.when(disc <= 300, F.when(qty <= 40, 8).otherwise(-2)).otherwise(
        F.when(price <= 1_500_000, -5).otherwise(14))
    t3 = F.when(price <= 2_000_000, F.when(disc <= 700, 6).otherwise(-9)).otherwise(
        F.when(qty <= 10, 10).otherwise(-4))
    return (li.select("l_returnflag", (t1 + t2 + t3).alias("score"))
            .groupBy("score", "l_returnflag").agg(F.count(F.lit(1)).alias("n"))
            .agg(F.count(F.lit(1)).alias("g"), F.sum("n").alias("s")))


def _copurchase_edges(li):
    # RELATIVE support (max(2, 13ppm of baskets)) — with absolute n>=2
    # the 10x graph densified 335x and the wedge join measured 86x for
    # 10x input; see plans/ml.py:copurchase_edges.
    from sparkstreamingrealtimedatawithkafka_spark.plans.ml import copurchase_edges

    return copurchase_edges(li).localCheckpoint()


def khop_shape(li):
    """graph_khop_reach's core: checkpointed edge build + 3 frontier
    joins. Edge count grows ~linearly with orders; frontier joins are
    frontier-sized. Should scale with the edge build."""
    e = _copurchase_edges(li)
    frontier = e.filter(F.col("src") % 50 == 7).select(F.col("src").alias("node")).distinct()
    visited = frontier
    for _ in range(3):
        frontier = (e.join(frontier, e.src == frontier.node)
                    .select(F.col("dst").alias("node")).distinct()
                    .join(visited, "node", "left_anti").localCheckpoint())
        visited = visited.unionAll(frontier).localCheckpoint()
    return visited.agg(F.count(F.lit(1)).alias("n"))


def linkpred_shape(li):
    """graph_link_prediction_jaccard's core: the wedge join (fan-out
    Σdeg²) + degree joins + global top-20 heap. The wedge join is the
    scale risk — watch this row for super-linear growth."""
    e = _copurchase_edges(li)
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    e1, e2 = e.alias("e1"), e.alias("e2")
    wedge = (e1.join(e2, (F.col("e1.src") == F.col("e2.src"))
                     & (F.col("e1.dst") < F.col("e2.dst")))
             .groupBy(F.col("e1.dst").alias("a"), F.col("e2.dst").alias("b"))
             .agg(F.count(F.lit(1)).alias("common")))
    cand = wedge.join(e.select(F.col("src").alias("a"), F.col("dst").alias("b")),
                      ["a", "b"], "left_anti")
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    return (cand.join(da, "a").join(db, "b")
            .select("a", "b", F.expr("(common * 1000000) div (da + db - common)").alias("j"))
            .orderBy(F.desc("j"), "a", "b").limit(20)
            .agg(F.count(F.lit(1)).alias("n")))


def feat_hash_shape(docs):
    """ml_feature_hashing's core: vocabulary aggregation then md5
    bucketing over the vocab table. The corpus-sized stage is the token
    explode + term count; everything after is vocabulary-sized."""
    v = (docs.select(F.explode(TX.tokenize("text")).alias("tok"))
         .groupBy("tok").agg(F.count(F.lit(1)).alias("n")))
    b = v.select((F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("long") % 64)
                 .alias("bucket"), "n")
    return (b.groupBy("bucket").agg(F.sum("n").alias("s"))
            .agg(F.count(F.lit(1)).alias("g"), F.sum("s").alias("s")))


def full_dedup_shape(docs):
    """pipeline_full_dedup END-TO-END (r7: the stages were measured
    individually in r6, the composition was not): tokenize-once exact
    collapse -> LSH among representatives (bucket cap on) -> connected
    components -> keeper map. The 10x corpus has 10x docs AND ~45x true
    near-dup pairs (10-member families), so CC edge volume grows faster
    than data by problem definition — judge against the LSH row
    (dedup_shape) plus bounded extra rounds, not strict linearity."""
    from sparkstreamingrealtimedatawithkafka_spark.operators.graph import (
        connected_components,
    )

    prepared = docs.select(
        "doc_id",
        TX.word_shingles("text", 2).alias("sh"),
        TX.fingerprint("text").alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    pre = prepared.select(
        "doc_id",
        "sh",
        F.min("doc_id").over(w).alias("rep"),
        F.row_number().over(w).alias("rk"),
    ).localCheckpoint()
    rep_of = pre.select("doc_id", "rep")
    reps = pre.filter(F.col("rk") == 1).select("doc_id", "sh")
    pairs = lsh_candidate_pairs(
        reps, "doc_id", "sh", num_hashes=64, bands=16,
        jaccard_threshold=0.4, max_bucket=512,
    )
    cc = connected_components(pairs, src="id_a", dst="id_b")
    out = rep_of.join(cc, rep_of.rep == cc.node, "left").select(
        "doc_id", F.coalesce("label", "rep").alias("canonical_id")
    )
    return out.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("canonical_id").alias("n_canon"),
    )


def containment_shape(docs):
    """dedup_containment's full shape: MinHash banding (same as the LSH
    row) with max-containment verification — cost must track dedup_shape
    (identical candidate generation; only the verify metric differs)."""
    from sparkstreamingrealtimedatawithkafka_spark.operators.dedup import (
        bucket_pairs,
        minhash_band_table,
        verify_containment,
    )

    sh = docs.select("doc_id", TX.word_shingles("text", 2).alias("sh"))
    bt = minhash_band_table(sh, "doc_id", "sh", 64, 16)
    cand = bucket_pairs(bt, ["band", "bhash"])
    pairs = verify_containment(cand, sh, "doc_id", "sh", 0.8)
    return pairs.agg(F.count(F.lit(1)).alias("n_pairs"))


def audio_fp_shape(docs):
    """multimodal_audio_fingerprint's full shape: synthesize PCM16
    waveforms, pack REAL RIFF/WAVE containers, parse back, energy-delta
    fingerprint, exact hash-group. Per clip O(n_samples) in one
    Arrow-batched map + one 16-byte-key shuffle — must be ~linear."""
    from sparkstreamingrealtimedatawithkafka_spark.functions.multimodal import (
        audio_fingerprint,
        encode_audio_pcm16,
    )

    syn = docs.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, 255), i -> CAST("
            "(((doc_id div 4) * 31 + i * 7919) % 8192 - 4096)"
            " * (doc_id % 4 + 1) AS INT))"
        ).alias("samples"),
    )
    wav = encode_audio_pcm16(syn, sample_rate=8000)
    fp = audio_fingerprint(wav)
    g = fp.groupBy("h1", "h2").agg(F.count(F.lit(1)).alias("n_docs"))
    return g.agg(F.count(F.lit(1)).alias("n"), F.sum("n_docs").alias("s"))


def sim_auto_shape(docs):
    """dedup_similarity_auto's ROUTED path on the exact corpus where plain
    PPJoin measured 18.15x at 10x (scale_check_r6e): the pre-flight gate
    must send the 10x side to SNM and keep the whole operator sub-linear —
    the r6 verdict's done-criterion for the self-routing triad."""
    from sparkstreamingrealtimedatawithkafka_spark.plans.text_llm import (
        similarity_auto_pairs,
    )

    pairs = similarity_auto_pairs(docs)
    return pairs.groupBy("route").agg(F.count(F.lit(1)).alias("n_pairs"))


def materialize_embeddings(spark) -> None:
    """10x embeddings with new vec_ids and per-replica sign-flip of one
    dimension (keeps value distribution; Gram work grows exactly 10x)."""
    if os.path.exists(os.path.join(SCALE_DIR, "embeddings", "_SUCCESS")):
        return
    emb = load_table(spark, SF_DIR, "embeddings")
    rep = F.explode(F.sequence(F.lit(0), F.lit(FACTOR - 1))).alias("i")
    (
        emb.select("vec_id", "embedding", "label", rep)
        .select(
            (F.col("vec_id") * FACTOR + F.col("i")).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, d) ->"
                " CASE WHEN d = i % 64 THEN -x ELSE x END)"
            ).alias("embedding"),
            "label",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(SCALE_DIR, "embeddings"))
    )


def pca_gram_shape(emb):
    """emb_pca_power_iteration's fact-scale stage: the Arrow-batched
    partial-Gram map + 4096-cell merge. Must track vector count exactly;
    the 8 iterations after it are model-sized constants (excluded)."""
    from sparkstreamingrealtimedatawithkafka_spark.plans.text_llm import (
        _pca_gram_parts,
    )

    parts = _pca_gram_parts(emb.select("embedding"))
    return (
        parts.filter("j > 0")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("gv"))
        .agg(F.count(F.lit(1)).alias("cells"), F.sum("gv").alias("mass"))
    )


def countmin_shape(li):
    """agg_countmin_sketch end-to-end: d*w-cell sketch build (constant
    shuffle) + top-10 truth + broadcast probe. Sketch build dominates and
    is one fact pass."""
    from sparkstreamingrealtimedatawithkafka_spark.plans.relational import (
        _CMS_SEEDS,
        _cms_bucket,
    )

    keys = li.select("l_partkey")
    seeded = keys.select(
        "l_partkey", F.explode(F.expr(f"sequence(0, {_CMS_SEEDS - 1})")).alias("seed")
    )
    counters = (
        seeded.withColumn("bucket", _cms_bucket(F.col("seed"), F.col("l_partkey")))
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top10 = (
        keys.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.desc("true_n"), F.asc("l_partkey"))
        .limit(10)
    )
    probes = top10.select(
        "l_partkey",
        "true_n",
        F.explode(F.expr(f"sequence(0, {_CMS_SEEDS - 1})")).alias("seed"),
    ).withColumn("bucket", _cms_bucket(F.col("seed"), F.col("l_partkey")))
    est = (
        probes.join(F.broadcast(counters), ["seed", "bucket"])
        .groupBy("l_partkey", "true_n")
        .agg(F.min("c").alias("est_n"))
    )
    return est.agg(F.count(F.lit(1)).alias("n"), F.sum("est_n").alias("s"))


def mad_shape(ev):
    """events_outlier_mad_2pass's core: two chained two-pass exact
    medians (bucket histogram + single-bucket refinement) + broadcast
    re-entry. Four fact passes total — must track data linearly."""
    from sparkstreamingrealtimedatawithkafka_spark.operators.orderstats import (
        exact_median_2pass,
    )

    vals = ev.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v"),
    )
    m1 = exact_median_2pass(vals, "g", "v", width=1000)
    dev = vals.join(
        F.broadcast(m1.select(F.col("g").alias("mg"), F.col("median").alias("med"))),
        F.col("g") == F.col("mg"),
    ).select("g", F.abs(F.col("v") - F.col("med")).alias("dv"))
    m2 = exact_median_2pass(
        dev.select("g", F.col("dv").alias("v")), "g", "v", width=1000
    )
    return m2.agg(F.count(F.lit(1)).alias("n"), F.sum("median").alias("s"))


def lpa_shape(li):
    """graph_community_lpa's core: relative-support edges + 4 synchronous
    label rounds (join + two keyed aggs each). Edge count is sparsity-
    stable, so rounds must track the edge build."""
    e = _copurchase_edges(li)
    labels = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl"))
    K = 1_000_000_000
    for _ in range(4):
        counts = (e.join(labels.select(F.col("node").alias("src"), "lbl"), "src")
                  .groupBy(F.col("dst").alias("node"), "lbl")
                  .agg(F.count(F.lit(1)).alias("n")))
        labels = (counts.groupBy("node")
                  .agg((F.lit(K) - (F.max(F.col("n") * K - F.col("lbl")) % K))
                       .cast("long").alias("lbl"))
                  .localCheckpoint())
    return labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("n")).agg(
        F.count(F.lit(1)).alias("g"), F.sum("n").alias("s"))


def dhash_shape(docs):
    """multimodal_image_dhash's core: synthesize PGM -> REAL resize ->
    dhash -> banded pair join + hamming verify. Per-image O(1) codec
    work; band buckets stay ~unit-sized as the corpus grows, so the
    pair join must stay linear."""
    from sparkstreamingrealtimedatawithkafka_spark.functions.multimodal import (
        image_dhash, resize_image,
    )

    base = docs.select(
        "doc_id",
        F.repeat(F.md5(F.expr("CAST(doc_id div 4 AS STRING)")), 4).alias("b0"),
        F.expr("CAST(doc_id % 4 AS INT) * 29 + 5").alias("p"),
        F.expr("char(97 + doc_id % 13)").alias("ch"),
    )
    img = base.select(
        "doc_id",
        F.expr("concat(substr(b0, 1, p - 1), ch, substr(b0, p + 1, 128 - p))").alias("px"),
    )
    blobs = img.select(
        "doc_id",
        F.concat(F.encode(F.lit("P5\n16 8\n255\n"), "utf-8"),
                 F.encode(F.col("px"), "utf-8")).alias("blob"),
    )
    hashed = image_dhash(resize_image(blobs, 9, 8), blob_col="data").localCheckpoint()
    bands = hashed.select(
        "doc_id", "h1", "h2",
        F.explode(F.array(
            F.struct(F.lit(0).alias("bi"), (F.col("h1") % 65536).alias("bv")),
            F.struct(F.lit(1).alias("bi"), F.expr("h1 div 65536").alias("bv")),
            F.struct(F.lit(2).alias("bi"), (F.col("h2") % 65536).alias("bv")),
            F.struct(F.lit(3).alias("bi"), F.expr("h2 div 65536").alias("bv")),
        )).alias("band"),
    ).select("doc_id", "h1", "h2", "band.bi", "band.bv")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.bi") == F.col("b.bi"))
                   & (F.col("a.bv") == F.col("b.bv"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib"),
                    F.col("a.h1").alias("h1a"), F.col("a.h2").alias("h2a"),
                    F.col("b.h1").alias("h1b"), F.col("b.h2").alias("h2b"))
            .distinct())
    ham = F.bit_count(F.expr("h1a ^ h1b")) + F.bit_count(F.expr("h2a ^ h2b"))
    return cand.filter(ham <= 10).agg(F.count(F.lit(1)).alias("n"))


def bootstrap_shape(o):
    """sample_poisson_bootstrap's core: repartitioned 4x md5 + 32-lane
    expansion folding into priority x replicate cells. Linear in orders;
    no shuffle grows with B."""
    from sparkstreamingrealtimedatawithkafka_spark.plans.relational import (
        _BOOT_W_CASE,
    )

    rg = o.select(
        "o_orderpriority", cents("o_totalprice").alias("c"), "o_orderkey"
    ).repartition(32, F.col("o_orderkey")).select(
        "o_orderpriority", "c", "o_orderkey",
        F.explode(F.expr("sequence(0, 3)")).alias("g"),
    ).withColumn("h", F.md5(F.concat_ws(":", F.col("o_orderkey").cast("string"),
                                        F.col("g").cast("string"))))
    rw = rg.select(
        "o_orderpriority", "c",
        F.explode(F.expr("sequence(0, 7)")).alias("slot"), "g", "h",
    ).select(
        "o_orderpriority", "c", (F.col("g") * 8 + F.col("slot")).alias("b"),
        F.expr("CAST(conv(substring(h, 1 + slot * 4, 4), 16, 10) AS BIGINT)").alias("u"),
    ).withColumn("w", F.expr(_BOOT_W_CASE))
    rep = rw.groupBy("o_orderpriority", "b").agg(
        F.sum("w").alias("n_b"), F.sum(F.col("w") * F.col("c")).alias("s_b"))
    return rep.agg(F.count(F.lit(1)).alias("cells"), F.sum("s_b").alias("mass"))


def kcore_shape(li):
    """graph_kcore's core: relative-support edges + 3 peels (degree agg +
    two survivor semi-joins each, localCheckpoint per round). Edge
    sparsity is volume-relative, so peel cost must track the edge build,
    not the fact growth."""
    e = _copurchase_edges(li).localCheckpoint()
    for _ in range(3):
        keep = (
            e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= 4).select(F.col("src").alias("node"))
        )
        e = (
            e.join(keep.withColumnRenamed("node", "src"), "src", "semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "semi")
            .select("src", "dst").localCheckpoint()
        )
    return e.agg(F.count(F.lit(1)).alias("n"), F.sum("src").alias("s"))


def cep_shape(ev):
    """events_cep_pattern's core: per-user ordered symbol path via
    array_sort(collect_list(struct)) + regex counting. Path length is
    per-user history — the 10x fixture grows users AND events, so the
    keyed exchange must stay linear."""
    code = (
        F.when(F.col("event_type") == "signup", F.lit("s"))
        .when(F.col("event_type") == "click", F.lit("c"))
        .when(F.col("event_type") == "view", F.lit("v"))
        .when(F.col("event_type") == "purchase", F.lit("p"))
        .otherwise(F.lit("e")).alias("code")
    )
    seq = (
        ev.select("user_id", "ts_us", "event_id", code)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts_us", "event_id", "code"))
                    ),
                    lambda x: x["code"],
                ),
                "",
            ).alias("path")
        )
    )
    hits = seq.select(
        (
            F.length(F.regexp_replace("path", r"s[cv]*p", "#"))
            - F.length(F.regexp_replace("path", r"s[cv]*p", ""))
        ).alias("k")
    )
    return hits.agg(F.sum("k").alias("s"), F.count(F.lit(1)).alias("n"))


def clamp_shape(ev):
    """events_clamped_running_balance's core: two stacked user-keyed
    windows (running sum, running min) + final per-user agg. Purely
    keyed — the ratio should track the exchange, ~linear."""
    from pyspark.sql.window import Window as W

    delta = (
        F.when(F.col("event_type") == "purchase",
               F.expr("CAST(ROUND(value*100,0) AS BIGINT)"))
        .when(F.col("event_type") == "error",
              -F.expr("CAST(ROUND(value*100,0) AS BIGINT)"))
        .otherwise(F.lit(0).cast("long")).alias("delta")
    )
    w = (
        W.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    s = ev.select("user_id", "ts_us", "event_id", delta).withColumn(
        "run_sum", F.sum("delta").over(w)
    )
    b = s.withColumn("run_min", F.min("run_sum").over(w)).withColumn(
        "bal", F.col("run_sum") - F.least(F.lit(0).cast("long"), F.col("run_min"))
    )
    return b.groupBy("user_id").agg(
        F.max("bal").alias("mx"), F.count(F.lit(1)).alias("n")
    ).agg(F.sum("mx").alias("s"), F.sum("n").alias("n"))


def path_edges(spark, n_nodes):
    return spark.range(1, n_nodes).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )


def inputs(spark, sf_dir=SF_DIR, scale_dir=None) -> dict:
    """The shapes' input frames: at 1x from ``sf_dir``, or at 10x from the
    materialized copies in ``scale_dir``. ``customer`` stays 1x on both
    sides (the SCD-2 row grows the change stream, not the dimension)."""
    if scale_dir is None:
        t = {n: load_table(spark, sf_dir, n) for n in SCALED}
        t["documents"] = t["documents"].select("doc_id", "text")
        t["path"] = path_edges(spark, PATH_NODES)
    else:
        t = {n: spark.read.parquet(os.path.join(scale_dir, n)) for n in SCALED}
        t["path"] = path_edges(spark, PATH_NODES * FACTOR)
    t["customer"] = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    return t


# name -> shape over an inputs() dict. Thunks, not DataFrames: shapes with
# eager localCheckpoints execute work at CONSTRUCTION time, so building
# them outside the timer would under-report; each timed run constructs
# AND executes end-to-end (perf_protocol.min_time).
SHAPES = {
    "q1_agg": lambda t: q1_shape(t["lineitem"]),
    "q3_join_agg": lambda t: q3_shape(t["lineitem"], t["orders"]),
    "minhash_lsh_dedup": lambda t: dedup_shape(t["documents"]),
    "incremental_dedup": lambda t: incr_dedup_shape(t["documents"]),
    "asof_join": lambda t: asof_shape(t["events"]),
    "gapfill_resample": lambda t: gapfill_shape(t["events"]),
    "merge_scd2": lambda t: scd2_shape(t["customer"], t["orders"]),
    "fuzzy_twostage": lambda t: fuzzy_shape(t["part"]),
    "bm25_search": lambda t: bm25_shape(t["documents"]),
    "pack_sequences": lambda t: pack_shape(t["documents"]),
    "rolling_wau": lambda t: wau_shape(t["events"]),
    "basket_affinity": lambda t: basket_shape(t["lineitem"]),
    "pareto_deciles": lambda t: pareto_shape(t["lineitem"]),
    "welch_t": lambda t: welch_shape(t["lineitem"]),
    "chi2_cells": lambda t: chi2_shape(t["events"]),
    "tfidf_topk": lambda t: tfidf_shape(t["documents"]),
    "pps_sampling": lambda t: pps_shape(t["orders"]),
    "pagerank_5iter": lambda t: pagerank_shape(t["lineitem"]),
    "growth_accounting": lambda t: growth_shape(t["events"]),
    "tree_ensemble_score": lambda t: tree_score_shape(t["lineitem"]),
    "khop_bfs": lambda t: khop_shape(t["lineitem"]),
    "link_prediction": lambda t: linkpred_shape(t["lineitem"]),
    "feature_hashing": lambda t: feat_hash_shape(t["documents"]),
    "winnowing_fp": lambda t: winnow_shape(t["documents"]),
    "pca_gram": lambda t: pca_gram_shape(t["embeddings"]),
    "countmin": lambda t: countmin_shape(t["lineitem"]),
    "mad_2pass": lambda t: mad_shape(t["events"]),
    "lpa_4rounds": lambda t: lpa_shape(t["lineitem"]),
    "image_dhash": lambda t: dhash_shape(t["documents"]),
    "poisson_bootstrap": lambda t: bootstrap_shape(t["orders"]),
    "kcore_3peel": lambda t: kcore_shape(t["lineitem"]),
    "cep_paths": lambda t: cep_shape(t["events"]),
    "clamp_balance": lambda t: clamp_shape(t["events"]),
    "ppjoin_exact": lambda t: ppjoin_shape(t["documents"]),
    "snm_linear": lambda t: snm_shape(t["documents"]),
    "ts_subseq_search": lambda t: tsss_shape(t["events"]),
    "ccstar_path": lambda t: ccstar_path_shape(t["path"]),
    "decontaminate": lambda t: decon_shape(t["documents"]),
    "snm_multipass": lambda t: snm_multipass_shape(t["documents"]),
    "skyline_2d": lambda t: skyline_shape(t["part"]),
    "full_dedup_pipeline": lambda t: full_dedup_shape(t["documents"]),
    "containment": lambda t: containment_shape(t["documents"]),
    "audio_fingerprint": lambda t: audio_fp_shape(t["documents"]),
    "similarity_auto": lambda t: sim_auto_shape(t["documents"]),
}


def main() -> None:
    names = sys.argv[1:] or list(SHAPES)
    unknown = [n for n in names if n not in SHAPES]
    if unknown:
        raise SystemExit(f"unknown shape(s) {unknown}; known: {sorted(SHAPES)}")
    spark = build_session(app_name="ssk-scale-check")
    for m in (materialize, materialize_docs, materialize_events,
              materialize_parts, materialize_embeddings):
        m(spark)
    t1, t10 = inputs(spark), inputs(spark, scale_dir=SCALE_DIR)

    # warm up the JVM/codegen/readers so 1x isn't charged the boot cost
    noop(SHAPES["q1_agg"](t1))
    noop(SHAPES["q3_join_agg"](t1))

    out = {
        "factor": FACTOR,
        "rows_1x": t1["lineitem"].count(),
        "rows_10x": t10["lineitem"].count(),
    }
    for name in names:
        shape = SHAPES[name]
        s1 = min_time(spark, lambda: shape(t1))
        s10 = min_time(spark, lambda: shape(t10))
        out[name] = {
            "t_1x_sec": round(s1, 3),
            "t_10x_sec": round(s10, 3),
            "time_ratio": round(s10 / s1, 2),
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
