"""Model-inference, web-curation, privacy, and graph-traversal entries.

Four operator families a production corpus/feature pipeline needs beyond
the relational+text core already in the catalog:

* **Model scoring as expressions** (``ml_*``): logistic and tree-ensemble
  inference compiled into pure column expressions — the features and the
  class decision are exact integers, so inference stays inside
  whole-stage codegen (no UDF, no model server round-trip) and the
  entries hash-check. This is how fleet-scale batch scoring actually
  ships: the model is small, the data is 100 TB, so the model travels to
  the data as an expression tree.
* **Web-corpus curation** (``web_*``): URL canonicalization (the first
  dedup key of any crawl pipeline) and per-domain quotas (crawl
  balancing). The fixture has no URL column, so URLs are synthesized
  deterministically from doc fields — the same injected-input posture as
  ``text_pii_redact`` (the fixture corpus is URL-free by construction).
* **Privacy accounting** (``privacy_*``): k-anonymity group-size audit
  (exact integers end-to-end) and deterministic-seed Laplace noisy
  counts (the DP release shape; the uniform comes from md5 so both
  engines derive bit-identical noise — production would swap the hash
  for a CSPRNG draw, the dataflow is unchanged).
* **Bounded graph traversal** (``graph_khop_reach``): 3-hop BFS frontier
  expansion over the co-purchase graph — the "blast radius" query.

Reference ancestry: the reference's only pipeline is score-with-a-model
(NER over text, spark_entity_counter.py:84-87) — the ``ml_*`` entries are
that idea with the model small enough to compile into the plan instead
of crossing into Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from sparkstreamingrealtimedatawithkafka_spark.functions import text as TX
from sparkstreamingrealtimedatawithkafka_spark.plans._util import (
    cents,
    copurchase_pairs,
    sql_cents,
    t,
)
from sparkstreamingrealtimedatawithkafka_spark.plans.registry import register
from sparkstreamingrealtimedatawithkafka_spark.plans.text_llm import _TOKS, _STOP_SQL

US_PER_DAY = 86_400_000_000

# ---------------------------------------------------------------------------
# ml_score_logistic — logistic-regression inference as a column expression
# ---------------------------------------------------------------------------

# Integer micro-logit weights (micro-units so the whole logit is BIGINT
# arithmetic: w·x exact at any corpus size; doubles appear only in the
# monotone sigmoid, which never gates the class decision).
_W0, _W_TOK, _W_UNIQ, _W_STOP = -2_400_000, 22_000, 58_000, -41_000

_LOGISTIC_ORACLE = f"""
WITH f AS (
  SELECT
    CAST(len({_TOKS}) AS BIGINT) AS n_tok,
    CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_uniq,
    CAST(len(list_filter({_TOKS}, x -> x IN ({_STOP_SQL}))) AS BIGINT) AS n_stop
  FROM documents
), s AS (
  SELECT ({_W0} + {_W_TOK}*n_tok + {_W_UNIQ}*n_uniq + {_W_STOP}*n_stop) AS logit_micro
  FROM f
)
SELECT logit_micro >= 0 AS pred_positive,
       COUNT(*) AS n_docs,
       CAST(SUM(logit_micro) AS BIGINT) AS sum_logit_micro,
       ROUND(AVG(1.0 / (1.0 + exp(-(CAST(logit_micro AS DOUBLE) / 1000000.0)))), 4)
         AS avg_prob
FROM s
GROUP BY pred_positive
"""


@register("ml_score_logistic", oracle=_LOGISTIC_ORACLE)
def ml_score_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-regression quality scoring compiled into the plan: the
    document features (token count, distinct-token count, stopword count)
    and the logit ``w·x`` are exact BIGINT arithmetic in micro-logit
    units; the sigmoid is applied only to report a probability, and the
    class decision is the exact integer test ``logit >= 0`` — monotone
    transforms never gate grouping, so the entry hash-checks.

    Scale: zero joins, zero UDFs — feature extraction and inference are
    one map stage inside whole-stage codegen followed by a 2-group
    aggregate. At 100 TB this is the shape that matters: the model (4
    weights) is a constant folded into the expression tree; the
    alternative (a Python UDF calling a model object) pays the Arrow
    boundary for no capability. The reference crosses into Python only
    because its model is a 400 MB transformer (spark_entity_counter.py:
    84-87); a linear head never should."""
    docs = t(spark, sf_dir, "documents")
    tk = TX.tokenize("text")
    f = docs.select(
        F.size(tk).cast("long").alias("n_tok"),
        F.size(F.array_distinct(tk)).cast("long").alias("n_uniq"),
        F.size(F.filter(tk, lambda x: x.isin(*TX.STOPWORDS))).cast("long").alias("n_stop"),
    )
    logit = (
        F.lit(_W0)
        + F.lit(_W_TOK) * F.col("n_tok")
        + F.lit(_W_UNIQ) * F.col("n_uniq")
        + F.lit(_W_STOP) * F.col("n_stop")
    ).alias("logit_micro")
    prob = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-(F.col("logit_micro").cast("double") / F.lit(1_000_000.0)))
    )
    return (
        f.select(logit)
        .groupBy((F.col("logit_micro") >= 0).alias("pred_positive"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("logit_micro").alias("sum_logit_micro"),
            F.round(F.avg(prob), 4).alias("avg_prob"),
        )
    )


# ---------------------------------------------------------------------------
# ml_tree_ensemble_score — GBT-style ensemble inference as CASE expressions
# ---------------------------------------------------------------------------

_TREE_ORACLE = """
WITH f AS (
  SELECT l_returnflag,
         CAST(ROUND(l_quantity, 0) AS BIGINT) AS qty,
         CAST(ROUND(l_discount * 10000, 0) AS BIGINT) AS disc_bp,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS price_c
  FROM lineitem
), scored AS (
  SELECT l_returnflag,
    (CASE WHEN qty <= 25 THEN CASE WHEN disc_bp <= 500 THEN 12 ELSE -7 END
          ELSE CASE WHEN price_c <= 3000000 THEN 3 ELSE -11 END END)
  + (CASE WHEN disc_bp <= 300 THEN CASE WHEN qty <= 40 THEN 8 ELSE -2 END
          ELSE CASE WHEN price_c <= 1500000 THEN -5 ELSE 14 END END)
  + (CASE WHEN price_c <= 2000000 THEN CASE WHEN disc_bp <= 700 THEN 6 ELSE -9 END
          ELSE CASE WHEN qty <= 10 THEN 10 ELSE -4 END END) AS score
  FROM f
)
SELECT score, l_returnflag, COUNT(*) AS n_rows
FROM scored GROUP BY score, l_returnflag
"""


@register("ml_tree_ensemble_score", oracle=_TREE_ORACLE)
def ml_tree_ensemble_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-tree-ensemble inference (the GBT/XGBoost serving shape)
    compiled to nested CASE expressions: three depth-2 trees over exact
    integer features (quantity, discount basis points, price cents), leaf
    scores summed per row, output as the exact (score, flag) histogram.

    Scale: tree inference is the canonical "model to the data" case — a
    trained ensemble is a few KB of thresholds, and compiling it into
    CASE expressions keeps scoring inside whole-stage codegen at full
    scan bandwidth (no Arrow hop, no inference service). The output
    vocabulary is bounded by leaf-combination count (≤27 scores × 3
    flags), so the aggregate is map-side combinable into a tiny result
    no matter the fact-table size."""
    li = t(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    disc = F.round(F.col("l_discount") * 10000, 0).cast("long")
    price = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    tree1 = F.when(qty <= 25, F.when(disc <= 500, 12).otherwise(-7)).otherwise(
        F.when(price <= 3_000_000, 3).otherwise(-11)
    )
    tree2 = F.when(disc <= 300, F.when(qty <= 40, 8).otherwise(-2)).otherwise(
        F.when(price <= 1_500_000, -5).otherwise(14)
    )
    tree3 = F.when(price <= 2_000_000, F.when(disc <= 700, 6).otherwise(-9)).otherwise(
        F.when(qty <= 10, 10).otherwise(-4)
    )
    return (
        li.select("l_returnflag", (tree1 + tree2 + tree3).cast("int").alias("score"))
        .groupBy("score", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# web_url_normalize — URL canonicalization, the first crawl dedup key
# ---------------------------------------------------------------------------

# Deterministic messy-URL synthesis: scheme case, www prefix, explicit
# default port, utm_* tracking params, fragments — the variation classes a
# canonicalizer must collapse. Both engines build the identical string.
_URL_SQL = """
  (CASE doc_id % 3 WHEN 0 THEN 'https' WHEN 1 THEN 'HTTPS' ELSE 'http' END
   || '://'
   || CASE doc_id % 2 WHEN 0 THEN source || '.example.com'
      ELSE 'WWW.' || source || '.Example.COM' END
   || CASE doc_id % 5 WHEN 0 THEN ':443' ELSE '' END
   || '/docs/' || lang || '/' || CAST(doc_id % 40 AS VARCHAR)
   || CASE doc_id % 4
        WHEN 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 40 AS VARCHAR)
        WHEN 1 THEN '?id=' || CAST(doc_id % 40 AS VARCHAR) || '&utm_campaign=x'
        WHEN 2 THEN '?id=' || CAST(doc_id % 40 AS VARCHAR)
        ELSE '' END
   || CASE doc_id % 7 WHEN 0 THEN '#sec2' ELSE '' END)
"""

_URL_NORM_ORACLE = f"""
WITH u AS (
  SELECT doc_id, {_URL_SQL} AS url FROM documents
), c AS (
  SELECT url,
    regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1)),
                   '^www\\.', '') AS host,
    regexp_extract(url, '^[a-zA-Z]+://[^/?#]+(/[^?#]*)', 1) AS path,
    regexp_extract(url, '[?&]id=([0-9]+)', 1) AS id_param
  FROM u
), canon AS (
  SELECT host,
         'https://' || host || path ||
           CASE WHEN id_param <> '' THEN '?id=' || id_param ELSE '' END AS canon_url,
         COUNT(*) AS n_raw,
         CAST(COUNT(DISTINCT url) AS BIGINT) AS n_variants
  FROM c GROUP BY 1, 2
)
SELECT host,
       COUNT(*) AS n_canonical,
       CAST(SUM(n_raw) AS BIGINT) AS n_raw_urls,
       CAST(MAX(n_variants) AS BIGINT) AS max_variants,
       ROUND(CAST(SUM(n_raw) AS DOUBLE) / COUNT(*), 4) AS collapse_ratio
FROM canon GROUP BY host
"""


@register("web_url_normalize", oracle=_URL_NORM_ORACLE)
def web_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the FIRST dedup key of any crawl corpus:
    lowercase the host, strip ``www.``, drop the explicit default port,
    strip fragments and ``utm_*`` tracking params, keep only the
    load-bearing ``id`` query param; then account per host how many raw
    URL spellings collapse into each canonical URL.

    Canonicalization is rebuilt from extracted components (host, path,
    kept params) rather than in-place string surgery — component
    extraction with simple character-class regexes behaves identically
    under Java regex and RE2/DuckDB, where delete-in-place patterns
    (dangling ``&`` repair) are dialect traps.

    Scale: canonicalization is a pure map stage (regexp on each row, no
    UDF); the only shuffle is the canonical-URL aggregate, keyed on the
    dedup key itself — exactly the shuffle an exact-dedup pass would pay
    anyway. Host cardinality is web-scale-bounded (~1e8) so the per-host
    rollup is always the small side."""
    docs = t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 3 == 0, F.lit("https"))
        .when(did % 3 == 1, F.lit("HTTPS"))
        .otherwise(F.lit("http")),
        F.lit("://"),
        F.when(did % 2 == 0, F.concat(F.col("source"), F.lit(".example.com"))).otherwise(
            F.concat(F.lit("WWW."), F.col("source"), F.lit(".Example.COM"))
        ),
        F.when(did % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"),
        F.col("lang"),
        F.lit("/"),
        (did % 40).cast("string"),
        F.when(did % 4 == 0, F.concat(F.lit("?utm_source=feed&id="), (did % 40).cast("string")))
        .when(did % 4 == 1, F.concat(F.lit("?id="), (did % 40).cast("string"), F.lit("&utm_campaign=x")))
        .when(did % 4 == 2, F.concat(F.lit("?id="), (did % 40).cast("string")))
        .otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit("#sec2")).otherwise(F.lit("")),
    )
    u = docs.select(url.alias("url"))
    host = F.regexp_replace(
        F.lower(F.regexp_extract("url", r"^[a-zA-Z]+://([^/:?#]+)", 1)), r"^www\.", ""
    )
    path = F.regexp_extract("url", r"^[a-zA-Z]+://[^/?#]+(/[^?#]*)", 1)
    id_param = F.regexp_extract("url", r"[?&]id=([0-9]+)", 1)
    c = u.select(
        "url",
        host.alias("host"),
        F.concat(
            F.lit("https://"),
            host,
            path,
            F.when(id_param != "", F.concat(F.lit("?id="), id_param)).otherwise(F.lit("")),
        ).alias("canon_url"),
    )
    canon = c.groupBy("host", "canon_url").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.countDistinct("url").alias("n_variants"),
    )
    return canon.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_canonical"),
        F.sum("n_raw").alias("n_raw_urls"),
        F.max("n_variants").alias("max_variants"),
        F.round(F.sum("n_raw").cast("double") / F.count(F.lit(1)), 4).alias(
            "collapse_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# web_domain_quota — per-domain document caps (crawl balancing)
# ---------------------------------------------------------------------------

_DOMAIN_QUOTA_ORACLE = """
WITH d AS (
  SELECT source || '.' || lang AS domain, doc_id, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source || '.' || lang
           ORDER BY n_chars DESC, doc_id
         ) AS rn
  FROM documents
)
SELECT domain,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rn <= 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn <= 16 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
       CAST(SUM(CASE WHEN rn > 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM d GROUP BY domain
"""


@register("web_domain_quota", oracle=_DOMAIN_QUOTA_ORACLE)
def web_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document quota — crawl balancing so no single host
    dominates the training mix: each domain keeps its 16 highest-quality
    documents (quality = length here, any scoring column in production)
    and the entry accounts kept vs dropped mass per domain.

    Scale: ONE shuffle on the domain key serves both the ranking window
    and the rollup (the aggregate reuses the window's partitioning);
    because the output must account the DROPPED side too, the rank is
    evaluated over all rows rather than top-k-pruned — the cap itself
    (rank ≤ k as a filter, which plans as WindowGroupLimit with map-side
    pruning) is the ``sample_reservoir_per_key`` entry; this one is the
    accounting twin a curation report needs."""
    docs = t(spark, sf_dir, "documents")
    d = docs.select(
        F.concat_ws(".", "source", "lang").alias("domain"), "doc_id", "n_chars"
    )
    w = W.partitionBy("domain").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    kept = F.col("rn") <= 16
    return (
        d.withColumn("rn", F.row_number().over(w))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias("kept_chars"),
            F.sum(F.when(~kept, 1).otherwise(0)).alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# privacy_k_anonymity — quasi-identifier group-size audit
# ---------------------------------------------------------------------------

_K_ANON_ORACLE = f"""
WITH q AS (
  SELECT event_type,
         ((epoch_ns(ts)//1000) // {US_PER_DAY}) % 7 AS dow,
         user_id % 10 AS band,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2, 3
)
SELECT event_type,
       COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_unsafe_groups,
       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_unsafe,
       CAST(SUM(n) AS BIGINT) AS rows_total,
       CAST((SUM(CASE WHEN n < 5 THEN n ELSE 0 END) * 1000000) // SUM(n) AS BIGINT)
         AS suppression_ppm
FROM q GROUP BY event_type
"""


@register("privacy_k_anonymity", oracle=_K_ANON_ORACLE)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over quasi-identifiers (event type,
    day-of-week, user band): counts the QI groups small enough to
    re-identify and the row mass that would need suppression before a
    release — the pre-publication privacy gate.

    Scale: exact integers end-to-end (group sizes, suppression share in
    integer ppm via BIGINT floor-division — never a float percentage);
    two aggregations where the second re-aggregates the QI-group table
    (cardinality = product of QI vocabularies, bounded) rather than
    rescanning facts. The QI-group shuffle is the only fact-sized
    exchange, map-side combinable."""
    ev = t(spark, sf_dir, "events")
    q = ev.groupBy(
        "event_type",
        (F.expr(f"ts_us div {US_PER_DAY}") % 7).alias("dow"),
        (F.col("user_id") % 10).alias("band"),
    ).agg(F.count(F.lit(1)).alias("n"))
    unsafe = F.col("n") < 5
    g = q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(unsafe, 1).otherwise(0)).alias("n_unsafe_groups"),
        F.sum(F.when(unsafe, F.col("n")).otherwise(0)).alias("rows_unsafe"),
        F.sum("n").alias("rows_total"),
    )
    # BIGINT `div`, never float division + floor: a rationally-exact
    # quotient can land one ulp under the integer in doubles and floor
    # to N-1 while the oracle's integer `//` says N.
    return g.select(
        "event_type",
        "n_groups",
        "n_unsafe_groups",
        "rows_unsafe",
        "rows_total",
        F.expr("(rows_unsafe * 1000000) div rows_total").alias("suppression_ppm"),
    )


# ---------------------------------------------------------------------------
# privacy_dp_noisy_counts — Laplace-noised release counts
# ---------------------------------------------------------------------------

_DP_ORACLE = f"""
WITH c AS (
  SELECT event_type, (epoch_ns(ts)//1000) // {US_PER_DAY} AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), seeded AS (
  SELECT event_type, day, n,
    CAST(('0x' || substr(md5(event_type || ':' || CAST(day AS VARCHAR)), 1, 12))
         AS BIGINT) / 281474976710656.0 AS u
  FROM c
)
SELECT event_type, day, CAST(n AS BIGINT) AS n,
  ROUND(-2.0 * CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END
              * ln(1.0 - 2.0 * abs(u - 0.5)), 4) AS noise,
  ROUND(n + -2.0 * CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END
              * ln(1.0 - 2.0 * abs(u - 0.5)), 4) AS noisy_n
FROM seeded
"""


@register("privacy_dp_noisy_counts", oracle=_DP_ORACLE)
def privacy_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (ε=0.5, sensitivity 1 →
    Laplace b=2) per (event type, day): exact counts plus Laplace noise
    drawn by inverse-CDF from a uniform DERIVED DETERMINISTICALLY from
    md5 of the group key — both engines compute bit-identical noise, so
    the release is hash-checkable. Production swaps the md5 draw for a
    CSPRNG; the dataflow (count → seed → quantile → add) is unchanged,
    and a seeded draw is exactly how DP releases are made reproducible
    for audit.

    Scale: the noise is a per-GROUP scalar expression over the
    aggregated table (vocabulary × days rows, never facts); the 48-bit
    hex prefix is exact in a double (< 2^53), so ``u`` is an exact
    binary fraction and ``1-2|u-0.5|`` is computed exactly — the only
    float op is the final ``ln``, bounded to the 4-dp round."""
    ev = t(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type", F.expr(f"ts_us div {US_PER_DAY}").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", "event_type", F.col("day").cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("long")
        / F.lit(281474976710656.0)
    )
    noise = (
        F.lit(-2.0)
        * F.when(u >= 0.5, 1.0).otherwise(-1.0)
        * F.log(F.lit(1.0) - 2.0 * F.abs(u - F.lit(0.5)))
    )
    return c.select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n"),
        F.round(noise, 4).alias("noise"),
        F.round(F.col("n") + noise, 4).alias("noisy_n"),
    )


# ---------------------------------------------------------------------------
# graph_khop_reach — bounded BFS over the co-purchase graph
# ---------------------------------------------------------------------------


def copurchase_edges(li) -> "DataFrame":
    """Undirected co-purchase edge list: ``copurchase_pairs`` (parts
    co-occurring in at least max(2, 13ppm of distinct orders) baskets)
    in both directions. Edge list is localCheckpointed by CALLERS that
    fan out over it."""
    p = copurchase_pairs(li)
    return p.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        p.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )


def _khop_oracle(hops: int = 3) -> str:
    head = """
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), sup AS (
  SELECT GREATEST(2, (COUNT(DISTINCT l_orderkey) * 13) // 1000000) AS min_n
  FROM lineitem
), p AS (
  SELECT a.l_partkey AS pa, c.l_partkey AS pb, COUNT(*) AS n
  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
  GROUP BY 1, 2
), e AS (
  SELECT pa AS src, pb AS dst FROM p, sup WHERE n >= min_n
  UNION ALL
  SELECT pb AS src, pa AS dst FROM p, sup WHERE n >= min_n
), h0 AS (
  SELECT DISTINCT src AS node FROM e WHERE src % 50 = 7
), v0 AS (SELECT node FROM h0)"""
    steps = "".join(
        f""", h{i} AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN h{i-1} ON e.src = h{i-1}.node
  WHERE e.dst NOT IN (SELECT node FROM v{i-1})
), v{i} AS (SELECT node FROM v{i-1} UNION SELECT node FROM h{i})"""
        for i in range(1, hops + 1)
    )
    tail = "\nUNION ALL\n".join(
        f"SELECT {i} AS hop, COUNT(*) AS n_nodes,"
        f" CAST(COALESCE(SUM(node), 0) AS BIGINT) AS sum_node FROM h{i}"
        for i in range(hops + 1)
    )
    return head + steps + "\n" + tail


@register("graph_khop_reach", oracle=_khop_oracle(3))
def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop BFS frontier expansion from seed products over the
    co-purchase graph (edges = part pairs sharing ≥2 orders, both
    directions): per hop, how many new nodes become reachable — the
    blast-radius / recall-expansion query (recommendation neighborhoods,
    contamination spread).

    Scale: the edge list is built once and localCheckpointed before the
    hop loop — it is referenced by every hop join, and each branch of a
    self-referencing plan otherwise recomputes the co-purchase self-join
    per hop (the [[self-referencing-plan-recompute]] lesson). Each hop
    is frontier ⋈ edges (shuffle keyed on the frontier boundary, sized
    by the frontier not the graph) followed by an anti-join against the
    visited set; hop count is a FIXED bound so the driver loop is k
    plan-appends, never a data-dependent fixpoint (that variant is
    ``dedup_cc_clusters``)."""
    li = t(spark, sf_dir, "lineitem")
    e = copurchase_edges(li).localCheckpoint()
    def _hop_row(frontier: DataFrame, hop: int) -> DataFrame:
        return frontier.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.coalesce(F.sum("node"), F.lit(0)).alias("sum_node"),
        ).select(F.lit(hop).alias("hop"), "n_nodes", "sum_node")

    frontier = e.filter(F.col("src") % 50 == 7).select(F.col("src").alias("node")).distinct()
    visited = frontier
    out = [_hop_row(frontier, 0)]
    for i in range(1, 4):
        frontier = (
            e.join(frontier, e.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .localCheckpoint()
        )
        visited = visited.unionAll(frontier).localCheckpoint()
        out.append(_hop_row(frontier, i))
    res = out[0]
    for df in out[1:]:
        res = res.unionAll(df)
    return res.select(
        F.col("hop").cast("int").alias("hop"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("sum_node").cast("long").alias("sum_node"),
    )


# ---------------------------------------------------------------------------
# web_robots_filter — crawl-politeness rule matching (longest prefix wins)
# ---------------------------------------------------------------------------

# (host_pattern, path_prefix, allow) — '*' matches any host; the most
# specific rule wins: exact-host beats wildcard, then longest prefix,
# then allow (the robots.txt tie convention).
_ROBOTS_RULES = [
    ("*", "/", 1),
    ("*", "/docs/de/", 0),
    ("src0.example.com", "/docs/", 0),
    ("src0.example.com", "/docs/en/", 1),
    ("src1.example.com", "/", 0),
]

_ROBOTS_VALUES = ", ".join(
    f"('{h}', '{p}', {a})" for h, p, a in _ROBOTS_RULES
)

_ROBOTS_ORACLE = f"""
WITH u AS (
  SELECT source || '.example.com' AS host,
         '/docs/' || lang || '/' || CAST(doc_id % 40 AS VARCHAR) AS path
  FROM documents
), r(rhost, prefix, allow) AS (
  VALUES {_ROBOTS_VALUES}
), m AS (
  SELECT u.host, u.path, r.allow,
         ROW_NUMBER() OVER (
           PARTITION BY u.host, u.path
           ORDER BY CASE WHEN r.rhost = u.host THEN 1 ELSE 0 END DESC,
                    length(r.prefix) DESC, r.allow DESC
         ) AS rn
  FROM u JOIN r
    ON (r.rhost = u.host OR r.rhost = '*')
   AND starts_with(u.path, r.prefix)
)
SELECT host, allow = 1 AS allowed, COUNT(*) AS n_urls
FROM m WHERE rn = 1 GROUP BY host, allowed
"""


@register("web_robots_filter", oracle=_ROBOTS_ORACLE)
def web_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt-style crawl filtering: every URL is matched against a
    ruleset with robots precedence — exact host beats wildcard, longest
    path prefix wins, allow wins ties — and the entry accounts allowed
    vs blocked URL mass per host. The fetch-eligibility gate every crawl
    corpus passes through before ingestion.

    Scale: the ruleset is a BROADCAST dimension (robots rules are
    KB-scale even for the whole web); matching is a broadcast theta-join
    (prefix test) whose fan-out is bounded by rules-per-URL, and the
    most-specific-rule pick is a per-URL rank that plans as
    WindowGroupLimit (rn=1 map-side pruning). The corpus never
    shuffles on raw URLs; the only exchange is the final per-host
    rollup."""
    docs = t(spark, sf_dir, "documents")
    u = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit("/docs/"), F.col("lang"), F.lit("/"), (F.col("doc_id") % 40).cast("string")
        ).alias("path"),
    )
    r = spark.createDataFrame(_ROBOTS_RULES, "rhost string, prefix string, allow int")
    m = u.join(
        F.broadcast(r),
        ((F.col("rhost") == F.col("host")) | (F.col("rhost") == "*"))
        & F.col("path").startswith(F.col("prefix")),
    )
    w = W.partitionBy("host", "path").orderBy(
        F.when(F.col("rhost") == F.col("host"), 1).otherwise(0).desc(),
        F.length("prefix").desc(),
        F.col("allow").desc(),
    )
    return (
        m.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("host", (F.col("allow") == 1).alias("allowed"))
        .agg(F.count(F.lit(1)).alias("n_urls"))
    )


# ---------------------------------------------------------------------------
# ml_feature_hashing — the hashing trick, audited per bucket
# ---------------------------------------------------------------------------

_FEAT_HASH_ORACLE = f"""
WITH tok AS (
  SELECT unnest({_TOKS}) AS tok FROM documents
), v AS (
  SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok
), b AS (
  SELECT CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % 64 AS bucket,
         tok, n
  FROM v
)
SELECT bucket,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_distinct_terms
FROM b GROUP BY bucket
"""


@register("ml_feature_hashing", oracle=_FEAT_HASH_ORACLE)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (fixed 64-dim bag-of-words feature space via
    md5-bucketed terms) with its collision audit: per feature bucket,
    total token mass and how many DISTINCT terms collided into it — the
    dimensionality/collision trade every hashed-feature model makes.

    Scale: term counts aggregate FIRST (vocabulary-sized table), then
    bucketing is a scalar expression over the vocabulary — the corpus
    shuffles once on the term, never on (doc, bucket) pairs; the final
    64-row rollup is a re-aggregation of the vocabulary table. md5
    rather than xxhash64 because the bucket assignment must be
    engine-portable (the split/sampling posture); a production run can
    swap in xxhash64 for speed without changing the dataflow."""
    docs = t(spark, sf_dir, "documents")
    v = (
        docs.select(F.explode(TX.tokenize("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("long") % 64
    ).alias("bucket")
    return (
        v.select(bucket, "n", "tok")
        .groupBy("bucket")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.countDistinct("tok").alias("n_distinct_terms"),
        )
    )


# ---------------------------------------------------------------------------
# graph_link_prediction_jaccard — common-neighbor link scoring
# ---------------------------------------------------------------------------

_LINKPRED_ORACLE = """
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), sup AS (
  SELECT GREATEST(2, (COUNT(DISTINCT l_orderkey) * 13) // 1000000) AS min_n
  FROM lineitem
), p AS (
  SELECT a.l_partkey AS pa, c.l_partkey AS pb, COUNT(*) AS n
  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
  GROUP BY 1, 2
), e AS (
  SELECT pa AS src, pb AS dst FROM p, sup WHERE n >= min_n
  UNION ALL
  SELECT pb AS src, pa AS dst FROM p, sup WHERE n >= min_n
), deg AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src
), wedge AS (
  SELECT e1.dst AS a, e2.dst AS b, COUNT(*) AS common
  FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
  GROUP BY 1, 2
), cand AS (
  SELECT w.a, w.b, w.common FROM wedge w
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = w.a AND e.dst = w.b)
)
SELECT a, b, CAST(common AS BIGINT) AS common,
       CAST((common * 1000000) // (da.d + db.d - common) AS BIGINT) AS jaccard_ppm
FROM cand JOIN deg da ON da.node = a JOIN deg db ON db.node = b
ORDER BY jaccard_ppm DESC, a, b LIMIT 20
"""


@register("graph_link_prediction_jaccard", oracle=_LINKPRED_ORACLE)
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighbor-set Jaccard: for part pairs NOT yet
    co-purchased, score |N(a)∩N(b)| / |N(a)∪N(b)| from wedge counts and
    degrees (in exact integer ppm), and return the 20 strongest
    predicted links — the classic common-neighbors recommender.

    Scale: the edge list is localCheckpointed once and feeds the wedge
    join, the degree table, and the existing-edge anti-join (the
    [[self-referencing-plan-recompute]] lesson); the wedge join is the
    triangle-count shape — its fan-out is Σ deg(v)², the quantity the
    degree-orientation trick in ``graph_triangle_count`` bounds; the
    global top-20 plans as TakeOrderedAndProject (per-partition heaps,
    never a full sort). Jaccard in BIGINT ppm so ranking hash-checks."""
    li = t(spark, sf_dir, "lineitem")
    e = copurchase_edges(li).localCheckpoint()
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    e1, e2 = e.alias("e1"), e.alias("e2")
    wedge = (
        e1.join(
            e2,
            (F.col("e1.src") == F.col("e2.src"))
            & (F.col("e1.dst") < F.col("e2.dst")),
        )
        .groupBy(F.col("e1.dst").alias("a"), F.col("e2.dst").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = wedge.join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    return (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.col("common").cast("long").alias("common"),
            F.expr("(common * 1000000) div (da + db - common)").alias("jaccard_ppm"),
        )
        .orderBy(F.desc("jaccard_ppm"), "a", "b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# udf_arrow_scalar — the Spark-4 Arrow-optimized Python UDF surface
# ---------------------------------------------------------------------------

_ARROW_UDF_ORACLE = """
SELECT doc_id, substr(reverse(text), 1, 16) AS rev16,
       CAST(length(text) AS BIGINT) AS n
FROM documents
"""


@register("udf_arrow_scalar", oracle=_ARROW_UDF_ORACLE)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-optimized scalar Python UDF (``F.udf(useArrow=True)``)
    — the Spark-4 row-function surface that replaces pickled
    row-at-a-time evaluation with Arrow-batched transfer while keeping
    the plain-function authoring model (no pandas Series handling).
    Completes the Python-eval-plane matrix beside ``pandas_udf``
    (pipeline_parity_udf), ``mapInArrow``, grouped/cogrouped
    ``applyInPandas``, and the UDTF.

    The function is a deterministic pure string transform so the DuckDB
    oracle replays it exactly (the ``text_chunker`` posture). Scale:
    still a Python-plane hop — Arrow batching makes it ~10-100× cheaper
    than a pickled UDF but it remains an optimizer barrier, so the
    pattern stays what the reference taught (spark_entity_counter.py:
    135): prune columns BEFORE the UDF, keep it off relational hot
    paths. ASCII-only corpus means reverse() agrees across engines;
    non-ASCII reversal is codepoint-order-sensitive and would need a
    grapheme contract."""
    docs = t(spark, sf_dir, "documents")

    @F.udf("string", useArrow=True)
    def rev16(s: str) -> str:
        return s[::-1][:16] if s is not None else None

    return docs.select(
        "doc_id",
        rev16("text").alias("rev16"),
        F.length("text").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# privacy_pseudonymize_stable — keyed pseudonymization with integrity audit
# ---------------------------------------------------------------------------

_PSEUDO_ORACLE = """
WITH p AS (
  SELECT event_type, user_id,
         substr(md5('ssk-pseudo-v1:' || CAST(user_id AS VARCHAR)), 1, 16)
           AS pseudo
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(DISTINCT pseudo) AS BIGINT) AS n_pseudos,
       MIN(pseudo) AS min_pseudo
FROM p GROUP BY event_type
"""


@register("privacy_pseudonymize_stable", oracle=_PSEUDO_ORACLE)
def privacy_pseudonymize_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable keyed pseudonymization (the GDPR-pipeline primitive): user
    ids are replaced by a salted-hash token that is DETERMINISTIC (the
    same user maps to the same token in every table and every run, so
    joins and longitudinal analyses still work) yet not reversible
    without the salt. The entry audits the two properties a release
    needs: token-per-user stability (n_pseudos == n_users per group —
    collision-free at this scale) and event-mass preservation.

    Scale: pseudonymization is a pure map expression (one md5 per row,
    inside codegen); the audit is one keyed aggregate. Production swaps
    md5(salt||id) for HMAC-SHA256 with a managed key — Spark ships
    ``sha2``; the dataflow and the audit are unchanged. The distinct
    counts are the exact bitmap-able shape (``agg_bitmap_exact_distinct``)
    if user cardinality outgrows COUNT DISTINCT."""
    ev = t(spark, sf_dir, "events")
    pseudo = F.substring(
        F.md5(F.concat(F.lit("ssk-pseudo-v1:"), F.col("user_id").cast("string"))),
        1,
        16,
    )
    return (
        ev.select("event_type", "user_id", pseudo.alias("pseudo"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct("pseudo").alias("n_pseudos"),
            F.min("pseudo").alias("min_pseudo"),
        )
    )


# ---------------------------------------------------------------------------
# observe_metrics_audit — the df.observe()/Observation metrics plane
# ---------------------------------------------------------------------------

_OBSERVE_ORACLE = f"""
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM({sql_cents('l_extendedprice')}) AS BIGINT) AS rev_cents
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag
"""


@register("observe_metrics_audit", oracle=_OBSERVE_ORACLE)
def observe_metrics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``df.observe()`` / ``Observation`` metrics plane: named
    aggregate metrics (row count, exact revenue mass, max ship date)
    attached to a MID-PLAN point and collected as a side channel of the
    SAME job that produces the result — the production pattern for
    reconciliation counters ("how many rows passed the filter that fed
    this output?") without a second scan. A separate audit query can
    race the pipeline (the table changed between runs); an observation
    cannot — it sees exactly the rows the result saw.

    Scale: the CollectMetrics node folds its aggregates into the
    existing scan stage (accumulator-style, no extra shuffle, no extra
    pass); the observed metrics travel to the driver as ONE row per
    metric set. tests/test_observe_metrics.py asserts the observation
    values reconcile exactly with the returned aggregate."""
    from pyspark.sql import Observation

    li = t(spark, sf_dir, "lineitem")
    obs = Observation("row_audit")
    observed = li.filter(F.col("l_shipdate") <= "1998-09-02").observe(
        obs,
        F.count(F.lit(1)).alias("n_in"),
        F.sum(cents("l_extendedprice")).alias("mass_cents"),
        F.max("l_shipdate").alias("max_ship"),
    )
    return observed.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents("l_extendedprice")).alias("rev_cents"),
    )


# ---------------------------------------------------------------------------
# graph_community_lpa — synchronous label propagation over co-purchase
# ---------------------------------------------------------------------------

_LPA_K = 1_000_000_000  # argmax encoding: score = n*K - lbl (0 < lbl < K)
_LPA_ROUNDS = 4


def _lpa_oracle(rounds: int) -> str:
    head = f"""
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), sup AS (
  SELECT GREATEST(2, (COUNT(DISTINCT l_orderkey) * 13) // 1000000) AS min_n
  FROM lineitem
), p AS (
  SELECT a.l_partkey AS pa, c.l_partkey AS pb, COUNT(*) AS n
  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
   AND a.l_partkey < c.l_partkey
  GROUP BY 1, 2
), e AS MATERIALIZED (
  SELECT pa AS src, pb AS dst FROM p, sup WHERE n >= min_n
  UNION ALL
  SELECT pb AS src, pa AS dst FROM p, sup WHERE n >= min_n
), l0 AS (
  SELECT DISTINCT src AS node, src AS lbl FROM e
)"""
    steps = "".join(
        f""", c{r} AS (
  SELECT e.dst AS node, l{r-1}.lbl, COUNT(*) AS n
  FROM e JOIN l{r-1} ON l{r-1}.node = e.src GROUP BY 1, 2
), l{r} AS MATERIALIZED (
  SELECT node,
         CAST({_LPA_K} - (MAX(n * {_LPA_K} - lbl) % {_LPA_K}) AS BIGINT) AS lbl
  FROM c{r} GROUP BY node
)"""
        for r in range(1, rounds + 1)
    )
    return (
        head
        + steps
        + f"""
SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(node) AS BIGINT) AS min_member
FROM l{rounds} GROUP BY lbl"""
    )


@register("graph_community_lpa", oracle=_lpa_oracle(_LPA_ROUNDS))
def graph_community_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (LPA) over
    the co-purchase graph: every node adopts the most frequent label in
    its neighborhood each round (ties -> smallest label, so the fixpoint
    is DETERMINISTIC — vanilla LPA's random tie-breaks could never be
    oracle-gated), four rounds from identity labels. Completes the graph
    family: components (connectivity), PageRank (centrality), triangles
    (cohesion), k-hop (reach), link prediction (recommendation), LPA
    (mesoscale structure).

    DEPTH CONTRACT: ``_LPA_ROUNDS = 4`` is the oracle-replayable DEMO
    depth (the DuckDB oracle unrolls one CTE per round) — it is NOT a
    converged community structure on a general graph. Converged operation
    is ``operators.graph.label_propagation(e, rounds=None)``: iterate to
    the label fixpoint with a per-round O(1)-scalar probe (single-row
    BIT_XOR(xxhash64(node, lbl)) — the connected-components sum-trick
    generalized to non-monotone labels), capped against synchronous LPA's
    known 2-cycle oscillation. tests/test_graph_convergence.py pins both
    the fixpoint property and the demo-depth equivalence.

    The neighborhood argmax rides ONE integer encoding, shared verbatim
    with the oracle: score = n·K − lbl maximizes count first, then
    minimal label, and lbl = K − (max_score mod K) decodes without a
    second pass — no window, no argmax UDF, just MAX over a bigint.

    Scale: each round is one equi-join keyed on the edge source + two
    keyed aggregates — Pregel rounds as DataFrame ops, driven by the
    graph operators' shared loop (``operators.graph._iterate``) with
    INTERVAL lineage cuts (checkpoint_interval=4, never after the final
    round — at this demo depth the plan unrolls into ONE Spark job;
    measured 3.11 -> 2.60 s at sf0.1). Edges come
    from the RELATIVE-support expansion (plans/ml.py:copurchase_edges),
    so graph density — and with it the per-round shuffle — stays
    sparsity-stable as volume grows."""
    from sparkstreamingrealtimedatawithkafka_spark.operators.graph import (
        label_propagation,
    )

    li = t(spark, sf_dir, "lineitem")
    e = copurchase_edges(li).localCheckpoint()
    labels = label_propagation(e, rounds=_LPA_ROUNDS)
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").alias("min_member"),
    )


# ---------------------------------------------------------------------------
# Classifier evaluation: confusion metrics + calibration — closes the
# model-scoring loop (score -> decide -> EVALUATE)
# ---------------------------------------------------------------------------

_EVAL_LABEL = "n_chars >= 300"  # deterministic ground-truth proxy (~median)

_CONFUSION_ORACLE = f"""
WITH f AS (
  SELECT
    CAST(len({_TOKS}) AS BIGINT) AS n_tok,
    CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_uniq,
    CAST(len(list_filter({_TOKS}, x -> x IN ({_STOP_SQL}))) AS BIGINT) AS n_stop,
    ({_EVAL_LABEL}) AS label
  FROM documents
), s AS (
  SELECT ({_W0} + {_W_TOK}*n_tok + {_W_UNIQ}*n_uniq + {_W_STOP}*n_stop) >= 0
           AS pred, label
  FROM f
), c AS (
  SELECT CAST(SUM(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN NOT pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM s
), m AS (
  SELECT tp, fp, fn, tn,
         (tp * 1000000) // GREATEST(tp + fp, 1) AS precision_ppm,
         (tp * 1000000) // GREATEST(tp + fn, 1) AS recall_ppm,
         ((tp + tn) * 1000000) // (tp + fp + fn + tn) AS accuracy_ppm
  FROM c
)
SELECT 'tp' AS metric, tp AS value FROM m
UNION ALL SELECT 'fp', fp FROM m
UNION ALL SELECT 'fn', fn FROM m
UNION ALL SELECT 'tn', tn FROM m
UNION ALL SELECT 'precision_ppm', precision_ppm FROM m
UNION ALL SELECT 'recall_ppm', recall_ppm FROM m
UNION ALL SELECT 'accuracy_ppm', accuracy_ppm FROM m
UNION ALL SELECT 'f1_ppm',
  (2 * precision_ppm * recall_ppm) // GREATEST(precision_ppm + recall_ppm, 1) FROM m
"""


@register("ml_confusion_metrics", oracle=_CONFUSION_ORACLE)
def ml_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation in one scan: the logistic head's decisions
    (``ml_score_logistic``'s weights) against a deterministic ground
    truth, reduced to the full confusion matrix and precision / recall /
    accuracy / F1 — every metric an EXACT integer (counts and ppm ratios
    via truncating div; F1 composed from the already-truncated ppm values
    so both engines truncate in the same order). The long-form
    (metric, value) report is the ``audit_expectations_suite`` posture
    applied to model quality.

    Scale: ONE aggregate over one scan produces the four cells;
    everything after is arithmetic on a single row. Evaluation never
    re-scores and never joins — predictions and labels are columns of
    the same pass."""
    docs = t(spark, sf_dir, "documents")
    tk = TX.tokenize("text")
    f = docs.select(
        F.size(tk).cast("long").alias("n_tok"),
        F.size(F.array_distinct(tk)).cast("long").alias("n_uniq"),
        F.size(F.filter(tk, lambda x: x.isin(*TX.STOPWORDS)))
        .cast("long")
        .alias("n_stop"),
        F.expr(_EVAL_LABEL).alias("label"),
    )
    s = f.select(
        (
            F.lit(_W0)
            + F.lit(_W_TOK) * F.col("n_tok")
            + F.lit(_W_UNIQ) * F.col("n_uniq")
            + F.lit(_W_STOP) * F.col("n_stop")
            >= 0
        ).alias("pred"),
        "label",
    )
    c = s.agg(
        F.sum(F.when(F.col("pred") & F.col("label"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("label"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("label"), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~F.col("pred") & ~F.col("label"), 1).otherwise(0)).alias("tn"),
    )
    m = c.selectExpr(
        "tp",
        "fp",
        "fn",
        "tn",
        "(tp * 1000000) div GREATEST(tp + fp, 1) AS precision_ppm",
        "(tp * 1000000) div GREATEST(tp + fn, 1) AS recall_ppm",
        "((tp + tn) * 1000000) div (tp + fp + fn + tn) AS accuracy_ppm",
    )
    return m.selectExpr(
        "stack(8, 'tp', tp, 'fp', fp, 'fn', fn, 'tn', tn,"
        " 'precision_ppm', precision_ppm, 'recall_ppm', recall_ppm,"
        " 'accuracy_ppm', accuracy_ppm,"
        " 'f1_ppm', (2 * precision_ppm * recall_ppm)"
        " div GREATEST(precision_ppm + recall_ppm, 1)) AS (metric, value)"
    ).select("metric", F.col("value").cast("long").alias("value"))


_CALIB_ORACLE = f"""
WITH f AS (
  SELECT
    CAST(len({_TOKS}) AS BIGINT) AS n_tok,
    CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_uniq,
    CAST(len(list_filter({_TOKS}, x -> x IN ({_STOP_SQL}))) AS BIGINT) AS n_stop,
    ({_EVAL_LABEL}) AS label
  FROM documents
), s AS (
  SELECT 1.0 / (1.0 + exp(-(CAST({_W0} + {_W_TOK}*n_tok + {_W_UNIQ}*n_uniq
                 + {_W_STOP}*n_stop AS DOUBLE) / 1000000.0))) AS prob, label
  FROM f
)
SELECT LEAST(CAST(floor(prob * 10) AS BIGINT), 9) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST((SUM(CASE WHEN label THEN 1 ELSE 0 END) * 1000000) // COUNT(*)
            AS BIGINT) AS obs_rate_ppm
FROM s GROUP BY 1
"""


@register("ml_calibration_bins", oracle=_CALIB_ORACLE)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability diagram for the logistic head: predicted
    probability binned into deciles, observed positive rate per bin — a
    well-calibrated model's obs_rate tracks the bin midpoint; this is the
    production check that a score threshold MEANS what it claims before
    anyone sets business cutoffs on it. Binning floors a double both
    engines compute from the identical expression (the logit is exact
    integer micro-units underneath, so the sigmoid inputs are bit-equal);
    the observed rate is an exact integer ppm.

    Scale: one map stage + one bounded aggregate (≤10 groups) — the
    evaluation twin of ``quantile_bucket_assignment``'s histogram
    discipline, with zero sort and zero join."""
    docs = t(spark, sf_dir, "documents")
    tk = TX.tokenize("text")
    f = docs.select(
        F.size(tk).cast("long").alias("n_tok"),
        F.size(F.array_distinct(tk)).cast("long").alias("n_uniq"),
        F.size(F.filter(tk, lambda x: x.isin(*TX.STOPWORDS)))
        .cast("long")
        .alias("n_stop"),
        F.expr(_EVAL_LABEL).alias("label"),
    )
    s = f.select(
        (
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(
                    -(
                        (
                            F.lit(_W0)
                            + F.lit(_W_TOK) * F.col("n_tok")
                            + F.lit(_W_UNIQ) * F.col("n_uniq")
                            + F.lit(_W_STOP) * F.col("n_stop")
                        ).cast("double")
                        / F.lit(1_000_000.0)
                    )
                )
            )
        ).alias("prob"),
        "label",
    )
    return (
        s.groupBy(
            F.least(F.floor(F.col("prob") * 10).cast("long"), F.lit(9)).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("label"), 1).otherwise(0)).cast("long").alias("n_pos"),
        )
        .select(
            "bin",
            "n_docs",
            "n_pos",
            F.expr("(n_pos * 1000000) div n_docs").cast("long").alias("obs_rate_ppm"),
        )
    )


def _kcore_oracle(k: int = 4, rounds: int = 3) -> str:
    head = """
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), sup AS (
  SELECT GREATEST(2, (COUNT(DISTINCT l_orderkey) * 13) // 1000000) AS min_n
  FROM lineitem
), p AS (
  SELECT a.l_partkey AS pa, c.l_partkey AS pb, COUNT(*) AS n
  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
  GROUP BY 1, 2
), e0 AS (
  SELECT pa AS src, pb AS dst FROM p, sup WHERE n >= min_n
  UNION ALL
  SELECT pb AS src, pa AS dst FROM p, sup WHERE n >= min_n
)"""
    steps = "".join(
        f""", d{i} AS (SELECT src, COUNT(*) AS deg FROM e{i-1} GROUP BY src)
, k{i} AS (SELECT src AS node FROM d{i} WHERE deg >= {k})
, e{i} AS (SELECT x.src, x.dst FROM e{i-1} x
           JOIN k{i} a ON x.src = a.node JOIN k{i} c ON x.dst = c.node)"""
        for i in range(1, rounds + 1)
    )
    tail = "\nUNION ALL\n".join(
        f"SELECT {i} AS round, COUNT(DISTINCT src) AS n_nodes,"
        f" COUNT(*) AS n_edges,"
        f" CAST(COALESCE(SUM(src), 0) AS BIGINT) AS sum_src FROM e{i}"
        for i in range(rounds + 1)
    )
    return head + steps + "\n" + tail


@register("graph_kcore", oracle=_kcore_oracle(4, 3))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman's degeneracy
    algorithm, the dense-subgraph extractor behind community seeding and
    spam-cluster mining): repeatedly drop nodes with degree < k and the
    edges touching them, reporting (n_nodes, n_edges, sum_src) after each
    of 3 peels of the 4-core over the co-purchase graph. Peeling is the
    interesting part distributionally — removing a node LOWERS its
    neighbors' degrees, so each round is degree-count + two semi-joins of
    the edge list against the survivor set, and the fixture graph
    genuinely peels (sf0.01: 1.9k nodes -> 243 over three rounds).

    Scale: per round one groupBy on src plus survivor semi-joins keyed on
    the same column — ``operators.graph.kcore_peel``, the peel step the
    ``kcore`` operator runs; the edge list is localCheckpointed per round
    (the final one too, since the stats read it) so the next round's three
    references replay a materialized artifact, not the growing join
    pyramid ([[self-referencing-plan-recompute]]). Round count is a FIXED
    unroll like the PageRank/BFS entries; the entry keeps a loop of its
    own only because its OUTPUT is per-round stats. Production runs peel
    to the true core with ``operators.graph.kcore(rounds=None)``, whose
    fixpoint probe is the monotone edge COUNT riding each checkpoint job
    via observe. Edge semantics are volume-relative via
    ``copurchase_edges`` so the peel depth is scale-stable."""
    from sparkstreamingrealtimedatawithkafka_spark.operators.graph import kcore_peel

    li = t(spark, sf_dir, "lineitem")
    e = copurchase_edges(li).localCheckpoint()

    def stats(edges: DataFrame, rnd: int) -> DataFrame:
        return edges.agg(
            F.count_distinct(F.col("src")).alias("n_nodes"),
            F.count(F.lit(1)).alias("n_edges"),
            F.coalesce(F.sum("src"), F.lit(0)).alias("sum_src"),
        ).select(F.lit(rnd).cast("long").alias("round"), "n_nodes", "n_edges", "sum_src")

    out = stats(e, 0)
    for rnd in range(1, 4):
        e = kcore_peel(e, 4).localCheckpoint()
        out = out.unionByName(stats(e, rnd))
    return out


_QNORM_ORACLE = """
WITH r AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
), v AS (
  SELECT lang, n_chars, ((rk - 1) * 20) // n AS ventile FROM r
), ref AS (
  SELECT ventile, CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS ref_chars
  FROM v GROUP BY ventile
)
SELECT v.lang, v.ventile,
       COUNT(*) AS n_docs,
       CAST(SUM(v.n_chars) // COUNT(*) AS BIGINT) AS mean_raw_chars,
       CAST(MIN(ref.ref_chars) AS BIGINT) AS ref_chars
FROM v JOIN ref ON v.ventile = ref.ventile
GROUP BY v.lang, v.ventile
"""


@register("ml_quantile_normalize", oracle=_QNORM_ORACLE)
def ml_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across groups (the microarray/bioinformatics
    standard, used in ML feature pipelines to force identical marginal
    distributions): each document is ranked WITHIN its language, ranks
    are bucketed into 20 ventiles, and every ventile maps to the
    cross-language reference value (exact integer mean of that ventile's
    members over all groups). The emitted table is the normalization map
    per (lang, ventile): group-local mean vs the reference it would be
    replaced by — distribution shape differences between languages show
    up as mean_raw != ref at the same ventile.

    Scale: the rank windows are PARTITIONED by group (never global); the
    reference table is 20 rows and broadcasts back; both aggregations are
    map-side-combinable. This is the discrete form of QN — fixed bucket
    count rather than per-rank interpolation — precisely so the map table
    stays vocabulary-sized and the arithmetic stays exact-integer at any
    corpus size."""
    docs = t(spark, sf_dir, "documents")
    wr = W.partitionBy("lang").orderBy("n_chars", "doc_id")
    r = docs.select(
        "lang",
        "n_chars",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy("lang")).alias("n"),
    )
    v = r.select(
        "lang", "n_chars", F.expr("((rk - 1) * 20) div n").alias("ventile")
    )
    ref = v.groupBy("ventile").agg(
        F.expr("SUM(n_chars) div COUNT(*)").alias("ref_chars")
    )
    return (
        v.join(F.broadcast(ref), "ventile")
        .groupBy("lang", "ventile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("SUM(n_chars) div COUNT(*)").alias("mean_raw_chars"),
            F.min("ref_chars").alias("ref_chars"),
        )
        .select("lang", "ventile", "n_docs", "mean_raw_chars", "ref_chars")
    )


_L_DIV_ORACLE = f"""
WITH q AS (
  SELECT ((epoch_ns(ts)//1000) // {US_PER_DAY}) % 7 AS dow,
         user_id % 10 AS band,
         COUNT(*) AS n,
         COUNT(DISTINCT event_type) AS n_sensitive
  FROM events GROUP BY 1, 2
)
SELECT dow,
       COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low_diversity,
       CAST(SUM(CASE WHEN n_sensitive < 3 THEN n ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       CAST(MIN(n_sensitive) AS BIGINT) AS min_diversity
FROM q GROUP BY dow
"""


@register("privacy_l_diversity", oracle=_L_DIV_ORACLE)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (l=3, Machanavajjhala et al. ICDE'06) — the gap
    k-anonymity leaves open: a QI group can be large (k-safe) yet have
    every member sharing ONE sensitive value, so group membership alone
    discloses it. Per quasi-identifier group (day-of-week, user band),
    count DISTINCT sensitive values (event_type); groups below l leak,
    and their row mass is what generalization/suppression must absorb.
    Completes the release-gate pair with ``privacy_k_anonymity``.

    Scale: one fact-sized exchange on the QI key carrying a
    COUNT(DISTINCT) whose domain is the sensitive vocabulary (partial
    aggregation stays effective — the distinct set per group is bounded
    by |event types|, not rows); the audit rollup runs over the bounded
    QI-group table."""
    ev = t(spark, sf_dir, "events")
    q = ev.groupBy(
        (F.expr(f"ts_us div {US_PER_DAY}") % 7).alias("dow"),
        (F.col("user_id") % 10).alias("band"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("event_type").alias("n_sensitive"),
    )
    low = F.col("n_sensitive") < 3
    return q.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(low, 1).otherwise(0)).alias("n_low_diversity"),
        F.sum(F.when(low, F.col("n")).otherwise(0)).alias("rows_at_risk"),
        F.min("n_sensitive").alias("min_diversity"),
    )
