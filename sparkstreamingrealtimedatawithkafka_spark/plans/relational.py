"""Relational core: scans, filters, joins, aggregations, windows, set ops,
sorts/limits, grouping sets, pivot, range join — all built-in DataFrame ops
(SURVEY.md §2.3/§2.6/§2.9; the reference itself has none of these beyond a
single streaming groupBy().count(), spark_entity_counter.py:139, so this
module is the engine's generalization layer).

Scale notes (100 TB posture):
- Only FIXED-size dimensions (region=5 rows, nation=25 rows, literal
  VALUES dims, 1-row derived aggregates) carry an explicit ``F.broadcast``
  hint. customer/part/supplier grow linearly with SF (TPC-H ratios
  150k/200k/10k rows per SF) and are NOT broadcastable at the 100 TB
  target — those joins are left to Catalyst/AQE, which broadcasts them
  while stats say they fit and falls back to sort-merge when they don't.
- Fact-fact joins (orders⋈lineitem) are left to Catalyst's sort-merge with
  AQE; both sides shuffle on the join key once and aggregations reuse it.
- Top-k per group uses Window + rank-filter: partial evaluation happens
  map-side after the shuffle on the partition key; no driver collect.
"""

from __future__ import annotations

import datetime

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from sparkstreamingrealtimedatawithkafka_spark.functions.pairs import array_pairs
from sparkstreamingrealtimedatawithkafka_spark.plans._util import (
    cents,
    copurchase_pairs,
    sql_cents,
    t,
)
from sparkstreamingrealtimedatawithkafka_spark.plans.registry import register

_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
  SUM({sql_cents('l_quantity')})/100.0 AS sum_qty,
  SUM({sql_cents('l_extendedprice')})/100.0 AS sum_base_price,
  SUM({sql_cents('l_extendedprice')}*(100-{sql_cents('l_discount')}))/10000.0 AS sum_disc_price,
  SUM({sql_cents('l_extendedprice')}*(100-{sql_cents('l_discount')})*(100+{sql_cents('l_tax')}))/1000000.0 AS sum_charge,
  SUM({sql_cents('l_quantity')})/(100.0*COUNT(*)) AS avg_qty,
  SUM({sql_cents('l_extendedprice')})/(100.0*COUNT(*)) AS avg_price,
  SUM({sql_cents('l_discount')})/(100.0*COUNT(*)) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=_Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: filter → groupBy(2) → 8 aggregates.

    Single shuffle on the two grouping keys; partial aggregation map-side.
    """
    li = t(spark, sf_dir, "lineitem")
    qty, price, disc, tax = (
        cents("l_quantity"),
        cents("l_extendedprice"),
        cents("l_discount"),
        cents("l_tax"),
    )
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty) / F.lit(100.0)).alias("sum_qty"),
            (F.sum(price) / F.lit(100.0)).alias("sum_base_price"),
            (F.sum(price * (F.lit(100) - disc)) / F.lit(10000.0)).alias("sum_disc_price"),
            (F.sum(price * (F.lit(100) - disc) * (F.lit(100) + tax)) / F.lit(1000000.0)).alias(
                "sum_charge"
            ),
            (F.sum(qty) / (F.lit(100.0) * n)).alias("avg_qty"),
            (F.sum(price) / (F.lit(100.0) * n)).alias("avg_price"),
            (F.sum(disc) / (F.lit(100.0) * n)).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


_Q3_ORACLE = f"""
SELECT l_orderkey,
  SUM({sql_cents('l_extendedprice')}*(100-{sql_cents('l_discount')}))/10000.0 AS revenue,
  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
  o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", oracle=_Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join, filtered, grouped, global top-10.

    customer scales with SF, so its join is left to AQE (broadcast while
    small, sort-merge at scale); orders⋈lineitem is the one guaranteed
    shuffle. LIMIT has a unique-key tiebreaker.
    """
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            (F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))) / F.lit(10000.0)).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


_Q5_ORACLE = f"""
SELECT n_name,
  SUM({sql_cents('l_extendedprice')}*(100-{sql_cents('l_discount')}))/10000.0 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


@register("q5_regional_revenue", oracle=_Q5_ORACLE)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way star join. Fixed dims (nation/region) are
    pinned broadcast; customer/supplier scale with SF, so their joins are
    left to AQE — broadcast while stats fit, sort-merge at 100 TB."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(
            (F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))) / F.lit(10000.0)).alias(
                "revenue"
            )
        )
    )


@register(
    "join_semi_orders_bigqty",
    oracle="""
SELECT o_orderkey, o_orderpriority
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 48
)
""",
)
def join_semi_orders_bigqty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): orders having any high-quantity lineitem."""
    orders = t(spark, sf_dir, "orders")
    big = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    return orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi").select(
        "o_orderkey", "o_orderpriority"
    )


@register(
    "join_anti_customers_no_urgent",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
""",
)
def join_anti_customers_no_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no urgent orders."""
    cust = t(spark, sf_dir, "customer")
    urgent = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "topk_parts_per_brand",
    oracle="""
SELECT p_brand, p_partkey, p_retailprice, rk
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rk
  FROM part
)
WHERE rk <= 3
""",
)
def topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group via Window + rank filter (no driver collect).

    At scale: one shuffle on the partition key, then a streaming rank —
    the canonical distributed top-k pattern.
    """
    part = t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rk")
    )


@register(
    "window_running_total",
    oracle=f"""
SELECT o_custkey, o_orderkey,
  SUM({sql_cents('o_totalprice')})
    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)/100.0 AS running_total,
  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
FROM orders
""",
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer order total (window aggregate, exact units)."""
    orders = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(cents("o_totalprice")).over(w.rowsBetween(W.unboundedPreceding, 0)) / F.lit(100.0)).alias(
            "running_total"
        ),
        F.row_number().over(w).alias("order_seq"),
    )


_SQL_SURFACE_ORACLE = """
WITH tiers(tier, lo, hi) AS (VALUES ('low', 0, 200000), ('high', 200000, 10000000)),
     base AS (
       SELECT o_orderpriority, o_totalprice FROM orders WHERE o_orderstatus = 'F'
       UNION ALL
       SELECT o_orderpriority, o_totalprice FROM orders WHERE o_orderstatus = 'O'
     )
SELECT t.tier, b.o_orderpriority, COUNT(*) AS n
FROM base b JOIN tiers t ON b.o_totalprice >= t.lo AND b.o_totalprice < t.hi
GROUP BY t.tier, b.o_orderpriority
"""


@register("sql_surface_cte_union_all", oracle=_SQL_SURFACE_ORACLE)
def sql_surface_cte_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql() surface exercised end-to-end: CTE + inline VALUES +
    UNION ALL (bag semantics, unlike the distinct set-op entries) + theta
    join — the engine is a full SQL engine, not only a DataFrame API."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_sql")
    return spark.sql(
        """
        WITH tiers AS (
          SELECT * FROM VALUES ('low', 0, 200000), ('high', 200000, 10000000)
            AS t(tier, lo, hi)
        ),
        base AS (
          SELECT o_orderpriority, o_totalprice FROM orders_sql WHERE o_orderstatus = 'F'
          UNION ALL
          SELECT o_orderpriority, o_totalprice FROM orders_sql WHERE o_orderstatus = 'O'
        )
        SELECT t.tier, b.o_orderpriority, COUNT(*) AS n
        FROM base b JOIN tiers t ON b.o_totalprice >= t.lo AND b.o_totalprice < t.hi
        GROUP BY t.tier, b.o_orderpriority
        """
    )


@register(
    "setop_nation_intersect",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def setop_nation_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) of customer vs supplier nations."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "setop_except_urgent_customers",
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
EXCEPT
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
""",
)
def setop_except_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customers with urgent orders minus the BUILDING
    segment."""
    a = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
    )
    b = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )
    return a.subtract(b)


@register(
    "setop_union_priorities",
    oracle="""
SELECT o_orderpriority AS tag FROM orders WHERE o_orderstatus = 'F'
UNION
SELECT c_mktsegment AS tag FROM customer
""",
)
def setop_union_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) across two heterogeneous tag sources."""
    a = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderpriority").alias("tag"))
    )
    b = t(spark, sf_dir, "customer").select(F.col("c_mktsegment").alias("tag"))
    return a.union(b).distinct()


@register(
    "setop_union_intersect_except",
    oracle="""
SELECT 'intersect' AS op, CAST(nationkey AS VARCHAR) AS val FROM (
  SELECT c_nationkey AS nationkey FROM customer
  INTERSECT
  SELECT s_nationkey AS nationkey FROM supplier
)
UNION ALL
SELECT 'except' AS op, CAST(custkey AS VARCHAR) AS val FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  EXCEPT
  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
)
UNION ALL
SELECT 'union' AS op, tag AS val FROM (
  SELECT o_orderpriority AS tag FROM orders WHERE o_orderstatus = 'F'
  UNION
  SELECT c_mktsegment AS tag FROM customer
)
""",
)
def setop_union_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three distinct-semantics set operators in one plan, tagged:
    INTERSECT (customer∩supplier nations), EXCEPT (urgent-order customers
    minus the BUILDING segment), UNION (priorities ∪ segments). Each set op
    is a distinct-aggregate over one shuffle; the final UNION ALL is a
    zero-shuffle concatenation."""
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders")

    inter = (
        c.select(F.col("c_nationkey").alias("k"))
        .intersect(s.select(F.col("s_nationkey").alias("k")))
        .select(F.lit("intersect").alias("op"), F.col("k").cast("string").alias("val"))
    )
    exc = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
        .subtract(
            c.filter(F.col("c_mktsegment") == "BUILDING").select(
                F.col("c_custkey").alias("k")
            )
        )
        .select(F.lit("except").alias("op"), F.col("k").cast("string").alias("val"))
    )
    uni = (
        o.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderpriority").alias("tag"))
        .union(c.select(F.col("c_mktsegment").alias("tag")))
        .distinct()
        .select(F.lit("union").alias("op"), F.col("tag").alias("val"))
    )
    return inter.union(exc).union(uni)


@register(
    "agg_rollup_flag_status",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
  COUNT(*) AS n,
  SUM({sql_cents('l_quantity')})/100.0 AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def agg_rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total)."""
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents("l_quantity")) / F.lit(100.0)).alias("sum_qty"),
    )


@register(
    "agg_cube_flag_status",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
  COUNT(*) AS n,
  SUM({sql_cents('l_extendedprice')})/100.0 AS sum_price
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def agg_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 grouping combinations)."""
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents("l_extendedprice")) / F.lit(100.0)).alias("sum_price"),
    )


@register(
    "agg_grouping_sets_custom",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       COUNT(*) AS n,
       SUM({sql_cents('l_quantity')})/100.0 AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)
def agg_grouping_sets_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither rollup nor cube) + grouping_id —
    one shuffle, the Expand operator fans each row into its 3 grouping
    combinations map-side."""
    li = t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               COUNT(*) AS n,
               SUM({sql_cents('l_quantity')}) / CAST(100.0 AS DOUBLE) AS sum_qty
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


_GROUPING_MULTI_ORACLE = f"""
SELECT 'rollup' AS op, l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       COUNT(*) AS n,
       SUM({sql_cents('l_quantity')}) / CAST(100.0 AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
UNION ALL
SELECT 'cube' AS op, l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       COUNT(*) AS n,
       SUM({sql_cents('l_quantity')}) / CAST(100.0 AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
UNION ALL
SELECT 'gsets' AS op, l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       COUNT(*) AS n,
       SUM({sql_cents('l_quantity')}) / CAST(100.0 AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@register("agg_grouping_multi", oracle=_GROUPING_MULTI_ORACLE)
def agg_grouping_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole grouping-sets family in one tagged plan: ROLLUP, CUBE and
    explicit GROUPING SETS with grouping_id, over the same aggregate. Each
    branch is one shuffle with map-side Expand fan-out; the concatenation
    is shuffle-free. (The individual entries remain in the catalog past the
    driver window for isolation.)"""
    li = t(spark, sf_dir, "lineitem")
    agg = [
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents("l_quantity")) / F.lit(100.0)).alias("sum_qty"),
    ]
    gid = F.grouping_id("l_returnflag", "l_linestatus").cast("long").alias("gid")

    def tag(df: DataFrame, op: str) -> DataFrame:
        return df.select(
            F.lit(op).alias("op"), "l_returnflag", "l_linestatus", "gid", "n", "sum_qty"
        )

    r = tag(li.rollup("l_returnflag", "l_linestatus").agg(gid, *agg), "rollup")
    c = tag(li.cube("l_returnflag", "l_linestatus").agg(gid, *agg), "cube")
    li.createOrReplaceTempView("lineitem_gm")
    g = spark.sql(
        f"""
        SELECT 'gsets' AS op, l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               COUNT(*) AS n,
               SUM({sql_cents('l_quantity')}) / CAST(100.0 AS DOUBLE) AS sum_qty
        FROM lineitem_gm
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )
    return r.union(c).union(g)


@register(
    "agg_distinct_counts",
    oracle="""
SELECT l_returnflag,
  COUNT(DISTINCT l_suppkey) AS n_suppliers,
  COUNT(DISTINCT l_partkey) AS n_parts,
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase under the hood)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "agg_approx_sketches",
    oracle="""
SELECT l_returnflag,
  COUNT(*) AS n_rows,
  COUNT(DISTINCT l_partkey) AS n_parts_exact,
  TRUE AS hll_parts_ok,
  TRUE AS hll_orders_ok,
  TRUE AS p50_in_bounds
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketch aggregates — ``approx_count_distinct``
    (HyperLogLog++) and ``percentile_approx`` (GK quantile summary), the
    100 TB-scale paths for cardinality and quantiles — checked through
    *derived deterministic invariants*: the sketches are deterministic
    functions of the data, and their documented error bounds (HLL rsd 0.05,
    GK rank error n/accuracy) hold with wide margin, so the emitted
    booleans (estimate within 10% of exact; approx p50 between the exact
    0.45 and 0.55 quantiles) are stable TRUEs an ANSI oracle can assert.
    Raw estimate values stay pytest-covered (tests/test_relational.py)."""
    li = t(spark, sf_dir, "lineitem")
    price_c = cents("l_extendedprice")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts_exact"),
        F.countDistinct("l_orderkey").alias("n_orders_exact"),
        F.approx_count_distinct("l_partkey").alias("hll_parts"),
        F.approx_count_distinct("l_orderkey").alias("hll_orders"),
        F.percentile_approx(price_c, 0.5, 10000).alias("p50_approx_c"),
        F.expr(f"percentile({sql_cents('l_extendedprice')}, 0.45)").alias("p45_c"),
        F.expr(f"percentile({sql_cents('l_extendedprice')}, 0.55)").alias("p55_c"),
    )

    def rel_ok(est: str, exact: str) -> F.Column:
        return (
            F.abs(F.col(est).cast("double") - F.col(exact).cast("double"))
            / F.col(exact).cast("double")
            < 0.10
        )

    return agg.select(
        "l_returnflag",
        "n_rows",
        "n_parts_exact",
        rel_ok("hll_parts", "n_parts_exact").alias("hll_parts_ok"),
        rel_ok("hll_orders", "n_orders_exact").alias("hll_orders_ok"),
        F.col("p50_approx_c")
        .cast("double")
        .between(F.col("p45_c"), F.col("p55_c"))
        .alias("p50_in_bounds"),
    )


_CORR_ORACLE = f"""
WITH u AS (
  SELECT l_returnflag,
         {sql_cents('l_extendedprice')} AS x,
         {sql_cents('l_quantity')} AS y
  FROM lineitem
)
SELECT l_returnflag, COUNT(*) AS n,
  (CAST(SUM(x*y) AS DOUBLE)/COUNT(*)
    - (CAST(SUM(x) AS DOUBLE)/COUNT(*)) * (CAST(SUM(y) AS DOUBLE)/COUNT(*)))
  / (sqrt(CAST(SUM(x*x) AS DOUBLE)/COUNT(*)
          - (CAST(SUM(x) AS DOUBLE)/COUNT(*)) * (CAST(SUM(x) AS DOUBLE)/COUNT(*)))
     * sqrt(CAST(SUM(y*y) AS DOUBLE)/COUNT(*)
          - (CAST(SUM(y) AS DOUBLE)/COUNT(*)) * (CAST(SUM(y) AS DOUBLE)/COUNT(*))))
  AS corr_price_qty
FROM u
GROUP BY l_returnflag
"""


@register("agg_corr_price_qty", oracle=_CORR_ORACLE)
def agg_corr_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from exact integer sums (Σx Σy Σxy Σx² Σy²),
    combined in ONE identical double expression on both engines — the
    same order-independence discipline as agg_stats_distribution; Spark's
    built-in ``corr`` is a running float moment and is deliberately not
    used on the oracle path."""
    li = t(spark, sf_dir, "lineitem")
    u = li.select(
        "l_returnflag", cents("l_extendedprice").alias("x"), cents("l_quantity").alias("y")
    )
    n = F.count(F.lit(1))
    sx = F.sum("x").cast("double") / n
    sy = F.sum("y").cast("double") / n
    sxy = F.sum(F.col("x") * F.col("y")).cast("double") / n
    sxx = F.sum(F.col("x") * F.col("x")).cast("double") / n
    syy = F.sum(F.col("y") * F.col("y")).cast("double") / n
    corr = (sxy - sx * sy) / (F.sqrt(sxx - sx * sx) * F.sqrt(syy - sy * sy))
    return u.groupBy("l_returnflag").agg(n.alias("n"), corr.alias("corr_price_qty"))


@register(
    "order_limit_top_orders",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
)
def order_limit_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit (TakeOrderedAndProject — no full sort at scale)."""
    orders = t(spark, sf_dir, "orders")
    return orders.select("o_orderkey", "o_custkey", "o_totalprice").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    ).limit(100)


@register(
    "date_functions_revenue",
    oracle=f"""
SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(quarter(l_shipdate) AS INT) AS ship_quarter,
  SUM({sql_cents('l_extendedprice')}*(100-{sql_cents('l_discount')}))/10000.0 AS revenue,
  COUNT(*) AS n
FROM lineitem
GROUP BY 1, 2
""",
)
def date_functions_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date part extraction + aggregation (year/quarter on timestamp_ntz)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.year("l_shipdate").cast("int").alias("ship_year"),
            F.quarter("l_shipdate").cast("int").alias("ship_quarter"),
        )
        .agg(
            (F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))) / F.lit(10000.0)).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "range_join_size_buckets",
    oracle="""
SELECT b.bucket, COUNT(*) AS n_parts, MIN(p_size) AS min_size, MAX(p_size) AS max_size
FROM part p
JOIN (VALUES ('small', 0, 9), ('medium', 10, 24), ('large', 25, 50))
  AS b(bucket, lo, hi)
  ON p.p_size BETWEEN b.lo AND b.hi
GROUP BY b.bucket
""",
)
def range_join_size_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join against a broadcast bucket dimension.

    The non-equi side is broadcast → BroadcastNestedLoopJoin over 3 rows;
    at 100 TB the fact side streams through without a shuffle.
    """
    part = t(spark, sf_dir, "part")
    buckets = spark.createDataFrame(
        [("small", 0, 9), ("medium", 10, 24), ("large", 25, 50)],
        ["bucket", "lo", "hi"],
    )
    return (
        part.join(
            F.broadcast(buckets),
            (part.p_size >= buckets.lo) & (part.p_size <= buckets.hi),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("p_size").alias("min_size"),
            F.max("p_size").alias("max_size"),
        )
    )


@register(
    "pivot_status_by_flag",
    oracle=f"""
SELECT l_returnflag,
  SUM({sql_cents('l_quantity')}) FILTER (WHERE l_linestatus = 'O')/100.0 AS "O",
  SUM({sql_cents('l_quantity')}) FILTER (WHERE l_linestatus = 'F')/100.0 AS "F"
FROM lineitem
GROUP BY l_returnflag
""",
)
def pivot_status_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation) with an explicit value list."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(cents("l_quantity")) / F.lit(100.0))
    )


_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""


@register("q4_order_priority", oracle=_Q4_ORACLE)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: correlated EXISTS as a left-semi join with a non-equi
    term (l_shipdate > o_orderdate), then a priority histogram. The date
    filter prunes orders before the join, so the semi-join probe side is
    small at any scale."""
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_Q6_ORACLE = f"""
SELECT SUM({sql_cents('l_extendedprice')} * {sql_cents('l_discount')})/10000.0 AS revenue,
       COUNT(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND {sql_cents('l_discount')} BETWEEN 2 AND 6
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", oracle=_Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: pure scan-filter-aggregate. Every predicate is a
    parquet-pushable comparison; the plan is one WholeStageCodegen scan with
    a map-side partial sum — the shape to beat at 100 TB."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & cents("l_discount").between(2, 6)
        & (F.col("l_quantity") < 24)
    ).agg(
        (F.sum(cents("l_extendedprice") * cents("l_discount")) / F.lit(10000.0)).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


_Q7_ORACLE = f"""
SELECT s_nationkey, c_nationkey,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       SUM({sql_cents('l_extendedprice')}*(100-{sql_cents('l_discount')}))/10000.0 AS revenue,
       COUNT(*) AS n
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
WHERE s_nationkey < 5 AND c_nationkey < 5 AND s_nationkey <> c_nationkey
GROUP BY 1, 2, 3
"""


@register("q7_volume_shipping", oracle=_Q7_ORACLE)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style: cross-nation shipping volume by year. supplier and
    customer joins are AQE's choice (both scale with SF); the one
    guaranteed shuffle is orders⋈lineitem on the order key, reused by the
    aggregation."""
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5)
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 5)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            "s_nationkey",
            "c_nationkey",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            (F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))) / F.lit(10000.0)).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


_Q10_ORACLE = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       SUM({sql_cents('l_extendedprice')}*(100-{sql_cents('l_discount')}))/10000.0 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("q10_returned_items", oracle=_Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: revenue lost to returns, top-20 customers.
    Returnflag filter pushes to the lineitem scan; fixed-size nation is
    pinned broadcast, SF-proportional customer is left to AQE."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            (F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))) / F.lit(10000.0)).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "c_acctbal", "n_name", "revenue")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_Q12_ORACLE = """
SELECT l_returnflag,
       COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_lines,
       COUNT(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_lines
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
"""


@register("q12_priority_lines", oracle=_Q12_ORACLE)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style: conditional counting (CASE aggregation) after a
    fact-fact join."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_lines"),
            F.count(F.when(~high, 1)).alias("low_lines"),
        )
    )


_Q14_ORACLE = f"""
SELECT 100.0 * SUM(CASE WHEN p_type = 'PROMO'
                        THEN {sql_cents('l_extendedprice')}*(100-{sql_cents('l_discount')})
                        ELSE 0 END)
             / SUM({sql_cents('l_extendedprice')}*(100-{sql_cents('l_discount')})) AS promo_share,
       COUNT(*) AS n
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
"""


@register("q14_promo_revenue", oracle=_Q14_ORACLE)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style: promo revenue share — ratio of two exact integer
    sums divided once at the end (bit-stable across engines)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    part = t(spark, sf_dir, "part")
    dp = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", dp).otherwise(F.lit(0)))
                / F.sum(dp)
            ).alias("promo_share"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_Q18_ORACLE = f"""
SELECT c_custkey, c_name, o_orderkey, o_totalprice, big.sum_qty
FROM (
  SELECT l_orderkey, SUM({sql_cents('l_quantity')})/100.0 AS sum_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM({sql_cents('l_quantity')}) > 20000
) big
JOIN orders ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@register("q18_large_orders", oracle=_Q18_ORACLE)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: large-volume orders (HAVING over a grouped fact,
    joined back to its dimensions, global top-100)."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(cents("l_quantity")).alias("qty_c"))
        .filter(F.col("qty_c") > 20000)
        .select("l_orderkey", (F.col("qty_c") / F.lit(100.0)).alias("sum_qty"))
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


_Q19_ORACLE = f"""
SELECT SUM({sql_cents('l_extendedprice')}*(100-{sql_cents('l_discount')}))/10000.0 AS revenue,
       COUNT(*) AS n
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 50)
"""


@register("q19_disjunctive_pred", oracle=_Q19_ORACLE)
def q19_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style: disjunction of conjunctive predicates across both
    join sides — Catalyst keeps the join equi (p_partkey) and evaluates the
    OR as a post-join filter."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")

    def arm(brand: str, size_hi: int, q_lo: int, q_hi: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )

    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(arm("Brand#12", 15, 1, 21) | arm("Brand#23", 25, 10, 30) | arm("Brand#34", 35, 20, 50))
        .agg(
            (F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))) / F.lit(10000.0)).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


_Q22_ORACLE = f"""
WITH stats AS (
  SELECT SUM({sql_cents('c_acctbal')}) AS total_c, COUNT(*) AS cnt
  FROM customer WHERE c_acctbal > 0
)
SELECT c_custkey, c_name, c_acctbal
FROM customer, stats
WHERE {sql_cents('c_acctbal')} * cnt > total_c
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
"""


@register("q22_idle_rich_customers", oracle=_Q22_ORACLE)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style: above-average balance customers with no recent
    orders. The average comparison is done in cross-multiplied integer
    units (bal*n > total) so both engines decide every boundary row
    identically — no float threshold."""
    cust = t(spark, sf_dir, "customer")
    stats = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.sum(cents("c_acctbal")).alias("total_c"), F.count(F.lit(1)).alias("cnt"))
    )
    recent = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "2000-01-01")
    return (
        cust.crossJoin(F.broadcast(stats))
        .filter(cents("c_acctbal") * F.col("cnt") > F.col("total_c"))
        .join(recent, F.col("c_custkey") == recent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    )


_Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


@register("q13_customer_distribution", oracle=_Q13_ORACLE)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style: two-level aggregation over a LEFT join (customers
    with zero orders count as c_count=0 — count(col) skips the nulls the
    outer join manufactures)."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_Q15_ORACLE = f"""
WITH rev AS (
  SELECT l_suppkey,
         SUM({sql_cents('l_extendedprice')}*(100-{sql_cents('l_discount')})) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, r/10000.0 AS total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE r = (SELECT MAX(r) FROM rev)
"""


@register("q15_top_supplier", oracle=_Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style: supplier(s) with the quarter's max revenue — the
    scalar-subquery max compared in exact integer units (no float
    tie-miss). The rev aggregate is computed once per branch; AQE reuses
    the shuffle."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    supp = t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))).alias("r")
    )
    max_r = rev.agg(F.max("r").alias("mr"))
    return (
        rev.join(F.broadcast(max_r), rev.r == max_r.mr)
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", (F.col("r") / F.lit(10000.0)).alias("total_revenue"))
    )


_Q17_ORACLE = f"""
WITH pa AS (
  SELECT l_partkey AS pk, COUNT(*) AS cnt,
         SUM({sql_cents('l_quantity')}) AS qty_c
  FROM lineitem GROUP BY l_partkey
)
SELECT COUNT(*) AS n_small,
       SUM({sql_cents('l_extendedprice')})/100.0 AS small_revenue
FROM lineitem JOIN pa ON l_partkey = pk
WHERE {sql_cents('l_quantity')} * 2 * cnt < qty_c
"""


@register("q17_small_quantity", oracle=_Q17_ORACLE)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style: lineitems under half their part's average quantity.
    The avg comparison is cross-multiplied into integers (qty*2*n < Σqty)
    so both engines decide every boundary row identically."""
    li = t(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).alias("cnt"), F.sum(cents("l_quantity")).alias("qty_c")
    )
    return (
        li.join(pa, li.l_partkey == pa.pk)
        .filter(cents("l_quantity") * 2 * F.col("cnt") < F.col("qty_c"))
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            (F.sum(cents("l_extendedprice")) / F.lit(100.0)).alias("small_revenue"),
        )
    )


_STATS_ORACLE = f"""
WITH u AS (
  SELECT o_orderpriority,
         {sql_cents('o_totalprice')} AS price_c,
         CAST(ROUND(o_totalprice, 0) AS BIGINT) AS price_u
  FROM orders
)
SELECT o_orderpriority,
       COUNT(*) AS n,
       SUM(price_c)/(100.0*COUNT(*)) AS mean_price,
       quantile_cont(price_c, 0.5)/100.0 AS p50,
       quantile_cont(price_c, 0.9)/100.0 AS p90,
       (CAST(SUM(price_u*price_u) AS DOUBLE)
        - CAST(SUM(price_u) AS DOUBLE)*CAST(SUM(price_u) AS DOUBLE)/COUNT(*))
       / COUNT(*) AS var_pop_units
FROM u
GROUP BY o_orderpriority
"""


@register("agg_stats_distribution", oracle=_STATS_ORACLE)
def agg_stats_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution statistics per priority: exact percentiles (Spark
    ``percentile`` == DuckDB ``quantile_cont`` bit-for-bit on integer
    units) and population variance computed from exact integer sums with
    one identical double expression at the end — never a running float
    moment, whose accumulation order would differ between engines."""
    orders = t(spark, sf_dir, "orders")
    u = orders.select(
        "o_orderpriority",
        cents("o_totalprice").alias("price_c"),
        F.round(F.col("o_totalprice"), 0).cast("long").alias("price_u"),
    )
    n = F.count(F.lit(1))
    sx = F.sum("price_u").cast("double")
    sxx = F.sum(F.col("price_u") * F.col("price_u")).cast("double")
    return u.groupBy("o_orderpriority").agg(
        n.alias("n"),
        (F.sum("price_c") / (F.lit(100.0) * n)).alias("mean_price"),
        (F.expr("percentile(price_c, 0.5)") / F.lit(100.0)).alias("p50"),
        (F.expr("percentile(price_c, 0.9)") / F.lit(100.0)).alias("p90"),
        ((sxx - sx * sx / n) / n).alias("var_pop_units"),
    )


@register(
    "scalar_math_functions",
    oracle=f"""
SELECT o_orderpriority,
       CAST(SUM(abs({sql_cents('o_totalprice')} - 25000000)) AS BIGINT) AS sum_abs_dev_c,
       MAX(sqrt(CAST({sql_cents('o_totalprice')} AS DOUBLE))) AS max_sqrt_c,
       CAST(SUM(CAST(floor(o_totalprice/100000) AS BIGINT)) AS BIGINT) AS sum_bucket,
       COUNT(*) FILTER (WHERE {sql_cents('o_totalprice')} % 2 = 0) AS n_even_cents
FROM orders
GROUP BY o_orderpriority
""",
)
def scalar_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar functions (abs/sqrt/floor/mod) under aggregation —
    restricted to IEEE-deterministic operations (sqrt is correctly-rounded
    everywhere; ln/exp are libm-dependent and deliberately excluded from
    the oracle contract)."""
    orders = t(spark, sf_dir, "orders")
    price_c = cents("o_totalprice")
    return orders.groupBy("o_orderpriority").agg(
        F.sum(F.abs(price_c - F.lit(25_000_000))).alias("sum_abs_dev_c"),
        F.max(F.sqrt(price_c.cast("double"))).alias("max_sqrt_c"),
        F.sum(F.floor(F.col("o_totalprice") / F.lit(100_000)).cast("long")).alias("sum_bucket"),
        F.count(F.when(price_c % 2 == 0, 1)).alias("n_even_cents"),
    )


@register(
    "scalar_string_functions",
    oracle="""
SELECT p_type,
       upper(substr(p_name, 1, 4)) AS name_prefix,
       COUNT(*) AS n,
       MAX(length(p_name)) AS max_name_len
FROM part
GROUP BY 1, 2
""",
)
def scalar_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar functions (upper/substr/length) inside an aggregation."""
    part = t(spark, sf_dir, "part")
    return part.groupBy(
        "p_type", F.upper(F.substring("p_name", 1, 4)).alias("name_prefix")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.length("p_name")).alias("max_name_len"),
    )


@register(
    "window_analytics",
    oracle="""
SELECT o_custkey, o_orderkey,
       LAG(o_totalprice) OVER w AS prev_price,
       LEAD(o_totalprice) OVER w AS next_price,
       NTILE(4) OVER w AS quartile,
       percent_rank() OVER w AS pct_rank,
       FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
         ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_order,
       LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
         ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic window-function family in one plan: lag/lead (offset),
    ntile (bucketing), percent_rank (relative position), first/last value
    over the full partition frame. One shuffle on the partition key serves
    every function; the unique-key tiebreaker (o_orderkey) makes all seven
    outputs deterministic. lag/lead pass the raw double through untouched
    (bit-identical to the oracle's parquet read)."""
    orders = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.first("o_orderkey").over(wfull).alias("first_order"),
        F.last("o_orderkey").over(wfull).alias("last_order"),
    )


@register(
    "join_full_outer_daily",
    oracle="""
SELECT COALESCE(o.d, l.d) AS d, o.n_orders, l.n_ship
FROM (SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS d, COUNT(*) AS n_orders
      FROM orders GROUP BY 1) o
FULL JOIN (SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS d, COUNT(*) AS n_ship
           FROM lineitem GROUP BY 1) l
ON o.d = l.d
""",
)
def join_full_outer_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join: daily order counts vs daily shipment counts —
    null-padded on BOTH sides (dates with orders but no shipments and vice
    versa genuinely occur at the calendar edges). Both inputs are already
    aggregated, so the outer join runs on two small grouped sides — at
    scale it is a shuffle on the date key, never a fact-fact outer blowup."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    o = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    l = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("d")
    ).agg(F.count(F.lit(1)).alias("n_ship"))
    return o.join(l, ["d"], "full_outer").select("d", "n_orders", "n_ship")


@register(
    "setop_bag_semantics",
    oracle="""
SELECT 'except_all' AS op, k FROM (
  SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
  EXCEPT ALL
  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
)
UNION ALL
SELECT 'intersect_all' AS op, k FROM (
  SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
  INTERSECT ALL
  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
)
""",
)
def setop_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (ALL) set operators — ``exceptAll`` / ``intersectAll`` —
    the bag-semantics twins of the distinct set-op entry. Each plans as one
    count-aggregate per side joined on the key (per-key multiplicity
    arithmetic), not a row-by-row comparison; one shuffle per side."""
    orders = t(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    fstat = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    )
    exc = urgent.exceptAll(fstat).select(F.lit("except_all").alias("op"), "k")
    inter = urgent.intersectAll(fstat).select(F.lit("intersect_all").alias("op"), "k")
    return exc.union(inter)


@register(
    "orderby_global_sort",
    oracle="""
SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders
WHERE o_totalprice > 450000
ORDER BY o_totalprice DESC, o_orderkey
""",
)
def orderby_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY of the full (filtered) result — unlike the top-k
    entries this keeps every row, so Catalyst plans a range-partitioned
    exchange (sampled split points) + per-partition sort instead of
    TakeOrderedAndProject: the scalable total-sort shape, no single-node
    sort, no driver collect."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_totalprice") > 450000)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


@register(
    "agg_salted_skew",
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS n,
       SUM({sql_cents('l_quantity')})/100.0 AS sum_qty,
       MAX({sql_cents('l_extendedprice')})/100.0 AS max_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase aggregation (operators/skew.py salted_agg) over
    a deliberately hot grouping key (l_returnflag: 3 distinct values across
    the whole fact table — the worst case for a 1-shuffle groupBy, where 3
    reducers own everything). Salting spreads each key over 16 partitions
    for the partial phase; the final phase merges ≤16 partial rows per key.
    Salting is semantics-neutral, so the oracle is the PLAIN GROUP BY — the
    mitigation must not change a single bit of the answer."""
    from sparkstreamingrealtimedatawithkafka_spark.operators.skew import salted_agg

    li = t(spark, sf_dir, "lineitem")
    return salted_agg(
        li,
        keys=["l_returnflag"],
        partial_aggs=[
            F.count(F.lit(1)).alias("pn"),
            F.sum(cents("l_quantity")).alias("pq"),
            F.max(cents("l_extendedprice")).alias("pp"),
        ],
        final_aggs=[
            F.sum("pn").alias("n"),
            (F.sum("pq") / F.lit(100.0)).alias("sum_qty"),
            (F.max("pp") / F.lit(100.0)).alias("max_price"),
        ],
    )


@register(
    "generator_explode_outer",
    oracle="""
WITH arr AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), t -> len(t) >= 9) AS longs
  FROM documents
)
SELECT doc_id, tok FROM (
  SELECT doc_id,
         unnest(CASE WHEN len(longs) = 0 THEN [CAST(NULL AS VARCHAR)]
                     ELSE longs END) AS tok
  FROM arr
)
""",
)
def generator_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``explode_outer`` — the null-preserving twin of the reference's
    plain ``explode`` (spark_entity_counter.py:136 silently DROPS rows
    whose array is empty; outer keeps them with a NULL element, which is
    what an audit query needs so failed extractions stay visible).
    Documents with no >=9-char token prove the difference: they appear
    here, and would vanish under plain explode."""
    docs = t(spark, sf_dir, "documents")
    longs = F.filter(
        F.split(F.col("text"), " "), lambda x: F.length(x) >= 9
    )
    return docs.select(
        "doc_id", F.explode_outer(longs).alias("tok")
    )


@register(
    "scalar_regexp_functions",
    oracle="""
SELECT lang,
       CAST(SUM(len(regexp_replace(text, '[aeiou]', '', 'g'))) AS BIGINT) AS sum_vowelless_len,
       CAST(COUNT(*) FILTER (WHERE regexp_matches(text, 'spark|stream')) AS BIGINT) AS n_kw,
       CAST(COUNT(*) FILTER (WHERE regexp_matches(text, '^[a-z]')) AS BIGINT) AS n_lower_start
FROM documents
GROUP BY lang
""",
)
def scalar_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-expression scalar functions — ``regexp_replace`` and
    ``rlike`` — inside an aggregation. Patterns stay in the
    character-class/alternation subset where Java regex (Spark) and RE2
    (DuckDB) agree exactly; all regex work happens JVM-side in one codegen
    stage before the single shuffle."""
    docs = t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.sum(F.length(F.regexp_replace("text", "[aeiou]", ""))).alias(
            "sum_vowelless_len"
        ),
        F.count(F.when(F.col("text").rlike("spark|stream"), 1)).alias("n_kw"),
        F.count(F.when(F.col("text").rlike("^[a-z]"), 1)).alias("n_lower_start"),
    )


@register(
    "events_map_functions",
    oracle="""
SELECT event_type,
       CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MAX(len(json_keys(props))) AS INT) AS max_n_keys,
       COUNT(*) AS n
FROM events
GROUP BY event_type
""",
)
def events_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: ``from_json`` into ``map<string,bigint>`` then
    ``element_at`` / ``map_keys`` / ``size`` — the dynamic-schema twin of
    the struct-typed events_from_json_struct entry (maps for payloads whose
    key set isn't fixed at plan time). The oracle replays the same values
    through DuckDB's JSON accessors."""
    ev = t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return (
        ev.withColumn("m", m)
        .groupBy("event_type")
        .agg(
            F.sum(F.element_at("m", "k")).alias("sum_k"),
            F.max(F.size(F.map_keys("m"))).alias("max_n_keys"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_Q8_ORACLE = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       SUM(CASE WHEN n2.n_name = 'NATION_3'
                THEN {sql_cents('l_extendedprice')}*(100-{sql_cents('l_discount')})
                ELSE 0 END)/10000.0 AS nation_vol,
       SUM({sql_cents('l_extendedprice')}*(100-{sql_cents('l_discount')}))/10000.0
         AS total_vol,
       CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                     THEN {sql_cents('l_extendedprice')}*(100-{sql_cents('l_discount')})
                     ELSE 0 END) AS BIGINT)
         / CAST(SUM({sql_cents('l_extendedprice')}*(100-{sql_cents('l_discount')}))
                AS BIGINT) AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
JOIN part     ON l_partkey = p_partkey
WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
GROUP BY 1
"""


@register("q8_market_share", oracle=_Q8_ORACLE)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style national market share: one nation's fraction of
    ECONOMY-part revenue sold into AMERICA customers, per order year.

    8-way join; only the fixed-cardinality dims (nation x2, region — 25/5
    rows at ANY scale factor) are pinned broadcast; customer/supplier/part
    scale with SF, so their join strategy is AQE's choice. The share is a
    ratio of two exact integer-cents sums, divided once at the end —
    long/long division is IEEE double in both engines, so it hash-matches
    bit-for-bit."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    nat_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == n1.c_nkey)
        .join(F.broadcast(region), n1.n_regionkey == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == n2.s_nkey)
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (F.sum(nat_vol) / F.lit(10000.0)).alias("nation_vol"),
            (F.sum(vol) / F.lit(10000.0)).alias("total_vol"),
            (F.sum(nat_vol) / F.sum(vol)).alias("mkt_share"),
        )
    )


_Q9_ORACLE = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       SUM({sql_cents('l_extendedprice')}*(100-{sql_cents('l_discount')})
           - {sql_cents('p_retailprice')}*{sql_cents('l_quantity')})/10000.0
         AS sum_profit,
       COUNT(*) AS n_lines
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""


@register("q9_product_profit", oracle=_Q9_ORACLE)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style product-type profit by supplier nation and year.

    The fixtures carry no partsupp table, so unit cost is modeled as
    p_retailprice (the adaptation is the join/agg shape, which is what Q9
    exercises: a 5-way join with a LIKE-filtered part). Profit stays in
    integer units (cents x cents = 10^-4 dollars) until one final divide.
    Only nation (25 rows at any SF) is pinned broadcast."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    orders = t(spark, sf_dir, "orders")
    profit_u = cents("l_extendedprice") * (F.lit(100) - cents("l_discount")) - cents(
        "p_retailprice"
    ) * cents("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            (F.sum(profit_u) / F.lit(10000.0)).alias("sum_profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_Q11_ORACLE = f"""
WITH v AS (
  SELECT l_partkey, SUM({sql_cents('l_extendedprice')}) AS val_c
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT CAST(SUM(val_c) AS BIGINT) AS t, COUNT(*) AS np FROM v)
SELECT l_partkey, val_c/100.0 AS part_value
FROM v, tot
WHERE 5*val_c*np > 6*t
"""


@register("q11_important_parts", oracle=_Q11_ORACLE)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style "important stock" scan: parts whose total lineitem
    value exceeds 1.2x the average part value (a scalar subquery against a
    global aggregate, the defining Q11 shape; the fixture set has no
    partsupp, so value is lineitem revenue).

    The global total is one row — broadcast to every partition, so the
    HAVING is a map-side filter over the grouped values, no second
    shuffle. The 1.2x threshold is the integer comparison
    ``5*val*np > 6*t`` — scale-invariant (both sides grow with SF) and
    exact; at extreme scale the products approach long overflow, at which
    point the same comparison runs in DECIMAL(38,0) unchanged."""
    li = t(spark, sf_dir, "lineitem")
    v = li.groupBy("l_partkey").agg(F.sum(cents("l_extendedprice")).alias("val_c"))
    tot = v.agg(
        F.sum("val_c").alias("t"), F.count(F.lit(1)).alias("np")
    )
    return (
        v.join(F.broadcast(tot))
        .filter(F.lit(5) * F.col("val_c") * F.col("np") > F.lit(6) * F.col("t"))
        .select("l_partkey", (F.col("val_c") / F.lit(100.0)).alias("part_value"))
    )


_Q16_ORACLE = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
  AND p_size BETWEEN 10 AND 20
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
"""


@register("q16_supplier_cnt", oracle=_Q16_ORACLE)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style supplier-count distribution: distinct suppliers per
    (brand, size) for a filtered part family, excluding a NOT-IN supplier
    set (here: negative account balance; the fixture supplier table has no
    comment column).

    The NOT IN becomes a broadcast left-anti join (the exclusion set is a
    filtered scan of supplier — tiny relative to lineitem at every SF, and
    an anti join is the only correct NOT-IN shape under nulls-free keys).
    Part filters push to the parquet scan before the join."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").between(10, 20)
    )
    bad_supp = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q20_ORACLE = f"""
WITH pt AS (
  SELECT l_partkey AS pk, SUM({sql_cents('l_quantity')}) AS tot
  FROM lineitem GROUP BY l_partkey
),
ex AS (
  SELECT l_suppkey FROM lineitem JOIN pt ON l_partkey = pk
  GROUP BY l_suppkey, l_partkey, tot
  HAVING 8*SUM({sql_cents('l_quantity')}) > tot
)
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM ex)
"""


@register("q20_excess_suppliers", oracle=_Q20_ORACLE)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style nested-IN reduction: suppliers who shipped more
    than 1/8 of some part's total volume (the fixtures lack partsupp, so
    "availability exceeds half the demand" becomes "share of shipped
    volume exceeds the threshold" — same nested aggregate-IN shape).

    Both aggregates shuffle on l_partkey (the per-(supp,part) rollup
    re-partitions by partkey for the threshold join), then collapse to a
    distinct supplier set that semi-joins supplier. The semi join is the
    IN; its probe side (supplier) is the small one at every SF."""
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    qty = cents("l_quantity")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(qty).alias("tot")
    )
    per_sp = li.groupBy("l_suppkey", "l_partkey").agg(F.sum(qty).alias("sq"))
    excess = (
        per_sp.join(per_part, per_sp.l_partkey == per_part.pk)
        .filter(F.lit(8) * F.col("sq") > F.col("tot"))
        .select("l_suppkey")
    )
    return supp.join(
        excess, supp.s_suppkey == excess.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


_Q21_ORACLE = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


@register("q21_sole_blame_suppliers", oracle=_Q21_ORACLE)
def q21_sole_blame_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style correlated EXISTS / NOT EXISTS: in finalized
    multi-supplier orders, find the supplier that is the ONLY one whose
    lines were returned (the fixtures lack commit/receipt dates, so "late
    delivery" becomes "returned lines" — the double-correlated-subquery
    shape is untouched).

    EXISTS compiles to a left-semi join and NOT EXISTS to a left-anti
    join, both equi on l_orderkey with the supplier inequality as a
    residual condition — so each is one hash/sort-merge join keyed on the
    order key, reusing the same partitioning, never a cartesian. Ordering
    (numwait DESC, s_name) is total because s_name is unique, making the
    LIMIT deterministic."""
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    waiting = (
        l1.join(orders, l1.ok == orders.o_orderkey, "left_semi")
        .join(l2, (l1.ok == l2.ok2) & (l1.sk != l2.sk2), "left_semi")
        .join(l3, (l1.ok == l3.ok3) & (l1.sk != l3.sk3), "left_anti")
    )
    return (
        waiting.join(supp, waiting.sk == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


_Q2_ORACLE = """
WITH ps AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         MIN(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS cost_c
  FROM lineitem GROUP BY 1, 2
),
elig AS (
  SELECT ps.pk, ps.sk, ps.cost_c, s_name, s_acctbal, n_name
  FROM ps JOIN supplier ON ps.sk = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
mn AS (SELECT pk, MIN(cost_c) AS min_c FROM elig GROUP BY 1)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       elig.cost_c/100.0 AS supply_cost
FROM elig JOIN mn ON elig.pk = mn.pk AND elig.cost_c = mn.min_c
JOIN part ON elig.pk = p_partkey
WHERE p_size >= 30 AND p_type LIKE 'P%'
ORDER BY s_acctbal DESC, elig.sk, p_partkey
LIMIT 100
"""


@register("q2_min_cost_supplier", oracle=_Q2_ORACLE)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style minimum-cost supplier: for each qualifying part, the
    European supplier(s) whose offer price equals the per-part minimum — the
    correlated-scalar-subquery shape (``cost = (SELECT MIN ...)``) expressed
    as a window MIN over the offer table. The fixture has no partsupp
    table, so the part<->supplier offer relation is derived from lineitem
    (MIN(l_extendedprice) per (partkey, suppkey)), keeping Q2's plan shape:
    a grouped offer table, a region-filtered supplier dimension, a
    correlated per-part MIN, and a tie-aware ordered limit.

    Scale notes: the correlated MIN is a window (PARTITION BY partkey),
    NOT an aggregate-and-rejoin — Spark does not common-subexpression the
    two sides of a self-join, so the rejoin form scans and shuffles
    lineitem TWICE (verified in the physical plan); the window form builds
    the offer table once: one shuffle on (partkey, suppkey), one on
    partkey. nation/region are fixed-size -> Catalyst broadcasts them;
    supplier/part are SF-proportional, so their join strategy is left to
    AQE. Prices stay integer cents until the single final division.
    Ref: spark_entity_counter.py:135-139 (groupBy/agg idiom generalized)."""
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region")
    part = t(spark, sf_dir, "part")

    ps = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.min(cents("l_extendedprice")).alias("cost_c"))
    elig = (
        ps.join(supp, ps.sk == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg.filter(F.col("r_name") == "EUROPE")),
              nat.n_regionkey == reg.r_regionkey)
        .select("pk", "sk", "cost_c", "s_name", "s_acctbal", "n_name")
    )
    winners = elig.withColumn(
        "min_c", F.min("cost_c").over(W.partitionBy("pk"))
    ).filter(F.col("cost_c") == F.col("min_c"))
    return (
        winners.join(
            part.filter((F.col("p_size") >= 30) & F.col("p_type").startswith("P")),
            F.col("pk") == F.col("p_partkey"),
        )
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            (F.col("cost_c") / F.lit(100.0)).alias("supply_cost"),
            "sk",
        )
        .orderBy(F.desc("s_acctbal"), "sk", "p_partkey")
        .limit(100)
        .drop("sk")
    )


_UNPIVOT_ORACLE = f"""
WITH a AS (
  SELECT l_returnflag,
         CAST(SUM({sql_cents('l_quantity')}) AS BIGINT) AS sum_qty_c,
         CAST(SUM({sql_cents('l_extendedprice')}) AS BIGINT) AS sum_price_c,
         CAST(SUM({sql_cents('l_discount')}) AS BIGINT) AS sum_disc_c
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty_c' AS metric, sum_qty_c AS value FROM a
UNION ALL
SELECT l_returnflag, 'sum_price_c', sum_price_c FROM a
UNION ALL
SELECT l_returnflag, 'sum_disc_c', sum_disc_c FROM a
"""


@register("unpivot_melt", oracle=_UNPIVOT_ORACLE)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (``DataFrame.unpivot`` — the inverse of
    ``pivot_status_by_flag``): one aggregated row per returnflag melts into
    one row per (returnflag, metric). Unpivot is a zero-shuffle generator
    (each input row expands to k output rows in place), so the only
    exchange in the plan is the upstream aggregation's; values stay
    integer cents so the long format is type-uniform (bigint) without a
    lossy cast. Ref: spark_entity_counter.py:135-139 (agg idiom; reshape
    is an engine extension)."""
    li = t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(cents("l_quantity")).alias("sum_qty_c"),
        F.sum(cents("l_extendedprice")).alias("sum_price_c"),
        F.sum(cents("l_discount")).alias("sum_disc_c"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty_c", "sum_price_c", "sum_disc_c"],
        variableColumnName="metric",
        valueColumnName="value",
    )


_WAVG_ORACLE = f"""
SELECT l_returnflag,
       CAST(SUM({sql_cents('l_extendedprice')} * CAST(l_quantity AS BIGINT)) AS BIGINT)
         / CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wavg_price,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag
"""


@register("udaf_grouped_agg_pandas", oracle=_WAVG_ORACLE)
def udaf_grouped_agg_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via a GROUPED_AGG pandas UDF: quantity-weighted average
    price per returnflag, aggregated in Arrow batches JVM->Python. The UDAF
    extends the reference's scalar-pandas-UDF surface
    (spark_entity_counter.py:45-87) to aggregations — same Arrow transfer,
    but partial aggregation happens per-partition before the group shuffle.

    Determinism: the UDF accumulates exact int64 sums (cents x quantity)
    and performs ONE double division at the end — the oracle replays the
    identical expression, so the result is bit-stable regardless of row
    order or partitioning. Built-in sum/avg would be the production choice;
    this entry exists to pin the UDAF extension point."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wavg(price_c: pd.Series, qty: pd.Series) -> float:
        num = int(price_c.mul(qty).sum())
        den = int(qty.sum())
        return float(num) / float(den) if den else 0.0

    # Spark disallows mixing GROUPED_AGG pandas UDFs with JVM aggregates in
    # one agg(), so the row count is a second pandas UDAF.
    @pandas_udf("long")
    def ucount(qty: pd.Series) -> int:
        return int(len(qty))

    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        wavg(cents("l_extendedprice"), F.col("l_quantity").cast("long")).alias("wavg_price"),
        ucount(F.col("l_quantity").cast("long")).alias("n"),
    )


_LATERAL_ORACLE = """
SELECT b.p_brand, t.p_partkey, t.p_name, t.p_retailprice
FROM (SELECT DISTINCT p_brand FROM part) b,
LATERAL (SELECT p_partkey, p_name, p_retailprice FROM part p
         WHERE p.p_brand = b.p_brand
         ORDER BY p_retailprice DESC, p_partkey LIMIT 2) t
"""


@register("lateral_topk_per_brand", oracle=_LATERAL_ORACLE)
def lateral_topk_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (per-brand ordered LIMIT) through
    spark.sql — the other spelling of top-k-per-group, planned the way it
    must be at scale: Catalyst *decorrelates* the per-group LIMIT into a
    WindowGroupLimit (partial before the shuffle, final after — map-side
    top-k pruning, so only <=2 rows per brand per input partition ever
    shuffle) joined back to the DISTINCT brand list via broadcast. No
    per-group re-execution of the inner query, which is what a naive
    lateral evaluation would do over every one of millions of groups."""
    t(spark, sf_dir, "part").createOrReplaceTempView("part_sql")
    return spark.sql(
        """
        SELECT b.p_brand, t.p_partkey, t.p_name, t.p_retailprice
        FROM (SELECT DISTINCT p_brand FROM part_sql) b,
        LATERAL (SELECT p_partkey, p_name, p_retailprice FROM part_sql p
                 WHERE p.p_brand = b.p_brand
                 ORDER BY p_retailprice DESC, p_partkey LIMIT 2) t
        """
    )


_PIPE_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n,
       SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT))/100.0 AS revenue
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
HAVING COUNT(*) > 10
ORDER BY o_orderpriority
"""


@register("sql_pipe_syntax", oracle=_PIPE_ORACLE)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4): the same logical plan as the classic
    SELECT spelled as a linear ``|>`` dataflow — scan |> filter |>
    aggregate |> filter |> sort. Each stage lowers to the identical
    Catalyst operators (this is syntax, not a new engine path), so
    pushdown/pruning/codegen behave exactly as the classic form — the
    oracle IS the classic form."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_pipe")
    return spark.sql(
        """
        FROM orders_pipe
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE COUNT(*) AS n,
                     SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT))
                       / CAST(100 AS DOUBLE) AS revenue
           GROUP BY o_orderpriority
        |> WHERE n > 10
        |> ORDER BY o_orderpriority
        """
    )


_SCRIPT_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_big
FROM orders
WHERE o_totalprice > 200000.0 AND o_orderstatus = 'O'
GROUP BY o_orderpriority
"""


@register("sql_scripting_block", oracle=_SCRIPT_ORACLE)
def sql_scripting_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4, ``BEGIN..END``): session variables declared
    and consumed inside a procedural block; the block's last statement is
    the result. The variable substitutes at plan time, so the predicate
    still pushes down to the scan — scripting composes control flow
    around plans, it does not interpret rows."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_script")
    prev = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        return spark.sql(
            """
            BEGIN
              DECLARE cutoff DOUBLE DEFAULT 200000.0;
              DECLARE status STRING DEFAULT 'O';
              SELECT o_orderpriority, COUNT(*) AS n_big
              FROM orders_script
              WHERE o_totalprice > cutoff AND o_orderstatus = status
              GROUP BY o_orderpriority;
            END
            """
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", prev)


# cents(value) * 2^40 ± event_id: value dominates, event_id breaks ties
# deterministically (max: prefer LOW id via minus; min: prefer LOW id via
# plus). Fits bigint: max cents ~33k * 2^40 ≈ 3.6e16 << 2^63.
_ARGKEY_HI = 1_099_511_627_776  # 2^40

_ARGMAX_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n,
       arg_max(event_id,
               CAST(ROUND("value"*100,0) AS BIGINT) * {_ARGKEY_HI} - event_id)
         AS max_value_event,
       arg_min(event_id,
               CAST(ROUND("value"*100,0) AS BIGINT) * {_ARGKEY_HI} + event_id)
         AS min_value_event,
       MAX("value") AS max_value,
       MIN("value") AS min_value
FROM events
GROUP BY event_type
"""


@register("agg_argmax_minby", oracle=_ARGMAX_ORACLE)
def agg_argmax_minby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin as single-pass aggregates (``max_by`` / ``min_by``,
    DuckDB arg_max/arg_min): 'which event had the extreme value' WITHOUT
    the window-rank detour — one map-side-combinable aggregation instead
    of a full per-group sort, the cheaper shape whenever only the extreme
    row's companion columns are needed.

    max_by's ordering value is a composite integer (cents * 2^40 ∓
    event_id) so value ties break on event id deterministically in both
    engines — raw max_by on a tied column returns an arbitrary row, which
    can never be hash-checked."""
    ev = t(spark, sf_dir, "events")
    key_hi = cents("value") * F.lit(_ARGKEY_HI)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max_by("event_id", key_hi - F.col("event_id")).alias("max_value_event"),
        F.min_by("event_id", key_hi + F.col("event_id")).alias("min_value_event"),
        F.max("value").alias("max_value"),
        F.min("value").alias("min_value"),
    )


_COVAR_ORACLE = """
SELECT event_type,
       COUNT(*) AS n,
       ROUND(covar_samp("value", user_id % 100), 4) AS cov_s,
       ROUND(covar_pop("value", user_id % 100), 4) AS cov_p,
       ROUND(corr("value", user_id % 100), 4) AS r
FROM events
GROUP BY event_type
"""


@register("agg_covariance", oracle=_COVAR_ORACLE)
def agg_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics aggregates (covar_samp / covar_pop / corr):
    the co-movement family completing the univariate
    ``agg_stats_distribution`` — all single-pass, partial-mergeable
    (Welford-style moment states), so they shard like any sum at 100 TB.
    The 4-dp round absorbs cross-engine summation-order ulps."""
    ev = t(spark, sf_dir, "events")
    x = F.col("user_id") % 100
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.covar_samp("value", x), 4).alias("cov_s"),
        F.round(F.covar_pop("value", x), 4).alias("cov_p"),
        F.round(F.corr("value", x), 4).alias("r"),
    )


_TRY_ARITH_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN l_quantity = 25 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_div_null,
       CAST(SUM(CAST(FLOOR(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
                           / NULLIF(l_quantity - 25, 0)) AS BIGINT))
            AS BIGINT) AS sum_floor_ratio,
       CAST(SUM(CASE WHEN TRY_CAST(l_linestatus AS BIGINT) IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_uncastable
FROM lineitem
GROUP BY l_returnflag
"""


@register("scalar_try_arithmetic", oracle=_TRY_ARITH_ORACLE)
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic (``try_divide`` / ``try_cast``): division by
    zero and bad casts yield NULL instead of failing the job — at 100 TB
    one pathological row must never kill a scan, and the NULLs stay
    countable so data-quality monitoring sees exactly how many rows hit
    each error class.

    The ratio is floored to exact integers before summing (IEEE division
    is correctly rounded in both engines, so the floor is deterministic);
    the DuckDB oracle spells try_divide as NULLIF — same semantics,
    different surface."""
    li = t(spark, sf_dir, "lineitem")
    ratio = F.try_divide(cents("l_extendedprice"), F.col("l_quantity") - 25)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(ratio.isNull().cast("bigint")).alias("n_div_null"),
        F.sum(F.floor(ratio).cast("bigint")).alias("sum_floor_ratio"),
        F.sum(
            F.expr("try_cast(l_linestatus AS BIGINT)").isNull().cast("bigint")
        ).alias("n_uncastable"),
    )


_COLLATION_ORACLE = """
WITH mixed AS (
  SELECT CASE WHEN event_id % 3 = 0 THEN upper(event_type)
              WHEN event_id % 3 = 1 THEN
                upper(substr(event_type, 1, 1)) || substr(event_type, 2)
              ELSE event_type END AS et
  FROM events
)
SELECT lower(et) AS event_type_ci, COUNT(*) AS n
FROM mixed
GROUP BY lower(et)
"""


@register("scalar_collation_group", oracle=_COLLATION_ORACLE)
def scalar_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 ``collate``): the event-type
    column is deliberately case-mangled three ways, then grouped under
    UNICODE_CI — the engine-level answer to case-insensitive semantics
    that otherwise get hand-rolled as lower() sprinkled through every
    predicate (and silently missed in one).

    Collations ride the type, so comparisons, joins and aggregations all
    honor them without expression rewrites; the oracle replays with
    explicit lower() since our mangles are pure ASCII case. The output
    key is lowercased: within a CI group the retained representative's
    case is arbitrary, its lowercase is not."""
    ev = t(spark, sf_dir, "events")
    et = F.col("event_type")
    mixed = ev.select(
        F.when(F.col("event_id") % 3 == 0, F.upper(et))
        .when(F.col("event_id") % 3 == 1, F.initcap(et))
        .otherwise(et)
        .alias("et")
    )
    ci = mixed.select(F.expr("collate(et, 'UNICODE_CI')").alias("et_ci"))
    return (
        ci.groupBy("et_ci")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lower(F.col("et_ci")).cast("string").alias("event_type_ci"), "n"
        )
    )


_PANDAS_API_ORACLE = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MAX(n_chars) AS max_chars
FROM documents
GROUP BY lang
"""


@register("pandas_api_groupby", oracle=_PANDAS_API_ORACLE)
def pandas_api_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas API on Spark (``DataFrame.pandas_api()``): a
    pandas-shaped groupby/agg that plans and executes as ordinary
    distributed Spark under the hood — the migration surface for
    pandas-fluent users, held to the same DuckDB oracle as every native
    entry (the API must not change the answers).

    The conversion is zero-copy at the plan level (same logical plan,
    pandas-flavored frontend); ``to_spark()`` hands the result back to
    the DataFrame world. Ordering/index differences are normalized by the
    final select."""
    docs = t(spark, sf_dir, "documents")
    psdf = docs.select("lang", "n_chars").pandas_api()
    agg = psdf.groupby("lang", as_index=False).agg(
        n_docs=("n_chars", "count"),
        sum_chars=("n_chars", "sum"),
        max_chars=("n_chars", "max"),
    )
    out = agg.to_spark()
    return out.select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("sum_chars").cast("bigint").alias("sum_chars"),
        F.col("max_chars").cast("bigint").alias("max_chars"),
    )


_RECURSIVE_ORACLE = """
WITH RECURSIVE months(m) AS (
  SELECT TIMESTAMP '1995-01-01'
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM months WHERE m < TIMESTAMP '2001-12-01'
),
rev AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         COUNT(*) AS n_orders,
         SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS rev_cents
  FROM orders GROUP BY 1
)
SELECT months.m AS month,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(rev_cents, 0)/100.0 AS revenue
FROM months LEFT JOIN rev ON months.m = rev.m
"""


@register("sql_recursive_cte", oracle=_RECURSIVE_ORACLE)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``): generate the complete
    month dimension between fixed bounds by recursion, LEFT JOIN monthly
    order revenue so empty months surface as explicit zero rows — the
    SQL-native spelling of the gap-fill grid (events_gapfill_resample
    builds the same grid with sequence+explode).

    Scale posture: the recursion materializes the DIMENSION (84 rows),
    never the fact side — each iteration is one tiny UNION ALL step and
    the fact table still aggregates in one ordinary shuffle before a
    broadcast-sized join. Recursion over facts (transitive closure on
    row counts) is the anti-pattern; over calendar/hierarchy dimensions
    it replaces hand-maintained dimension tables."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_rec")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT TIMESTAMP_NTZ '1995-01-01'
          UNION ALL
          SELECT m + INTERVAL '1' MONTH FROM months
          WHERE m < TIMESTAMP_NTZ '2001-12-01'
        ),
        rev AS (
          SELECT date_trunc('MONTH', o_orderdate) AS m,
                 COUNT(*) AS n_orders,
                 SUM(CAST(ROUND(o_totalprice*100, 0) AS BIGINT)) AS rev_cents
          FROM orders_rec GROUP BY 1
        )
        SELECT months.m AS month,
               COALESCE(n_orders, 0) AS n_orders,
               COALESCE(rev_cents, 0)/100.0D AS revenue
        FROM months LEFT JOIN rev ON months.m = rev.m
        """
    )


_BITMAP_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders
GROUP BY o_orderpriority
"""


@register("agg_bitmap_exact_distinct", oracle=_BITMAP_ORACLE)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable bitmaps: bucket each key with
    ``bitmap_bucket_number``, OR the per-bucket bit positions together with
    ``bitmap_construct_agg``, then sum the popcounts.

    This is the scale-out alternative to ``COUNT(DISTINCT)``'s expandable
    two-phase plan when distinct counts are needed per rollup cell or
    re-aggregated across time partitions: bitmaps are associative partial
    states (like sketches) but EXACT — a day's bitmaps OR together into a
    month's without re-reading the month. The oracle is the plain
    COUNT(DISTINCT), which the bitmap pipeline must equal bit-for-bit."""
    o = t(spark, sf_dir, "orders")
    per_bucket = o.groupBy(
        "o_orderpriority",
        F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").alias("bm")
    )
    return per_bucket.groupBy("o_orderpriority").agg(
        F.expr("sum(bitmap_count(bm))").alias("n_customers")
    )


_LISTAGG_ORACLE = """
SELECT o_orderstatus,
       string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS prios
FROM orders
GROUP BY o_orderstatus
"""


@register("agg_listagg_sorted", oracle=_LISTAGG_ORACLE)
def agg_listagg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``listagg`` (Spark 4) with DISTINCT + WITHIN GROUP ordering — the
    deterministic string-aggregation surface. DISTINCT bounds the output
    (5 priorities), because concatenating an unbounded group's raw column
    into one string is an anti-pattern at scale — a group with 10^8 rows
    would materialize one multi-GB string on a single executor."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr(
            "listagg(DISTINCT o_orderpriority, ',') "
            "WITHIN GROUP (ORDER BY o_orderpriority)"
        ).alias("prios")
    )


@register("agg_hll_sketch_mergeable")  # rows-only: the estimate comes from
# Apache DataSketches HLL, which no SQL oracle replays; the mergeability +
# accuracy contracts are pinned exactly in tests/test_hll_sketch.py
def agg_hll_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate distinct: per-priority HLL sketches
    (``hll_sketch_agg``), plus an ALL row whose estimate comes from
    ``hll_union_agg`` over the per-priority partial sketches — never from
    re-scanning the input.

    This partial-sketch-then-merge shape is how a 100 TB pipeline serves
    distinct counts across arbitrary time/partition slices: store one
    small sketch per (partition, group) cell, merge cells at query time.
    Unlike ``approx_count_distinct`` (whose partials are internal), the
    sketch here is a first-class binary value that can be written to a
    table and unioned days later."""
    o = t(spark, sf_dir, "orders")
    per_prio = o.groupBy("o_orderpriority").agg(
        F.expr("hll_sketch_agg(o_custkey)").alias("sk")
    )
    est = per_prio.select(
        "o_orderpriority",
        F.expr("hll_sketch_estimate(sk)").alias("n_customers_est"),
    )
    merged = per_prio.agg(
        F.lit("ALL").alias("o_orderpriority"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("n_customers_est"),
    )
    return est.unionByName(merged)


_UPSERT_ORACLE = """
WITH delta AS (
  SELECT CASE WHEN o_custkey % 2 = 0 THEN o_custkey
              ELSE o_custkey + 10000000 END AS k,
         SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS delta_cents
  FROM orders WHERE o_orderpriority = '1-URGENT'
  GROUP BY 1
)
SELECT COALESCE(c.c_custkey, d.k) AS c_custkey,
       COALESCE(c.c_name, '(new)') AS c_name,
       (COALESCE(CAST(ROUND(c.c_acctbal*100,0) AS BIGINT), 0)
          + COALESCE(d.delta_cents, 0))/100.0 AS balance,
       CASE WHEN c.c_custkey IS NULL THEN 'insert'
            WHEN d.k IS NULL THEN 'keep' ELSE 'update' END AS op
FROM customer c FULL OUTER JOIN delta d ON c.c_custkey = d.k
"""


@register("merge_upsert_scd1", oracle=_UPSERT_ORACLE)
def merge_upsert_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (SCD type 1 upsert) as a plan: apply a keyed
    change-set to a dimension in one FULL OUTER join — matched rows
    update (balance += delta), unmatched-change rows insert, unmatched-base
    rows pass through, each tagged with its ``op``.

    Plain-parquet Spark has no MERGE statement (that's a table-format
    feature — Delta/Iceberg layer it on this exact join + rewrite); the
    join IS the scalable core: one shuffle on the merge key for the delta
    (the dimension side is typically the big one and shuffles once too —
    at 100 TB you bucket the dimension on the key so only the delta
    moves). The change-set here routes half the keys out of the base's
    key space so all three MERGE branches are exercised and checked."""
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    delta = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(
            F.when(F.col("o_custkey") % 2 == 0, F.col("o_custkey"))
            .otherwise(F.col("o_custkey") + 10_000_000)
            .alias("k")
        )
        .agg(F.sum(cents("o_totalprice")).alias("delta_cents"))
    )
    merged = cust.join(delta, cust.c_custkey == delta.k, "full_outer")
    return merged.select(
        F.coalesce("c_custkey", "k").alias("c_custkey"),
        F.coalesce("c_name", F.lit("(new)")).alias("c_name"),
        (
            (F.coalesce(cents("c_acctbal"), F.lit(0)) + F.coalesce("delta_cents", F.lit(0)))
            / F.lit(100.0)
        ).alias("balance"),
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("k").isNull(), "keep")
        .otherwise("update")
        .alias("op"),
    )


_SCD2_ORACLE = """
WITH chg AS (
  SELECT o_custkey AS k, CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS eff,
         SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS delta_cents
  FROM orders WHERE o_orderpriority = '1-URGENT'
  GROUP BY 1, 2
),
versions AS (
  SELECT c_custkey AS k, TIMESTAMP '1990-01-01' AS valid_from,
         CAST(ROUND(c_acctbal*100,0) AS BIGINT) AS bal_cents
  FROM customer
  UNION ALL
  SELECT c.c_custkey, chg.eff,
         CAST(ROUND(c.c_acctbal*100,0) AS BIGINT)
           + SUM(chg.delta_cents) OVER (PARTITION BY chg.k ORDER BY chg.eff
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
  FROM chg JOIN customer c ON c.c_custkey = chg.k
)
SELECT k AS c_custkey, valid_from, bal_cents/100.0 AS balance,
       lead(valid_from) OVER (PARTITION BY k ORDER BY valid_from) AS valid_to,
       lead(valid_from) OVER (PARTITION BY k ORDER BY valid_from) IS NULL
         AS is_current
FROM versions
"""


@register("merge_scd2_history", oracle=_SCD2_ORACLE)
def merge_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type 2 (versioned history): every balance change opens a new
    version row; ``valid_to`` is the next version's ``valid_from`` (lead
    window) and the open version is ``is_current``. With
    ``merge_upsert_scd1`` this completes the warehouse MERGE family:
    type 1 overwrites in place, type 2 keeps the full history — the shape
    every compliance-grade dimension needs.

    Scale: one shuffle keys the change stream (groupBy), one window pass
    assigns intervals per key — interval assignment never compares rows
    across keys, so it shards like any keyed window. The cumulative
    balance is exact integer cents under the running-sum window."""
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    chg = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
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
    changed = (
        chg.join(cust, chg.k == cust.c_custkey)
        .select(
            "k",
            F.col("eff").alias("valid_from"),
            (cents("c_acctbal") + F.sum("delta_cents").over(cum)).alias("bal_cents"),
        )
    )
    versions = base.unionByName(changed)
    nxt = W.partitionBy("k").orderBy("valid_from")
    return versions.select(
        F.col("k").alias("c_custkey"),
        "valid_from",
        (F.col("bal_cents") / F.lit(100.0)).alias("balance"),
        F.lead("valid_from").over(nxt).alias("valid_to"),
        F.lead("valid_from").over(nxt).isNull().alias("is_current"),
    )


# Histogram-quantile binning: bucket width in cents ($25) and decile count.
_QB_W = 2500
_QB_D = 10

_QBUCKET_ORACLE = f"""
WITH r AS (
  SELECT o_orderkey, {sql_cents('o_totalprice')} AS cents FROM orders
), h AS (
  SELECT cents//{_QB_W} AS bucket, COUNT(*) AS cnt FROM r GROUP BY 1
), cum AS (
  SELECT bucket,
    CAST(SUM(cnt) OVER (ORDER BY bucket) - cnt AS BIGINT) AS cum_before,
    CAST(SUM(cnt) OVER () AS BIGINT) AS n
  FROM h
), m AS (
  SELECT bucket, CAST(1 + ({_QB_D} * cum_before) // n AS BIGINT) AS decile FROM cum
)
SELECT r.o_orderkey, r.cents, r.cents//{_QB_W} AS bucket, m.decile
FROM r JOIN m ON r.cents//{_QB_W} = m.bucket
"""


@register("quantile_bucket_assignment", oracle=_QBUCKET_ORACLE)
def quantile_bucket_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass histogram-quantile binning: assign every order a price
    DECILE without ever globally sorting the data — the scalable
    replacement for ``ntile(10) OVER (ORDER BY price)``, whose empty
    partitionBy moves 100 TB through one partition.

    Pass 1 collapses the corpus to a fixed-width histogram (bucket =
    cents div 2500, one map-side-combinable aggregation; thousands of
    buckets regardless of row count). Pass 2 runs the cumulative scan
    over the HISTOGRAM (a window over #buckets rows, not #rows) and maps
    each bucket to ``1 + (10 * rows_before_bucket) div n`` — then a
    broadcast join stamps the decile back onto the rows. Deciles are
    bucket-granular (ties and co-bucketed values share a decile), which
    is the standard accuracy trade of histogram quantiles; width is the
    precision dial. Everything is int64 arithmetic — exact on both
    engines by construction."""
    orders = t(spark, sf_dir, "orders")
    r = orders.select("o_orderkey", cents("o_totalprice").alias("cents")).withColumn(
        "bucket", F.expr(f"cents div {_QB_W}")
    )
    h = r.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    m = h.select(
        "bucket",
        (F.sum("cnt").over(wcum) - F.col("cnt")).alias("cum_before"),
        F.sum("cnt").over(wall).alias("n"),
    ).select(
        "bucket",
        F.expr(f"CAST(1 + ({_QB_D} * cum_before) div n AS BIGINT)").alias("decile"),
    )
    return r.join(F.broadcast(m), "bucket").select(
        "o_orderkey", "cents", "bucket", "decile"
    )


_PROFILE_ORACLE = """
SELECT 'o_orderkey' AS col, COUNT(*) AS n, COUNT(o_orderkey) AS n_nonnull,
       COUNT(DISTINCT o_orderkey) AS n_distinct,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_v, CAST(MAX(o_orderkey) AS VARCHAR) AS max_v
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*), COUNT(o_custkey), COUNT(DISTINCT o_custkey),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
       MIN(o_orderstatus), MAX(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*), COUNT(o_orderpriority), COUNT(DISTINCT o_orderpriority),
       MIN(o_orderpriority), MAX(o_orderpriority)
FROM orders
"""


@register("profile_table_columns", oracle=_PROFILE_ORACLE)
def profile_table_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality column profile (row/non-null/distinct counts, min/max
    rendered as strings) for four orders columns in ONE scan — the audit
    every ingest runs before trusting a 100 TB drop.

    The profile is a single groupBy-less aggregation with 4x4
    map-side-combinable aggregates (count_distinct included — Spark plans
    multi-distinct via Expand, still one pass over the scan), then an
    unpivot-by-construction via a struct array explode so the result is
    long-form (col, stats) — the shape a quality dashboard joins against
    thresholds. A per-column loop of scans would read the table four
    times; this reads it once."""
    o = t(spark, sf_dir, "orders")
    agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            a
            for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
            for a in (
                F.count(c).alias(f"nn_{c}"),
                F.countDistinct(c).alias(f"nd_{c}"),
                F.min(c).cast("string").alias(f"mn_{c}"),
                F.max(c).cast("string").alias(f"mx_{c}"),
            )
        ],
    )
    cols = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col("n").alias("n"),
                F.col(f"nn_{c}").alias("n_nonnull"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_v"),
                F.col(f"mx_{c}").alias("max_v"),
            )
            for c in cols
        ]
    )
    return agg.select(F.explode(rows).alias("r")).select("r.*")


_RI_ORACLE = """
SELECT 'lineitem.l_orderkey -> orders' AS fk_name, COUNT(*) AS n_violations
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IS NULL
UNION ALL
SELECT 'orders.o_custkey -> customer', COUNT(*)
FROM orders od LEFT JOIN customer c ON od.o_custkey = c.c_custkey
WHERE c.c_custkey IS NULL
UNION ALL
SELECT 'lineitem.l_partkey -> part', COUNT(*)
FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_partkey IS NULL
UNION ALL
SELECT 'lineitem.l_suppkey -> supplier', COUNT(*)
FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE s.s_suppkey IS NULL
"""


@register("audit_referential_integrity", oracle=_RI_ORACLE)
def audit_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan-count per foreign key across the
    star schema, each as an ANTI join (the orphan-detection shape — never
    a full outer materialization). Dimension sides broadcast or
    sort-merge at AQE's discretion; each constraint is one join + one
    count, unioned into the long-form report a contract checker consumes.
    Zero rows violated is the expected fixture state — the entry proves
    the CHECK runs, and the count columns make any future fixture drift
    a visible nonzero, not a silent pass."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    p = t(spark, sf_dir, "part")
    s = t(spark, sf_dir, "supplier")

    def orphans(child, ckey, parent, pkey, label):
        return (
            child.join(parent, child[ckey] == parent[pkey], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_violations"))
            .select(F.lit(label).alias("fk_name"), "n_violations")
        )

    return (
        orphans(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey -> orders")
        .unionByName(orphans(o, "o_custkey", c, "c_custkey", "orders.o_custkey -> customer"))
        .unionByName(orphans(li, "l_partkey", p, "p_partkey", "lineitem.l_partkey -> part"))
        .unionByName(orphans(li, "l_suppkey", s, "s_suppkey", "lineitem.l_suppkey -> supplier"))
    )


_REGR_ORACLE = f"""
WITH r AS (
  SELECT l_returnflag AS flag,
         CAST(ROUND(l_quantity*100,0) AS BIGINT) AS x,
         {sql_cents('l_extendedprice')} AS y
  FROM lineitem
), s AS (
  SELECT flag, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x*y) AS HUGEINT) AS sxy, CAST(SUM(x*x) AS HUGEINT) AS sxx
  FROM r GROUP BY flag
)
SELECT flag, n,
  ROUND(CAST(n*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
        / CAST(n*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE), 8) AS slope,
  ROUND((CAST(sy AS DOUBLE) - CAST(n*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
         / CAST(n*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE) * CAST(sx AS DOUBLE))
        / CAST(n AS DOUBLE), 6)
    AS intercept
FROM s
"""


@register("agg_linear_regression", oracle=_REGR_ORACLE)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form least-squares regression per group (price vs quantity
    slope/intercept) built from EXACT integer moment sums — the one-pass
    distributed shape for 'fit a line per key' at 100 TB: four
    map-side-combinable SUMs and a COUNT, no iterative solver, no
    per-group data movement.

    Spark's/DuckDB's built-in ``regr_slope`` accumulate in floats whose
    summation order differs per engine; here Σx, Σy, Σxy, Σx² are exact
    int64/decimal sums (cents-scaled, order-independent) and the
    slope/intercept divisions are expression-identical doubles on both
    sides, so the result hash-matches bit-for-bit. Sums of products use
    128-bit accumulation (DECIMAL(38,0) / HUGEINT) because cents² x 600M
    rows overflows int64 at scale."""
    li = t(spark, sf_dir, "lineitem")
    r = li.select(
        F.col("l_returnflag").alias("flag"),
        cents("l_quantity").alias("x"),
        cents("l_extendedprice").alias("y"),
    )
    s = r.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx").cast("decimal(38,0)") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx").cast("decimal(38,0)") * F.col("sx")).cast(
        "double"
    )
    slope = num / den
    intercept = (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / F.col(
        "n"
    ).cast("double")
    return s.select(
        "flag",
        "n",
        F.round(slope, 8).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


_EXEC_IMM_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n, CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice >= 150000.0
GROUP BY o_orderpriority
"""


@register("sql_execute_immediate", oracle=_EXEC_IMM_ORACLE)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized dynamic SQL (Spark 4): ``EXECUTE IMMEDIATE`` over a
    query template with ``USING`` bind parameters, the table name bound
    through the injection-safe ``IDENTIFIER()`` clause instead of string
    concatenation — the surface multi-tenant query services need (the
    tenant picks the table and thresholds; the TEXT of the statement
    never changes, so neither can its shape).

    Parameters bind at plan time — the bound predicate pushes down to the
    scan exactly as a literal would; dynamic SQL costs nothing at
    execution. The session variables holding the binds are declared and
    consumed in the same session (no scripting block needed for
    EXECUTE IMMEDIATE itself)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_exec")
    spark.sql("DECLARE OR REPLACE VARIABLE tbl STRING DEFAULT 'orders_exec'")
    spark.sql("DECLARE OR REPLACE VARIABLE status_v STRING DEFAULT 'F'")
    spark.sql("DECLARE OR REPLACE VARIABLE cutoff_v DOUBLE DEFAULT 150000.0")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority, COUNT(*) AS n,
                  CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
           FROM IDENTIFIER(?)
           WHERE o_orderstatus = ? AND o_totalprice >= ?
           GROUP BY o_orderpriority'
          USING tbl, status_v, cutoff_v
        """
    )


# RFM reference date: just past the fixture's last order (2001-08-01).
_RFM_REF_DAY = 11_566  # 2001-09-01 as days since epoch

_RFM_ORACLE = f"""
WITH per_cust AS (
  SELECT o_custkey,
    {_RFM_REF_DAY} - CAST(MAX(epoch(o_orderdate))//86400 AS BIGINT) AS r_days,
    COUNT(*) AS f_orders,
    CAST(SUM({sql_cents('o_totalprice')}) AS BIGINT) AS m_cents
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT o_custkey,
    CASE WHEN r_days <= 365 THEN 3 WHEN r_days <= 1095 THEN 2 ELSE 1 END AS r_score,
    CASE WHEN f_orders >= 20 THEN 3 WHEN f_orders >= 10 THEN 2 ELSE 1 END AS f_score,
    CASE WHEN m_cents >= 300000000 THEN 3 WHEN m_cents >= 150000000 THEN 2 ELSE 1 END
      AS m_score,
    m_cents
  FROM per_cust
)
SELECT r_score, f_score, m_score,
       COUNT(*) AS n_customers,
       CAST(SUM(m_cents) AS BIGINT) AS segment_cents
FROM scored GROUP BY r_score, f_score, m_score
"""


@register("customer_rfm_segments", oracle=_RFM_ORACLE)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic warehouse cohorting op:
    per-customer Recency (days since last order vs a fixed reference
    date), Frequency (order count) and Monetary (lifetime cents), each
    bucketed 1-3, then segment-level counts and revenue.

    Two map-side-combinable aggregations (per-customer roll-up, then
    27-segment roll-up) — no window, no sort; recency stays in exact
    integer epoch-days (``epoch div 86400`` under the pinned UTC session)
    and money in cents, so every segment boundary is an integer
    comparison both engines evaluate identically."""
    o = t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        (
            F.lit(_RFM_REF_DAY)
            - (F.unix_timestamp(F.max("o_orderdate")) / 86400).cast("long")
        ).alias("r_days"),
        F.count(F.lit(1)).alias("f_orders"),
        F.sum(cents("o_totalprice")).alias("m_cents"),
    )
    score = lambda c, hi, mid: (  # noqa: E731
        F.when(c >= hi, 3).when(c >= mid, 2).otherwise(1)
    )
    scored = per_cust.select(
        F.when(F.col("r_days") <= 365, 3)
        .when(F.col("r_days") <= 1095, 2)
        .otherwise(1)
        .alias("r_score"),
        score(F.col("f_orders"), 20, 10).alias("f_score"),
        score(F.col("m_cents"), 300_000_000, 150_000_000).alias("m_score"),
        "m_cents",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("m_cents").alias("segment_cents"),
    )


_PARETO_ORACLE = f"""
WITH rev AS (
  SELECT l_partkey, CAST(SUM({sql_cents('l_extendedprice')}) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey, cents,
    ROW_NUMBER() OVER (ORDER BY cents DESC, l_partkey) AS rnk,
    CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
    COUNT(*) OVER () AS n_parts,
    CAST(SUM(cents) OVER () AS BIGINT) AS total_cents
  FROM rev
)
SELECT CAST(1 + (10*(rnk-1))//n_parts AS BIGINT) AS revenue_decile,
       COUNT(*) AS n_parts,
       CAST(SUM(cents) AS BIGINT) AS decile_cents,
       CAST(MAX(cum_cents)//(MAX(total_cents)//1000000) AS BIGINT) AS cum_share_ppm
FROM ranked
GROUP BY 1
"""


@register("revenue_pareto_curve", oracle=_PARETO_ORACLE)
def revenue_pareto_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / revenue-concentration curve: rank products by revenue,
    split the ranking into deciles, and report each decile's revenue plus
    the CUMULATIVE share at its boundary (exact parts-per-million) — the
    'top 10% of products make X% of revenue' report.

    Scale shape — exact global rank + prefix sum WITHOUT a global window
    (the part table grows linearly with SF, so an unpartitioned
    row_number would funnel every part through one task at 100x; the r5
    review named this the scale killer). Two-level decomposition, the
    ``pack_blocks``/``quantile_bucket_assignment`` composite:

      1. one groupBy(l_partkey) partial aggregation (the only
         corpus-sized shuffle);
      2. each part lands in one of 1024 FIXED-WIDTH value buckets over
         [min,max] cents (one-row stats broadcast). Bucket index is a
         monotone function of cents, so the (cents desc, partkey) order
         never straddles a bucket mid-tie — ties share a cents value and
         therefore a bucket;
      3. per-bucket counts/sums -> prefix offsets via a window over the
         1024-row bucket table (fixed size, NOT SF-proportional — the
         quantile-histogram posture), broadcast back;
      4. within-bucket rank/cumsum via windows PARTITIONED BY bucket —
         parallel across buckets; global rank/cumsum = bucket offset +
         local.

    Cumulative share is integer ppm computed as ``cum div (total div
    1e6)`` — the denominator is divided rather than the numerator
    multiplied so the intermediate never overflows int64 at 100 TB
    revenue totals — and no float accumulation can drift between
    engines."""
    NBKT = 1024
    li = t(spark, sf_dir, "lineitem")
    # rev feeds three consumers (stats, bucketing, bucket offsets);
    # localCheckpoint materializes the catalog-sized aggregate once so the
    # fact scan runs once, not per-branch (self-referencing-plan recompute).
    rev = (
        li.groupBy("l_partkey")
        .agg(F.sum(cents("l_extendedprice")).alias("cents"))
        .localCheckpoint()
    )
    stats = rev.agg(
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("cents").alias("total_cents"),
    )
    # bucket 0 = highest revenue; (mx - cents) * NBKT stays < 2^63 because
    # cents spans are per-part revenues (~1e13 at 100 TB), not corpus sums.
    bucketed = rev.join(F.broadcast(stats)).withColumn(
        "bkt",
        F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
            ((F.col("mx") - F.col("cents")) * NBKT)
            / (F.col("mx") - F.col("mn") + 1)
        ).cast("long"),
    )
    offsets = (
        bucketed.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("n_b"), F.sum("cents").alias("s_b"))
        .select(
            "bkt",
            F.coalesce(
                F.sum("n_b").over(
                    W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("rnk_off"),
            F.coalesce(
                F.sum("s_b").over(
                    W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("cum_off"),
        )
    )
    wb = W.partitionBy("bkt").orderBy(F.desc("cents"), F.asc("l_partkey"))
    ranked = (
        bucketed.join(F.broadcast(offsets), "bkt")
        .select(
            "cents",
            "n_parts",
            "total_cents",
            (F.col("rnk_off") + F.row_number().over(wb)).alias("rnk"),
            (
                F.col("cum_off")
                + F.sum("cents").over(wb.rowsBetween(W.unboundedPreceding, 0))
            ).alias("cum_cents"),
        )
    )
    return (
        ranked.groupBy(
            F.expr("CAST(1 + (10*(rnk-1)) div n_parts AS BIGINT)").alias(
                "revenue_decile"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("decile_cents"),
            F.expr("CAST(MAX(cum_cents) div (MAX(total_cents) div 1000000) AS BIGINT)").alias(
                "cum_share_ppm"
            ),
        )
    )


_BASKET_ORACLE = """
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pair_n AS (
  SELECT a.l_partkey AS part_a, c.l_partkey AS part_b, COUNT(*) AS n_ab
  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
  GROUP BY 1, 2
), part_n AS (
  SELECT l_partkey, COUNT(*) AS n FROM b GROUP BY 1
), tot AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM b
)
SELECT part_a, part_b, n_ab,
  ROUND(CAST(n_ab AS DOUBLE) * n_orders / (pa.n * pb.n), 4) AS lift
FROM pair_n
JOIN part_n pa ON pa.l_partkey = part_a
JOIN part_n pb ON pb.l_partkey = part_b
CROSS JOIN tot
ORDER BY n_ab DESC, part_a, part_b LIMIT 20
"""


@register("basket_affinity_lift", oracle=_BASKET_ORACLE)
def basket_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: the top co-purchased part pairs with their
    LIFT (observed co-occurrence over the independence expectation) — the
    association-rules kernel behind 'frequently bought together'.

    Scale shape: ONE aggregation pass over lineitem builds per-order
    basket arrays (collect_set on the order key — quadratic only in
    basket width, ~7 lines, never in catalog or order count, the same
    bounded-block principle as the LSH buckets), eagerly
    localCheckpointed so the three consumers (pair expansion, per-part
    support, order total) read materialized blocks instead of each
    re-running the scan + distinct — the self-referencing-plan recompute
    that cost 1.7x elsewhere (operators/dedup.py). Per-part support is
    vocabulary-sized and joins back small; the order total is a one-row
    broadcast. Counts are exact integers and lift is the identical
    double expression on both engines; the top-20 cutoff is
    deterministic (n_ab desc, then pair ids)."""
    li = t(spark, sf_dir, "lineitem")
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .localCheckpoint()
    )
    pairs = array_pairs(
        "parts", lambda x, y: F.struct(x.alias("part_a"), y.alias("part_b"))
    )
    pair_n = (
        baskets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    part_n = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    lift = F.round(
        F.col("n_ab").cast("double")
        * F.col("n_orders")
        / (F.col("na") * F.col("nb")),
        4,
    )
    return (
        pair_n.join(
            part_n.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("na")),
            "part_a",
        )
        .join(
            part_n.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("nb")),
            "part_b",
        )
        .crossJoin(F.broadcast(tot))
        .select("part_a", "part_b", "n_ab", lift.alias("lift"))
        .orderBy(F.desc("n_ab"), "part_a", "part_b")
        .limit(20)
    )


_WELCH_ORACLE = f"""
WITH x AS (
  SELECT l_returnflag AS flag,
         CASE WHEN l_discount >= 0.05 THEN 'A' ELSE 'B' END AS arm,
         {sql_cents('l_extendedprice')} AS c
  FROM lineitem
), m AS (
  SELECT flag, arm, COUNT(*) AS n,
         CAST(SUM(c) AS BIGINT) AS s1,
         CAST(SUM(c*c) AS HUGEINT) AS s2
  FROM x GROUP BY flag, arm
), w AS (
  SELECT a.flag,
    a.n AS n_a, b.n AS n_b,
    CAST(a.s1 AS DOUBLE)/a.n AS mean_a, CAST(b.s1 AS DOUBLE)/b.n AS mean_b,
    (CAST(a.s2 AS DOUBLE) - CAST(a.s1 AS DOUBLE)*a.s1/a.n)/(a.n-1) AS var_a,
    (CAST(b.s2 AS DOUBLE) - CAST(b.s1 AS DOUBLE)*b.s1/b.n)/(b.n-1) AS var_b
  FROM m a JOIN m b ON a.flag = b.flag AND a.arm = 'A' AND b.arm = 'B'
)
SELECT flag, n_a, n_b,
  ROUND((mean_a - mean_b)/100.0, 4) AS mean_diff_dollars,
  ROUND((mean_a - mean_b)/sqrt(var_a/n_a + var_b/n_b), 4) AS t_stat
FROM w
"""


@register("ab_test_welch_t", oracle=_WELCH_ORACLE)
def ab_test_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B statistical testing at scale: Welch's t-statistic per segment
    (does a >=5% discount shift line revenue?) computed entirely from
    exact integer moment sums — the experimentation-platform primitive.

    Each arm needs only (n, Σc, Σc²): three map-side-combinable
    aggregates, one shuffle on (segment, arm), a self-join of the tiny
    per-arm stats table, then the mean/variance/t algebra as an
    expression-identical double computation on both engines (the same
    integer-moments discipline as ``agg_linear_regression`` — a
    streaming/accumulator variance like Welford's would diverge between
    engines in the last ulps and break the hash). At 100 TB this shape
    is one pass over the facts regardless of how many segments or arms
    are tested."""
    li = t(spark, sf_dir, "lineitem")
    x = li.select(
        F.col("l_returnflag").alias("flag"),
        F.when(F.col("l_discount") >= 0.05, "A").otherwise("B").alias("arm"),
        cents("l_extendedprice").alias("c"),
    )
    m = x.groupBy("flag", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("s2"),
    )
    a = m.filter(F.col("arm") == "A").select(
        "flag", F.col("n").alias("n_a"), F.col("s1").alias("s1a"), F.col("s2").alias("s2a")
    )
    b = m.filter(F.col("arm") == "B").select(
        "flag", F.col("n").alias("n_b"), F.col("s1").alias("s1b"), F.col("s2").alias("s2b")
    )
    j = a.join(b, "flag")
    mean_a = F.col("s1a").cast("double") / F.col("n_a")
    mean_b = F.col("s1b").cast("double") / F.col("n_b")
    var_a = (
        F.col("s2a").cast("double") - F.col("s1a").cast("double") * F.col("s1a") / F.col("n_a")
    ) / (F.col("n_a") - 1)
    var_b = (
        F.col("s2b").cast("double") - F.col("s1b").cast("double") * F.col("s1b") / F.col("n_b")
    ) / (F.col("n_b") - 1)
    t_stat = (mean_a - mean_b) / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    return j.select(
        "flag",
        "n_a",
        "n_b",
        F.round((mean_a - mean_b) / 100.0, 4).alias("mean_diff_dollars"),
        F.round(t_stat, 4).alias("t_stat"),
    )


_WINDOW_SUITE_ORACLE = """
WITH h AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS cents
  FROM orders WHERE o_custkey % 100 = 0
)
SELECT o_custkey, o_orderkey,
  date_diff('day', LAG(o_orderdate) OVER w, o_orderdate) AS days_since_prev,
  date_diff('day', o_orderdate, LEAD(o_orderdate) OVER w) AS days_to_next,
  ROUND(PERCENT_RANK() OVER (PARTITION BY o_custkey
        ORDER BY cents, o_orderkey), 6) AS price_pct_rank,
  ROUND(CUME_DIST() OVER (PARTITION BY o_custkey
        ORDER BY cents, o_orderkey), 6) AS price_cume_dist,
  NTILE(4) OVER (PARTITION BY o_custkey
        ORDER BY cents, o_orderkey) AS price_quartile
FROM h
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@register("window_function_suite", oracle=_WINDOW_SUITE_ORACLE)
def window_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The navigation/distribution window-function surface in one plan:
    LAG/LEAD (inter-order day gaps), PERCENT_RANK / CUME_DIST / NTILE
    (within-customer price position) — the §2.9 window families not yet
    evidenced by the running-total/top-k entries.

    Scale: every window is PARTITIONED BY customer (parallel across the
    key space — the unpartitioned-window funnel the Pareto fix removed is
    structurally impossible here); both orderings share the customer
    partitioning so one Exchange feeds both Sort+Window pairs.
    PERCENT_RANK and CUME_DIST are exact integer ratios ((r-1)/(n-1),
    r_peers/n) evaluated as identical double divisions; ties are killed
    by the orderkey tiebreak so NTILE is deterministic. The %100 filter
    keeps the oracle comparison set small while exercising full groups."""
    o = t(spark, sf_dir, "orders")
    h = o.filter(F.col("o_custkey") % 100 == 0).select(
        "o_custkey", "o_orderkey", "o_orderdate", cents("o_totalprice").alias("cents")
    )
    wd = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = W.partitionBy("o_custkey").orderBy("cents", "o_orderkey")
    return h.select(
        "o_custkey",
        "o_orderkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(wd)).alias(
            "days_since_prev"
        ),
        F.datediff(F.lead("o_orderdate").over(wd), "o_orderdate").alias(
            "days_to_next"
        ),
        F.round(F.percent_rank().over(wp), 6).alias("price_pct_rank"),
        F.round(F.cume_dist().over(wp), 6).alias("price_cume_dist"),
        F.ntile(4).over(wp).alias("price_quartile"),
    )


_PIT_ORACLE = """
WITH chg AS (
  SELECT o_custkey AS k, CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS eff,
         SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS delta_cents
  FROM orders WHERE o_orderpriority = '1-URGENT'
  GROUP BY 1, 2
),
versions AS (
  SELECT c_custkey AS k, TIMESTAMP '1990-01-01' AS valid_from,
         CAST(ROUND(c_acctbal*100,0) AS BIGINT) AS bal_cents
  FROM customer
  UNION ALL
  SELECT c.c_custkey, chg.eff,
         CAST(ROUND(c.c_acctbal*100,0) AS BIGINT)
           + SUM(chg.delta_cents) OVER (PARTITION BY chg.k ORDER BY chg.eff
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
  FROM chg JOIN customer c ON c.c_custkey = chg.k
),
iv AS (
  SELECT k, valid_from,
         lead(valid_from) OVER (PARTITION BY k ORDER BY valid_from) AS valid_to,
         bal_cents
  FROM versions
),
probes AS (
  SELECT o_orderkey, o_custkey, CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS d
  FROM orders WHERE o_custkey % 50 = 0 AND o_orderpriority <> '1-URGENT'
)
SELECT p.o_orderkey, p.o_custkey, iv.valid_from, iv.bal_cents/100.0 AS balance_asof
FROM probes p JOIN iv ON iv.k = p.o_custkey
  AND iv.valid_from <= p.d AND (iv.valid_to IS NULL OR p.d < iv.valid_to)
"""


@register("scd2_point_in_time_lookup", oracle=_PIT_ORACLE)
def scd2_point_in_time_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) lookup against SCD-2 history: each
    non-urgent order joins the customer-balance VERSION that was valid on
    its order date — the time-travel query every versioned dimension
    exists to answer, completing the SCD family (type 1 overwrite, type 2
    history, and now the consuming lookup).

    Scale: the version table is keyed and interval-assigned per key (the
    ``merge_scd2_history`` construction); the lookup is an EQUI-join on
    the customer key with the interval predicate evaluated inside the
    join — per-key version lists are small (change-count per key), so no
    interval binning is needed, unlike ``events_interval_overlap`` where
    intervals span keys. Balances stay exact integer cents until the
    final division."""
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    orders = t(spark, sf_dir, "orders")
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
    nxt = W.partitionBy("k").orderBy("valid_from")
    iv = (
        base.unionByName(changed)
        .select(
            "k",
            "valid_from",
            F.lead("valid_from").over(nxt).alias("valid_to"),
            "bal_cents",
        )
    )
    probes = orders.filter(
        (F.col("o_custkey") % 50 == 0) & (F.col("o_orderpriority") != "1-URGENT")
    ).select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").cast("timestamp_ntz").alias("d"),
    )
    return probes.join(
        iv,
        (iv.k == probes.o_custkey)
        & (iv.valid_from <= probes.d)
        & (iv.valid_to.isNull() | (probes.d < iv.valid_to)),
    ).select(
        "o_orderkey",
        "o_custkey",
        "valid_from",
        (F.col("bal_cents") / F.lit(100.0)).alias("balance_asof"),
    )


def _pagerank_oracle(iters: int = 5) -> str:
    head = """
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), p AS (
  SELECT a.l_partkey AS pa, c.l_partkey AS pb, COUNT(*) AS n
  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
  GROUP BY 1, 2
), sup AS (
  SELECT GREATEST(2, (COUNT(DISTINCT l_orderkey) * 13) // 1000000) AS min_n
  FROM lineitem
), e AS (
  SELECT pa AS src, pb AS dst FROM p, sup WHERE n >= min_n
  UNION ALL
  SELECT pb AS src, pa AS dst FROM p, sup WHERE n >= min_n
), deg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src
), r0 AS (
  SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg
)"""
    steps = "".join(
        f""", r{i} AS (
  SELECT e.dst AS node, 150000 + (85 * SUM(r{i-1}.r // deg.d)) // 100 AS r
  FROM e JOIN r{i-1} ON r{i-1}.node = e.src JOIN deg ON deg.src = e.src
  GROUP BY e.dst
)"""
        for i in range(1, iters + 1)
    )
    return head + steps + f"""
SELECT node, CAST(r AS BIGINT) AS rank_ppm FROM r{iters}"""


@register("graph_pagerank_copurchase", oracle=_pagerank_oracle(5))
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the co-purchase graph (parts co-occurring
    in >= 2 baskets, undirected): which products sit at the center of the
    purchase network — the iterative-algorithm family member beyond
    connected components, with the same engine discipline: EXACT INTEGER
    ppm ranks (``operators/graph.py pagerank_int``), so five distributed
    iterations hash-check against five unrolled SQL CTE steps — float
    PageRank could never be oracle-gated, because cross-engine float sum
    order diverges.

    Scale: edges come from the bounded-basket pair expansion (quadratic
    only in basket width); the edge+degree table materializes once; each
    iteration is one equi-join + one shuffle on the destination key —
    the textbook Pregel round as DataFrame ops, driven by the graph
    operators' shared loop (``operators.graph._iterate``) with interval
    lineage cuts (checkpoint_interval=4: at this demo depth the five
    rounds run as one unrolled job plus a single mid-loop cut; measured
    2.92 -> 2.34 s at sf0.1)."""
    from sparkstreamingrealtimedatawithkafka_spark.operators.graph import pagerank_int

    pairs = copurchase_pairs(t(spark, sf_dir, "lineitem"))
    return pagerank_int(pairs, "pa", "pb", iterations=5)


_INCR_AGG_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n,
       CAST(SUM({sql_cents('l_extendedprice')}) AS BIGINT) AS rev_cents,
       CAST(MAX({sql_cents('l_extendedprice')}) AS BIGINT) AS max_cents
FROM lineitem GROUP BY 1, 2
"""


@register("incremental_agg_maintenance", oracle=_INCR_AGG_ORACLE)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance: the settled BASE (94% of the
    fact table) is pre-aggregated to mergeable partial state
    (count/sum/max per group), a DELTA batch (6%) aggregates separately,
    and the two STATE tables merge group-wise — the incremental-view
    update that turns a 100 TB nightly recompute into a delta-sized one.
    The oracle is the full recompute, so the entry PROVES
    merge(agg(base), agg(delta)) == agg(base ∪ delta) — exactly the
    algebraic property (commutative-monoid state) that makes count/sum/
    max maintainable and, by its absence, makes naive median NOT.

    Scale: base state is group-cardinality-sized (tiny, persists as a
    table in production); the per-batch cost is one aggregation of the
    delta + a group-keyed merge — the same mergeable-partial-state
    discipline as ``agg_hll_sketch_mergeable`` and the band-index
    incremental dedup, applied to plain relational aggregates."""
    li = t(spark, sf_dir, "lineitem")
    c = cents("l_extendedprice")

    def state(df):
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(c).alias("rev_cents"),
            F.max(c).alias("max_cents"),
        )

    base = state(li.filter(F.col("l_orderkey") % 16 != 0)).localCheckpoint()
    delta = state(li.filter(F.col("l_orderkey") % 16 == 0))
    merged = (
        base.unionByName(delta)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("n").alias("n"),
            F.sum("rev_cents").cast("long").alias("rev_cents"),
            F.max("max_cents").cast("long").alias("max_cents"),
        )
    )
    return merged


_CORRMAT_ORACLE = """
WITH x AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(ROUND(l_extendedprice*100,0) AS BIGINT) AS p,
         CAST(ROUND(l_discount*100,0) AS BIGINT) AS d
  FROM lineitem
), m AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(q) AS HUGEINT) AS sq, CAST(SUM(p) AS HUGEINT) AS sp,
    CAST(SUM(d) AS HUGEINT) AS sd,
    CAST(SUM(q*q) AS HUGEINT) AS sqq, CAST(SUM(p*p) AS HUGEINT) AS spp,
    CAST(SUM(d*d) AS HUGEINT) AS sdd,
    CAST(SUM(q*p) AS HUGEINT) AS sqp, CAST(SUM(q*d) AS HUGEINT) AS sqd,
    CAST(SUM(p*d) AS HUGEINT) AS spd
  FROM x
)
SELECT pair, ROUND(
  (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
  / (sqrt(CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)
     * sqrt(CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy)), 6) AS corr
FROM (
  SELECT 'qty_price' AS pair, n,
         CAST(sqp AS DOUBLE) AS sxy, CAST(sq AS DOUBLE) AS sx,
         CAST(sp AS DOUBLE) AS sy, CAST(sqq AS DOUBLE) AS sxx,
         CAST(spp AS DOUBLE) AS syy FROM m
  UNION ALL
  SELECT 'qty_discount', n, CAST(sqd AS DOUBLE), CAST(sq AS DOUBLE),
         CAST(sd AS DOUBLE), CAST(sqq AS DOUBLE), CAST(sdd AS DOUBLE) FROM m
  UNION ALL
  SELECT 'price_discount', n, CAST(spd AS DOUBLE), CAST(sp AS DOUBLE),
         CAST(sd AS DOUBLE), CAST(spp AS DOUBLE), CAST(sdd AS DOUBLE) FROM m
)
"""


@register("agg_correlation_matrix", oracle=_CORRMAT_ORACLE)
def agg_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation MATRIX (quantity/price/discount) from
    ONE fact pass: ten exact integer moment aggregates (n, three sums,
    three squares, three cross-products in decimal(38,0) — int64 would
    overflow on the squared cents at 100 TB), then the correlation
    algebra on the one-row moment table, unpivoted to long form. The
    profiling companion to ``agg_covariance``: all pairs, one scan,
    mergeable state — where built-in ``corr`` accumulates per-engine
    floats that can never hash-check, and per-pair passes would scan the
    fact table three times."""
    li = t(spark, sf_dir, "lineitem")
    x = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        cents("l_extendedprice").alias("p"),
        cents("l_discount").alias("d"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = x.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").cast("decimal(38,0)").alias("sq"),
        F.sum("p").cast("decimal(38,0)").alias("sp"),
        F.sum("d").cast("decimal(38,0)").alias("sd"),
        F.sum(dec("q") * F.col("q")).alias("sqq"),
        F.sum(dec("p") * F.col("p")).alias("spp"),
        F.sum(dec("d") * F.col("d")).alias("sdd"),
        F.sum(dec("q") * F.col("p")).alias("sqp"),
        F.sum(dec("q") * F.col("d")).alias("sqd"),
        F.sum(dec("p") * F.col("d")).alias("spd"),
    ).localCheckpoint()  # one row; three unpivot branches read blocks,
    # not three fact scans (the self-referencing-plan recompute)
    rows = []
    for pair, sxy, sx, sy, sxx, syy in (
        ("qty_price", "sqp", "sq", "sp", "sqq", "spp"),
        ("qty_discount", "sqd", "sq", "sd", "sqq", "sdd"),
        ("price_discount", "spd", "sp", "sd", "spp", "sdd"),
    ):
        corr = F.round(
            (
                F.col("n").cast("double") * F.col(sxy).cast("double")
                - F.col(sx).cast("double") * F.col(sy).cast("double")
            )
            / (
                F.sqrt(
                    F.col("n").cast("double") * F.col(sxx).cast("double")
                    - F.col(sx).cast("double") * F.col(sx).cast("double")
                )
                * F.sqrt(
                    F.col("n").cast("double") * F.col(syy).cast("double")
                    - F.col(sy).cast("double") * F.col(sy).cast("double")
                )
            ),
            6,
        )
        rows.append(m.select(F.lit(pair).alias("pair"), corr.alias("corr")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


_PPS_ORACLE = f"""
WITH r AS (
  SELECT o_orderkey, {sql_cents('o_totalprice')} AS w FROM orders
), c AS (
  SELECT o_orderkey, w,
    SUM(w) OVER (ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(w) OVER () AS total
  FROM r
)
SELECT o_orderkey, w AS weight_cents
FROM c
WHERE (cum * 1000) // total > ((cum - w) * 1000) // total
"""


@register("sample_weighted_systematic", oracle=_PPS_ORACLE)
def sample_weighted_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (probability proportional to
    size): systematic PPS over the revenue-weighted order stream — a row
    is selected whenever its weight interval [cum-w, cum) crosses one of
    1000 equally-spaced thresholds of the total weight. Exactly the
    estimator survey statistics and data-pipeline downsampling use when
    heavy rows must be overrepresented, and REPRODUCIBLE (pure integer
    arithmetic on a deterministic key order) where exponential-key A-ES
    sampling needs ``pow``/``ln`` whose libm bits differ per engine.

    Scale: the running weight sum is the ONE global prefix sum in the
    repo's inventory, so it uses the ``pack_blocks`` two-level
    decomposition — per-chunk windows in parallel, a chunk-offset prefix
    over the tiny chunk table, broadcast back — never a single-partition
    window over the fact table. Threshold crossing is then a pure
    per-row expression. int64 ``div`` throughout: cum*1000 at 100 TB
    revenue (~1e13 cents) stays under 2^63."""
    o = t(spark, sf_dir, "orders")
    r = o.select("o_orderkey", cents("o_totalprice").alias("w"))
    # two-level prefix sum keyed on o_orderkey div CHUNK (the pack_blocks
    # composite): chunk-local cumsum windows run parallel per chunk
    CHUNK = 4096
    chunked = r.withColumn("chunk", F.expr(f"o_orderkey div {CHUNK}"))
    wloc = W.partitionBy("chunk").orderBy("o_orderkey").rowsBetween(
        W.unboundedPreceding, 0
    )
    local = chunked.select(
        "o_orderkey", "w", "chunk", F.sum("w").over(wloc).alias("cum_local")
    )
    per_chunk = local.groupBy("chunk").agg(F.sum("w").alias("chunk_w"))
    woff = W.orderBy("chunk").rowsBetween(W.unboundedPreceding, -1)
    offsets = per_chunk.select(
        "chunk", F.coalesce(F.sum("chunk_w").over(woff), F.lit(0)).alias("off")
    )
    total = r.agg(F.sum("w").alias("total"))
    picked = (
        local.join(F.broadcast(offsets), "chunk")
        .crossJoin(F.broadcast(total))
        .withColumn("cum", F.col("off") + F.col("cum_local"))
        .filter(
            F.expr("(cum * 1000) div total > ((cum - w) * 1000) div total")
        )
    )
    return picked.select("o_orderkey", F.col("w").alias("weight_cents"))


_TRIANGLE_ORACLE = """
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
  SELECT pa, pb FROM p, sup WHERE n >= min_n
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT pa AS node FROM e UNION ALL SELECT pb AS node FROM e
  ) GROUP BY node
), o AS (
  SELECT CASE WHEN (da.d, e.pa) < (db.d, e.pb) THEN e.pa ELSE e.pb END AS u,
         CASE WHEN (da.d, e.pa) < (db.d, e.pb) THEN e.pb ELSE e.pa END AS v
  FROM e JOIN deg da ON da.node = e.pa JOIN deg db ON db.node = e.pb
), tri AS (
  SELECT w1.u AS a, w1.v AS b, w2.v AS c
  FROM o w1 JOIN o w2 ON w1.u = w2.u AND w1.v < w2.v
  WHERE EXISTS (SELECT 1 FROM o x
                WHERE (x.u = w1.v AND x.v = w2.v) OR (x.u = w2.v AND x.v = w1.v))
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
  SELECT a AS node FROM tri UNION ALL
  SELECT b AS node FROM tri UNION ALL
  SELECT c AS node FROM tri
) GROUP BY node
"""


@register("graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the co-purchase graph (parts
    co-occurring in >= 2 baskets) — the clustering-coefficient numerator
    and the third graph-family member after connected components and
    PageRank.

    Algorithm: degree-oriented wedge enumeration (the "compact-forward"
    scheme from Latapy, "Main-memory triangle computations for very large
    graphs", TCS 2008 — the standard distributed formulation): every edge
    is oriented from its LOWER (degree, id) endpoint to its higher one,
    wedges are enumerated by self-joining oriented edges on their SOURCE,
    and a wedge (u->v, u->w) closes iff the oriented edge v->w or w->v
    exists (left-semi probe). Orienting by degree bounds each node's
    out-degree by O(sqrt(|E|)) on any graph, so the wedge join can never
    blow up on a hub the way a naive undirected enumeration does — THE
    load-bearing trick at 100 TB, where celebrity nodes are guaranteed.
    The (degree, id) composite makes the orientation total and
    deterministic, so the oracle replays it exactly.

    Scale: pair expansion is quadratic only in basket width; the oriented
    edge list materializes once (localCheckpoint) and feeds the wedge
    self-join, the closure probe, and the final explode — three consumers,
    one lineage cut (the self-referencing-plan lesson). Each triangle is
    found exactly once (w1.v < w2.v dedups wedge symmetry), then exploded
    to its three member nodes for the per-node count: one final shuffle
    on the node key."""
    # pairs feeds the degree table AND both sides of the orientation
    # join; without a lineage cut each branch re-runs the basket
    # expansion (the self-referencing-plan recompute trap).
    pairs = copurchase_pairs(t(spark, sf_dir, "lineitem")).localCheckpoint()
    deg = (
        pairs.select(F.col("pa").alias("node"))
        .unionAll(pairs.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("pb"), F.col("d").alias("db"))
    lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    oriented = (
        pairs.join(da, "pa")
        .join(db, "pb")
        .select(
            F.when(lt, F.col("pa")).otherwise(F.col("pb")).alias("u"),
            F.when(lt, F.col("pb")).otherwise(F.col("pa")).alias("v"),
        )
        .localCheckpoint()
    )
    w1 = oriented.select(F.col("u"), F.col("v").alias("b"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("c"))
    wedges = w1.join(w2, "u").filter(F.col("b") < F.col("c"))
    closures = oriented.select(
        F.col("u").alias("b"), F.col("v").alias("c")
    ).unionAll(oriented.select(F.col("v").alias("b"), F.col("u").alias("c")))
    tri = wedges.join(closures, ["b", "c"], "left_semi")
    return (
        tri.select(F.explode(F.array("u", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


_BLOOM_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS rev_cents
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
GROUP BY o_orderpriority
"""


@register("join_bloom_prefilter", oracle=_BLOOM_ORACLE)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join with an explicit BLOOM-FILTER pre-prune built from
    DataFrame primitives: the dim side's keys are folded into an m-bit
    bitmap (two xxhash64 lanes -> word index + bit mask, bit_or per word
    — 2048 bigint words for m=2^17), the bitmap BROADCASTS, and the fact
    side sheds rows whose probe bits miss BEFORE the exact semi-join runs.
    The final semi-join restores exactness, so bloom false positives cost
    only wasted probe rows, never wrong rows — which is why the oracle is
    the plain IN-subquery: the filter is performance-shaping, not
    semantics-bearing.

    This is the runtime-filter pattern Spark applies automatically when
    `spark.sql.optimizer.runtime.bloomFilter.enabled` fires, built
    manually so the engine controls WHEN it applies: at 100 TB the win is
    shedding the fact table's non-matching rows at the SCAN (no shuffle of
    dead rows into the semi-join exchange), for the price of one tiny
    broadcast. The bitmap is ~16 KB regardless of fact size; its word
    join is a broadcast hash join on the word index (2 probes/row), and
    both probes stay in whole-stage codegen.

    Scale: dim aggregation is word-count-bounded (2048 rows); the two
    probe joins broadcast; the only full shuffle left is the final
    group-by — the semi-join's build side is the (SF-proportional) dim
    but its probe side is already bloom-thinned."""
    m_bits = 1 << 17
    n_words = m_bits >> 6
    cust = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    # Two independent hash lanes (different seeds); each key sets one bit
    # per lane. shiftrightunsigned before pmod keeps the sign bit out.
    # shiftleft's amount must be a literal in the Python API, so the mask
    # builds as a SQL expression over the key column name.
    def _lane(name, seed):
        bit = f"pmod(shiftrightunsigned(xxhash64({name}, {seed}), 1), {m_bits})"
        word = F.expr(f"CAST({bit} div 64 AS BIGINT)").alias("word")
        mask = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({bit} % 64 AS INT))").alias("mask")
        return word, mask

    w1, m1 = _lane("c_custkey", 101)
    w2, m2 = _lane("c_custkey", 202)
    bitmap = (
        cust.select(F.explode(F.array(F.struct(w1, m1), F.struct(w2, m2))).alias("s"))
        .select("s.word", "s.mask")
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", cents("o_totalprice").alias("cents")
    )
    ow1, om1 = _lane("o_custkey", 101)
    ow2, om2 = _lane("o_custkey", 202)
    b1 = bitmap.select(F.col("word").alias("w1"), F.col("bits").alias("bits1"))
    b2 = bitmap.select(F.col("word").alias("w2"), F.col("bits").alias("bits2"))
    candidates = (
        orders.withColumn("w1", ow1).withColumn("m1", om1)
        .withColumn("w2", ow2).withColumn("m2", om2)
        .join(F.broadcast(b1), "w1", "left")
        .join(F.broadcast(b2), "w2", "left")
        .filter(
            F.col("bits1").isNotNull()
            & F.col("bits2").isNotNull()
            & F.expr("(bits1 & m1) != 0")
            & F.expr("(bits2 & m2) != 0")
        )
        .select("o_orderkey", "o_custkey", "o_orderpriority", "cents")
    )
    exact = candidates.join(cust, candidates.o_custkey == cust.c_custkey, "left_semi")
    return exact.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("rev_cents"),
    )


_ITEM_COSINE_ORACLE = """
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), co AS (
  SELECT a.l_partkey AS pa, c.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
  GROUP BY 1, 2
), item AS (
  SELECT l_partkey AS item, CAST(COUNT(*) AS BIGINT) AS c_i FROM b GROUP BY 1
), sym AS (
  SELECT pa AS item, pb AS partner, c_ab FROM co WHERE c_ab >= 2
  UNION ALL
  SELECT pb AS item, pa AS partner, c_ab FROM co WHERE c_ab >= 2
), scored AS (
  SELECT s.item, s.partner,
         (s.c_ab * s.c_ab * 1000000) // (ia.c_i * ib.c_i) AS cos2_ppm
  FROM sym s JOIN item ia ON ia.item = s.item JOIN item ib ON ib.item = s.partner
), ranked AS (
  SELECT item, partner, cos2_ppm,
         ROW_NUMBER() OVER (PARTITION BY item ORDER BY cos2_ppm DESC, partner DESC) AS rk
  FROM scored
)
SELECT item, partner, cos2_ppm, CAST(rk AS BIGINT) AS rk FROM ranked WHERE rk <= 3
"""


@register("rec_item_item_cosine", oracle=_ITEM_COSINE_ORACLE)
def rec_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-3 most-similar parts per
    part by co-occurrence cosine over baskets — the "customers also
    bought" recommender. Cosine over binary basket vectors is
    c_ab / sqrt(c_a * c_b); to stay hash-checkable the entry ranks by the
    SQUARED cosine in exact integer ppm — c_ab^2 * 1e6 div (c_a * c_b) —
    which is order-equivalent (all terms nonneg) and bit-identical on any
    engine, where a float sqrt never is. Ties break on the partner id so
    the top-3 cut is total.

    Scale: co-occurrence counts come from the bounded basket pair
    expansion (quadratic in basket width only); the >= 2 support filter
    sheds the long noise tail BEFORE symmetrization; per-item degree is
    one aggregation; the final top-3 is a rank-<=k window partitioned by
    item — planned as WindowGroupLimit, so each shuffle group prunes
    map-side. c_ab^2*1e6 fits int64 while c_ab < 3e6 (a part co-bought
    with one partner 3M times) — far past any per-item basket count."""
    li = t(spark, sf_dir, "lineitem")
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .localCheckpoint()
    )
    pairs = array_pairs("parts", lambda x, y: F.struct(x.alias("pa"), y.alias("pb")))
    co = (
        baskets.select(F.explode(pairs).alias("p"))
        .groupBy("p.pa", "p.pb")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 2)
        # both symmetrization branches read co; both degree joins read
        # item — cut lineage once each or every branch re-expands baskets
        .localCheckpoint()
    )
    item = (
        baskets.select(F.explode("parts").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("c_i"))
        .localCheckpoint()
    )
    sym = co.select(
        F.col("pa").alias("item"), F.col("pb").alias("partner"), "c_ab"
    ).unionAll(
        co.select(F.col("pb").alias("item"), F.col("pa").alias("partner"), "c_ab")
    )
    ia = item.select(F.col("item"), F.col("c_i").alias("ci_a"))
    ib = item.select(F.col("item").alias("partner"), F.col("c_i").alias("ci_b"))
    scored = (
        sym.join(ia, "item")
        .join(ib, "partner")
        .select(
            "item",
            "partner",
            F.expr("(c_ab * c_ab * 1000000) div (ci_a * ci_b)").alias("cos2_ppm"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("item").orderBy(F.desc("cos2_ppm"), F.desc("partner"))
    )
    return (
        scored.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= 3)
        .select("item", "partner", "cos2_ppm", "rk")
    )


_CHECKSUM_DIFF_ORACLE = """
WITH a AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS cents
  FROM orders
), b AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 101 = 0 THEN 'X' ELSE o_orderstatus END AS status,
         CAST(ROUND(o_totalprice*100,0) AS BIGINT)
           + CASE WHEN o_orderkey % 101 = 0 THEN 1 ELSE 0 END AS cents
  FROM orders WHERE o_orderkey % 97 != 0
  UNION ALL
  SELECT o_orderkey + 1000000000 AS k, 'N' AS status,
         CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 211 = 0
)
SELECT COALESCE(a.k, b.k) AS k,
       CASE WHEN a.k IS NULL THEN 'insert'
            WHEN b.k IS NULL THEN 'delete'
            ELSE 'update' END AS op,
       b.status AS new_status, b.cents AS new_cents
FROM a FULL OUTER JOIN b ON a.k = b.k
WHERE a.k IS NULL OR b.k IS NULL
   OR a.status != b.status OR a.cents != b.cents
"""


@register("reconcile_checksum_diff", oracle=_CHECKSUM_DIFF_ORACLE)
def reconcile_checksum_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-pruned table reconciliation: diff two snapshots of a
    100 TB table WITHOUT full-outer-joining every row. Stage 1 reduces
    each snapshot to 4096 bucket checksums (bucket = xxhash64(key) pmod
    4096; checksum = XOR of a row-content hash — xor is order-independent,
    mergeable and overflow-free under ANSI mode, so each side is ONE
    aggregation) and joins the two
    4096-row summaries to find buckets whose checksum OR row-count
    differs. Stage 2 full-outer-joins ONLY the rows of those buckets —
    at 100 TB with a 0.1% drift, ~every bucket with changes is a tiny
    fraction of the table and the expensive join runs on ~0.1% of rows.
    The emitted diff (insert/update/delete per key) is EXACT, which is
    why the oracle is the direct full-outer diff: checksums only decide
    where to look, a masked change would need two 64-bit hash xor-deltas
    to cancel exactly.

    The "modified" snapshot B derives deterministically from A in-query
    (drop keys %97, mutate status+cents on %101, insert shifted keys
    %211), standing in for yesterday's replica; in production B is the
    other table and stage-1 cost is two scans + two 4096-row exchanges.

    Scale: both sides localCheckpoint their snapshot projection once
    (each feeds its checksum agg AND the drill-down join — the
    self-referencing-plan lesson); the changed-bucket set broadcasts
    back as a semi-join filter on both sides."""
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        cents("o_totalprice").alias("cents"),
    )
    snap_a = orders.localCheckpoint()
    snap_b = (
        orders.filter(F.expr("k % 97 != 0"))
        .select(
            "k",
            F.when(F.expr("k % 101 = 0"), F.lit("X")).otherwise(F.col("status")).alias("status"),
            (F.col("cents") + F.when(F.expr("k % 101 = 0"), 1).otherwise(0)).alias("cents"),
        )
        .unionByName(
            orders.filter(F.expr("k % 211 = 0")).select(
                (F.col("k") + 1_000_000_000).alias("k"),
                F.lit("N").alias("status"),
                F.col("cents"),
            )
        )
        .localCheckpoint()
    )

    def summary(df):
        return (
            df.withColumn("bkt", F.expr("pmod(xxhash64(k), 4096)"))
            .withColumn("rh", F.xxhash64("k", "status", "cents"))
            .groupBy("bkt")
            .agg(F.bit_xor("rh").alias("chk"), F.count(F.lit(1)).alias("n"))
        )

    sa = summary(snap_a).select("bkt", F.col("chk").alias("chk_a"), F.col("n").alias("n_a"))
    sb = summary(snap_b).select("bkt", F.col("chk").alias("chk_b"), F.col("n").alias("n_b"))
    changed = (
        sa.join(sb, "bkt", "full_outer")
        .filter(
            F.col("chk_a").isNull()
            | F.col("chk_b").isNull()
            | (F.col("chk_a") != F.col("chk_b"))
            | (F.col("n_a") != F.col("n_b"))
        )
        .select("bkt")
    )
    a_rows = snap_a.withColumn("bkt", F.expr("pmod(xxhash64(k), 4096)")).join(
        F.broadcast(changed), "bkt", "left_semi"
    )
    b_rows = snap_b.withColumn("bkt", F.expr("pmod(xxhash64(k), 4096)")).join(
        F.broadcast(changed), "bkt", "left_semi"
    )
    a2 = a_rows.select(F.col("k").alias("ka"), F.col("status").alias("sa"), F.col("cents").alias("ca"))
    b2 = b_rows.select(F.col("k").alias("kb"), F.col("status").alias("sb"), F.col("cents").alias("cb"))
    diff = a2.join(b2, a2.ka == b2.kb, "full_outer").filter(
        F.col("ka").isNull()
        | F.col("kb").isNull()
        | (F.col("sa") != F.col("sb"))
        | (F.col("ca") != F.col("cb"))
    )
    return diff.select(
        F.coalesce(F.col("ka"), F.col("kb")).alias("k"),
        F.when(F.col("ka").isNull(), "insert")
        .when(F.col("kb").isNull(), "delete")
        .otherwise("update")
        .alias("op"),
        F.col("sb").alias("new_status"),
        F.col("cb").alias("new_cents"),
    )


_SALTED_JOIN_ORACLE = f"""
WITH tier AS (
  SELECT CAST(q AS BIGINT) AS qty_key,
         CASE WHEN q <= 10 THEN 'small' WHEN q <= 30 THEN 'mid' ELSE 'bulk' END AS tier,
         CAST(q * 7 % 25 AS BIGINT) AS rebate_bp
  FROM generate_series(1, 50) AS t(q)
)
SELECT tier,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM({sql_cents('l_extendedprice')} * rebate_bp) AS BIGINT) AS rebate_scaled
FROM lineitem JOIN tier ON CAST(ROUND(l_quantity, 0) AS BIGINT) = qty_key
GROUP BY tier
"""


@register("join_salted_replicated", oracle=_SALTED_JOIN_ORACLE)
def join_salted_replicated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof equi-join (operators/skew.py replicate_broadcast_join):
    lineitem joins a 50-row quantity-tier dim on the rounded quantity — a
    key with 50 distinct values across the whole fact table, so a plain
    shuffle join would hand each reducer ~2% of ALL facts and a hot
    quantity lands one monster partition. The mitigation salts the fact
    side (deterministic row-hash salt, retry-safe) over 8 lanes and
    explodes the dim 8x, joining on (key, salt): every hot key now
    spreads over 8 partitions. AQE's skew split handles sort-merge skew
    when stats see it; this is the explicit operator for when the
    engine must GUARANTEE the spread (or the dim is too big to broadcast
    but small enough to replicate). Salting is semantics-neutral — the
    oracle is the plain join, bit for bit.

    Scale: dim replication costs n_salts x 50 rows (nothing); the fact
    side shuffles once on (key, salt); the rebate aggregation is exact
    integer basis-point arithmetic riding the same exchange."""
    from sparkstreamingrealtimedatawithkafka_spark.operators.skew import (
        replicate_broadcast_join,
    )

    li = t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(ROUND(l_quantity, 0) AS BIGINT)").alias("qty_key"),
        cents("l_extendedprice").alias("price_cents"),
    )
    tier = spark.range(1, 51).select(
        F.col("id").alias("qty_key"),
        F.when(F.col("id") <= 10, "small")
        .when(F.col("id") <= 30, "mid")
        .otherwise("bulk")
        .alias("tier"),
        (F.col("id") * 7 % 25).alias("rebate_bp"),
    )
    joined = replicate_broadcast_join(li, tier, on=["qty_key"], n_salts=8)
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("price_cents") * F.col("rebate_bp")).alias("rebate_scaled"),
    )


_TARGET_ENC_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderpriority AS cat,
         CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS y_cents
  FROM orders
), stats AS (
  SELECT cat, CAST(SUM(y_cents) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
  FROM base GROUP BY cat
)
SELECT o_orderkey, cat,
       CAST(((s - y_cents) * 100) // (n - 1) AS BIGINT) AS te_loo_centicents
FROM base JOIN stats USING (cat)
WHERE o_orderkey % 20 = 0
"""


@register("feature_target_encoding_loo", oracle=_TARGET_ENC_ORACLE)
def feature_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: replace a categorical feature with
    the mean target of its category EXCLUDING the row itself —
    (sum_cat - y_i) / (n_cat - 1) — the standard high-cardinality
    encoder that avoids the self-leakage a plain category mean commits.
    Emitted in exact integer centi-cents (scaled integer division), so
    the encoding hash-checks; float means would diverge per engine.

    Scale: ONE aggregation builds the per-category (sum, n) state —
    vocabulary-sized, mergeable, the same incremental-maintenance shape
    as ``incremental_agg_maintenance`` (production recomputes it per
    delta, not per epoch) — then one equi-join streams the facts past
    it. No window, no per-row second scan: LOO is algebra over the
    category total, not a per-row re-aggregation. The %20 projection
    keeps the emitted sample driver-checkable; the encoder itself runs
    over every row."""
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        cents("o_totalprice").alias("y_cents"),
    )
    stats = orders.groupBy("cat").agg(
        F.sum("y_cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        orders.join(stats, "cat")
        .filter(F.expr("o_orderkey % 20 = 0"))
        .select(
            "o_orderkey",
            "cat",
            F.expr("CAST(((s - y_cents) * 100) div (n - 1) AS BIGINT)").alias(
                "te_loo_centicents"
            ),
        )
    )


_WMEDIAN_ORACLE = f"""
WITH v AS (
  SELECT l_returnflag AS flag, {sql_cents('l_extendedprice')} AS v,
         CAST(ROUND(l_quantity, 0) AS BIGINT) AS w
  FROM lineitem
), tot AS (
  SELECT flag, CAST((SUM(w) + 1) // 2 AS BIGINT) AS thresh,
         CAST(SUM(w) AS BIGINT) AS total_w
  FROM v GROUP BY flag
), c AS (
  SELECT flag, v, CAST(SUM(w) AS BIGINT) AS wv FROM v GROUP BY flag, v
), cum AS (
  SELECT flag, v, SUM(wv) OVER (PARTITION BY flag ORDER BY v) AS cw FROM c
)
SELECT cum.flag AS l_returnflag,
       CAST(MIN(cum.v) AS BIGINT) AS median_cents,
       MIN(tot.total_w) AS total_w
FROM cum JOIN tot ON tot.flag = cum.flag
WHERE cum.cw >= tot.thresh
GROUP BY cum.flag
"""


@register("agg_weighted_median_2pass", oracle=_WMEDIAN_ORACLE)
def agg_weighted_median_2pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median (price weighted by quantity, per return
    flag) without ever sorting fact-cardinality data in one partition:
    the two-pass histogram refinement. Pass 1 aggregates weight into
    fixed-width $1000 value buckets and scans the BUCKET table (≈110
    rows per flag) for the bucket containing the threshold crossing;
    pass 2 re-reads only that bucket's rows and finds the exact crossing
    value inside it. The weighted twin of ``quantile_bucket_assignment``
    and the general recipe for exact order statistics at 100 TB.

    Every quantity is BIGINT (weights, thresholds = (Σw+1) div 2,
    cumulative sums), so the crossing comparison can never ulp-flip.
    Windows are bounded: per-flag bucket table in pass 1, single-bucket
    distinct values in pass 2 — no SF-proportional window partition
    anywhere (the ``revenue_pareto_curve`` lesson applied at design
    time). The oracle affords the direct full cumulative scan; the
    engine never does."""
    width = 100_000  # $1000 buckets in cents
    li = t(spark, sf_dir, "lineitem")
    vals = li.select(
        F.col("l_returnflag").alias("flag"),
        cents("l_extendedprice").alias("v"),
        F.round(F.col("l_quantity"), 0).cast("long").alias("w"),
    )
    b = vals.groupBy("flag", F.expr(f"v div {width}").alias("bkt")).agg(
        F.sum("w").alias("wv")
    )
    wc = W.partitionBy("flag").orderBy("bkt").rowsBetween(W.unboundedPreceding, 0)
    cumb = b.withColumn("cw", F.sum("wv").over(wc))
    tot = b.groupBy("flag").agg(
        F.expr("CAST((sum(wv) + 1) div 2 AS BIGINT)").alias("thresh"),
        F.sum("wv").alias("total_w"),
    )
    wpick = W.partitionBy("flag").orderBy("bkt")
    med_bkt = (
        cumb.join(tot, "flag")
        .filter(F.col("cw") >= F.col("thresh"))
        .withColumn("rn", F.row_number().over(wpick))
        .filter(F.col("rn") == 1)
        .select(
            "flag",
            "bkt",
            (F.col("cw") - F.col("wv")).alias("prior_cw"),
            "thresh",
            "total_w",
        )
    )
    picked = med_bkt.select(
        F.col("flag").alias("mflag"),
        F.col("bkt").alias("mbkt"),
        "prior_cw",
        "thresh",
        "total_w",
    )
    in_bucket = vals.join(
        F.broadcast(picked),
        (F.col("flag") == F.col("mflag"))
        & (F.expr(f"v div {width}") == F.col("mbkt")),
    ).select("flag", "v", "w", "prior_cw", "thresh", "total_w")
    cv = in_bucket.groupBy("flag", "v", "prior_cw", "thresh", "total_w").agg(
        F.sum("w").alias("wv2")
    )
    wc2 = W.partitionBy("flag").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    wpick2 = W.partitionBy("flag").orderBy("v")
    return (
        cv.withColumn("cw2", F.sum("wv2").over(wc2))
        .filter(F.col("prior_cw") + F.col("cw2") >= F.col("thresh"))
        .withColumn("rn", F.row_number().over(wpick2))
        .filter(F.col("rn") == 1)
        .select(
            F.col("flag").alias("l_returnflag"),
            F.col("v").alias("median_cents"),
            "total_w",
        )
    )


# Shared skewness/kurtosis formula over exact power sums — the SAME text
# evaluates in Spark (F.expr) and DuckDB so the double expression trees
# are identical and the 4-dp round hash-checks. Inputs: n plus s1..s4 as
# exact integer sums already cast to DOUBLE columns d1..d4.
_MOMENT_EXPRS = {
    "mean_cents": "ROUND(d1 / n, 4)",
    "m2": "d2 / n - (d1 / n) * (d1 / n)",
    "m3": "d3 / n - 3 * (d1 / n) * (d2 / n) + 2 * (d1 / n) * (d1 / n) * (d1 / n)",
    "m4": (
        "d4 / n - 4 * (d1 / n) * (d3 / n)"
        " + 6 * (d1 / n) * (d1 / n) * (d2 / n)"
        " - 3 * (d1 / n) * (d1 / n) * (d1 / n) * (d1 / n)"
    ),
}
_SKEW_SQL = f"ROUND(({_MOMENT_EXPRS['m3']}) / power({_MOMENT_EXPRS['m2']}, 1.5), 4)"
_KURT_SQL = (
    f"ROUND(({_MOMENT_EXPRS['m4']}) / (({_MOMENT_EXPRS['m2']}) *"
    f" ({_MOMENT_EXPRS['m2']})) - 3, 4)"
)

_MOMENTS_ORACLE = f"""
WITH s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(CAST(c AS HUGEINT)) AS HUGEINT) AS DOUBLE) AS d1,
         CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS d2,
         CAST(SUM(CAST(c AS HUGEINT) * c * c) AS DOUBLE) AS d3,
         CAST(SUM(CAST(c AS HUGEINT) * c * c * c) AS DOUBLE) AS d4
  FROM (SELECT l_returnflag, {sql_cents('l_extendedprice')} AS c FROM lineitem)
  GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       {_MOMENT_EXPRS['mean_cents']} AS mean_cents,
       {_SKEW_SQL} AS skewness,
       {_KURT_SQL} AS kurtosis_excess
FROM s
"""


@register("agg_higher_moments", oracle=_MOMENTS_ORACLE)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis per group from EXACT integer power
    sums (Σc..Σc⁴ accumulated in DECIMAL(38,0) — c⁴ at price scale is
    ~1e28, past BIGINT): one fact pass produces four mergeable integer
    partials per group, and the shape/tail statistics derive from them
    through a formula string shared VERBATIM with the oracle, so both
    engines evaluate the identical double expression tree (built-in
    ``skewness``/``kurtosis`` accumulate floats in engine-specific order
    and can never hash-check — the ``agg_linear_regression`` argument at
    the fourth moment).

    Scale: the only fact-sized stage is the map-side-combinable power-sum
    aggregate; everything after operates on one row per group. The
    raw→central conversion pays ~1e-14 relative cancellation at this
    value range — identical in both engines because the inputs are the
    same exact integers rounded to the same doubles."""
    li = t(spark, sf_dir, "lineitem")
    c = cents("l_extendedprice").cast("decimal(38,0)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(c).cast("double").alias("d1"),
        F.sum(c * c).cast("double").alias("d2"),
        F.sum(c * c * c).cast("double").alias("d3"),
        F.sum(c * c * c * c).cast("double").alias("d4"),
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.expr(_MOMENT_EXPRS["mean_cents"]).alias("mean_cents"),
        F.expr(_SKEW_SQL).alias("skewness"),
        F.expr(_KURT_SQL).alias("kurtosis_excess"),
    )


_SQL_UDF_ORACLE = f"""
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST({sql_cents('l_extendedprice')} AS HUGEINT)
                * (100 - {sql_cents('l_discount')})) AS BIGINT)
         AS disc_cents_sum
FROM lineitem
WHERE l_linestatus IN ('F', 'O')
GROUP BY l_returnflag
"""


@register("sql_udf_create_function", oracle=_SQL_UDF_ORACLE)
def sql_udf_create_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined UDFs (Spark 4 ``CREATE FUNCTION ... RETURN``): a
    scalar SQL UDF computing the exact-integer discounted price and a
    SQL TABLE function supplying the valid-status domain, both consumed
    by a plain aggregate. SQL UDFs are the governance answer to Python
    UDFs — the body is an EXPRESSION the optimizer inlines, so the
    "UDF" costs nothing at runtime and stays inside codegen (a Python
    UDF with the same body would serialize every row).

    Scale: after inlining, the plan is identical to writing the
    expression inline — pushdown, partial aggregation, and codegen all
    apply; the table function's 2-row output reaches the join as a
    broadcast-able local relation. The plan guard asserts no EvalPython
    node exists (the definition of "inlined")."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_sqludf")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION disc_cents(p DOUBLE, d DOUBLE)
        RETURNS BIGINT
        RETURN CAST(ROUND(p*100,0) AS BIGINT)
               * (100 - CAST(ROUND(d*100,0) AS BIGINT))
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION valid_status()
        RETURNS TABLE(st STRING)
        RETURN SELECT explode(array('F', 'O')) AS st
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               SUM(disc_cents(l_extendedprice, l_discount)) AS disc_cents_sum
        FROM lineitem_sqludf
        WHERE l_linestatus IN (SELECT st FROM valid_status())
        GROUP BY l_returnflag
        """
    )


# Expectations evaluated over orders in ONE pass. Each rule is (name,
# violation predicate SQL) — the SAME predicate text runs in Spark and
# DuckDB so the two engines agree by construction.
_EXPECTATION_RULES = [
    ("custkey_not_null", "o_custkey IS NULL"),
    ("totalprice_positive", "o_totalprice <= 0"),
    ("status_in_domain", "o_orderstatus NOT IN ('F', 'O', 'P')"),
    (
        "orderdate_in_range",
        "o_orderdate < DATE '1992-01-01' OR o_orderdate > DATE '1998-12-31'",
    ),
    (
        "priority_format",
        "substr(o_orderpriority, 2, 1) <> '-'"
        " OR substr(o_orderpriority, 1, 1) NOT IN ('1','2','3','4','5')",
    ),
]

_EXPECT_ORACLE = (
    "WITH s AS (SELECT COUNT(*) AS n, "
    + ", ".join(
        f"SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS v{i}"
        for i, (_, pred) in enumerate(_EXPECTATION_RULES)
    )
    + " FROM orders)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{name}' AS rule_name, n AS n_checked,"
        f" CAST(v{i} AS BIGINT) AS n_violations,"
        f" CAST((v{i} * 1000000) // n AS BIGINT) AS violation_ppm FROM s"
        for i, (name, _) in enumerate(_EXPECTATION_RULES)
    )
)


@register("audit_expectations_suite", oracle=_EXPECT_ORACLE)
def audit_expectations_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations suite (the Great-Expectations / DLT
    ``EXPECT`` pattern as a plan): N declarative rules — null checks,
    domain membership, range bounds, format regex — evaluated over the
    table in ONE scan (each rule is a conditional SUM in a single
    aggregate), then unpivoted to a rule-per-row report with violation
    counts and ppm rates. Rule predicates are data, not code: the same
    strings drive both engines and an added rule is one list entry.

    Scale: one map-side-combinable aggregate regardless of rule count
    (rules add columns, never passes); the unpivot runs on ONE row. This
    is the shape that replaces N full-table validation queries with one
    — at 100 TB the difference between an audit you run per-load and one
    you run per-quarter."""
    ev = t(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.when(F.expr(pred), 1).otherwise(0)).alias(f"v{i}")
        for i, (_, pred) in enumerate(_EXPECTATION_RULES)
    ]
    one = ev.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', v{i}" for i, (name, _) in enumerate(_EXPECTATION_RULES)
    )
    return one.selectExpr(
        f"stack({len(_EXPECTATION_RULES)}, {stack_args}) AS (rule_name, viol)",
        "n",
    ).select(
        "rule_name",
        F.col("n").alias("n_checked"),
        F.col("viol").cast("long").alias("n_violations"),
        F.expr("(viol * 1000000) div n").cast("long").alias("violation_ppm"),
    )


_NA_ORACLE = f"""
WITH base AS (
  SELECT CASE WHEN {sql_cents('"value"')} % 7 = 0 THEN NULL
              ELSE {sql_cents('"value"')} END AS v_null,
         CASE WHEN event_type = 'view' THEN NULL ELSE event_type END AS t_null
  FROM events
), filled AS (
  SELECT COALESCE(v_null, -1) AS v,
         CASE COALESCE(t_null, 'unknown')
           WHEN 'click' THEN 'tap' ELSE COALESCE(t_null, 'unknown') END AS t
  FROM base
), grouped AS (
  SELECT t AS final_type, COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN v = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
         CAST(SUM(v) AS BIGINT) AS sum_v_cents
  FROM filled GROUP BY t
)
SELECT * FROM grouped
UNION ALL
SELECT '__kept_after_dropna__', COUNT(*), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
FROM base WHERE v_null IS NOT NULL AND t_null IS NOT NULL
"""


@register("dataframe_na_functions", oracle=_NA_ORACLE)
def dataframe_na_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``DataFrameNaFunctions`` surface — ``na.fill`` (typed default
    substitution), ``na.replace`` (value remapping), ``na.drop``
    (subset-scoped row filtering) — exercised on deterministically
    derived nulls (every 7th cent value, one event type) so the fixture's
    null-free tables still produce a real workout. The report groups by
    the post-fill/replace type with fill counts and exact sums, plus one
    audit row counting survivors of ``na.drop``.

    Scale: all three na operations compile to CASE/COALESCE/IsNotNull
    expressions inside the scan's codegen stage — zero extra passes,
    full pushdown below them where predicates allow. The dropna branch
    re-reads the scan (two result grains, two scans — fused here would
    mean an Expand; both stay pruned to two columns)."""
    ev = t(spark, sf_dir, "events")
    v = cents("value")
    base = ev.select(
        F.when(v % 7 == 0, F.lit(None)).otherwise(v).alias("v_null"),
        F.when(F.col("event_type") == "view", F.lit(None))
        .otherwise(F.col("event_type"))
        .alias("t_null"),
    )
    filled = (
        base.na.fill({"v_null": -1})
        .na.fill({"t_null": "unknown"})
        .na.replace(["click"], ["tap"], subset=["t_null"])
    )
    grouped = filled.groupBy(F.col("t_null").alias("final_type")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("v_null") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_filled"),
        F.sum("v_null").cast("long").alias("sum_v_cents"),
    )
    kept = base.na.drop(subset=["v_null", "t_null"]).agg(
        F.lit("__kept_after_dropna__").alias("final_type"),
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(0).cast("long").alias("n_filled"),
        F.lit(0).cast("long").alias("sum_v_cents"),
    )
    return grouped.unionAll(kept)


# Walk-forward folds: (fold, train_end, embargo_days, test_days). Fixed
# literals — reproducibility is the point of the entry.
_TS_FOLDS = [
    (1, "1994-12-31", 30, 365),
    (2, "1995-12-31", 30, 365),
    (3, "1996-12-31", 30, 365),
]

_TS_SPLIT_ORACLE = (
    "WITH folds(fold, train_end, embargo_d, test_d) AS (VALUES "
    + ", ".join(
        f"({f}, DATE '{te}', {ed}, {td})" for f, te, ed, td in _TS_FOLDS
    )
    + """),
tagged AS (
  SELECT folds.fold,
         CASE
           WHEN o.o_orderdate <= folds.train_end THEN 'train'
           WHEN o.o_orderdate <= folds.train_end
                + TO_DAYS(CAST(folds.embargo_d AS INT)) THEN 'embargo'
           WHEN o.o_orderdate <= folds.train_end
                + TO_DAYS(CAST(folds.embargo_d + folds.test_d AS INT))
             THEN 'test'
         END AS split,
         o.o_totalprice
  FROM orders o CROSS JOIN folds
)
SELECT fold, split, COUNT(*) AS n_orders,
       CAST(SUM("""
    + sql_cents("o_totalprice")
    + """) AS BIGINT) AS sum_cents
FROM tagged WHERE split IS NOT NULL
GROUP BY fold, split
"""
)


@register("split_time_series_purged", oracle=_TS_SPLIT_ORACLE)
def split_time_series_purged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward cross-validation folds with a purge embargo (the
    leakage-safe evaluation split for anything time-ordered — forecasting
    backtests, churn models, market data): each fold trains on history up
    to a cutoff, discards an embargo window after it (events straddling
    the boundary leak label information through lagged features), and
    tests on the following year. Complements the iid ``split_train_valid_
    test`` — hash splits are WRONG for temporal models, and this is the
    replacement.

    Scale: the fold table is K rows and rides a broadcast nested loop
    (every fact row lands in ≤K folds); classification is pure CASE
    inside codegen; then one keyed aggregate over (fold, split). K is a
    constant, so cost is K scans' worth of work fused into one —
    never a shuffle per fold."""
    folds = spark.createDataFrame(
        [
            (f, datetime.date.fromisoformat(te), ed, td)
            for f, te, ed, td in _TS_FOLDS
        ],
        "fold INT, train_end DATE, embargo_d INT, test_d INT",
    )
    o = t(spark, sf_dir, "orders")
    tagged = (
        o.select("o_orderdate", cents("o_totalprice").alias("c"))
        .crossJoin(F.broadcast(folds))
        .select(
            "fold",
            F.when(F.col("o_orderdate") <= F.col("train_end"), "train")
            .when(
                F.col("o_orderdate")
                <= F.expr("train_end + make_interval(0,0,0,embargo_d)"),
                "embargo",
            )
            .when(
                F.col("o_orderdate")
                <= F.expr("train_end + make_interval(0,0,0,embargo_d + test_d)"),
                "test",
            )
            .alias("split"),
            "c",
        )
        .filter(F.col("split").isNotNull())
    )
    return tagged.groupBy("fold", "split").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("c").alias("sum_cents"),
    )


# Count-min sketch geometry: d=4 hash rows, w=256 buckets. Hash rows are
# the Carter-Wegman pairwise-independent family h_s(x) = ((a_s*x + b_s)
# mod p) mod w over the Mersenne prime p=2^31-1 — pure integer
# arithmetic, so it stays inside codegen (an md5 variant measured 4.7s
# at sf0.1 vs ~1s for this) and evaluates bit-identically in DuckDB
# (xxhash64, the usual engine hash, has no DuckDB twin).
_CMS_SEEDS = 4
_CMS_W = 256
_CMS_P = 2_147_483_647
_CMS_A = [1_299_721, 15_485_863, 32_452_843, 49_979_687]
_CMS_B = [104_729, 224_737, 350_377, 479_909]

_CMS_ORACLE = f"""
WITH cnt AS MATERIALIZED (
  SELECT s.seed,
         ((([1299721, 15485863, 32452843, 49979687][s.seed + 1] * (l_partkey % {_CMS_P}) + [104729, 224737, 350377, 479909][s.seed + 1]))
           % {_CMS_P}) % {_CMS_W} AS bucket,
         COUNT(*) AS c
  FROM lineitem, generate_series(0, {_CMS_SEEDS} - 1) AS s(seed)
  GROUP BY 1, 2
), top10 AS (
  SELECT l_partkey, COUNT(*) AS true_n FROM lineitem
  GROUP BY 1 ORDER BY true_n DESC, l_partkey LIMIT 10
), est AS (
  SELECT t.l_partkey, t.true_n, MIN(c.c) AS est_n
  FROM top10 t, generate_series(0, {_CMS_SEEDS} - 1) AS s(seed)
  JOIN cnt c ON c.seed = s.seed
   AND c.bucket = ((([1299721, 15485863, 32452843, 49979687][s.seed + 1] * (t.l_partkey % {_CMS_P})
           + [104729, 224737, 350377, 479909][s.seed + 1])) % {_CMS_P}) % {_CMS_W}
  GROUP BY 1, 2
)
SELECT l_partkey, true_n, CAST(est_n AS BIGINT) AS est_n,
       CAST(est_n - true_n AS BIGINT) AS over_n
FROM est
"""


def _cms_bucket(seed_col, key_col):
    a = F.element_at(
        F.array(*[F.lit(x) for x in _CMS_A]), seed_col.cast("int") + 1
    ).cast("long")
    b = F.element_at(
        F.array(*[F.lit(x) for x in _CMS_B]), seed_col.cast("int") + 1
    ).cast("long")
    return ((a * (key_col.cast("long") % _CMS_P) + b) % _CMS_P) % _CMS_W


@register("agg_countmin_sketch", oracle=_CMS_ORACLE)
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch from DataFrame primitives: d=4 hash rows × w=256
    counters built in ONE aggregate (each fact row contributes d cells,
    generated in-row), then point estimates for the true top-10 keys as
    the min over their d counters — with the overestimate (CMS error is
    one-sided: est ≥ true always; the entry SHOWS the bias instead of
    asserting it away). The DIY posture of ``join_bloom_prefilter``
    applied to frequency estimation: ``count_min_sketch()`` exists in
    Spark but its binary is not comparable across engines, while this
    sketch is bit-identical in both (md5 buckets).

    Scale: the sketch is a d·w-cell mergeable partial state — the
    map-side combine reduces every partition to ≤1024 cells no matter
    how many rows it held, so the shuffle is CONSTANT-size; this is the
    sketch you keep per-partition/per-hour and merge by cell-wise sum
    (the HLL/bitmap posture at matrix shape). The probe joins the
    1024-row counter table as a BROADCAST."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey")
    seeded = li.select(
        "l_partkey",
        F.explode(F.expr(f"sequence(0, {_CMS_SEEDS - 1})")).alias("seed"),
    )
    counters = (
        seeded.withColumn("bucket", _cms_bucket(F.col("seed"), F.col("l_partkey")))
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top10 = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.desc("true_n"), F.asc("l_partkey"))
        .limit(10)
    )
    probes = top10.select(
        "l_partkey",
        "true_n",
        F.explode(F.expr(f"sequence(0, {_CMS_SEEDS - 1})")).alias("seed"),
    ).withColumn("bucket", _cms_bucket(F.col("seed"), F.col("l_partkey")))
    return (
        probes.join(F.broadcast(counters), ["seed", "bucket"])
        .groupBy("l_partkey", "true_n")
        .agg(F.min("c").alias("est_n"))
        .select(
            "l_partkey",
            "true_n",
            "est_n",
            (F.col("est_n") - F.col("true_n")).alias("over_n"),
        )
    )


# The SAME text runs on both engines (temp view vs DuckDB view) — the
# point of the entry is that these three post-2023 SQL conveniences are
# now portable surface, not dialect.
_MODERN_SQL = """
SELECT o_orderstatus,
       o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(SUM(frac_cents) AS BIGINT) AS sum_frac_cents
FROM (
  SELECT o_orderstatus, o_orderpriority,
         CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS cents,
         cents % 100 AS frac_cents
  FROM {tbl}
)
GROUP BY ALL
ORDER BY ALL
"""


@register("sql_modern_surface", oracle=_MODERN_SQL.format(tbl="orders"))
def sql_modern_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern SQL conveniences in one statement: ``GROUP BY ALL``
    (keys inferred from the non-aggregate select list), ``ORDER BY ALL``
    (deterministic ordering over every output column), and a LATERAL
    COLUMN ALIAS (``frac_cents`` computed from the ``cents`` alias in
    the same select list — no self-join or repeated expression; Spark
    does not yet allow a lateral alias as a GROUP BY ALL key, so the
    alias chain lives at detail grain). The statement text
    is shared VERBATIM with the oracle: these began as DuckDB-isms,
    landed in Spark 3.4/4.x, and the entry certifies they mean the same
    thing in both engines.

    Scale: sugar only — the plan is the plain hash aggregate + exchange
    + sort; alias resolution and key inference happen at analysis time
    and cost nothing at runtime."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_modern")
    return spark.sql(_MODERN_SQL.format(tbl="orders_modern"))


# Poisson(1) inverse-CDF thresholds at 16-bit resolution (u16 < t_k -> k
# events; else 7). Python-computed from exp(-1)/k!, frozen as literals so
# both engines branch on identical integers.
_BOOT_THRESH = [24109, 48218, 60273, 64291, 65296, 65497, 65530]
_BOOT_B = 32  # bootstrap replicates (4 md5s/row, 8 16-bit slices each)

_BOOT_W_CASE = (
    "CASE "
    + " ".join(f"WHEN u < {t} THEN {k}" for k, t in enumerate(_BOOT_THRESH))
    + " ELSE 7 END"
)

_BOOT_ORACLE = f"""
WITH rg AS MATERIALIZED (
  SELECT o_orderpriority, {sql_cents('o_totalprice')} AS c, g.g,
         md5(CAST(o_orderkey AS VARCHAR) || ':' || CAST(g.g AS VARCHAR)) AS h
  FROM orders, generate_series(0, {_BOOT_B // 8 - 1}) AS g(g)
), rw AS (
  SELECT o_orderpriority, c, g * 8 + sl.slot AS b,
         CAST(('0x' || substr(h, 1 + sl.slot * 4, 4)) AS BIGINT) AS u
  FROM rg, generate_series(0, 7) AS sl(slot)
), rep AS (
  SELECT o_orderpriority, b,
         CAST(SUM({_BOOT_W_CASE}) AS BIGINT) AS n_b,
         CAST(SUM(CAST({_BOOT_W_CASE} AS HUGEINT) * c) AS HUGEINT) AS s_b
  FROM rw GROUP BY 1, 2
), m AS (
  SELECT o_orderpriority, (s_b * 1000000) // n_b AS m
  FROM rep WHERE n_b > 0
), stats AS (
  SELECT o_orderpriority, CAST(COUNT(*) AS HUGEINT) AS bb,
         SUM(m) AS sm, SUM(m * m) AS sm2
  FROM m GROUP BY 1
), point AS (
  SELECT o_orderpriority, COUNT(*) AS n_orders,
         CAST(SUM({sql_cents('o_totalprice')}) AS HUGEINT) AS s
  FROM orders GROUP BY 1
)
SELECT p.o_orderpriority, p.n_orders,
       CAST((p.s * 1000000) // p.n_orders AS BIGINT) AS mean_micro,
       ROUND(sqrt(CAST(bb * sm2 - sm * sm AS DOUBLE)
                  / CAST(bb * (bb - 1) AS DOUBLE)), 4) AS boot_se_micro
FROM point p JOIN stats USING (o_orderpriority)
"""


@register("sample_poisson_bootstrap", oracle=_BOOT_ORACLE)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Poisson bootstrap — THE distributed bootstrap (Chamandy et al.,
    Google; resampling without coordinating a global multinomial): every
    row independently receives a Poisson(1) weight per replicate, so B
    resampled estimates need one streaming pass and no shared state. Here:
    standard error of mean order value per priority, B=32. Everything
    deterministic and exact where it matters — weights come from 16-bit
    md5 slices pushed through frozen inverse-CDF thresholds (8 replicates
    per md5, the one-hash-many-lanes CMS lesson), replicate means are
    exact integer micro-cents, and the SE's variance numerator
    B·Σm²−(Σm)² is exact HUGEINT/DECIMAL algebra with ONE float sqrt at
    the end (identical bits both engines).

    Scale: cost is (B/8)× the scan for hashing plus B× map-side
    aggregation lanes folding into priority×B cells — no shuffle grows
    with B, no row ever duplicates across machines (the whole point of
    Poisson over multinomial resampling). Zero-weight replicates are
    filtered identically in both engines (n_b > 0) and the SE formula
    uses the surviving count bb, not the constant B."""
    o = t(spark, sf_dir, "orders")
    # Repartition BEFORE the B-lane expansion: the expansion multiplies
    # work 32x, so paying one shuffle of the 1x input to spread it across
    # the cluster is the right trade at any scale (and the fixture's
    # single parquet split otherwise serializes the whole replicate pass
    # on one core — measured 4.3 s -> ~1 s at sf0.1 on local[32]).
    rg = o.select(
        "o_orderpriority", cents("o_totalprice").alias("c"), "o_orderkey"
    ).repartition(spark.sparkContext.defaultParallelism, F.col("o_orderkey")).select(
        "o_orderpriority",
        "c",
        "o_orderkey",
        F.explode(F.expr(f"sequence(0, {_BOOT_B // 8 - 1})")).alias("g"),
    ).withColumn(
        "h",
        F.md5(
            F.concat_ws(
                ":", F.col("o_orderkey").cast("string"), F.col("g").cast("string")
            )
        ),
    )
    rw = rg.select(
        "o_orderpriority",
        "c",
        "g",
        "h",
        F.explode(F.expr("sequence(0, 7)")).alias("slot"),
    ).select(
        "o_orderpriority",
        "c",
        (F.col("g") * 8 + F.col("slot")).alias("b"),
        F.expr("CAST(conv(substring(h, 1 + slot * 4, 4), 16, 10) AS BIGINT)").alias(
            "u"
        ),
    )
    # The replicate aggregate runs per INPUT ROW x B — the query's hot
    # loop — so it stays in int64 (r14: it was DECIMAL(38,0), i.e. one
    # BigDecimal allocation per row-lane; the swap cut the aggregate's
    # executor CPU severalfold with bit-identical output). Exactness
    # bound: s_b = Σ w·c per (priority, replicate) with w ≤ 7, so int64
    # holds while Σ 7·cents per priority < 2^63 — at TPC-H scale ~1.5e11
    # orders x ~1.5e7 cents x 7 ≈ 2e19/5 priorities ≈ 3e18 < 9.2e18, with
    # the oracle's HUGEINT as the cross-check that would fail loudly
    # first. The micro-cent replicate mean keeps EXACT integer semantics
    # through the split floor-div identity
    # (a*k) div n == (a div n)*k + ((a mod n)*k) div n  (a, k, n >= 0),
    # whose intermediates fit int64 where a*k would not; DECIMAL survives
    # only in the B x priority-sized moment table (160 rows), where m²
    # genuinely exceeds int64.
    rep = (
        rw.withColumn("w", F.expr(_BOOT_W_CASE))
        .groupBy("o_orderpriority", "b")
        .agg(
            F.expr("CAST(SUM(w) AS BIGINT)").alias("n_b"),
            F.expr("CAST(SUM(w * c) AS BIGINT)").alias("s_b"),
        )
    )
    m = rep.filter(F.col("n_b") > 0).select(
        "o_orderpriority",
        F.expr(
            "(s_b div n_b) * 1000000 + ((s_b % n_b) * 1000000) div n_b"
        ).alias("m"),
    )
    stats = m.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("bb"),
        F.sum("m").cast("decimal(38,0)").alias("sm"),
        F.sum(F.col("m").cast("decimal(38,0)") * F.col("m")).alias("sm2"),
    )
    point = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents("o_totalprice")).alias("s"),
    )
    return point.join(stats, "o_orderpriority").select(
        "o_orderpriority",
        "n_orders",
        F.expr(
            "(s div n_orders) * 1000000 + ((s % n_orders) * 1000000) div n_orders"
        ).alias("mean_micro"),
        F.expr(
            "ROUND(sqrt(CAST(bb * sm2 - sm * sm AS DOUBLE)"
            " / CAST(bb * (bb - 1) AS DOUBLE)), 4)"
        ).alias("boot_se_micro"),
    )


_PARAM_SQL_ORACLE = f"""
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM({sql_cents('o_totalprice')}) AS BIGINT) AS sum_cents
FROM orders
WHERE o_totalprice >= 150000.0 AND o_orderdate >= DATE '1995-01-01'
GROUP BY o_orderstatus
"""


@register("sql_parameterized_queries", oracle=_PARAM_SQL_ORACLE)
def sql_parameterized_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter ``spark.sql(query, args={...})`` (Spark 3.4+/4):
    the statement carries ``:cutoff`` / ``:since`` markers and values bind
    server-side as typed literals — the injection-safe application surface
    (string-concatenated SQL is the vulnerability class; EXECUTE IMMEDIATE
    + USING covers the dynamic-statement variant, this covers the static
    one every app uses).

    Binds substitute during analysis, so the bound predicates push down
    to the parquet scan exactly as hand-written literals would — the
    plan is byte-identical to the inlined query, which is what the
    oracle runs."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_param")
    return spark.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM orders_param
        WHERE o_totalprice >= :cutoff AND o_orderdate >= :since
        GROUP BY o_orderstatus
        """,
        args={"cutoff": 150000.0, "since": "1995-01-01"},
    )


_HINTS_ORACLE = f"""
SELECT n.n_name,
       COUNT(*) AS n_orders,
       CAST(SUM({sql_cents('o.o_totalprice')}) AS BIGINT) AS sum_cents
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
"""


@register("sql_join_hints", oracle=_HINTS_ORACLE)
def sql_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join strategy hints — the manual override lane for when statistics
    mislead the planner: ``SHUFFLE_HASH`` forces the orders⋈customer join
    to hash (what you pick when the build side fits executor memory but
    exceeds the broadcast threshold — skips both the sort and the
    driver round-trip), and ``MERGE`` forces nation into a sort-merge
    join that broadcasting would otherwise win (the defensive choice
    when a "small" table's size estimate is a lie). The plan guard
    asserts BOTH strategies actually planned — a hint Spark ignores is
    worse than none, because the reader believes it.

    Hints change the PHYSICAL strategy only; results are identical by
    construction, which is exactly what the oracle (the unhinted query)
    certifies."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_h")
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer_h")
    t(spark, sf_dir, "nation").createOrReplaceTempView("nation_h")
    return spark.sql(
        """
        SELECT /*+ SHUFFLE_HASH(c), MERGE(n) */
               n.n_name,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o.o_totalprice*100,0) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM orders_h o
        JOIN customer_h c ON c.c_custkey = o.o_custkey
        JOIN nation_h n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
        """
    )


_IVM_JOIN_ORACLE = f"""
SELECT c.c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM({sql_cents('o.o_totalprice')}) AS BIGINT) AS sum_cents
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
"""


@register("incremental_join_maintenance", oracle=_IVM_JOIN_ORACLE)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized JOIN maintenance — the delta-join identity that
    completes the IVM pair with ``incremental_agg_maintenance``: with
    order deltas ΔO and customer deltas ΔC arriving together,

        (O ∪ ΔO) ⋈ (C ∪ ΔC) = (O ⋈ C) ∪ (ΔO ⋈ C) ∪ ((O ∪ ΔO) ⋈ ΔC)

    — the maintained view is the OLD result plus two delta-sized joins;
    each input row lands in exactly one term (ΔO⋈C covers new-order ×
    old-customer, the last term covers everything touching a new
    customer), so the union is disjoint and needs no dedup. The oracle
    is the full recompute, proving the identity on real data.

    Scale: the nightly 100 TB fact⋈dim recompute becomes two joins whose
    LEFT sides are delta-sized (the big sides are probed, not rebuilt);
    with the view stored group-aggregated (as here), the refresh merges
    group-wise exactly like the agg-IVM entry. This is the algebra
    Materialize/DBSP run continuously, expressed as two DataFrame
    joins."""
    o = t(spark, sf_dir, "orders")
    cu = t(spark, sf_dir, "customer")
    c = cents("o_totalprice")
    o_base, o_delta = (
        o.filter(F.col("o_orderkey") % 16 != 0),
        o.filter(F.col("o_orderkey") % 16 == 0),
    )
    c_base, c_delta = (
        cu.filter(F.col("c_custkey") % 16 != 0),
        cu.filter(F.col("c_custkey") % 16 == 0),
    )

    def state(join_df):
        return join_df.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(c).alias("sum_cents"),
        )

    old_view = state(
        o_base.join(c_base, o_base.o_custkey == c_base.c_custkey)
    ).localCheckpoint()
    d1 = state(o_delta.join(c_base, o_delta.o_custkey == c_base.c_custkey))
    d2 = state(o.join(c_delta, o.o_custkey == c_delta.c_custkey))
    return (
        old_view.unionByName(d1)
        .unionByName(d2)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )


_CACHE_ORACLE = f"""
WITH base AS (
  SELECT o_orderpriority, {sql_cents('o_totalprice')} AS c
  FROM orders WHERE o_orderstatus = 'O'
)
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(c) AS BIGINT) AS sum_cents,
       CAST(MAX(c) AS BIGINT) AS max_cents
FROM base GROUP BY o_orderpriority
"""


@register("sql_table_cache", oracle=_CACHE_ORACLE)
def sql_table_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``CACHE TABLE ... AS SELECT`` — the explicit materialization lane
    for a hot intermediate consumed by many downstream queries: the
    filtered projection is computed once into the columnar in-memory
    store (compressed batches, partition-local) and later plans read
    ``InMemoryTableScan`` instead of re-running the scan+filter. The
    guard asserts the cache is actually IN the plan — a missed cache is
    a silent full recompute. Releasing it is the contract's other half:
    caches pin executor storage memory, so ownership of the release is
    part of the pattern (the entry drops the cached view, which uncaches
    it, after materializing its result; ``UNCACHE`` alone would leave the
    view, and the next call's ``CACHE TABLE`` would fail on it).

    Scale: caching trades storage memory for repeated scan cost — right
    for dimension-sized or aggressively-filtered intermediates, WRONG
    for anything fact-sized (it evicts and thrashes; at 100 TB you
    persist hot intermediates as TABLES — the band-index/IVM pattern —
    and let the page cache do its job)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_cache_src")
    spark.sql("DROP VIEW IF EXISTS orders_hot")
    spark.sql(
        """
        CACHE TABLE orders_hot AS
        SELECT o_orderpriority,
               CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS c
        FROM orders_cache_src WHERE o_orderstatus = 'O'
        """
    )
    result = spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(c) AS BIGINT) AS sum_cents,
               CAST(MAX(c) AS BIGINT) AS max_cents
        FROM orders_hot GROUP BY o_orderpriority
        """
    ).localCheckpoint()
    spark.sql("DROP VIEW orders_hot")
    return result


_NULLSAFE_ORACLE = """
WITH c AS (
  SELECT c_custkey, NULLIF(c_nationkey, 3) AS k FROM customer
), n AS (
  SELECT NULLIF(n_nationkey, 3) AS k, n_name FROM nation
)
SELECT n.n_name, COUNT(*) AS n_customers,
       CAST(SUM(CASE WHEN c.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_key_matches
FROM c JOIN n ON c.k IS NOT DISTINCT FROM n.k
GROUP BY n.n_name
"""


@register("join_nullsafe_eq", oracle=_NULLSAFE_ORACLE)
def join_nullsafe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of silently dropping — the semantics
    integration pipelines need when "unknown" is a legitimate join bucket
    (here NULLIF carves nation 3 into the NULL bucket on both sides; a
    plain `=` join would lose every one of those customers). The count of
    null-key matches is emitted so the difference from `=` is visible in
    the result, not just the plan.

    Scale: `<=>` is still a HASH-JOINABLE equality (null hashes to a
    regular bucket) — Spark plans BroadcastHashJoin here, not the
    BroadcastNestedLoop a `c.k = n.k OR (c.k IS NULL AND n.k IS NULL)`
    rewrite would produce. That plan difference is the whole point at
    100 TB: same semantics, O(n) vs O(n·m)."""
    cu = t(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey"), F.lit(3)).alias("k")
    )
    na = t(spark, sf_dir, "nation").select(
        F.nullif(F.col("n_nationkey"), F.lit(3)).alias("k"), "n_name"
    )
    return (
        cu.join(F.broadcast(na), cu["k"].eqNullSafe(na["k"]))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.when(cu["k"].isNull(), 1).otherwise(0)).alias(
                "n_null_key_matches"
            ),
        )
    )


_GEO_R = 50_000  # radius in micro-units; also the grid cell edge

_GEO_ORACLE = f"""
WITH c AS (
  SELECT c_custkey,
         (CAST(c_custkey AS BIGINT) * 7919) % 1000000 AS x,
         (CAST(c_custkey AS BIGINT) * 104729) % 1000000 AS y
  FROM customer
), s AS (
  SELECT s_suppkey,
         (CAST(s_suppkey AS BIGINT) * 15485863) % 1000000 AS x,
         (CAST(s_suppkey AS BIGINT) * 32452843) % 1000000 AS y
  FROM supplier
)
SELECT s.s_suppkey,
       COUNT(*) AS n_customers_within,
       CAST(MIN((s.x-c.x)*(s.x-c.x) + (s.y-c.y)*(s.y-c.y)) AS BIGINT)
         AS min_d2
FROM s JOIN c
  ON (s.x-c.x)*(s.x-c.x) + (s.y-c.y)*(s.y-c.y)
     <= CAST({_GEO_R} AS BIGINT) * {_GEO_R}
GROUP BY s.s_suppkey
"""


@register("geo_grid_distance_join", oracle=_GEO_ORACLE)
def geo_grid_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join via grid bucketing — the bin-and-refine
    pattern every geo engine (PostGIS, Sedona, H3 pipelines) uses to
    avoid the quadratic distance join: synthetic but deterministic
    integer coordinates in a 10^6-unit square (pure arithmetic of the
    keys, identical cross-engine), cell edge = search radius, so every
    true neighbor pair lands in the same cell or one of its 8 neighbors.
    The SMALL side (suppliers) explodes its 3x3 cell neighborhood; the
    equi-join on (cell_x, cell_y) prunes candidates to ~9 cells' worth of
    points; the EXACT integer squared-distance filter refines. The
    oracle is the brute-force quadratic join — feasible at fixture
    scale, which is exactly why the grid plan has to exist for the real
    one.

    Scale: candidate volume is density x 9 cells x |suppliers| instead
    of |customers| x |suppliers|; the exchange is keyed on cells (a
    uniform synthetic grid here; real-world skew — cities — takes the
    salting treatment of ``agg_salted_skew`` on hot cells). All-BIGINT
    distance math — no floats, no haversine needed inside the gate."""
    R = F.lit(_GEO_R).cast("long")
    cu = t(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey").cast("long") * 7919 % 1000000).alias("x"),
        (F.col("c_custkey").cast("long") * 104729 % 1000000).alias("y"),
    )
    su = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_suppkey").cast("long") * 15485863 % 1000000).alias("x"),
        (F.col("s_suppkey").cast("long") * 32452843 % 1000000).alias("y"),
    )
    c_cells = cu.select(
        "c_custkey",
        F.col("x").alias("cx_pt"),
        F.col("y").alias("cy_pt"),
        F.expr(f"x div {_GEO_R}").alias("gx"),
        F.expr(f"y div {_GEO_R}").alias("gy"),
    )
    s_cells = (
        su.select("s_suppkey", F.col("x").alias("sx"), F.col("y").alias("sy"))
        .withColumn("dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            "s_suppkey",
            "sx",
            "sy",
            (F.expr(f"sx div {_GEO_R}") + F.col("dx")).alias("gx"),
            (F.expr(f"sy div {_GEO_R}") + F.col("dy")).alias("gy"),
        )
    )
    d2 = (F.col("sx") - F.col("cx_pt")) * (F.col("sx") - F.col("cx_pt")) + (
        F.col("sy") - F.col("cy_pt")
    ) * (F.col("sy") - F.col("cy_pt"))
    return (
        c_cells.join(F.broadcast(s_cells), ["gx", "gy"])
        .filter(d2 <= R * R)
        .groupBy("s_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers_within"),
            F.min(d2).alias("min_d2"),
        )
    )


_SKYLINE_ORACLE = """
WITH px AS (
  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
         p_size
  FROM part
)
SELECT a.p_partkey, a.price_cents, a.p_size
FROM px a
WHERE NOT EXISTS (
  SELECT 1 FROM px b
  WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
    AND (b.price_cents < a.price_cents OR b.p_size > a.p_size)
)
"""


@register("part_skyline_pareto", oracle=_SKYLINE_ORACLE)
def part_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) query — parts not DOMINATED on
    (minimize price, maximize size): another part dominates if it is no
    worse on both dimensions and strictly better on one. The multi-
    objective shortlist query (Borzsony et al. ICDE'01), distinct from
    ``revenue_pareto_curve``'s cumulative-share curve.

    Distributed shape — the 2-D skyline needs only running maxima, and the
    repo's two-level discipline keeps every window partitioned: facts
    bucket by a fixed price width (bucket count is bounded by the PRICE
    DOMAIN, not SF); level 1 takes per-bucket max(size) and a prefix max
    over the tiny bucket table; level 2 windows are partitioned by bucket
    (strictly-cheaper-in-bucket via a range frame) and by exact price
    (same-price-larger-size). A part survives iff no strictly-cheaper part
    has size >= its own and no equal-price part has size > its own —
    equal (price, size) twins are mutually non-dominating and both kept,
    matching the oracle's strict-clause semantics. Zero unpartitioned
    windows over SF-proportional input (the ``revenue_pareto_curve``
    lesson); the quadratic NOT EXISTS lives only in the oracle."""
    bucket_w = 1000  # cents; TPC-H price domain ~[90000, 100000) -> ~10 buckets
    px = t(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        "p_size",
    )
    bkt = px.withColumn("bkt", F.expr(f"price_cents div {bucket_w}"))
    bmax = bkt.groupBy("bkt").agg(F.max("p_size").alias("bkt_max"))
    w_prev = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    prev = bmax.select(
        "bkt", F.max("bkt_max").over(w_prev).alias("prev_max")
    )  # window over #buckets rows — domain-bounded, never SF-proportional
    w_strict = (
        W.partitionBy("bkt").orderBy("price_cents").rangeBetween(W.unboundedPreceding, -1)
    )
    w_same = W.partitionBy("price_cents")
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
    return scored.filter(~dominated).select("p_partkey", "price_cents", "p_size")


_TRANSPOSE_ORACLE = """
SELECT 'r_name' AS key,
       MAX(CASE WHEN r_regionkey = 0 THEN r_name END) AS "0",
       MAX(CASE WHEN r_regionkey = 1 THEN r_name END) AS "1",
       MAX(CASE WHEN r_regionkey = 2 THEN r_name END) AS "2",
       MAX(CASE WHEN r_regionkey = 3 THEN r_name END) AS "3",
       MAX(CASE WHEN r_regionkey = 4 THEN r_name END) AS "4"
FROM region
"""


@register("dataframe_transpose", oracle=_TRANSPOSE_ORACLE)
def dataframe_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose()`` — the Spark-4 rows↔columns flip: the
    index column's values become column NAMES (sorted ascending), every
    remaining row becomes a column of the output keyed by its former
    column name. Run over the fixed 5-row region dimension; the oracle is
    the equivalent manual pivot.

    Scale honesty: transpose is BY CONSTRUCTION a dimension-table op —
    the engine must enumerate the index column's distinct values to plan
    the output schema (a driver-side schema decision, same class as
    ``pivot`` without explicit values), so its domain is catalogs,
    configs, and stats tables (bounded width), never fact tables. The
    catalog pins the surface and that contract; wide-fact reshaping
    belongs to ``unpivot_melt`` (rows stay rows)."""
    region = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return region.transpose()
