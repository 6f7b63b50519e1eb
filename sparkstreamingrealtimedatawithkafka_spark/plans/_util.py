"""Shared helpers for catalog queries.

Determinism policy (what makes the DuckDB oracle hash-match bit-for-bit):

- **Money/measure aggregation in integer units.** Doubles summed in different
  orders differ in the last ulps, so every *computed* monetary aggregate is
  done as ``SUM(CAST(ROUND(x*100,0) AS BIGINT))`` (exact, associative,
  order-independent) and divided back to a double only once at the end — the
  same final division on both engines yields the same IEEE bits. Raw double
  columns passed through untouched are already bit-identical (same parquet).
- **Event time in epoch microseconds (long).** Queries compute on the
  loader-derived ``ts_us`` (sources/registry.py:event_time_columns — the
  schema-adaptive bridge over the fixture's drifting physical ts type), so
  results are independent of either engine's session timezone.
- **Unique-key tiebreakers in every ORDER BY / window** so LIMIT/top-k picks
  are unambiguous.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkstreamingrealtimedatawithkafka_spark.functions.pairs import array_pairs
from sparkstreamingrealtimedatawithkafka_spark.operators.skew import spread_narrow_scan
from sparkstreamingrealtimedatawithkafka_spark.sources.registry import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def cents(col: Column | str, scale: int = 100) -> Column:
    """Exact integer units for a fixed-point-valued double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * scale, 0).cast("long")


SQL_CENTS = "CAST(ROUND({col}*100,0) AS BIGINT)"


def sql_cents(col: str) -> str:
    return SQL_CENTS.format(col=col)


def _basket_min_support(baskets: DataFrame) -> DataFrame:
    """Relative co-purchase support: max(2, 13ppm of baskets) as a one-row
    broadcast. Absolute n>=2 stops filtering when order volume grows —
    measured at 10x sf0.1 the n>=2 graph densified 335x (7.1k -> 2.39M
    directed edges, max degree 6 -> 222) and downstream wedge joins went
    86x for 10x input; a support FRACTION keeps "frequently co-purchased"
    meaningful and the graph sparsity scale-stable. Evaluates to 2 at
    every fixture SF (oracle results unchanged). The threshold rides a
    one-row broadcast — never a driver-side collect."""
    return baskets.agg(
        F.greatest(F.lit(2), F.expr("(count(1) * 13) div 1000000")).alias("min_n")
    )


def copurchase_pairs(li: DataFrame) -> DataFrame:
    """(pa, pb) part pairs, pa < pb, bought together in at least
    ``_basket_min_support`` orders — the edge set of the co-purchase graph.

    Per-order baskets (groupBy collect_set, sorted) expand to their pairs
    in-array (``array_pairs``): two exchanges, order key then pair key,
    and quadratic only in basket width; a self-join on the order key
    would add a third exchange and replay the basket scan on both sides.
    collect_set is low-reduction, so on a narrow scan its partial phase
    is the whole job on one core — ``spread_narrow_scan`` moves it behind
    the order-key exchange the aggregate needed anyway (min-of-10
    interleaved A/B at sf0.1: edge materialization 2.89 -> 2.01 s,
    identical rows; no-op at scale)."""
    baskets = (
        spread_narrow_scan(li.select("l_orderkey", "l_partkey"), "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs = array_pairs("parts", lambda x, y: F.struct(x.alias("pa"), y.alias("pb")))
    return (
        baskets.select(F.explode(pairs).alias("p"))
        .groupBy("p.pa", "p.pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(_basket_min_support(baskets)))
        .filter(F.col("n") >= F.col("min_n"))
        .select("pa", "pb")
    )
