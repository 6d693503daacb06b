"""Third TPC-H batch: scalar-subquery shapes (Q15 max-of-aggregate,
Q17 correlated per-group average) and a grouped-map pandas operator.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from _imdb_etl_spark.functions import (
    broadcast_if_bounded,
    dec,
    disc_price,
    dsum,
    ordered,
)
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables, stage_sorted

_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@register(
    "tpch_q15_top_supplier",
    _Q15_SQL,
    doc="TPC-H Q15: scalar subquery (global MAX of an aggregate) as a "
    "filter. The max is a two-phase scalar aggregate over the "
    "per-supplier revenue frame, broadcast back as a one-row cross "
    "join — fully parallel at any supplier cardinality (an empty "
    "partitionBy() window would funnel the whole frame through a "
    "single task). The two consumers share the identical revenue "
    "aggregation subtree, so the exchange is computed once and reused, "
    "keeping it one lineitem scan total.",
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier, lineitem = load_tables(spark, sf_dir, "supplier", "lineitem")
    revenue = (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(disc_price(), "total_revenue"))
    )
    mx = revenue.agg(F.max("total_revenue").alias("m"))
    top = revenue.crossJoin(F.broadcast(mx)).where(
        F.col("total_revenue") == F.col("m")
    )
    return ordered(
        supplier.join(top, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue"),
        "s_suppkey",
    )


_Q17_SQL = """
WITH part_avg AS (
  SELECT l_partkey AS pk,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM lineitem
  GROUP BY l_partkey
)
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly,
  COUNT(*) AS n_small_orders
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN part_avg ON pk = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < 0.2 * avg_qty
"""


@register(
    "tpch_q17_small_quantity",
    _Q17_SQL,
    doc="TPC-H Q17: correlated per-group average (each row compared to "
    "0.2x its part's mean quantity). Round 10: the brand filter (4% of "
    "parts) pushes BELOW the per-part average — the filtered part keys "
    "broadcast against lineitem first, and the average becomes a window "
    "over l_partkey on the surviving 4% (the per-part mean depends only "
    "on the part, so restricting to retained parts is exact). The "
    "previous agg-self-join shape shuffled the full fact table twice "
    "(600M-row groupBy + 600M-row join at the 1000x probe, 30x per "
    "decade measured fresh); this plan's only fact-table exchange is "
    "the post-filter window partitioning — 187.9 s -> linear. The "
    "broadcast side is the brand's part keys (~1M longs at 1000x), "
    "and the hint is MEASURE-GATED (broadcast_if_bounded): beyond "
    "SMALL_ROWS_MAX keys or BROADCAST_BYTES_MAX estimated bytes "
    "the hint drops and the plan degrades to "
    "a shuffle join — the window still reuses the join exchange. Exact-decimal mean keeps the "
    "threshold comparison engine-stable.",
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = load_tables(spark, sf_dir, "lineitem", "part")
    brand_keys = broadcast_if_bounded(
        part.where(F.col("p_brand") == "Brand#1").select("p_partkey")
    )
    li_b = lineitem.join(brand_keys, F.col("p_partkey") == F.col("l_partkey"))
    w = Window.partitionBy("l_partkey")
    avg_qty = F.sum(dec("l_quantity")).over(w).cast("double") / F.count(
        F.lit(1)
    ).over(w)
    return (
        li_b.withColumn("avg_qty", avg_qty)
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small_orders"),
        )
    )


_Q13_SQL = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register(
    "tpch_q13_customer_distribution",
    _Q13_SQL,
    doc="TPC-H Q13: two stacked aggregations — orders per customer "
    "(left join keeps zero-order customers), then the histogram of "
    "those counts. COUNT(col) vs COUNT(*) null semantics matter.",
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    per_cust = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return ordered(
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist")),
        F.desc("custdist"),
        F.desc("c_count"),
    )


_Q19_SQL = """
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 40)
"""


@register(
    "tpch_q19_discounted_revenue",
    _Q19_SQL,
    doc="TPC-H Q19: disjunctive (OR-of-conjunction) mixed-table "
    "predicate over a join — the optimizer must keep the join keys "
    "joinable while distributing the residual OR filter.",
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = load_tables(spark, sf_dir, "lineitem", "part")
    # the residual OR tests brand via a TINYINT id derived inside the
    # filtered projection (round 13, guide §2.3 narrower types): after
    # part_pre's isin filter p_brand takes exactly the three 'Brand#N'
    # values, so the trailing digit identifies the brand — the
    # broadcast sheds its only string column (8 bytes/row instead of
    # ~34) and the all-fixed-width projection qualifies for the
    # gate's footer short-circuit (no eager measure job)
    cond = (
        (
            (F.col("p_bid") == 1)
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_bid") == 2)
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_bid") == 3)
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    # single-table weakenings of the OR-of-conjunctions, applied BEFORE
    # the join (round 12: the 1000x sweep showed the plan joining the
    # FULL 20M-row part table because Catalyst does not extract the
    # common part-only disjunct): every branch implies brand IN (1,2,3)
    # AND size BETWEEN 1 AND 35 on part, and quantity BETWEEN 1 AND 40
    # on lineitem, so pre-filtering preserves semantics exactly while
    # shrinking the build side enough for the measure-gated broadcast.
    part_pre = part.where(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & F.col("p_size").between(1, 35)
    ).select(
        "p_partkey",
        F.substring("p_brand", 7, 1).cast("tinyint").alias("p_bid"),
        "p_size",
    )
    li_pre = lineitem.where(F.col("l_quantity").between(1, 40))
    return (
        li_pre.join(
            broadcast_if_bounded(part_pre),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .where(cond)
        .agg(
            dsum(disc_price(), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_GAP_SQL = """
WITH gaps AS (
  SELECT user_id,
         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
  FROM events
)
SELECT user_id,
       COUNT(gap_ms) AS n_gaps,
       CAST(median(gap_ms) AS DOUBLE) AS median_gap_ms,
       MAX(gap_ms) AS max_gap_ms
FROM gaps
WHERE gap_ms IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""

_GAP_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_gaps", LongType()),
        StructField("median_gap_ms", DoubleType()),
        StructField("max_gap_ms", LongType()),
    ]
)


def _gap_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(["ts", "event_id"])
    gaps = pdf["ts_ms"].diff().dropna().astype("int64")
    if len(gaps) == 0:
        # typed empty frame: object-dtype empties trip pandas' deprecated
        # all-NA concat path inside the applyInPandas serializer
        return pd.DataFrame(
            {
                "user_id": pd.Series(dtype="int64"),
                "n_gaps": pd.Series(dtype="int64"),
                "median_gap_ms": pd.Series(dtype="float64"),
                "max_gap_ms": pd.Series(dtype="int64"),
            }
        )
    return pd.DataFrame(
        {
            "user_id": [int(pdf["user_id"].iloc[0])],
            "n_gaps": [len(gaps)],
            "median_gap_ms": [float(gaps.median())],
            "max_gap_ms": [int(gaps.max())],
        }
    )


@register(
    "grouped_map_user_gaps",
    _GAP_SQL,
    doc="Grouped-map pandas operator (applyInPandas): per-user "
    "inter-event gap statistics computed on the whole group as a pandas "
    "frame — the UDAF escape hatch. Gaps are exact epoch-ms integers, "
    "so the pandas median equals the oracle's; one shuffle on user_id.",
)
def grouped_map_user_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    return stage_sorted(
        events.select(
            "user_id", "ts", "event_id", F.unix_millis("ts").alias("ts_ms")
        )
        .groupBy("user_id")
        .applyInPandas(_gap_stats, _GAP_SCHEMA),
        "gap_stats",
        "user_id",
    )
