"""TPC-H-style analytics over the driver's synthetic star schema.

These are the headline scan/join/agg shapes (the reference's Graf queries
are all small instances of them — join, group, top-k; see
/root/reference/dashboard_visualizations.sql). Adapted to the driver
tables' columns (no shippriority/commitdate columns in the synthetic
schema).

Scale notes (100 TB posture):
- Filters are plain Column predicates on scan columns => pushed into the
  parquet reader (PushedFilters in explain).
- All aggregations are declarative groupBy/agg => Catalyst plans
  partial+final HashAggregate with map-side combine.
- Dimension joins (nation/region/supplier/customer) are broadcast-size;
  AQE picks broadcast hash join. lineitem-orders is the only genuinely
  large shuffle join, on the natural key both sides (bucketing/AQE
  territory on a cluster).
- Decimal-sum policy: see _imdb_etl_spark.functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import charge, davg, dec, disc_price, dsum, ordered
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables

_Q1_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2)) * CAST(1 + l_tax AS DECIMAL(8,2))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register(
    "tpch_q1_pricing_summary",
    _Q1_SQL,
    doc="TPC-H Q1: wide scan + 8-agg groupBy; exercises partial+final "
    "HashAggregate and parquet predicate pushdown on l_shipdate.",
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return ordered(
        lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(dec("l_quantity"), "sum_qty"),
            dsum(dec("l_extendedprice"), "sum_base_price"),
            dsum(disc_price(), "sum_disc_price"),
            dsum(charge(), "sum_charge"),
            davg(dec("l_quantity"), "avg_qty"),
            davg(dec("l_extendedprice"), "avg_price"),
            davg(dec("l_discount", "decimal(8,2)"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        ),
        "l_returnflag",
        "l_linestatus",
    )


_Q3_SQL = """
SELECT
  l_orderkey,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
  STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, orderdate ASC, l_orderkey ASC
LIMIT 10
"""


@register(
    "tpch_q3_shipping_priority",
    _Q3_SQL,
    doc="TPC-H Q3 shape: 3-way join with selective dim filter, grouped "
    "revenue, top-10 (TakeOrderedAndProject). Deterministic tiebreak on "
    "(orderdate, orderkey).",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    return (
        customer.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(disc_price(), "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q5_SQL = """
SELECT
  n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@register(
    "tpch_q5_local_supplier_volume",
    _Q5_SQL,
    doc="TPC-H Q5: 6-way join incl. a non-FK equality (c_nationkey = "
    "s_nationkey); dims broadcast, lineitem-orders shuffle join.",
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem, supplier, nation, region = load_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    return ordered(
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(dsum(disc_price(), "revenue")),
        F.desc("revenue"),
        "n_name",
    )


_Q6_SQL = """
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


@register(
    "tpch_q6_forecast_revenue",
    _Q6_SQL,
    doc="TPC-H Q6: pure scan+filter+scalar agg; every predicate pushes "
    "into the parquet scan, no shuffle beyond the final 1-row reduce.",
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return lineitem.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(dec("l_extendedprice") * dec("l_discount", "decimal(8,2)"), "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )
