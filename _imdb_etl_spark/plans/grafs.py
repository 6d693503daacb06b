"""The reference's six dashboard queries ("Graf 1-6",
/root/reference/dashboard_visualizations.sql), generalized onto the
driver's synthetic tables. The IMDB-faithful versions (same SQL text,
IMDB fixture tables) live in _imdb_etl_spark.etl and are exercised by
pytest; these registry entries prove the same operator compositions
against the DuckDB oracle at driver scale.

Operator mapping (SURVEY.md §2.10):
- graf1: IN-list + equality filter -> grouped count   (P4,P5,P7,A1,A4,O1)
- graf2: join + round(avg) per group                  (J7,A3,A4,O1,O3)
- graf3: join + grouped count + top-10                (J7,A1,A4,O2)
- graf4: CTE + semi-join + windowed rank<=3           (C1,J8,W1,P8,A5,A6)
- graf5: join + count(*) + IN filter + top-10         (J7,P4,A2,A4,O2)
- graf6: grouped count + top-10                       (A1,A4,O2)

Every ORDER BY ... LIMIT adds a total-order tiebreaker, mirrored in the
oracle SQL (reference quirk 5: its own top-k is tie-nondeterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import davg, dec, ordered
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables

_G1_SQL = """
SELECT o_orderpriority AS priority, COUNT(o_orderkey) AS number_of_orders
FROM orders
WHERE o_orderstatus IN ('O', 'F') AND year(o_orderdate) = 1995
GROUP BY o_orderpriority
ORDER BY number_of_orders DESC, priority
"""


@register(
    "graf1_orders_by_priority",
    _G1_SQL,
    doc="Graf 1 shape (dashboard_visualizations.sql:2-9): IN-list + "
    "year-equality filter, grouped COUNT(col), desc order.",
)
def graf1(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    return ordered(
        orders.where(
            F.col("o_orderstatus").isin("O", "F") & (F.year("o_orderdate") == 1995)
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("o_orderkey").alias("number_of_orders")),
        F.desc("number_of_orders"),
        "priority",
    )


_G2_SQL = """
SELECT
  p_type AS part_type,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_quantity), 2) AS avg_quantity
FROM part
INNER JOIN lineitem ON p_partkey = l_partkey
GROUP BY p_type
ORDER BY avg_quantity DESC, part_type
"""


@register(
    "graf2_avg_quantity_by_type",
    _G2_SQL,
    doc="Graf 2 shape (dashboard_visualizations.sql:13-22): dim inner "
    "join + ROUND(AVG(metric),2) per group. Broadcast part side.",
)
def graf2(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, lineitem = load_tables(spark, sf_dir, "part", "lineitem")
    return ordered(
        part.join(lineitem, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("p_type").alias("part_type"))
        .agg(F.round(davg(dec("l_quantity"), "a"), 2).alias("avg_quantity")),
        F.desc("avg_quantity"),
        "part_type",
    )


_G3_SQL = """
SELECT c_name AS customer_name, COUNT(o_orderkey) AS order_count
FROM orders
JOIN customer ON o_custkey = c_custkey
GROUP BY c_name
ORDER BY order_count DESC, customer_name
LIMIT 10
"""


@register(
    "graf3_top10_customers",
    _G3_SQL,
    doc="Graf 3 shape (dashboard_visualizations.sql:24-34): fact-dim "
    "join, grouped count, TakeOrderedAndProject top-10. The flagship "
    "entry() query.",
)
def graf3(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    return (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_name").alias("customer_name"))
        .agg(F.count("o_orderkey").alias("order_count"))
        .orderBy(F.desc("order_count"), "customer_name")
        .limit(10)
    )


_G4_SQL = """
WITH top3_nation AS (
  SELECT n_name, COUNT(o_orderkey) AS order_count
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE o_totalprice > 250000
  GROUP BY n_name
  ORDER BY order_count DESC, n_name
  LIMIT 3
),
ranked AS (
  SELECT
    c_name,
    n_name,
    COUNT(o_orderkey) AS order_count,
    ROW_NUMBER() OVER (
      PARTITION BY n_name
      ORDER BY COUNT(o_orderkey) DESC, c_name
    ) AS customer_rank
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE n_name IN (SELECT n_name FROM top3_nation)
    AND o_totalprice > 250000
  GROUP BY c_name, n_name
)
SELECT
  c_name AS customer_name,
  n_name AS nation_name,
  order_count,
  customer_rank
FROM ranked
WHERE customer_rank <= 3
ORDER BY nation_name, customer_rank
"""


@register(
    "graf4_top3_customers_top3_nations",
    _G4_SQL,
    doc="Graf 4 shape (dashboard_visualizations.sql:36-70): chained CTEs, "
    "IN-subquery (left-semi join), ROW_NUMBER over grouped counts, "
    "post-window rank<=3 filter. Deterministic tiebreaks both sides.",
)
def graf4(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer, nation = load_tables(spark, sf_dir, "orders", "customer", "nation")
    base = (
        orders.where(F.col("o_totalprice") > 250000)
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    top3_nation = (
        base.groupBy("n_name")
        .agg(F.count("o_orderkey").alias("order_count"))
        .orderBy(F.desc("order_count"), "n_name")
        .limit(3)
        .select("n_name")
    )
    per_customer = (
        base.join(F.broadcast(top3_nation), "n_name", "left_semi")
        .groupBy("c_name", "n_name")
        .agg(F.count("o_orderkey").alias("order_count"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("order_count"), F.asc("c_name"))
    return ordered(
        per_customer.withColumn("customer_rank", F.row_number().over(w))
        .where(F.col("customer_rank") <= 3)
        .select(
            F.col("c_name").alias("customer_name"),
            F.col("n_name").alias("nation_name"),
            "order_count",
            "customer_rank",
        ),
        "nation_name",
        "customer_rank",
    )


_G5_SQL = """
SELECT s_name AS supplier_name, COUNT(*) AS total_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
WHERE l_returnflag IN ('A', 'R')
GROUP BY s_name
ORDER BY total_items DESC, supplier_name
LIMIT 10
"""


@register(
    "graf5_top10_suppliers_by_items",
    _G5_SQL,
    doc="Graf 5 shape (dashboard_visualizations.sql:72-84): COUNT(*) per "
    "group through a broadcast join with an IN-list filter, top-10.",
)
def graf5(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, supplier = load_tables(spark, sf_dir, "lineitem", "supplier")
    return (
        lineitem.where(F.col("l_returnflag").isin("A", "R"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("s_name").alias("supplier_name"))
        .agg(F.count(F.lit(1)).alias("total_items"))
        .orderBy(F.desc("total_items"), "supplier_name")
        .limit(10)
    )


_G6_SQL = """
SELECT n_name AS nation_name, COUNT(c_custkey) AS customer_count
FROM customer
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY customer_count DESC, nation_name
LIMIT 10
"""


@register(
    "graf6_customers_by_nation",
    _G6_SQL,
    doc="Graf 6 shape (dashboard_visualizations.sql:86-95): grouped "
    "count, top-10 countries -> nations.",
)
def graf6(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, nation = load_tables(spark, sf_dir, "customer", "nation")
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.count("c_custkey").alias("customer_count"))
        .orderBy(F.desc("customer_count"), "nation_name")
        .limit(10)
    )
