"""Second TPC-H batch: correlated-exists, multi-dim volume, returned
items, conditional aggregation, and having-semi-join shapes — the rest
of the canonical analytic patterns over the driver schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import dec, disc_price, dsum, ordered
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables

_Q4_SQL = """
SELECT o_orderpriority AS priority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY priority
"""


@register(
    "tpch_q4_order_priority",
    _Q4_SQL,
    doc="TPC-H Q4: correlated EXISTS -> left-semi join on the fact "
    "side with a cross-table predicate, then grouped count.",
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    o = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    late = lineitem.select("l_orderkey", "l_shipdate")
    return ordered(
        o.join(
            late,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("order_count")),
        "priority",
    )


_Q7_SQL = """
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       year(l_shipdate) AS ship_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name IN ('NATION_1', 'NATION_2')
  AND cn.n_name IN ('NATION_1', 'NATION_2')
  AND sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
ORDER BY supp_nation, cust_nation, ship_year
"""


@register(
    "tpch_q7_volume_shipping",
    _Q7_SQL,
    doc="TPC-H Q7: the same dimension joined twice under different "
    "roles (supplier vs customer nation) with an inequality between "
    "them; grouped yearly revenue.",
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, supplier, orders, customer, nation = load_tables(
        spark, sf_dir, "lineitem", "supplier", "orders", "customer", "nation"
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ).where(F.col("n_name").isin("NATION_1", "NATION_2"))
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ).where(F.col("n_name").isin("NATION_1", "NATION_2"))
    return ordered(
        lineitem.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(dsum(disc_price(), "revenue")),
        "supp_nation",
        "cust_nation",
        "ship_year",
    )


_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register(
    "tpch_q10_returned_items",
    _Q10_SQL,
    doc="TPC-H Q10: revenue lost to returns per customer, top-20 — "
    "selective fact filter + 3 joins + top-k.",
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem, nation = load_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_returnflag") == "R")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(disc_price(), "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_Q14_SQL = """
SELECT
  CAST(100.0 AS DOUBLE) *
    CAST(SUM(CASE WHEN p_type = 'PROMO'
          THEN CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2))
          ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE)
    AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
"""


@register(
    "tpch_q14_promo_effect",
    _Q14_SQL,
    doc="TPC-H Q14: conditional (CASE-gated) aggregation ratio — both "
    "sums exact decimal, one final double division.",
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = load_tables(spark, sf_dir, "lineitem", "part")
    promo = F.when(F.col("p_type") == "PROMO", disc_price()).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(disc_price()).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


_Q18_SQL = """
WITH big AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 90
)
SELECT c_custkey, c_name, o_orderkey,
       STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(o_totalprice AS DOUBLE) AS totalprice
FROM customer
JOIN orders ON c_custkey = o_custkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
ORDER BY totalprice DESC, o_orderkey
LIMIT 20
"""


@register(
    "tpch_q18_large_volume",
    _Q18_SQL,
    doc="TPC-H Q18: HAVING-filtered aggregate feeding a semi join "
    "(large-volume orders), top-20 customers.",
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem = load_tables(
        spark, sf_dir, "customer", "orders", "lineitem"
    )
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
        .where(F.col("qty") > 90)
        .select("l_orderkey")
    )
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(20)
    )


_WINDOW_SQL = """
WITH per_order AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(o_totalprice AS DECIMAL(12,2)) AS price
  FROM orders
)
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       RANK() OVER w AS price_rank,
       DENSE_RANK() OVER w AS price_dense_rank,
       CAST(LAG(price) OVER t AS DOUBLE) AS prev_price,
       CAST(LEAD(price) OVER t AS DOUBLE) AS next_price,
       CAST(SUM(price) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_spend
FROM per_order
WINDOW w AS (PARTITION BY o_custkey ORDER BY price DESC, o_orderkey),
       t AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY custkey, orderkey
"""


@register(
    "window_suite_customer_orders",
    _WINDOW_SQL,
    doc="Window-function breadth: rank/dense_rank, lag/lead, and a "
    "running decimal sum with an explicit ROWS frame — two window "
    "specs sharing one shuffle on the partition key.",
)
def window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    per_order = orders.select(
        "o_custkey", "o_orderkey", "o_orderdate", dec("o_totalprice").alias("price")
    )
    w = Window.partitionBy("o_custkey").orderBy(F.desc("price"), F.asc("o_orderkey"))
    t = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = t.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ordered(
        per_order.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.rank().over(w).alias("price_rank"),
            F.dense_rank().over(w).alias("price_dense_rank"),
            F.lag("price").over(t).cast("double").alias("prev_price"),
            F.lead("price").over(t).cast("double").alias("next_price"),
            F.sum("price").over(run).cast("double").alias("running_spend"),
        ),
        "custkey",
        "orderkey",
    )


_WINDOW2_SQL = """
WITH per_order AS (
  SELECT o_custkey, o_orderkey,
         CAST(o_totalprice AS DECIMAL(12,2)) AS price
  FROM orders
)
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       NTILE(4) OVER w AS price_quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS price_pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS price_cume_dist,
       CAST(FIRST_VALUE(price) OVER w AS DOUBLE) AS max_price,
       CAST(NTH_VALUE(price, 2) OVER (PARTITION BY o_custkey
              ORDER BY price DESC, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            AS DOUBLE) AS second_price
FROM per_order
WINDOW w AS (PARTITION BY o_custkey ORDER BY price DESC, o_orderkey)
ORDER BY custkey, orderkey
"""


@register(
    "window_suite2_distribution",
    _WINDOW2_SQL,
    doc="Distribution window functions: ntile quartiles, percent_rank, "
    "cume_dist, first_value, and nth_value over an explicit full-frame "
    "spec — one shuffle on the partition key shared by every function.",
)
def window_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    per_order = orders.select(
        "o_custkey", "o_orderkey", dec("o_totalprice").alias("price")
    )
    w = Window.partitionBy("o_custkey").orderBy(F.desc("price"), F.asc("o_orderkey"))
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ordered(
        per_order.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.ntile(4).over(w).alias("price_quartile"),
            F.round(F.percent_rank().over(w), 6).alias("price_pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("price_cume_dist"),
            F.first("price").over(w).cast("double").alias("max_price"),
            F.nth_value("price", 2).over(full).cast("double").alias("second_price"),
        ),
        "custkey",
        "orderkey",
    )


_RANGE_WINDOW_SECONDS = 30 * 86400

# Event-time RANGE frame — distinct from every ROWS frame above: the
# frame boundary is a VALUE distance on the ordering key, so peers and
# near rows enter by timestamp arithmetic, not row position. Both
# engines order by epoch seconds and use the identical numeric bound,
# sidestepping interval-arithmetic dialect differences; the sum is
# decimal (exact, order-independent) per the engine policy.
_RANGE_FRAME_SQL = f"""
SELECT o_custkey AS custkey,
       o_orderkey AS orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
         PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
         RANGE BETWEEN {_RANGE_WINDOW_SECONDS} PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS trailing_30d_spend,
       CAST(COUNT(*) OVER (
         PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
         RANGE BETWEEN {_RANGE_WINDOW_SECONDS} PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS trailing_30d_orders
FROM orders
ORDER BY custkey, orderkey
"""


@register(
    "window_range_trailing_30d",
    _RANGE_FRAME_SQL,
    doc="RANGE window frame over event time: per-order trailing "
    "30-day spend and order count per customer — the frame bound is a "
    "value distance on the ordering key (epoch seconds), so same-day "
    "orders are peers and enter each other's frame, which no ROWS "
    "frame can express. One shuffle on the customer key; both engines "
    "use the identical numeric bound so the decimal sums hash-match "
    "exactly.",
)
def window_range_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-_RANGE_WINDOW_SECONDS, Window.currentRow)
    )
    return ordered(
        orders.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.sum(dec("o_totalprice")).over(w).cast("double").alias(
                "trailing_30d_spend"
            ),
            F.count(F.lit(1)).over(w).alias("trailing_30d_orders"),
        ),
        "custkey",
        "orderkey",
    )
