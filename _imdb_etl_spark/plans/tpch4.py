"""TPC-H completion: the nine query shapes (Q2, Q8, Q9, Q11, Q12, Q16,
Q20, Q21, Q22) the driver schema could not express verbatim, adapted.

The synthetic star schema has no partsupp table and drops several TPC-H
columns (l_shipmode/l_commitdate/l_receiptdate, c_phone/c_address,
o_clerk). Each query here keeps the *shape* of the original — the join
topology, subquery pattern, and aggregation structure that make it an
interesting plan — with documented substitutions:

- partsupp        -> distinct (l_partkey, l_suppkey) pairs from lineitem,
                     with MIN(l_extendedprice) standing in for
                     ps_supplycost and shipped quantity for ps_availqty.
- l_commitdate /   -> "late" means l_shipdate > o_orderdate + N days.
  l_receiptdate
- c_phone country  -> c_nationkey IN (...) directly.
  code prefix

Scale notes (100 TB posture): the partsupp emulation is itself a
map-side-combinable groupBy of lineitem on (partkey, suppkey) — the same
shuffle a real partsupp scan would replace, and the output is bounded by
|part|x|avg suppliers per part|, far smaller than lineitem. Correlated
MIN/EXISTS subqueries are reformulated as aggregations + joins (the plan
Catalyst would rewrite them to anyway); global scalar thresholds (Q11,
Q22) use a 1-row aggregate cross-joined in, never a collect to the
driver, and never an empty-partitionBy window (see tpch_q15's note).

Decimal-sum policy per _imdb_etl_spark.functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import (
    broadcast_if_bounded,
    davg,
    dec,
    disc_price,
    dsum,
    ordered,
)
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables

_Q2_SQL = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eligible AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name, cost
  FROM ps
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE' AND p_size < 16 AND p_type = 'LARGE'
),
best AS (
  SELECT p_partkey AS bp, MIN(cost) AS min_cost FROM eligible GROUP BY p_partkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       CAST(cost AS DOUBLE) AS cost
FROM eligible JOIN best ON p_partkey = bp AND cost = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 20
"""


@register(
    "tpch_q2_min_cost_supplier",
    _Q2_SQL,
    doc="TPC-H Q2 shape: correlated MIN subquery over an emulated "
    "partsupp (distinct lineitem pairs, MIN extendedprice as cost). The "
    "per-part MIN is a window over p_partkey — one pass over the joined "
    "frame instead of the agg+self-join plan, which would recompute the "
    "whole join tree twice. Round 10: BOTH dimension filters (5% of "
    "parts by size/type, 20% of suppliers by region) push below the "
    "pair-agg as broadcast key-set joins on the raw fact rows — the "
    "per-(part,supp) MIN depends only on its own group, so dropping "
    "filtered-out groups before aggregating is exact. The previous "
    "shape pair-aggregated the FULL fact table (near-full cardinality "
    "under replication: a 600M-row shuffle producing 600M groups, then "
    "filtered 95% of them; 303 s / 22x per decade measured fresh at "
    "the 1000x probe); now the one fact-table exchange is the pair-agg "
    "over the surviving ~1%. Broadcast sides are filtered KEY "
    "projections (~1M longs / ~450k longs at 1000x), MEASURE-GATED "
    "(broadcast_if_bounded): beyond SMALL_ROWS_MAX rows or "
    "BROADCAST_BYTES_MAX estimated bytes (the eur frame carries "
    "s_name/n_name strings — ADVICE r11) the hint drops "
    "and the plan degrades to a shuffle join — the pair-agg still "
    "reuses the join exchange (subset-key clustering).",
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part, supplier, nation, region = load_tables(
        spark, sf_dir, "lineitem", "part", "supplier", "nation", "region"
    )
    # measure-gated hints (ADVICE r10 rows + r11 bytes): pf and eur
    # grow linearly with the corpus (~1M part keys / ~450k suppliers
    # at 1000x) and eur carries string payload; each is measured ONCE
    # and the hinted frame reused at both its join sites, so a
    # pathological shape degrades to a shuffle join, never a driver
    # OOM
    pf = broadcast_if_bounded(
        part.where((F.col("p_size") < 16) & (F.col("p_type") == "LARGE")).select(
            "p_partkey", "p_name"
        )
    )
    eur = broadcast_if_bounded(
        supplier.join(
            F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey")
        )
        .join(
            F.broadcast(region.where(F.col("r_name") == "EUROPE")),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li_f = lineitem.join(
        pf.select("p_partkey"),
        F.col("p_partkey") == F.col("l_partkey"),
    ).join(
        eur.select(F.col("s_suppkey").alias("sk")),
        F.col("sk") == F.col("l_suppkey"),
    )
    ps = li_f.groupBy("l_partkey", "l_suppkey").agg(
        F.min(dec("l_extendedprice")).alias("cost")
    )
    eligible = (
        ps.join(pf, F.col("p_partkey") == F.col("l_partkey"))
        .join(eur, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name", "cost")
    )
    return (
        eligible.withColumn(
            "min_cost", F.min("cost").over(Window.partitionBy("p_partkey"))
        )
        .where(F.col("cost") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("cost").cast("double").alias("cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


_Q8_SQL = """
WITH flat AS (
  SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
         CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2)) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON n1.n_nationkey = c_nationkey
  JOIN region ON r_regionkey = n1.n_regionkey
  JOIN nation n2 ON n2.n_nationkey = s_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
)
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM flat
GROUP BY o_year
ORDER BY o_year
"""


@register(
    "tpch_q8_national_market_share",
    _Q8_SQL,
    doc="TPC-H Q8: 8-way join with nation joined twice under different "
    "roles (customer side region-filtered, supplier side labeling), "
    "conditional-sum ratio per year. Both sums are exact decimals; the "
    "single double division is order-independent.",
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part, supplier, orders, customer, nation, region = load_tables(
        spark, sf_dir, "lineitem", "part", "supplier", "orders", "customer", "nation", "region"
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    # Round 13: attack the measured wall — the orders+customer sort-
    # merge chain (the round-12 negative result showed part/supplier
    # broadcasts ALONE were a wash because that chain dominated).
    # The customer/n1/region joins contribute no output column; their
    # only effect is keeping orders whose customer sits in an AMERICA
    # nation. So: resolve the AMERICA nation keys at plan build (25x5
    # dim join collected on the driver — the broadcast gate's eager-
    # pass precedent), push them into the customer SCAN as an In
    # filter (c_custkey is unique, so the inner join equals the
    # filter), and ride the filtered single-bigint key set on the
    # measure-gated broadcast (~3M longs at 1000x, inside both caps).
    # Orders is then filtered map-side by date AND customer before the
    # ONE remaining fact-sized shuffle (the l_orderkey join); the
    # ECONOMY part keys and the (s_suppkey, s_nationkey) projection
    # ride the same gate (the q9 pattern — re-earned here per §1.1
    # now that the chain they could not move is gone).
    akeys = [
        r.n_nationkey
        for r in nation.join(
            F.broadcast(region.where(F.col("r_name") == "AMERICA")),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("n_nationkey")
        .collect()
    ]
    cust_am = customer.where(
        F.col("c_nationkey").isin(akeys) if akeys else F.lit(False)
    ).select("c_custkey")
    orders_am = (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(
            broadcast_if_bounded(cust_am),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select("o_orderkey", "o_orderdate")
    )
    flat = (
        lineitem.join(
            broadcast_if_bounded(
                part.where(F.col("p_type") == "ECONOMY").select("p_partkey")
            ),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(
            broadcast_if_bounded(supplier.select("s_suppkey", "s_nationkey")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(orders_am, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n2), F.col("s_nkey") == F.col("s_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            disc_price().alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(12,2)")
    national = F.when(F.col("supp_nation") == "NATION_7", F.col("volume")).otherwise(zero)
    return ordered(
        flat.groupBy("o_year")
        .agg(
            (F.sum(national).cast("double") / F.sum("volume").cast("double")).alias(
                "mkt_share"
            )
        ),
        "o_year",
    )


_Q9_SQL = """
SELECT n_name AS nation,
       CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, o_year
ORDER BY nation, o_year DESC
"""


@register(
    "tpch_q9_product_type_profit",
    _Q9_SQL,
    doc="TPC-H Q9 shape (profit term adapted: no ps_supplycost in the "
    "schema, amount = discounted price). LIKE-filtered part dim pushes a "
    "StringContains filter; group by supplier nation x order year.",
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part, supplier, orders, nation = load_tables(
        spark, sf_dir, "lineitem", "part", "supplier", "orders", "nation"
    )
    # measure-gated broadcasts (round 12, the q17/q19 precedent): the
    # '%gear%' part-key projection (~2.5M longs at 1000x) and the
    # (s_suppkey, s_nationkey) supplier projection ride
    # broadcast_if_bounded — lineitem is filtered to matching parts
    # map-side before the one remaining fact-sized shuffle (orders).
    return ordered(
        lineitem.join(
            broadcast_if_bounded(
                part.where(F.col("p_name").contains("gear")).select("p_partkey")
            ),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(
            broadcast_if_bounded(supplier.select("s_suppkey", "s_nationkey")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            disc_price().alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum(F.col("amount"), "sum_profit")),
        "nation",
        F.desc("o_year"),
    )


_Q11_SQL = """
WITH pv AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS val
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
),
tot AS (SELECT SUM(val) AS total FROM pv)
SELECT l_partkey, CAST(val AS DOUBLE) AS val
FROM pv, tot
WHERE CAST(val AS DOUBLE) > CAST(total AS DOUBLE) * 0.002
ORDER BY val DESC, l_partkey
"""


@register(
    "tpch_q11_important_part_value",
    _Q11_SQL,
    doc="TPC-H Q11 shape: HAVING against a global scalar subquery. The "
    "threshold is a 1-row exact-decimal aggregate cross-joined (broadcast "
    "of one row) — no driver collect, no empty-partitionBy window.",
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, supplier, nation = load_tables(spark, sf_dir, "lineitem", "supplier", "nation")
    pv = (
        lineitem.join(supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            F.broadcast(nation.where(F.col("n_name") == "NATION_3")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .groupBy("l_partkey")
        .agg(F.sum(dec("l_extendedprice")).alias("val"))
    )
    tot = pv.agg(F.sum("val").alias("total"))
    return ordered(
        pv.join(F.broadcast(tot))
        .where(F.col("val").cast("double") > F.col("total").cast("double") * 0.002)
        .select("l_partkey", F.col("val").cast("double").alias("val")),
        F.desc("val"),
        "l_partkey",
    )


_Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register(
    "tpch_q12_late_shipment_priority",
    _Q12_SQL,
    doc="TPC-H Q12 shape (shipmode -> returnflag, commit/receipt lateness "
    "-> shipdate > orderdate + 90d). Conditional counts by priority class; "
    "the date-arithmetic predicate is join-side, the shipdate range still "
    "pushes to the scan.",
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, orders = load_tables(spark, sf_dir, "lineitem", "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return ordered(
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        ),
        "l_returnflag",
    )


_Q16_SQL = """
WITH pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
)
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM pairs
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5'
  AND p_type <> 'MEDIUM'
  AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@register(
    "tpch_q16_supplier_part_variety",
    _Q16_SQL,
    doc="TPC-H Q16 shape: emulated partsupp (distinct pairs), NOT-IN "
    "anti-join against flagged suppliers (acctbal<0 stands in for the "
    "comment filter), COUNT(DISTINCT) per brand/type/size.",
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part, supplier = load_tables(spark, sf_dir, "lineitem", "part", "supplier")
    pairs = lineitem.select("l_partkey", "l_suppkey").distinct()
    bad = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    return ordered(
        pairs.join(bad, F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .join(
            part.where(
                (F.col("p_brand") != "Brand#5")
                & (F.col("p_type") != "MEDIUM")
                & (F.col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45))
            ),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")),
        F.desc("supplier_cnt"),
        "p_brand",
        "p_type",
        "p_size",
    )


_Q20_SQL = """
WITH sq AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey
),
tot AS (
  SELECT l_partkey AS tp, SUM(qty) AS part_qty FROM sq GROUP BY l_partkey
),
dominant AS (
  SELECT DISTINCT l_suppkey
  FROM sq
  JOIN tot ON tp = l_partkey
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'small%'
    AND CAST(qty AS DOUBLE) > 0.5 * CAST(part_qty AS DOUBLE)
)
SELECT s_name, s_acctbal
FROM supplier
JOIN dominant ON l_suppkey = s_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE n_name = 'NATION_9'
ORDER BY s_name
"""


@register(
    "tpch_q20_dominant_supplier",
    _Q20_SQL,
    doc="TPC-H Q20 shape: nested agg-over-agg threshold (supplier's "
    "shipped qty > half the part's total — stands in for availqty > half "
    "demand), semi-joined into the supplier dim. The part total is a "
    "window over the (partkey, suppkey) aggregate — the window reuses "
    "the groupBy's partitioning instead of re-aggregating and "
    "self-joining the pair frame.",
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part, supplier, nation = load_tables(
        spark, sf_dir, "lineitem", "part", "supplier", "nation"
    )
    sq = (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
    )
    dominant = (
        sq.withColumn(
            "part_qty", F.sum("qty").over(Window.partitionBy("l_partkey"))
        )
        .join(
            part.where(F.col("p_name").startswith("small")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .where(F.col("qty").cast("double") > 0.5 * F.col("part_qty").cast("double"))
        .select("l_suppkey")
        .distinct()
    )
    return ordered(
        supplier.join(dominant, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation.where(F.col("n_name") == "NATION_9")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select("s_name", "s_acctbal"),
        "s_name",
    )


_Q21_SQL = """
WITH per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN l_suppkey END) AS n_late,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN l_suppkey END) AS culprit
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM per_order
JOIN supplier ON s_suppkey = culprit
JOIN nation ON n_nationkey = s_nationkey
WHERE n_supp > 1 AND n_late = 1 AND n_name = 'NATION_2'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


@register(
    "tpch_q21_waiting_orders",
    _Q21_SQL,
    doc="TPC-H Q21 shape: the EXISTS/NOT-EXISTS pair (another supplier in "
    "the order; no other late supplier) reformulated as one grouped agg "
    "per order — n_supp>1 AND n_late=1 — with MAX picking the unique "
    "culprit. One shuffle instead of two correlated self-joins of "
    "lineitem; lateness adapted to shipdate > orderdate + 60d.",
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, orders, supplier, nation = load_tables(
        spark, sf_dir, "lineitem", "orders", "supplier", "nation"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    late_supp = F.when(late, F.col("l_suppkey"))
    per_order = (
        lineitem.join(
            orders.where(F.col("o_orderstatus") == "F"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(late_supp).alias("n_late"),
            F.max(late_supp).alias("culprit"),
        )
        .where((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        per_order.join(supplier, F.col("s_suppkey") == F.col("culprit"))
        .join(
            F.broadcast(nation.where(F.col("n_name") == "NATION_2")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


_Q22_SQL = """
WITH pool AS (
  SELECT c_custkey, c_nationkey AS cntrycode, c_acctbal
  FROM customer
  WHERE c_nationkey IN (3, 8, 11, 13, 17, 18, 23)
),
thresh AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(c_acctbal) AS avg_bal
  FROM pool WHERE c_acctbal > 0
)
SELECT cntrycode, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM pool, thresh
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY cntrycode
ORDER BY cntrycode
"""


@register(
    "tpch_q22_prospective_customers",
    _Q22_SQL,
    doc="TPC-H Q22 shape: scalar-AVG subquery threshold (1-row agg "
    "cross-join, order-independent decimal avg), NOT EXISTS as left-anti "
    "join on orders, grouped by country code (c_nationkey stands in for "
    "the phone prefix).",
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    pool = customer.where(
        F.col("c_nationkey").isin(3, 8, 11, 13, 17, 18, 23)
    ).select("c_custkey", F.col("c_nationkey").alias("cntrycode"), "c_acctbal")
    thresh = pool.where(F.col("c_acctbal") > 0).agg(
        davg(dec("c_acctbal"), "avg_bal")
    )
    return ordered(
        pool.join(F.broadcast(thresh))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(dec("c_acctbal"), "totacctbal"),
        ),
        "cntrycode",
    )
