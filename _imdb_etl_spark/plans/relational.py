"""Operator-coverage queries: one registry entry per remaining operator
family from SURVEY.md §2 (projection/dedup P1-P3, fan-out left joins
J1-J6, semi/anti joins J8, window top-k W1/P8), expressed over the
driver tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import dec, disc_price, dsum, ordered
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables

_P1_SQL = """
SELECT l_orderkey AS order_id, l_linenumber AS line_no,
       l_quantity AS qty, l_returnflag AS flag
FROM lineitem
ORDER BY order_id, line_no
"""


@register(
    "p1_projection_rename",
    _P1_SQL,
    doc="P1 (etl_imdb_db.sql:92-99): projection + rename; ReadSchema "
    "prunes to 4 of 11 lineitem columns at the parquet scan.",
)
def p1_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return ordered(
        lineitem.select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_linenumber").alias("line_no"),
            F.col("l_quantity").alias("qty"),
            F.col("l_returnflag").alias("flag"),
        ),
        "order_id",
        "line_no",
    )


_P2_SQL = """
SELECT DISTINCT l_returnflag AS flag, l_linestatus AS status
FROM lineitem
ORDER BY flag, status
"""


@register(
    "p2_distinct_projection",
    _P2_SQL,
    doc="P2 (etl_imdb_db.sql:91): SELECT DISTINCT -> "
    "ReplaceDeduplicateWithAggregate -> partial+final HashAggregate; at "
    "scale the map-side partial collapses before any shuffle.",
)
def p2_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return ordered(
        lineitem.select(
            F.col("l_returnflag").alias("flag"), F.col("l_linestatus").alias("status")
        )
        .dropDuplicates(),
        "flag",
        "status",
    )


_P3_SQL = """
SELECT DISTINCT p_brand AS brand_id, p_brand AS brand_name
FROM part
ORDER BY brand_id
"""


@register(
    "p3_degenerate_dim",
    _P3_SQL,
    doc="P3 (etl_imdb_db.sql:120-124): same source column projected "
    "twice — the reference's degenerate dim_genres pattern.",
)
def p3_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = load_tables(spark, sf_dir, "part")
    return ordered(
        part.select(
            F.col("p_brand").alias("brand_id"), F.col("p_brand").alias("brand_name")
        )
        .dropDuplicates(),
        "brand_id",
    )


_FANOUT_SQL = """
SELECT DISTINCT
  c_custkey AS person_id,
  c_name AS name,
  o_orderstatus AS role,
  n_name AS nation
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
ORDER BY person_id, role NULLS FIRST, nation
"""


@register(
    "dim_people_fanout_distinct",
    _FANOUT_SQL,
    doc="J1+J2+P2 (etl_imdb_db.sql:103-113): stacked 1:N left joins "
    "partially collapsed by DISTINCT — the reference's dim_people "
    "fan-out, with NULL rows preserved for unmatched left rows.",
)
def dim_people_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, nation = load_tables(spark, sf_dir, "customer", "orders", "nation")
    return ordered(
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"), "left")
        .select(
            F.col("c_custkey").alias("person_id"),
            F.col("c_name").alias("name"),
            F.col("o_orderstatus").alias("role"),
            F.col("n_name").alias("nation"),
        )
        .dropDuplicates(),
        "person_id",
        F.asc_nulls_first("role"),
        "nation",
    )


_FACT_SQL = """
SELECT DISTINCT
  l_orderkey AS order_id,
  l_linenumber AS line_no,
  o_custkey AS customer_id,
  p_brand AS brand,
  s_name AS supplier_name,
  l_quantity AS qty
FROM lineitem
LEFT JOIN orders ON l_orderkey = o_orderkey
LEFT JOIN part ON l_partkey = p_partkey
LEFT JOIN supplier ON l_suppkey = s_suppkey
ORDER BY order_id, line_no
"""


@register(
    "fact_star_left_joins",
    _FACT_SQL,
    doc="J3-J6+P2 (etl_imdb_db.sql:129-141): fact assembly via chained "
    "left joins, then DISTINCT. part/supplier broadcast (dim-sized); "
    "lineitem-orders is a genuine key-key shuffle join — the bucketing/"
    "AQE case at scale. The bucketing lever is implemented and "
    "plan-pinned: save_as_table(bucket_by=(n, [orderkey])) on both "
    "sides makes this join exchange-free "
    "(tests/test_sinks.py::test_bucketed_fact_star_join_skips_both_"
    "exchanges).",
)
def fact_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, orders, part, supplier = load_tables(
        spark, sf_dir, "lineitem", "orders", "part", "supplier"
    )
    return ordered(
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .join(part, F.col("l_partkey") == F.col("p_partkey"), "left")
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"), "left")
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_linenumber").alias("line_no"),
            F.col("o_custkey").alias("customer_id"),
            F.col("p_brand").alias("brand"),
            F.col("s_name").alias("supplier_name"),
            F.col("l_quantity").alias("qty"),
        )
        .dropDuplicates(),
        "order_id",
        "line_no",
    )


_SEMI_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
              AND o_totalprice > 400000)
ORDER BY c_custkey
"""


@register(
    "semi_join_big_spenders",
    _SEMI_SQL,
    doc="J8 (dashboard_visualizations.sql:63): IN/EXISTS subquery as an "
    "explicit left-semi join — what RewritePredicateSubquery produces.",
)
def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    big = orders.where(F.col("o_totalprice") > 400000)
    return ordered(
        customer.join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name"),
        "c_custkey",
    )


_ANTI_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_totalprice > 400000)
ORDER BY c_custkey
"""


@register(
    "anti_join_small_spenders",
    _ANTI_SQL,
    doc="Anti-join complement of the semi join (absent from the "
    "reference; declared for operator completeness, SURVEY.md §2.3).",
)
def anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    big = orders.where(F.col("o_totalprice") > 400000)
    return ordered(
        customer.join(big, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
        "c_custkey",
    )


_TOPK_SQL = """
WITH part_rev AS (
  SELECT
    p_brand,
    p_partkey,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, p_partkey
)
SELECT p_brand AS brand, p_partkey AS partkey, revenue,
       rnk AS revenue_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS rnk
  FROM part_rev
)
WHERE rnk <= 3
ORDER BY brand, revenue_rank
"""


@register(
    "w1_top3_parts_per_brand",
    _TOPK_SQL,
    doc="W1+P8 (dashboard_visualizations.sql:56,68-70): ROW_NUMBER over "
    "an aggregated measure, rank<=3 per group. One shuffle for the agg, "
    "one sort for the window, both on the same key prefix.",
)
def topk_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = load_tables(spark, sf_dir, "lineitem", "part")
    # Deliberately join-then-aggregate (round-12 negative result): the
    # "aggregate lineitem by l_partkey before the join" rewrite (guide
    # §2.3) measured 1.7x SLOWER at 1000x (235.5 s vs 140.6 s, fresh
    # sessions head-to-head) — with 20M partkey groups over 600M rows
    # each map task sees ~2.2M distinct keys in ~2.3M rows, so partial
    # aggregation shrinks nothing and the plan just adds a hash-agg
    # pass and an extra exchange. Kept as the single join + one grouped
    # exchange.
    rev = (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_partkey")
        .agg(dsum(disc_price(), "revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return ordered(
        rev.withColumn("revenue_rank", F.row_number().over(w))
        .where(F.col("revenue_rank") <= 3)
        .select(
            F.col("p_brand").alias("brand"),
            F.col("p_partkey").alias("partkey"),
            "revenue",
            "revenue_rank",
        ),
        "brand",
        "revenue_rank",
    )


_SETOP_SQL = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
"""


@register(
    "setop_union_nations",
    _SETOP_SQL,
    doc="Set operation (absent from the reference, SURVEY.md §2.9; "
    "declared for completeness): UNION = union + distinct.",
)
def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, supplier = load_tables(spark, sf_dir, "customer", "supplier")
    return ordered(
        customer.select(F.col("c_nationkey").alias("nationkey"))
        .union(supplier.select(F.col("s_nationkey").alias("nationkey")))
        .distinct(),
        "nationkey",
    )


_SAMPLE_SQL = """
SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS totalprice
FROM orders
WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
ORDER BY o_orderkey
"""


@register(
    "sample_deterministic_orders",
    _SAMPLE_SQL,
    doc="Deterministic ~1/16 systematic sample via md5-prefix filter — "
    "reproducible across engines and runs, unlike rand()-based "
    "df.sample; the pattern for stable dev subsets of a 100 TB table.",
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    return ordered(
        orders.where(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "0"
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("totalprice"),
        ),
        "o_orderkey",
    )


_STRAT_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_sampled
FROM customer
WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register(
    "sample_stratified_customers",
    _STRAT_SQL,
    doc="Stratified deterministic sampling: the same md5-prefix rule "
    "applied within every stratum yields a reproducible ~25% sample "
    "per segment with no shuffle — per-stratum counts verify the "
    "stratification held.",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    (customer,) = load_tables(spark, sf_dir, "customer")
    return ordered(
        customer.where(
            F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1).isin(
                "0", "1", "2", "3"
            )
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_sampled")),
        "c_mktsegment",
    )


_CROSS_SQL = """
SELECT r_name, p.prio, COALESCE(o.n, 0) AS n_orders
FROM region
CROSS JOIN (SELECT DISTINCT o_orderpriority AS prio FROM orders) p
LEFT JOIN (
  SELECT n_regionkey AS rk, o_orderpriority AS prio2, COUNT(*) AS n
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
) o ON o.rk = r_regionkey AND o.prio2 = p.prio
ORDER BY r_name, p.prio
"""


@register(
    "cross_join_dense_grid",
    _CROSS_SQL,
    doc="Explicit cross join (absent from the reference, SURVEY.md "
    "§2.3): densify a region x priority reporting grid so empty cells "
    "appear as zeros — the only legitimate cross-join shape (two tiny "
    "dimension domains), left-joined against the aggregated facts.",
)
def cross_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    region, orders, customer, nation = load_tables(
        spark, sf_dir, "region", "orders", "customer", "nation"
    )
    prios = orders.select(F.col("o_orderpriority").alias("prio")).distinct()
    counts = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_regionkey").alias("rk"), F.col("o_orderpriority").alias("prio2"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return ordered(
        region.crossJoin(F.broadcast(prios))
        .join(
            counts,
            (F.col("rk") == F.col("r_regionkey")) & (F.col("prio2") == F.col("prio")),
            "left",
        )
        .select(
            "r_name", "prio", F.coalesce("n", F.lit(0)).cast("long").alias("n_orders")
        ),
        "r_name",
        "prio",
    )


_INTERSECT_SQL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
ORDER BY nationkey
"""


@register(
    "setop_intersect_nations",
    _INTERSECT_SQL,
    doc="INTERSECT (set semantics) — nations having both customers and "
    "suppliers. Catalyst plans a left-semi join over distincts.",
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, supplier = load_tables(spark, sf_dir, "customer", "supplier")
    return ordered(
        customer.select(F.col("c_nationkey").alias("nationkey"))
        .intersect(supplier.select(F.col("s_nationkey").alias("nationkey"))),
        "nationkey",
    )


_EXCEPT_SQL = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000
ORDER BY nationkey
"""


@register(
    "setop_except_nations",
    _EXCEPT_SQL,
    doc="EXCEPT (set semantics) — nations with customers but no "
    "well-capitalized supplier. Catalyst plans a left-anti join over "
    "distincts.",
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, supplier = load_tables(spark, sf_dir, "customer", "supplier")
    return ordered(
        customer.select(F.col("c_nationkey").alias("nationkey"))
        .subtract(
            supplier.where(F.col("s_acctbal") > 5000).select(
                F.col("s_nationkey").alias("nationkey")
            )
        ),
        "nationkey",
    )


_HAVING_SQL = """
SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 15
ORDER BY custkey
"""


@register(
    "having_frequent_customers",
    _HAVING_SQL,
    doc="HAVING (absent from the reference, SURVEY.md §2.9): post-agg "
    "filter; Catalyst plans it as Filter above HashAggregate.",
)
def having_frequent(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    return ordered(
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(dec("o_totalprice"), "total_spend"),
        )
        .where(F.col("n_orders") >= 15),
        "custkey",
    )


_NULLSAFE_SQL = """
WITH a AS (
  SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS pkey,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
), b AS (
  SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS pkey,
         COUNT(*) AS n_big
  FROM orders WHERE o_totalprice > 200000 GROUP BY 1
)
SELECT a.pkey, a.n_orders, b.n_big
FROM a LEFT JOIN b ON a.pkey IS NOT DISTINCT FROM b.pkey
ORDER BY a.pkey NULLS FIRST
"""


@register(
    "null_safe_join_priorities",
    _NULLSAFE_SQL,
    doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): a "
    "NULLIF-derived nullable key on both sides, so the NULL group joins "
    "to the NULL group — a plain equi-join would silently drop it. The "
    "nullable-dimension merge every warehouse hits; same shuffle shape "
    "as an ordinary key join.",
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    pkey = F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM"))
    a = orders.groupBy(pkey.alias("pkey")).agg(F.count(F.lit(1)).alias("n_orders"))
    b = (
        orders.where(F.col("o_totalprice") > 200000)
        .groupBy(pkey.alias("bkey"))
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    return ordered(
        a.join(b, F.col("pkey").eqNullSafe(F.col("bkey")), "left")
        .select("pkey", "n_orders", "n_big"),
        F.asc_nulls_first("pkey"),
    )
