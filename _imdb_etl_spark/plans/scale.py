"""Scale patterns: skew-aware salted aggregation, MERGE/SCD-1 emulation,
and the SQL-text API surface.

These register as ordinary oracle-checked queries — the point is that
the *pattern* produces results identical to its naive formulation (which
is what the oracle SQL runs), while changing the shuffle shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import dec, dsum, md5_prefix_int_sql, ordered
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables, scoped_conf, stage_to_parquet

_SALT_BUCKETS = 16

_SALTED_SQL = """
SELECT o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY o_orderpriority
ORDER BY priority
"""


@register(
    "salted_agg_by_priority",
    _SALTED_SQL,
    doc=f"Skew-aware aggregation: only 5 priority keys exist, so a naive "
    "groupBy funnels everything through 5 reducers. Salting fans the "
    f"partial aggregation over {_SALT_BUCKETS} buckets per key, then a "
    "tiny second combine removes the salt. Decimal sums are associative, "
    "so the result is bitwise-equal to the naive plan the oracle runs. "
    "(AQE skew-join handles join skew; salting is the agg-side tool.)",
)
def salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    partial = (
        orders.withColumn(
            "salt", F.pmod(F.hash("o_orderkey"), F.lit(_SALT_BUCKETS))
        )
        .groupBy("o_orderpriority", "salt")
        .agg(
            F.count(F.lit(1)).alias("pc"),
            F.sum(dec("o_totalprice")).alias("ps"),
        )
    )
    return ordered(
        partial.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.sum("pc").alias("n_orders"),
            F.sum("ps").cast("double").alias("total_price"),
        ),
        "priority",
    )


_MERGE_SQL = """
WITH vip AS (
  SELECT o_custkey FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 20
)
SELECT c_custkey, c_name,
       CASE WHEN c_custkey IN (SELECT o_custkey FROM vip)
            THEN 'VIP' ELSE c_mktsegment END AS c_mktsegment
FROM customer
ORDER BY c_custkey
"""


@register(
    "merge_scd1_vip_segment",
    _MERGE_SQL,
    doc="MERGE INTO / SCD Type 1 emulation without a table format: "
    "updates (customers with >=20 orders -> segment VIP) applied as "
    "anti-join (untouched rows) UNION updated rows. The oracle states "
    "the same result declaratively (CASE over a semi-join); the engine "
    "exercises the mechanical upsert plan a foreachBatch sink would run.",
)
def merge_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    vip_keys = (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 20)
        .select(F.col("o_custkey").alias("k"))
    )
    updates = customer.join(
        vip_keys, F.col("c_custkey") == F.col("k"), "left_semi"
    ).withColumn("c_mktsegment", F.lit("VIP"))
    untouched = customer.join(
        vip_keys, F.col("c_custkey") == F.col("k"), "left_anti"
    )
    return ordered(
        untouched.unionByName(updates)
        .select("c_custkey", "c_name", "c_mktsegment"),
        "c_custkey",
    )


_SCD2_SQL = """
WITH vip AS (
  SELECT o_custkey FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 20
),
snaps AS (
  SELECT c_custkey, c_mktsegment, 1 AS snap_ver, '2024-01-01' AS snap_date
  FROM customer
  UNION ALL
  SELECT c_custkey,
         CASE WHEN c_custkey IN (SELECT o_custkey FROM vip)
              THEN 'VIP' ELSE c_mktsegment END AS c_mktsegment,
         2 AS snap_ver, '2024-07-01' AS snap_date
  FROM customer
),
changed AS (
  SELECT * FROM (
    SELECT c_custkey, c_mktsegment, snap_ver, snap_date,
           LAG(c_mktsegment) OVER (PARTITION BY c_custkey ORDER BY snap_ver)
             AS prev_seg
    FROM snaps
  )
  WHERE prev_seg IS NULL OR c_mktsegment <> prev_seg
)
SELECT c_custkey, c_mktsegment,
       snap_date AS valid_from,
       LEAD(snap_date) OVER (PARTITION BY c_custkey ORDER BY snap_ver)
         AS valid_to,
       CAST(LEAD(snap_date) OVER (PARTITION BY c_custkey ORDER BY snap_ver)
              IS NULL AS BOOLEAN) AS is_current
FROM changed
ORDER BY c_custkey, valid_from
"""


def scd2_history(snaps: DataFrame, key: str, attr: str) -> DataFrame:
    """SCD Type 2 from versioned snapshots: one history row per
    (key, run of equal attribute values), with validity range and
    current flag. ``snaps`` needs (key, attr, snap_ver, snap_date).

    All windows partition by the dimension key, so the single shuffle is
    key-partitioned and each task sees only one key's few versions —
    no global ordering anywhere. Reference documents SCD types 0/1
    (README.md:96,123,145); type 2 completes the slowly-changing story.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy("snap_ver")
    changed = snaps.withColumn("prev_attr", F.lag(attr).over(w)).where(
        F.col("prev_attr").isNull() | (F.col(attr) != F.col("prev_attr"))
    )
    return changed.select(
        key,
        attr,
        F.col("snap_date").alias("valid_from"),
        F.lead("snap_date").over(w).alias("valid_to"),
        F.lead("snap_date").over(w).isNull().alias("is_current"),
    )


def _vip_snapshots(
    customer: DataFrame, orders: DataFrame, d1: str, d2: str
) -> DataFrame:
    """Two customer snapshots (baseline at ``d1``; VIP-upgraded heavy
    orderers at ``d2``) stacked with version/date columns — the input
    shape scd2_history expects."""
    vip_keys = (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 20)
        .select(F.col("o_custkey").alias("k"))
    )
    s1 = customer.select(
        "c_custkey",
        "c_mktsegment",
        F.lit(1).alias("snap_ver"),
        F.lit(d1).alias("snap_date"),
    )
    upd = customer.join(
        vip_keys, F.col("c_custkey") == F.col("k"), "left_semi"
    ).withColumn("c_mktsegment", F.lit("VIP"))
    same = customer.join(vip_keys, F.col("c_custkey") == F.col("k"), "left_anti")
    s2 = (
        same.unionByName(upd)
        .select(
            "c_custkey",
            "c_mktsegment",
            F.lit(2).alias("snap_ver"),
            F.lit(d2).alias("snap_date"),
        )
    )
    return s1.unionByName(s2)


@register(
    "merge_scd2_customer_history",
    _SCD2_SQL,
    doc="MERGE / SCD Type 2 emulation: two customer snapshots (baseline "
    "and post-VIP-update) collapse to history rows with "
    "valid_from/valid_to/is_current via lag/lead windows over the "
    "dimension key — unchanged customers keep one open-ended row, "
    "updated ones close the old row at the second snapshot date.",
)
def merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    snaps = _vip_snapshots(customer, orders, "2024-01-01", "2024-07-01")
    return ordered(
        scd2_history(snaps, "c_custkey", "c_mktsegment"),
        "c_custkey",
        "valid_from",
    )


_SQLAPI_SQL = """
WITH per_nation AS (
  SELECT n_name, COUNT(o_orderkey) AS order_count
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name AS nation_name, order_count
FROM per_nation
WHERE order_count > 100
ORDER BY order_count DESC, nation_name
"""


@register(
    "sql_api_cte_nations",
    _SQLAPI_SQL,
    doc="The spark.sql() text surface (SURVEY.md §3: the reference is "
    "100% SQL text): temp views + a WITH query, same Catalyst plan as "
    "the DataFrame build. Proves the engine's SQL entry point end-to-end.",
)
def sql_api_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer, nation = load_tables(spark, sf_dir, "orders", "customer", "nation")
    orders.createOrReplaceTempView("sqlapi_orders")
    customer.createOrReplaceTempView("sqlapi_customer")
    nation.createOrReplaceTempView("sqlapi_nation")
    return spark.sql(
        _SQLAPI_SQL.replace("FROM orders", "FROM sqlapi_orders")
        .replace("JOIN customer", "JOIN sqlapi_customer")
        .replace("JOIN nation", "JOIN sqlapi_nation")
    )


_JOIN_SALT = 8

_SKEW_JOIN_SQL = """
SELECT c.c_name AS customer_name,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_name
ORDER BY customer_name
"""


@register(
    "skew_join_salted_events",
    _SKEW_JOIN_SQL,
    doc="Two-sided salted join: the dim side replicates x8 (explode over "
    "salt ids), the fact side salts deterministically on "
    "pmod(xxhash64(event_id), 8), and the join key becomes "
    "(user_id, salt) — splitting any single hot user across 8 shuffle "
    "partitions. The manual tool for join skew when the dim side is too "
    "big to broadcast and one key is too hot for AQE's split threshold; "
    "the salt never reaches the output, so the oracle is the naive join. "
    "(salted_agg_by_priority is the agg-side twin.)",
)
def skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    events, customer = load_tables(spark, sf_dir, "events", "customer")
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_name"
    ).withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_JOIN_SALT)]))
    )
    fact = events.select(
        "user_id",
        "value",
        F.pmod(F.xxhash64("event_id"), F.lit(_JOIN_SALT)).cast("int").alias("salt"),
    )
    # pin the partitioned join the pattern exists for (at test scale AQE
    # would broadcast the exploded dim and the salt would be inert);
    # shuffle_hash is size-safe at any scale, unlike a broadcast hint
    return ordered(
        fact.join(dim.hint("shuffle_hash"), ["user_id", "salt"])
        .groupBy(F.col("c_name").alias("customer_name"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        ),
        "customer_name",
    )


_CDC_SQL = """
WITH old AS (
  SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price
  FROM orders WHERE o_orderkey % 7 <> 0
),
new AS (
  SELECT o_orderkey AS k,
         CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1000.0
                   ELSE o_totalprice END AS DOUBLE) AS price
  FROM orders WHERE o_orderkey % 5 <> 0
)
SELECT COALESCE(old.k, new.k) AS k,
       CASE WHEN old.k IS NULL THEN 'insert'
            WHEN new.k IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       old.price AS old_price,
       new.price AS new_price
FROM old FULL OUTER JOIN new ON old.k = new.k
WHERE old.k IS NULL OR new.k IS NULL OR old.price <> new.price
ORDER BY k
"""


@register(
    "cdc_snapshot_diff",
    _CDC_SQL,
    doc="CDC-style snapshot diff — the MERGE-source computation: two "
    "snapshots full-outer-joined on the key classify every row as "
    "insert / delete / update, unchanged rows dropped. Both snapshots "
    "are deterministic derivations of the same table so the whole "
    "changefeed is value-hash-verified. At scale this is one "
    "co-partitioned shuffle join on the key (bucketing both snapshots "
    "on k makes it exchange-free); the +1000.0 delta is exact in "
    "binary so the update predicate is engine-stable.",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    old = orders.where(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    new = orders.where(F.col("o_orderkey") % 5 != 0).select(
        F.col("o_orderkey").alias("nk"),
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 1000.0
        )
        .otherwise(F.col("o_totalprice"))
        .cast("double")
        .alias("nprice"),
    )
    diff = old.join(new, F.col("k") == F.col("nk"), "full_outer")
    return ordered(
        diff.where(
            F.col("k").isNull()
            | F.col("nk").isNull()
            | (F.col("price") != F.col("nprice"))
        )
        .select(
            F.coalesce(F.col("k"), F.col("nk")).alias("k"),
            F.when(F.col("k").isNull(), "insert")
            .when(F.col("nk").isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            F.col("price").alias("old_price"),
            F.col("nprice").alias("new_price"),
        ),
        "k",
    )


# Point-in-time (PIT) join: the lookup pattern SCD2 history exists FOR —
# each fact row joins the dimension attributes that were valid AT its
# event time, never the current ones. Snapshot dates sit inside the
# orders date range so all three regimes occur: orders before the first
# snapshot (no valid row -> PRE_HISTORY), between snapshots (baseline
# segment), and after the VIP upgrade (open-ended current row).
_PIT_D1 = "1997-01-01"
_PIT_D2 = "1999-01-01"

_PIT_SQL = f"""
WITH vip AS (
  SELECT o_custkey FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 20
),
snaps AS (
  SELECT c_custkey, c_mktsegment, 1 AS snap_ver, '{_PIT_D1}' AS snap_date
  FROM customer
  UNION ALL
  SELECT c_custkey,
         CASE WHEN c_custkey IN (SELECT o_custkey FROM vip)
              THEN 'VIP' ELSE c_mktsegment END AS c_mktsegment,
         2 AS snap_ver, '{_PIT_D2}' AS snap_date
  FROM customer
),
changed AS (
  SELECT * FROM (
    SELECT c_custkey, c_mktsegment, snap_ver, snap_date,
           LAG(c_mktsegment) OVER (PARTITION BY c_custkey ORDER BY snap_ver)
             AS prev_seg
    FROM snaps
  )
  WHERE prev_seg IS NULL OR c_mktsegment <> prev_seg
),
hist AS (
  SELECT c_custkey, c_mktsegment,
         snap_date AS valid_from,
         LEAD(snap_date) OVER (PARTITION BY c_custkey ORDER BY snap_ver)
           AS valid_to
  FROM changed
)
SELECT COALESCE(h.c_mktsegment, 'PRE_HISTORY') AS segment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM orders o
LEFT JOIN hist h
  ON o.o_custkey = h.c_custkey
 AND o.o_orderdate >= CAST(h.valid_from AS TIMESTAMP)
 AND (h.valid_to IS NULL OR o.o_orderdate < CAST(h.valid_to AS TIMESTAMP))
GROUP BY 1
ORDER BY segment
"""


@register(
    "scd2_point_in_time_join",
    _PIT_SQL,
    doc="Point-in-time join against the SCD2 history — the lookup "
    "pattern versioned dimensions exist for: every order joins the "
    "segment valid AT its order date (equi key on custkey plus a "
    "validity-interval residual — an ordinary keyed shuffle join, "
    "never a range explosion, since each customer holds at most a "
    "handful of disjoint intervals), with pre-history orders surfaced "
    "explicitly rather than silently matched to later attributes. "
    "The three validity regimes (pre-history, baseline, post-upgrade) "
    "all occur by construction.",
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    hist = scd2_history(
        _vip_snapshots(customer, orders, _PIT_D1, _PIT_D2),
        "c_custkey",
        "c_mktsegment",
    ).select("c_custkey", "c_mktsegment", "valid_from", "valid_to")
    cond = (
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("o_orderdate") >= F.to_timestamp("valid_from"))
        & (
            F.col("valid_to").isNull()
            | (F.col("o_orderdate") < F.to_timestamp("valid_to"))
        )
    )
    return ordered(
        orders.join(hist, cond, "left")
        .groupBy(
            F.coalesce("c_mktsegment", F.lit("PRE_HISTORY")).alias("segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(dec("o_totalprice"), "total_price"),
        ),
        "segment",
    )


# --- SQL pipe syntax (Spark 4) ---------------------------------------
#
# Spark 4's pipe operators (FROM ... |> WHERE ... |> AGGREGATE) are the
# modern face of the reference's pure-SQL surface: each |> stage maps
# one-to-one onto a Catalyst operator, so the plan is identical to the
# DataFrame build — this registers the syntax end-to-end against the
# ANSI twin to prove the entry point, not a new execution path.

_PIPE_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE)
         AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

_PIPE_TEXT = """
FROM pipe_lineitem
|> WHERE l_shipdate >= DATE '1995-01-01'
|> EXTEND CAST(l_extendedprice AS DECIMAL(12,2))
          * CAST(1 - l_discount AS DECIMAL(8,2)) AS rev
|> AGGREGATE COUNT(*) AS n_items, CAST(SUM(rev) AS DOUBLE) AS revenue
   GROUP BY l_returnflag
|> SELECT l_returnflag, n_items, revenue
|> ORDER BY l_returnflag
"""


@register(
    "sql_pipe_revenue",
    _PIPE_SQL,
    doc="Spark 4 SQL pipe syntax (FROM |> WHERE |> EXTEND |> AGGREGATE "
    "|> ORDER BY): post-1995 revenue per return flag under the exact-"
    "decimal policy. Each pipe stage lowers to the same Catalyst "
    "operator as the DataFrame build; the oracle is the ANSI twin.",
)
def sql_pipe_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    lineitem.createOrReplaceTempView("pipe_lineitem")
    return spark.sql(_PIPE_TEXT)


# --- shuffle-skew profile ---------------------------------------------
#
# The diagnostic that decides WHEN the salting/AQE tools above are
# needed: distribution of per-key row mass across hash-shuffle buckets.
# The bucket function is an engine-neutral md5 stand-in for the hash
# partitioner (both engines compute identical membership, so the
# profile is oracle-exact); at 100 TB this is two hash-agg shuffles —
# key counts, then a 32-row bucket rollup — and the total-row scalar
# broadcasts back. A bucket with load_permille far above 1000/32 = 31,
# or max_key_rows close to its n_rows, names the key(s) to salt.

_SKEW_BUCKETS = 32

_SKEW_HEX4 = md5_prefix_int_sql("CAST(user_id AS VARCHAR)", 4)

_SKEW_SQL = f"""
WITH k AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
b AS (SELECT ({_SKEW_HEX4} % {_SKEW_BUCKETS}) AS bucket, n FROM k),
t AS (SELECT SUM(n) AS total FROM b)
SELECT CAST(bucket AS BIGINT) AS bucket,
       COUNT(*) AS n_keys,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(MAX(n) AS BIGINT) AS max_key_rows,
       CAST(1000 * SUM(n) // t.total AS BIGINT) AS load_permille
FROM b CROSS JOIN t
GROUP BY bucket, t.total
ORDER BY bucket
"""


@register(
    "shuffle_skew_profile",
    _SKEW_SQL,
    doc=f"Shuffle-skew diagnostic for events.user_id: per-key row "
    f"counts rolled up into {_SKEW_BUCKETS} md5 hash buckets (an "
    "engine-neutral stand-in for the hash partitioner), with each "
    "bucket's key count, row mass, hottest single key, and integer "
    "load permille vs the corpus total. The planning input for the "
    "salted-agg / AQE-skew-join remedies in this module: a bucket far "
    "above 1000/32 permille, or max_key_rows ~ n_rows, names the keys "
    "to salt. Two hash-agg shuffles + a broadcast scalar.",
)
def shuffle_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from _imdb_etl_spark.functions import hex_prefix_int

    (events,) = load_tables(spark, sf_dir, "events")
    k = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    bucket = (
        hex_prefix_int(F.md5(F.col("user_id").cast("string")))
        % _SKEW_BUCKETS
    )
    b = k.select(bucket.alias("bucket"), "n")
    t = b.agg(F.sum("n").alias("total"))
    return ordered(
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n").alias("n_rows"),
            F.max("n").alias("max_key_rows"),
        )
        .crossJoin(F.broadcast(t))  # 1-row scalar: bounded, safe hint
        .select(
            "bucket",
            "n_keys",
            "n_rows",
            "max_key_rows",
            F.expr("1000 * n_rows div total").alias("load_permille"),
        ),
        "bucket",
    )


# --- parameterized SQL + GROUP BY ALL --------------------------------
#
# Two more rows of the SQL-text API surface (next to the CTE, pipe,
# UDF, and TVF queries above):
# - sql_parameterized_revenue uses Spark's parameterized `spark.sql`
#   (named parameter markers + DataFrames templated in as {refs}) —
#   the injection-safe query API; the literal reaches the plan as a
#   bound parameter, not string concatenation, and predicate pushdown
#   still applies.
# - sql_group_by_all_revenue uses GROUP BY ALL / ORDER BY ALL (the
#   Spark 4 dimensional shorthand, same semantics in DuckDB) — proven
#   against an explicit-column oracle.

_PARAM_CUTOFF = "1997-06-01"

_PARAM_SQL = f"""
SELECT o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         AS total_price
FROM orders
WHERE o_orderdate >= DATE '{_PARAM_CUTOFF}'
GROUP BY o_orderpriority
ORDER BY priority
"""


@register(
    "sql_parameterized_revenue",
    _PARAM_SQL,
    doc="Parameterized spark.sql: the cutoff date binds through a "
    "named parameter marker (:start) and the orders DataFrame "
    "templates in as {orders} — the injection-safe SQL API. The "
    "oracle runs the same text with the literal inlined; identical "
    "results prove the parameter path changes nothing about the "
    "plan's semantics (decimal-sum policy as everywhere).",
)
def sql_parameterized_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority AS priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                 AS total_price
        FROM {orders}
        WHERE o_orderdate >= :start
        GROUP BY o_orderpriority
        ORDER BY priority
        """,
        args={"start": _PARAM_CUTOFF},
        orders=orders,
    )


_GBALL_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ALL
ORDER BY ALL
"""


@register(
    "sql_group_by_all_revenue",
    _GBALL_SQL,
    doc="GROUP BY ALL / ORDER BY ALL (the dimensional shorthand — "
    "every non-aggregate select column groups, every column orders): "
    "same syntax executes in both engines, and the result "
    "hash-matches, proving the shorthand resolves to the identical "
    "explicit grouping. Decimal-sum policy as everywhere.",
)
def sql_group_by_all_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                 AS sum_qty,
               COUNT(*) AS n_rows
        FROM {lineitem}
        GROUP BY ALL
        ORDER BY ALL
        """,
        lineitem=lineitem,
    )


# --- runtime bloom-filter semi-join reduction ---------------------------
#
# Spark's InjectRuntimeFilter: when a selective filter sits on one side
# of a shuffle join, the optimizer builds a bloom filter over the
# filtered side's join keys (bloom_filter_agg) and pushes a
# might_contain probe onto the OTHER side's scan — rows that cannot
# match are dropped before the exchange, cutting the shuffled bytes by
# the filter's selectivity. At 100 TB this triggers out of the box
# (both sides exceed every threshold); at bench scale the urgent-orders
# build side fits the broadcast threshold, and Spark (correctly) skips
# the bloom for a broadcast join — so the registered builder pins the
# 100 TB plan shape by disabling broadcast and zeroing the
# application-side scan threshold AT PLANNING TIME, materializing
# eagerly via parquet staging (bounded: one row per return flag), and
# restoring both confs before returning. The might_contain +
# bloom_filter_agg plan nodes are pinned in tests/test_plans.py.

_BLOOM_JOIN_SQL = """
SELECT l_returnflag AS returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
ORDER BY returnflag
"""

_BLOOM_SCAN_KEY = (
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
)
_BCAST_KEY = "spark.sql.autoBroadcastJoinThreshold"


def _bloom_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join under runtime-filter planning confs — shared by the
    registered builder and the plan-pin test so the pinned plan IS the
    shipped plan."""
    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(urgent, lineitem["l_orderkey"] == urgent["o_orderkey"])
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            dsum(rev.cast("decimal(18,6)"), "revenue"),
        )
    )


@register(
    "runtime_bloom_filter_join",
    _BLOOM_JOIN_SQL,
    doc="Runtime bloom-filter semi-join reduction (InjectRuntimeFilter): "
    "the selective urgent-orders side builds a bloom_filter_agg over "
    "its join keys and the lineitem scan gains a might_contain probe "
    "— non-matching rows die before the shuffle, cutting exchanged "
    "bytes by the filter's selectivity. The 100 TB plan shape is "
    "pinned at planning time (broadcast disabled + zero scan "
    "threshold, both restored after an eager bounded parquet stage), "
    "because at bench scale Spark would correctly prefer a broadcast "
    "join and skip the bloom. Plan nodes pinned in tests/test_plans.py.",
)
def runtime_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scoped_conf(spark, {_BLOOM_SCAN_KEY: "0", _BCAST_KEY: "-1"}):
        # eager: planned (bloom injected) and executed under the confs;
        # the staged frame is bounded at one row per return flag
        out = stage_to_parquet(_bloom_join_frame(spark, sf_dir), "bloom_out")
    return ordered(out, "returnflag")


# --- AQE skew-join split (the automatic twin of the salted join) --------
#
# Production join skew usually arrives as a SENTINEL key: a tracking
# default (anonymous user 0, empty string, -1) absorbs a fat slice of
# the fact table, and that one shuffle partition runs as long as the
# rest of the stage combined. skew_join_salted_events is the manual
# fix; this query pins Spark's AUTOMATIC one — AQE's OptimizeSkewedJoin
# measures map output at runtime and splits the oversized partition
# into advisory-sized pieces, visible as SortMergeJoin(skew=true) in
# the final adaptive plan. 30% of events collapse onto sentinel key 0
# (matching no customer, exactly like an anonymous-traffic feed: the
# rows vanish from the inner join but still traverse the exchange);
# the split thresholds are lowered AT PLANNING TIME so the at-scale
# behavior manifests on bench data, then restored after an eager
# bounded checkpoint — same conf discipline as
# runtime_bloom_filter_join. skew=true is pinned in tests/test_plans.py.

_SKEW_SENTINEL_SQL = """
SELECT c_mktsegment AS segment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events e
JOIN customer c
  ON (CASE WHEN e.user_id % 10 < 3 THEN 0 ELSE e.user_id END) = c.c_custkey
GROUP BY c_mktsegment
ORDER BY segment
"""

_AQE_SKEW_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512b",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


def _aqe_skew_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sentinel-skewed join — shared by the registered builder and
    the skew=true plan pin so the pinned plan IS the shipped plan."""
    events, customer = load_tables(spark, sf_dir, "events", "customer")
    sentinel = F.when(F.col("user_id") % 10 < 3, F.lit(0)).otherwise(
        F.col("user_id")
    )
    # AQE splits a skewed reduce partition by REGROUPING MAP OUTPUTS,
    # so the skewed side's exchange needs more than one mapper to have
    # anything to regroup. At 100 TB the fact side is always the
    # output of a wide upstream stage; on a one-file bench scan
    # (single parquet row group = single map task) that structure is
    # restored with an explicit repartition, which stands in for the
    # upstream stage rather than adding one.
    fact = events.repartition(32, "event_id").select(
        sentinel.alias("k"), "value"
    )
    dim = customer.select(F.col("c_custkey").alias("k"), "c_mktsegment")
    return (
        fact.join(dim.hint("merge"), "k")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
    )


@register(
    "aqe_skew_join_events",
    _SKEW_SENTINEL_SQL,
    doc="AQE skew-join split on sentinel-key skew: 30% of events "
    "collapse onto anonymous user 0 (the classic tracking-default "
    "production skew — dropped by the inner join but still funneled "
    "through one shuffle partition), and AQE's OptimizeSkewedJoin "
    "splits that partition at runtime into advisory-sized pieces — "
    "SortMergeJoin(skew=true) pinned in tests/test_plans.py. Split "
    "thresholds are lowered at planning time so the at-scale behavior "
    "manifests on bench data, then restored after an eager bounded "
    "checkpoint (one row per segment). The automatic twin of "
    "skew_join_salted_events: AQE handles partition-sized skew for "
    "free; salting remains the tool when one KEY alone exceeds what "
    "a single task should own.",
)
def aqe_skew_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scoped_conf(spark, _AQE_SKEW_CONFS):
        # eager under the AQE-skew confs; bounded at one row/segment
        out = stage_to_parquet(_aqe_skew_frame(spark, sf_dir), "aqeskew_out")
    return ordered(out, "segment")


# --- IDENTIFIER() binding + EXECUTE IMMEDIATE --------------------------
#
# sql_parameterized_revenue binds VALUES safely; templated pipelines
# also need to bind IDENTIFIERS (a table or column name arriving from
# config). String concatenation there is the classic injection (and
# typo) vector; Spark 4's IDENTIFIER(:name) clause resolves a
# parameter as a catalog identifier instead. The builder registers a
# temp view for the orders table, binds the VIEW NAME through
# IDENTIFIER and the grouping COLUMN through a second marker, and runs
# the statement through EXECUTE IMMEDIATE — the dynamic-SQL surface a
# warehouse migration would exercise. Identifier binding is a
# resolution-time feature: the plan underneath is the ordinary
# aggregate, which the oracle proves by running the same text with
# names inlined.

_IDENT_SQL = """
SELECT o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         AS total_price
FROM orders
GROUP BY o_orderpriority
ORDER BY priority
"""


@register(
    "sql_identifier_binding",
    _IDENT_SQL,
    doc="Dynamic-SQL surface: the table name binds through "
    "IDENTIFIER(:tbl) and the grouping column through "
    "IDENTIFIER(:grp), executed via EXECUTE IMMEDIATE with a USING "
    "clause — the injection-safe way a templated pipeline points one "
    "statement at config-supplied objects (string concatenation is "
    "the classic injection/typo vector IDENTIFIER exists to replace). "
    "Identifier binding happens at resolution time, so the plan is "
    "the ordinary hash aggregate; the oracle runs the same text with "
    "the names inlined, proving the binding path changes semantics "
    "not at all.",
)
def sql_identifier_binding(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    (orders,) = load_tables(spark, sf_dir, "orders")
    view = f"orders_ident_{os.getpid()}"
    orders.createOrReplaceTempView(view)
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT IDENTIFIER(:grp) AS priority,
                  COUNT(*) AS n_orders,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                    AS total_price
           FROM IDENTIFIER(:tbl)
           GROUP BY IDENTIFIER(:grp)
           ORDER BY priority'
          USING :v AS tbl, 'o_orderpriority' AS grp
        """,
        args={"v": view},
    )


# --- SQL session variables ----------------------------------------------
#
# The third face of the dynamic-SQL surface (values via parameter
# markers, identifiers via IDENTIFIER(): this one is session state):
# DECLARE VARIABLE / SET VARIABLE give multi-statement SQL scripts a
# typed, injection-safe way to thread a computed scalar between
# statements — here the cutoff is even COMPUTED by a query (the
# max order date minus a horizon) before the aggregate consumes it,
# the two-step shape a warehouse script uses where string templating
# would re-quote and re-parse. Variables resolve at analysis time to
# typed literals, so the consuming plan is the ordinary pushed-down
# scan + aggregate the oracle states with the literal inlined.

_SESSVAR_SQL = """
SELECT o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         AS total_price
FROM orders
WHERE o_orderdate >= (SELECT MAX(o_orderdate) - INTERVAL 180 DAY FROM orders)
GROUP BY o_orderpriority
ORDER BY priority
"""


@register(
    "sql_session_variable",
    _SESSVAR_SQL,
    doc="SQL session variables (DECLARE / SET VARIABLE): a typed "
    "cutoff is COMPUTED by one statement (max order date minus a "
    "180-day horizon) into a session variable, then consumed by the "
    "aggregate — the injection-safe way multi-statement scripts "
    "thread computed scalars, where string templating re-quotes and "
    "re-parses. Variables bind at analysis time as typed literals, so "
    "the consuming plan is the same pushed-down scan + aggregate the "
    "oracle states with an inline scalar subquery; a trailing-horizon "
    "report is also the natural incremental-window shape at 100 TB "
    "(the variable keys partition pruning on a date-partitioned "
    "fact).",
)
def sql_session_variable(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    orders.createOrReplaceTempView(f"orders_sv_{__import__('os').getpid()}")
    view = f"orders_sv_{__import__('os').getpid()}"
    spark.sql("DECLARE OR REPLACE VARIABLE horizon_start DATE")
    spark.sql(
        f"SET VARIABLE horizon_start ="
        f" (SELECT MAX(o_orderdate) - INTERVAL 180 DAY FROM {view})"
    )
    return spark.sql(
        f"""
        SELECT o_orderpriority AS priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                 AS total_price
        FROM {view}
        WHERE o_orderdate >= horizon_start
        GROUP BY o_orderpriority
        ORDER BY priority
        """
    )
