"""Advanced operator coverage beyond the reference surface (SURVEY.md
§2.9 lists these as absent there): as-of join, ROLLUP grouping sets,
approximate distinct, CASE bucketing. Each is a standard OLAP shape a
user of this engine needs at 100 TB.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves postponed hints here

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import dec, dsum, ordered
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables, scoped_conf, stage_sorted

_ASOF_SQL = """
WITH seq AS (
  SELECT event_id, user_id, ts, event_type,
         MAX(CASE WHEN event_type = 'view' THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_view_ts
  FROM events
  WHERE event_type IN ('view', 'purchase')
)
SELECT event_id,
       user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       strftime(prev_view_ts, '%Y-%m-%d %H:%M:%S.%f') AS asof_view_ts,
       epoch_ms(ts) - epoch_ms(prev_view_ts) AS gap_ms
FROM seq
WHERE event_type = 'purchase'
ORDER BY event_id
"""


@register(
    "asof_join_purchase_view",
    _ASOF_SQL,
    doc="As-of join (no native Spark operator): each purchase matched to "
    "the user's most recent earlier view via a conditional running MAX "
    "over an event-time window — one shuffle on user_id, no range "
    "explosion. The standard Spark formulation of ASOF semantics.",
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_view = F.max(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return ordered(
        events.where(F.col("event_type").isin("view", "purchase"))
        .withColumn("prev_view_ts", prev_view)
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", fmt).alias("purchase_ts"),
            F.date_format("prev_view_ts", fmt).alias("asof_view_ts"),
            (F.unix_millis("ts") - F.unix_millis("prev_view_ts")).alias("gap_ms"),
        ),
        "event_id",
    )


_ROLLUP_SQL = """
SELECT o_orderstatus AS status,
       o_orderpriority AS priority,
       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY gid, status NULLS FIRST, priority NULLS FIRST
"""


@register(
    "rollup_orders_status_priority",
    _ROLLUP_SQL,
    doc="ROLLUP grouping sets (subtotals + grand total) with GROUPING id "
    "to distinguish subtotal NULLs from data NULLs. Spark expands to a "
    "single Expand + two-phase aggregate.",
)
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    return ordered(
        orders.rollup(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum(dec("o_totalprice"), "total_price"),
        ),
        "gid",
        F.asc_nulls_first("status"),
        F.asc_nulls_first("priority"),
    )


_CASE_SQL = """
SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
            WHEN o_totalprice < 300000 THEN 'medium'
            ELSE 'large' END AS price_band,
       year(o_orderdate) AS order_year,
       quarter(o_orderdate) AS order_quarter,
       COUNT(*) AS n_orders
FROM orders
GROUP BY 1, 2, 3
ORDER BY price_band, order_year, order_quarter
"""


@register(
    "case_date_buckets",
    _CASE_SQL,
    doc="CASE bucketing + date-part extraction (year/quarter) grouped "
    "counts — scalar-function surface the reference never touches "
    "(its only scalar is ROUND, SURVEY.md §2.8).",
)
def case_date_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
    )
    return ordered(
        orders.groupBy(
            band.alias("price_band"),
            F.year("o_orderdate").alias("order_year"),
            F.quarter("o_orderdate").alias("order_quarter"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders")),
        "price_band",
        "order_year",
        "order_quarter",
    )


_HLL_RSD = 0.02

_APPROX_DISTINCT_SQL = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_bound
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "approx_distinct_users",
    _APPROX_DISTINCT_SQL,
    doc="approx_count_distinct (HyperLogLog++) per event_type — the "
    "sketch path that replaces exact COUNT(DISTINCT) at 100 TB "
    "(no per-key state explosion, one pass). Oracle-checkable without "
    "a cross-engine sketch: the query emits the exact count plus a "
    "within_bound boolean (|sketch - exact| <= 3*rsd*exact, floored at "
    "5 for tiny groups); the DuckDB twin computes the exact aggregate "
    "and asserts the bound as TRUE, so a sketch drifting outside its "
    f"{_HLL_RSD} rsd contract flips the value hash. The raw sketch "
    "value is deliberately NOT an output column (engine-specific, "
    "never hash-comparable); tighter error assertions live in "
    "tests/test_operators.py.",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    bound = F.greatest(F.col("exact_users") * (3 * _HLL_RSD), F.lit(5.0))
    return ordered(
        events.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", _HLL_RSD).alias("approx_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users")) <= bound
            ).alias("within_bound"),
        ),
        "event_type",
    )


_EMB_STATS_SQL = """
SELECT vec_id,
       len(embedding) AS dim,
       ROUND(sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
             j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)))), 6) AS l2_norm,
       ROUND(CAST(list_min(embedding) AS DOUBLE), 6) AS min_val,
       ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val
FROM embeddings
ORDER BY vec_id
"""


@register(
    "embedding_array_stats",
    _EMB_STATS_SQL,
    doc="Array-function surface over vector columns: length, L2 norm "
    "(float64 accumulation), elementwise min/max — the per-vector "
    "sanity profile before any similarity work, all in codegen.",
)
def embedding_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    # match DuckDB list_sum semantics on degenerate vectors: NULL
    # elements are ignored (not NULL-propagated) and an empty/all-NULL
    # array yields NULL, not the 0.0 fold seed
    clean = F.filter(F.col("embedding"), lambda x: x.isNotNull())
    sq = F.when(
        F.size(clean) > 0,
        F.aggregate(
            F.transform(clean, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return ordered(
        emb.select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.round(F.sqrt(sq), 6).alias("l2_norm"),
            F.round(F.array_min("embedding").cast("double"), 6).alias("min_val"),
            F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
        ),
        "vec_id",
    )


def _fuzzy_name_pairs(part: DataFrame) -> DataFrame:
    """FastSS deletion-neighborhood matching over the DISTINCT-name
    table: a name plus its single-char deletions form its signature
    set; strings within edit distance 1 always share a signature, so
    the signature self-join generates candidates linear in distinct
    names, verified by the same-first-token block and Levenshtein <= 1.
    Emits unordered name pairs (nm_a <= nm_b; the diagonal is kept for
    ED=0 duplicate groups). The candidate stage of the bounded group
    face (fuzzy_part_name_groups)."""
    block = F.split(F.col("p_name"), " ").getItem(0)
    names = part.select("p_name").distinct().select(
        F.col("p_name").alias("nm"), block.alias("blk")
    )
    sig_expr = (
        "array_distinct(concat(array(nm), "
        "transform(sequence(1, length(nm)), "
        "i -> concat(substring(nm, 1, i - 1), "
        "substring(nm, i + 1, length(nm))))))"
    )
    sigs = names.select(
        "nm", "blk", F.explode(F.expr(sig_expr)).alias("sig")
    )
    na = sigs.select(
        F.col("nm").alias("nm_a"), F.col("blk").alias("blk_a"), "sig"
    )
    nb = sigs.select(
        F.col("nm").alias("nm_b"), F.col("blk").alias("blk_b"), "sig"
    )
    return (
        na.join(nb, ["sig"])
        .where(F.col("nm_a") <= F.col("nm_b"))  # keep the diagonal: ED=0
        .select("nm_a", "nm_b", "blk_a", "blk_b")
        .distinct()
        .where(
            (F.col("blk_a") == F.col("blk_b"))
            & (F.levenshtein("nm_a", "nm_b") <= 1)
        )
        .select("nm_a", "nm_b")
    )


# The part-pair expansion that fuzzy_part_name_groups stops short of:
# quadratic in duplicate-group size by definition, so it is no face,
# only the DuckDB statement pytest counts n_pairs against.
_FUZZY_SQL = """
SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
       a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS edit_distance
FROM part a
JOIN part b
  ON a.p_partkey < b.p_partkey
 AND string_split(a.p_name, ' ')[1] = string_split(b.p_name, ' ')[1]
WHERE levenshtein(a.p_name, b.p_name) <= 1
ORDER BY part_a, part_b
"""


_FUZZY_GROUPS_SQL = """
WITH counts AS (
  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n FROM part GROUP BY p_name
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       a.n AS n_parts_a, b.n AS n_parts_b,
       -- n*(n-1) is even and na*nb < 2^53, so /2 is exact in double
       CAST(CASE WHEN a.p_name = b.p_name THEN a.n * (a.n - 1) / 2
                 ELSE a.n * b.n END AS BIGINT) AS n_pairs,
       levenshtein(a.p_name, b.p_name) AS edit_distance
FROM counts a
JOIN counts b
  ON a.p_name <= b.p_name
 AND string_split(a.p_name, ' ')[1] = string_split(b.p_name, ' ')[1]
WHERE levenshtein(a.p_name, b.p_name) <= 1
  AND (a.p_name <> b.p_name OR a.n > 1)
ORDER BY name_a, name_b
"""


@register(
    "fuzzy_part_name_groups",
    _FUZZY_GROUPS_SQL,
    doc="Fuzzy part-name matching that stops BEFORE the part-pair "
    "output expansion. The answer to "
    "'which names fuzzily collide, and how big is the blast radius' "
    "is (name_a, name_b, group sizes, pair count) — bounded by "
    "distinct-name pairs, while the expanded pair list is quadratic "
    "in duplicate-group size by definition (at 10x bench scale the "
    "expansion emits ~300M rows from ~64 distinct names; this face "
    "emits the same information in under a hundred). Candidate "
    "generation + verify is the shared FastSS deletion-neighborhood "
    "stage (_fuzzy_name_pairs); n_pairs is n*(n-1)/2 on the diagonal "
    "(unordered within-group pairs) and na*nb off it, exactly the row "
    "counts the expansion would produce. Downstream consumers "
    "expand only the groups they act on.",
)
def fuzzy_part_name_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = load_tables(spark, sf_dir, "part")
    counts = part.groupBy(F.col("p_name").alias("nm")).agg(
        F.count(F.lit(1)).alias("n")
    )
    ca = counts.select(
        F.col("nm").alias("nm_a"), F.col("n").alias("n_parts_a")
    )
    cb = counts.select(
        F.col("nm").alias("nm_b"), F.col("n").alias("n_parts_b")
    )
    diag_pairs = (  # n*(n-1) even, product < 2^53: /2 exact in double
        F.col("n_parts_a") * (F.col("n_parts_a") - 1) / F.lit(2)
    )
    n_pairs = (
        F.when(F.col("nm_a") == F.col("nm_b"), diag_pairs)
        .otherwise(F.col("n_parts_a") * F.col("n_parts_b"))
        .cast("long")
    )
    return ordered(
        _fuzzy_name_pairs(part)
        .join(ca, "nm_a")
        .join(cb, "nm_b")
        .where((F.col("nm_a") != F.col("nm_b")) | (F.col("n_parts_a") > 1))
        .select(
            F.col("nm_a").alias("name_a"),
            F.col("nm_b").alias("name_b"),
            "n_parts_a",
            "n_parts_b",
            n_pairs.alias("n_pairs"),
            F.levenshtein("nm_a", "nm_b").alias("edit_distance"),
        ),
        "name_a",
        "name_b",
    )


_QUANTILE_SQL = """
SELECT l_returnflag AS flag,
       ROUND(quantile_disc(l_extendedprice, 0.5), 2) AS p50_price,
       ROUND(quantile_disc(l_extendedprice, 0.9), 2) AS p90_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY flag
"""


@register(
    "quantiles_price_by_flag",
    _QUANTILE_SQL,
    doc="Exact discrete quantiles per group via percentile_disc — "
    "matches DuckDB's quantile_disc value-for-value (both pick an "
    "actual data element, no interpolation drift). The streaming-scale "
    "variant is percentile_approx.",
)
def quantiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return ordered(
        lineitem.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.round(
                F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"),
                2,
            ).alias("p50_price"),
            F.round(
                F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)"),
                2,
            ).alias("p90_price"),
        ),
        "flag",
    )


# non-uniform price bands; JUMBO's cap bounds the bin fan-out
_BANDS = [
    ("SMALL", 0, 50_000),
    ("MEDIUM", 50_000, 200_000),
    ("LARGE", 200_000, 350_000),
    ("JUMBO", 350_000, 1_000_000),
]
_BIN_WIDTH = 50_000

_RANGE_JOIN_SQL = f"""
WITH bands(band, lo, hi) AS (
  VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)}
)
SELECT band,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM orders
JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
ORDER BY band
"""


@register(
    "range_join_price_bands",
    _RANGE_JOIN_SQL,
    doc="Range (interval) join via bin decomposition: each band is "
    "replicated to the fixed-width bins it overlaps, the fact side "
    "computes its bin with integer arithmetic, and the join becomes an "
    "equi hash join on bin plus a residual interval predicate — no "
    "BroadcastNestedLoop theta join anywhere in the plan. The band-x-bin "
    "table is bounded by the literal band list, so it broadcasts at any "
    "fact size; the oracle states the naive BETWEEN join.",
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    binned = [
        (band, lo, hi, b)
        for band, lo, hi in _BANDS
        for b in range(lo // _BIN_WIDTH, (hi - 1) // _BIN_WIDTH + 1)
    ]
    bands = spark.createDataFrame(
        binned, "band string, lo long, hi long, bin long"
    )
    return ordered(
        orders.withColumn(
            "o_bin", F.floor(F.col("o_totalprice") / _BIN_WIDTH)
        )
        .join(
            F.broadcast(bands),
            (F.col("o_bin") == F.col("bin"))
            & (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(dec("o_totalprice"), "total_price"),
        ),
        "band",
    )


_LADDER_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_bucket,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour_bucket,
       GROUPING(strftime(date_trunc('day', ts), '%Y-%m-%d'),
                strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00')) AS gid,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY ROLLUP (strftime(date_trunc('day', ts), '%Y-%m-%d'),
                 strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00'))
ORDER BY gid, day_bucket NULLS FIRST, hour_bucket NULLS FIRST
"""


@register(
    "events_granularity_ladder",
    _LADDER_SQL,
    doc="Hypertable-style continuous-aggregate ladder: hour, day, and "
    "grand-total rollups of the events stream in ONE pass (rollup -> "
    "Expand -> two-phase agg) instead of one scan per granularity — the "
    "batch shape of a multi-resolution materialized rollup.",
)
def events_granularity_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    return ordered(
        events.rollup(
            F.date_format("ts", "yyyy-MM-dd").alias("day_bucket"),
            F.date_format("ts", "yyyy-MM-dd HH:00:00").alias("hour_bucket"),
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            dsum(dec("value"), "total_value"),
        ),
        "gid",
        F.asc_nulls_first("day_bucket"),
        F.asc_nulls_first("hour_bucket"),
    )


_EMB_NORMS_ARROW_SQL = """
SELECT vec_id,
       len(embedding) AS dim,
       ROUND(sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
             j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)))), 6) AS l2_norm
FROM embeddings
ORDER BY vec_id
"""


def _norm_batches(batches):
    # Arrow RecordBatch in / RecordBatch out; float64 accumulation in
    # document order (np.cumsum is sequential) to mirror the JVM fold and
    # DuckDB's list_sum, so the value hash matches bitwise after round(6)
    import numpy as np
    import pyarrow as pa

    for b in batches:
        vec_ids = b.column(b.schema.get_field_index("vec_id"))
        embs = b.column(b.schema.get_field_index("embedding")).to_pylist()
        dims: list[int | None] = []
        norms: list[float | None] = []
        for e in embs:
            if e is None:
                dims.append(None)
                norms.append(None)
                continue
            dims.append(len(e))
            vals = [x for x in e if x is not None]
            if not vals:
                norms.append(None)
            else:
                sq = np.asarray(vals, dtype=np.float64) ** 2
                norms.append(float(np.sqrt(np.cumsum(sq)[-1])))
        yield pa.RecordBatch.from_arrays(
            [vec_ids, pa.array(dims, pa.int32()), pa.array(norms, pa.float64())],
            names=["vec_id", "dim", "l2_norm"],
        )


@register(
    "embedding_norms_arrow",
    _EMB_NORMS_ARROW_SQL,
    doc="mapInArrow API surface: per-vector L2 norms computed in raw "
    "Arrow batches (RecordBatch in/out, no pandas conversion) — the "
    "lowest-overhead Python escape hatch when even the pandas_udf "
    "serialization matters. Rounding stays JVM-side so the float policy "
    "lives in one place; embedding_array_stats is the pure-codegen twin "
    "this must hash-match through a completely different execution path.",
)
def embedding_norms_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    out = emb.select("vec_id", "embedding").mapInArrow(
        _norm_batches, "vec_id long, dim int, l2_norm double"
    )
    return stage_sorted(
        out.select("vec_id", "dim", F.round("l2_norm", 6).alias("l2_norm")),
        "emb_norms",
        "vec_id",
    )


# Amortization-schedule unrolling — the classic WITH RECURSIVE shape:
# iteration count is data-dependent (ceil(totalprice / installment)),
# which no static UNION ALL can express. Arithmetic stays exact: the
# prices are 2-decimal values and the installment is integral, so the
# double subtraction chain is exactly representable and both engines
# agree bitwise on every remaining balance and on the > 0 recursion
# predicate. The orderkey filter bounds the anchor at test scale; at
# 100 TB each iteration is one distributed self-union step whose frame
# shrinks as orders pay off.
_RECURSIVE_TMPL = """
WITH RECURSIVE pay AS (
  SELECT o_orderkey, 1 AS installment_no,
         CAST(o_totalprice AS DOUBLE) - 50000.0 AS remaining
  FROM {orders} WHERE o_orderkey % 100 = 0
  UNION ALL
  SELECT o_orderkey, installment_no + 1, remaining - 50000.0
  FROM pay WHERE remaining > 0
)
SELECT o_orderkey, COUNT(*) AS n_installments,
       CAST(MIN(remaining) AS DOUBLE) AS final_balance
FROM pay GROUP BY o_orderkey ORDER BY o_orderkey
"""


# Max installments any order can need: TPC-H o_totalprice tops out
# well under 50000 * _RCTE_MAX_INSTALLMENTS, so the accumulated
# recursive relation is bounded at anchors * this. A data-shape change
# that exceeds it still fails LOUDLY on the (raised) engine guard
# rather than looping.
_RCTE_MAX_INSTALLMENTS = 32


@register(
    "recursive_cte_amortization",
    _RECURSIVE_TMPL.format(orders="orders"),
    doc="WITH RECURSIVE (Spark 4): per-order installment schedule "
    "unrolled until the balance clears — data-dependent iteration "
    "depth that static SQL cannot express. The DuckDB oracle runs the "
    "identical recursion; exact double arithmetic (2-decimal prices, "
    "integral installment) keeps every intermediate balance and the "
    "recursion predicate bitwise-identical across engines. Spark "
    "guards WITH RECURSIVE with a 1M accumulated-row limit "
    "(RECURSION_ROW_LIMIT_EXCEEDED — the 1000x probe hit it: the "
    "schedule is genuinely anchors x installments rows, ~2.7M anchors "
    "at that scale); the face raises the guard to the data-derived "
    "bound anchors * _RCTE_MAX_INSTALLMENTS and materializes under it "
    "via the conf-scoped eager-staging pattern of "
    "runtime_bloom_filter_join / aqe_skew_join_events, so the session "
    "default is restored and a pathological data shape still fails "
    "loudly instead of recursing forever.",
)
def recursive_cte_amortization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from _imdb_etl_spark.sources import stage_to_parquet

    (orders,) = load_tables(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_rec_v")
    n_anchor = orders.where("o_orderkey % 100 = 0").count()
    # conf-scoped eager staging: single-builder contract lives on
    # scoped_conf (sources/catalog.py) — centralized per ADVICE r10/r11
    key = "spark.sql.cteRecursionRowLimit"
    lim = str(max(1_000_000, n_anchor * _RCTE_MAX_INSTALLMENTS))
    with scoped_conf(spark, {key: lim}):
        out = stage_to_parquet(
            spark.sql(_RECURSIVE_TMPL.format(orders="orders_rec_v")),
            "rcte_amort",
        )
    return ordered(out, "o_orderkey")


# DuckDB needs an explicit ON TRUE for JOIN LATERAL; Spark's parser
# takes the bare form. Same semantics, per-dialect text.
_LATERAL_ORACLE = """
SELECT c.c_custkey AS custkey, l.o_orderkey AS orderkey,
       CAST(l.o_totalprice AS DOUBLE) AS totalprice
FROM customer c
JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) l ON TRUE
WHERE c.c_custkey % 50 = 0
ORDER BY custkey, totalprice DESC, orderkey
"""


@register(
    "lateral_top_orders_per_customer",
    _LATERAL_ORACLE,
    doc="Correlated LATERAL subquery with ORDER BY ... LIMIT: top-2 "
    "orders per probed customer, expressed as the SQL-standard lateral "
    "join rather than a window+filter. Catalyst decorrelates the "
    "per-row subquery (DecorrelateInnerQuery) into a joinable plan — "
    "no per-customer re-execution, unlike a naive nested-loop "
    "interpretation; the oracle states the same lateral in DuckDB's "
    "dialect (explicit ON TRUE).",
)
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    orders.createOrReplaceTempView("orders_lat_v")
    customer.createOrReplaceTempView("customer_lat_v")
    return spark.sql(
        """
        SELECT c.c_custkey AS custkey, l.o_orderkey AS orderkey,
               CAST(l.o_totalprice AS DOUBLE) AS totalprice
        FROM customer_lat_v c
        JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders_lat_v o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) l
        WHERE c.c_custkey % 50 = 0
        ORDER BY custkey, totalprice DESC, orderkey
        """
    )


_SQL_UDF_SQL = """
SELECT l_returnflag AS flag,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY l_returnflag
ORDER BY flag
"""


@register(
    "sql_udf_revenue",
    _SQL_UDF_SQL,
    doc="SQL UDF (CREATE FUNCTION ... RETURN <expr>, Spark 4): the "
    "discounted-price formula packaged as a named session function and "
    "used inside an aggregate. Unlike every Python UDF flavor, a SQL "
    "UDF is INLINED by Catalyst — the plan is pure whole-stage codegen "
    "with no serialization boundary, making it the first-choice "
    "packaging for shareable scalar logic; the UDF body applies the "
    "engine's exact-decimal policy (operands cast to narrow decimals "
    "BEFORE the multiply — a double multiply rounded afterwards hits "
    "half-even/half-up midpoint drift between engines). Oracle states "
    "the inlined expression.",
)
def sql_udf_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION sqludf_disc_price("
        "p DOUBLE, d DOUBLE) RETURNS DECIMAL(21,4) "
        "RETURN CAST(p AS DECIMAL(12,2)) * CAST(1 - d AS DECIMAL(8,2))"
    )
    lineitem.createOrReplaceTempView("lineitem_sqludf")
    return spark.sql(
        """
        SELECT l_returnflag AS flag,
               COUNT(*) AS n_items,
               CAST(SUM(sqludf_disc_price(l_extendedprice, l_discount)) AS DOUBLE) AS revenue
        FROM lineitem_sqludf
        GROUP BY l_returnflag
        ORDER BY flag
        """
    )


_TVF_SQL = """
SELECT p_brand AS brand,
       COUNT(*) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total_retail
FROM part
GROUP BY p_brand
ORDER BY brand
"""


@register(
    "sql_tvf_brand_stats",
    _TVF_SQL,
    doc="SQL table-valued function (CREATE FUNCTION ... RETURNS TABLE, "
    "Spark 4) invoked per row via LATERAL: per-brand part stats "
    "through a named, parameterized table function — the SQL-native "
    "sibling of the Python UDTF, fully inlined/decorrelated by "
    "Catalyst (the plan is a plain aggregate + join, no function-call "
    "boundary). Engine caveat, verified while building this: a "
    "correlated ORDER BY ... LIMIT inside a SQL TVF body is "
    "mis-decorrelated in this Spark version (the limit hoists above "
    "the correlation, yielding top-k OVERALL instead of per key), so "
    "per-key top-k belongs in a plain lateral subquery "
    "(lateral_top_orders_per_customer) or a window; this TVF keeps an "
    "aggregation body, which decorrelates correctly — and the oracle "
    "hash proves it.",
)
def sql_tvf_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = load_tables(spark, sf_dir, "part")
    part.createOrReplaceTempView("part_tvf_v")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION brand_stats(b STRING)
        RETURNS TABLE(n_parts BIGINT, total_retail DOUBLE)
        RETURN SELECT COUNT(*),
                      CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE)
               FROM part_tvf_v WHERE p_brand = b
        """
    )
    return spark.sql(
        """
        SELECT b.p_brand AS brand, t.n_parts, t.total_retail
        FROM (SELECT DISTINCT p_brand FROM part_tvf_v) b,
             LATERAL brand_stats(b.p_brand) t
        ORDER BY brand
        """
    )


_UDAF_SQL = """
SELECT l_returnflag AS flag,
       COUNT(*) AS n_items,
       CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                     * CAST(l_quantity AS BIGINT)) AS BIGINT)
            // CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
            AS BIGINT) AS wavg_price_cents
FROM lineitem
GROUP BY l_returnflag
ORDER BY flag
"""


@register(
    "grouped_agg_pandas_udaf",
    _UDAF_SQL,
    doc="GROUPED_AGG pandas UDAF — the custom-aggregate flavor of the "
    "Python API (series in, scalar out, Arrow-batched per group; "
    "completes the UDF family next to applyInPandas, mapInPandas, "
    "mapInArrow, and the UDTF): quantity-weighted average price per "
    "return flag. All arithmetic is exact int64 (prices in cents, "
    "integer quantities, floor-divided ratio), so the result is "
    "bitwise-stable across engines and partitionings — the same "
    "policy reason the engine sums decimals, applied to a Python "
    "aggregate. Caveat vs built-ins: a pandas GROUPED_AGG ships whole "
    "groups to Python (no partial aggregation), so at 100 TB it fits "
    "bounded per-group data; unbounded-group aggregates belong in "
    "codegen or applyInPandas over pre-aggregated slices.",
)
def grouped_agg_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def wavg_price_cents(price: pd.Series, qty: pd.Series) -> int:
        cents = (price * 100).round().astype("int64")
        q = qty.astype("int64")
        return int((cents * q).sum() // q.sum())

    # Spark disallows mixing a GROUPED_AGG pandas UDF with JVM
    # aggregates in one agg (INVALID_PANDAS_UDF_PLACEMENT), so the
    # row count is a pandas aggregate too
    @pandas_udf("long")
    def n_rows(price: pd.Series) -> int:
        return len(price)

    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return ordered(
        lineitem.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            n_rows("l_extendedprice").alias("n_items"),
            wavg_price_cents("l_extendedprice", "l_quantity").alias(
                "wavg_price_cents"
            ),
        ),
        "flag",
    )


# GK sketch accuracy 1000 => ~0.1% rank error; the oracle-checked band
# is +-2% of rank — 20x slack, so the boolean only flips on a sketch
# that has genuinely broken its contract, never on routine drift.
_GK_ACCURACY = 1000
_RANK_BAND = 0.02

_APPROX_QUANT_SQL = """
SELECT l_returnflag AS flag,
       ROUND(quantile_disc(l_extendedprice, 0.5), 2) AS p50_price,
       ROUND(quantile_disc(l_extendedprice, 0.9), 2) AS p90_price,
       TRUE AS p50_within,
       TRUE AS p90_within
FROM lineitem
GROUP BY l_returnflag
ORDER BY flag
"""


@register(
    "approx_quantiles_price",
    _APPROX_QUANT_SQL,
    doc="percentile_approx (GK sketch) per return flag — the quantile "
    "path at 100 TB: bounded-memory mergeable sketches instead of a "
    "full sort per group. Oracle-checkable without a cross-engine "
    "sketch: the query emits the exact percentile_disc values plus "
    "per-quantile booleans asserting the sketch landed inside the "
    f"exact [q-{_RANK_BAND}, q+{_RANK_BAND}] rank band (the "
    f"accuracy-{_GK_ACCURACY} sketch guarantees ~0.1% rank error, so "
    "the band has 20x slack); the DuckDB twin computes the same exact "
    "quantiles and asserts TRUE. A sketch outside its error contract "
    "flips the value hash. The raw sketch values are deliberately NOT "
    "output columns (engine-specific); tighter error assertions live "
    "in tests/test_operators.py.",
)
def approx_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The EXACT side of the band check comes from the spillable
    # distribution route — groupBy-(value)-count, then the cumulative
    # distribution over the per-flag value-ordered window, then the
    # ANSI percentile_disc rule (first value whose CUME_DIST >= q) —
    # NOT from six percentile_disc aggregates: percentile_disc's
    # aggregation buffer is a non-spillable per-group value->count
    # map, and at the 100x probe (240M rows, 32 concurrent partial
    # buffers in one 8g JVM) that OOMed the executor. Everything in
    # this route — hash aggregate, window sort — spills to disk; the
    # per-flag window holds DISTINCT values only, externally sorted.
    # Pinned against percentile_disc expressions on random data in
    # tests/test_operators.py (the buffer-bound form stays correct as
    # the oracle of the scalable form).
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    dist = lineitem.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy("flag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cume = dist.select(
        "flag",
        "price",
        "cnt",
        (
            F.sum("cnt").over(wcum)
            / F.sum("cnt").over(Window.partitionBy("flag"))
        ).alias("cd"),
    )

    def disc(q: float):
        return F.min(F.when(F.col("cd") >= q, F.col("price")))

    exact = cume.groupBy("flag").agg(
        disc(0.5).alias("e50"),
        disc(0.9).alias("e90"),
        disc(0.5 - _RANK_BAND).alias("lo50"),
        disc(0.5 + _RANK_BAND).alias("hi50"),
        disc(0.9 - _RANK_BAND).alias("lo90"),
        disc(0.9 + _RANK_BAND).alias("hi90"),
    )
    approx = lineitem.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.percentile_approx("l_extendedprice", 0.5, _GK_ACCURACY).alias("a50"),
        F.percentile_approx("l_extendedprice", 0.9, _GK_ACCURACY).alias("a90"),
    )
    return ordered(
        exact.join(approx, "flag")
        .select(
            "flag",
            F.round("e50", 2).alias("p50_price"),
            F.round("e90", 2).alias("p90_price"),
            F.col("a50").between(F.col("lo50"), F.col("hi50")).alias("p50_within"),
            F.col("a90").between(F.col("lo90"), F.col("hi90")).alias("p90_within"),
        ),
        "flag",
    )


_STRINGAGG_SQL = """
WITH ranked AS (
  SELECT c_nationkey, c_name,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rnk
  FROM customer
)
SELECT n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_top,
       string_agg(c_name, '|' ORDER BY rnk) AS top_customers
FROM ranked JOIN nation ON c_nationkey = n_nationkey
WHERE rnk <= 3
GROUP BY n_name
ORDER BY nation
"""


@register(
    "stringagg_top_customers_per_nation",
    _STRINGAGG_SQL,
    doc="Ordered string aggregation (SQL-standard LISTAGG ... WITHIN "
    "GROUP, Spark 4): the top-3 customers per nation by balance, "
    "concatenated in rank order — the report/export shape that turns "
    "a ranked set into one cell. The explicit WITHIN GROUP order (by "
    "the unique rank) makes the concatenation deterministic across "
    "partitionings, which is what lets it hash-match DuckDB's "
    "string_agg; the rank filter rides WindowGroupLimit so each "
    "nation's window stops at depth 3.",
)
def stringagg_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    customer, nation = load_tables(spark, sf_dir, "customer", "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    top = (
        customer.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return ordered(
        top.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_top"),
            F.expr(
                "listagg(c_name, '|') WITHIN GROUP (ORDER BY rnk)"
            ).alias("top_customers"),
        ),
        "nation",
    )


# --- count-min sketch heavy hitters ----------------------------------
#
# The third sketch family (after HLL distinct and GK quantiles):
# count-min frequency estimation, the structure a 100 TB pipeline uses
# for heavy-hitter detection without per-key state. The sketch is
# built by the JVM-side count_min_sketch aggregate (one pass,
# mergeable counters, so partition order can't change the result),
# read back on the driver (the sketch is KBs), and probed for the
# top-k heavy users found exactly. Same oracle shape as
# approx_distinct_users: the output carries the exact count plus a
# within_bound boolean (CMS guarantees estimate >= exact always, and
# estimate <= exact + eps*total with the configured confidence — with
# a fixed seed over fixed data the outcome is deterministic), so a
# sketch drifting outside its contract flips the value hash. The raw
# estimate is deliberately NOT an output column (engine-specific).

_CMS_EPS = 0.005
_CMS_CONF = 0.99
_CMS_SEED = 42
_CMS_TOP = 10

# Java's DataOutputStream layout for CountMinSketchImpl.writeTo (all
# big-endian): int version=1, long totalCount, int depth, int width,
# depth longs hashA, depth*width longs table.
_CMS_PRIME = (1 << 31) - 1
_M64 = (1 << 64) - 1


def cms_decode(raw: bytes):
    """Parse a serialized Spark CountMinSketch into
    (total_count, estimate_fn) with NO JVM gateway (Connect-safe; the
    only other option is sparkContext._jvm). Bit-equality with the JVM
    estimateCount is pinned in tests/test_operators.py."""
    import struct

    ver, total, depth, width = struct.unpack_from(">iqii", raw, 0)
    if ver != 1:  # pragma: no cover - future Spark format bump
        raise ValueError(f"unsupported CountMinSketch version {ver}")
    off = 20
    hash_a = struct.unpack_from(f">{depth}q", raw, off)
    off += 8 * depth
    table = []
    for _ in range(depth):
        table.append(struct.unpack_from(f">{width}q", raw, off))
        off += 8 * width

    def estimate(item: int) -> int:
        # (a*item + (a*item >> 32)) masked to the low 31 bits, mod
        # width — Java's signed wrap/shift and this unsigned emulation
        # agree exactly because & PRIME keeps only the low 31 bits,
        # which neither the 2^64 wrap nor the sign-extension reaches
        r = None
        for i in range(depth):
            h = (hash_a[i] * item) & _M64
            h = (h + (h >> 32)) & _CMS_PRIME
            v = table[i][h % width]
            r = v if r is None else min(r, v)
        return r

    return total, estimate

_CMS_SQL = f"""
WITH counts AS (
  SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY user_id
)
SELECT user_id, exact_cnt, TRUE AS within_bound
FROM counts
ORDER BY exact_cnt DESC, user_id
LIMIT {_CMS_TOP}
"""


@register(
    "sketch_heavy_users_cms",
    _CMS_SQL,
    doc="Count-min sketch heavy hitters: the JVM count_min_sketch "
    f"aggregate (eps={_CMS_EPS}, conf={_CMS_CONF}, fixed seed) builds "
    "a mergeable frequency sketch in one pass; the driver probes it "
    "for the top-10 users found exactly and asserts the CMS contract "
    "(estimate >= exact, overcount <= eps*total) as a hash-checked "
    "boolean. Counters sum commutatively, so partition order never "
    "changes the sketch.",
)
def sketch_heavy_users_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    exact = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    top = (
        exact.orderBy(F.desc("exact_cnt"), F.asc("user_id"))
        .limit(_CMS_TOP)
        .collect()  # bounded: exactly _CMS_TOP rows
    )
    raw = bytes(
        events.agg(
            F.expr(
                f"count_min_sketch(user_id, {_CMS_EPS}d, {_CMS_CONF}d,"
                f" {_CMS_SEED})"
            ).alias("s")
        ).first()["s"]
    )
    total, estimate = cms_decode(raw)
    bound = _CMS_EPS * total
    rows = [
        (
            r.user_id,
            r.exact_cnt,
            r.exact_cnt <= estimate(r.user_id) <= r.exact_cnt + bound,
        )
        for r in top
    ]
    return ordered(
        spark.createDataFrame(
            rows, "user_id bigint, exact_cnt bigint, within_bound boolean"
        ),
        F.desc("exact_cnt"),
        "user_id",
    )


# --- market-basket part affinity -------------------------------------
#
# Frequent-pair mining over order baskets (the association-rules
# primitive): which parts co-occur in the same order more often than
# their independent popularity predicts? Support counts come from a
# within-basket self-join on the order key — the standard distributed
# shape: pair fan-out is sum over baskets of k*(k-1)/2 with k bounded
# by basket size (TPC-H baskets hold <= 7 lineitems, web baskets tens
# — never corpus-scale), and the join is key-local so the only
# shuffles are the order-keyed sort and the pair hash-agg. Confidence
# is exact integer permille; lift is permille via the same left-assoc
# IEEE double expression in both engines (bit-identical at any scale,
# where an int64 triple product would wrap past ~3e9 baskets).

_BASKET_TOP = 20

_BASKET_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
),
n_orders AS (SELECT COUNT(DISTINCT okey) AS n FROM items),
part_n AS (SELECT part, COUNT(*) AS cnt FROM items GROUP BY part),
pairs AS (
  SELECT a.part AS part_a, b.part AS part_b, COUNT(*) AS support
  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
  GROUP BY a.part, b.part
),
scored AS (
  SELECT p.part_a, p.part_b, p.support,
         CAST(1000 * p.support // pa.cnt AS BIGINT) AS conf_a_to_b_permille,
         CAST(ROUND((1000.0 * p.support * n.n)
                    / (CAST(pa.cnt AS DOUBLE) * pb.cnt), 0) AS BIGINT)
           AS lift_permille
  FROM pairs p
  JOIN part_n pa ON p.part_a = pa.part
  JOIN part_n pb ON p.part_b = pb.part
  CROSS JOIN n_orders n
)
SELECT part_a, part_b, CAST(support AS BIGINT) AS support,
       conf_a_to_b_permille, lift_permille
FROM scored
ORDER BY support DESC, part_a, part_b
LIMIT {_BASKET_TOP}
"""


@register(
    "basket_part_affinity",
    _BASKET_SQL,
    doc=f"Market-basket affinity over order baskets: within-basket "
    "part pairs from an order-key-local self-join (fan-out bounded by "
    "basket size squared, never corpus-scale), pair support from one "
    "hash-agg shuffle, exact-integer confidence permille and "
    "bit-identical IEEE-double lift permille against the broadcast "
    f"part-popularity table; top-{_BASKET_TOP} "
    "by (support, pair) total order. The association-rules primitive "
    "of a product-analytics engine. Scale posture: the top-N cut is "
    "taken on the pair table BEFORE the popularity joins — the "
    "(support DESC, part_a, part_b) selection order is computable "
    "from pair support alone, so the part_n joins touch "
    f"{_BASKET_TOP} rows (broadcast) instead of the full pair table "
    "(~145M distinct pairs at 100x, where the pre-cut plan spent "
    "most of its 143 s pushing them through two join shuffles).",
)
def basket_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    items = lineitem.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    n_orders = items.agg(F.countDistinct("okey").alias("n"))
    part_n = items.groupBy("part").agg(F.count(F.lit(1)).alias("cnt"))
    a = items.select("okey", F.col("part").alias("part_a"))
    b = items.select("okey", F.col("part").alias("part_b"))
    pairs = (
        a.join(b, "okey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    # top-N FIRST: (support DESC, part_a, part_b) is a total order
    # computable from the pair table alone, so the cut is a
    # TakeOrdered over the pair agg and the popularity joins below
    # see _BASKET_TOP rows, not the full pair table (replication
    # makes baskets near-unique: ~145M distinct pairs at 100x, and
    # joining them all against part_n twice dominated the pre-cut
    # plan). Broadcast the cut side — part_n is the big relation now.
    pairs = F.broadcast(
        pairs.orderBy(F.desc("support"), "part_a", "part_b").limit(
            _BASKET_TOP
        )
    )
    scored = (
        pairs.join(
            part_n.select(
                F.col("part").alias("part_a"), F.col("cnt").alias("cnt_a")
            ),
            "part_a",
        )
        .join(
            part_n.select(
                F.col("part").alias("part_b"), F.col("cnt").alias("cnt_b")
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))  # 1-row scalar: bounded hint
        .select(
            "part_a",
            "part_b",
            "support",
            F.expr("1000 * support div cnt_a").alias(
                "conf_a_to_b_permille"
            ),
            # lift in double, same left-assoc IEEE ops as the oracle:
            # identical bit-for-bit in both engines at ANY scale, where
            # an int64 product (1000 * support * n) would wrap past
            # ~3e9 baskets
            F.round(
                (F.lit(1000.0) * F.col("support") * F.col("n"))
                / (F.col("cnt_a").cast("double") * F.col("cnt_b")),
                0,
            )
            .cast("long")
            .alias("lift_permille"),
        )
    )
    return scored.orderBy(
        F.desc("support"), "part_a", "part_b"
    ).limit(_BASKET_TOP)


# --- polymorphic Python UDTF (analyze-time schema) --------------------
#
# events_props_udtf covers the fixed-schema Arrow UDTF; this covers
# the POLYMORPHIC half of the Spark 4 UDTF API: a static analyze()
# receives the literal arguments at planning time and RETURNS the
# output schema, so one function serves any requested width (the
# schema below — tok0..tok2 — is computed from the literal 3, not
# declared). Row fan-out is map-side; the lateral join never
# shuffles. The oracle states the same result with list_extract's
# out-of-bounds NULL padding.

_UDTF_N_TOKENS = 3

_POLY_UDTF_SQL = f"""
SELECT doc_id,
       {", ".join(f"list_extract(string_split(text, ' '), {i + 1}) AS tok{i}" for i in range(_UDTF_N_TOKENS))}
FROM documents
ORDER BY doc_id
"""


@register(
    "udtf_polymorphic_first_tokens",
    _POLY_UDTF_SQL,
    doc="Polymorphic Python UDTF: analyze() computes the output "
    f"schema (tok0..tok{_UDTF_N_TOKENS - 1}) from the literal width "
    "argument at planning time — the dynamic-schema half of the "
    "Spark 4 UDTF API next to events_props_udtf's fixed-schema Arrow "
    "path. Map-side lateral fan-out, no shuffle; NULL padding "
    "mirrored by the oracle's out-of-bounds list_extract.",
)
def udtf_polymorphic_first_tokens(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class FirstTokens:
        @staticmethod
        def analyze(
            text: AnalyzeArgument, n: AnalyzeArgument
        ) -> AnalyzeResult:
            schema = StructType()
            for i in range(n.value):
                schema = schema.add(f"tok{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text, n):
            # NULL text yields all-NULL tokens, mirroring the oracle's
            # string_split(NULL) -> NULL list (splitting '' instead
            # would emit tok0 = '' and diverge on NULL documents)
            if text is None:
                yield (None,) * n
                return
            toks = text.split(" ")
            yield tuple(
                toks[i] if i < len(toks) else None for i in range(n)
            )

    # Arrow-batched UDTF evaluation (ArrowEvalPythonUDTF), not the
    # row-at-a-time pickling path planlint flags
    spark.udtf.register("poly_first_tokens", udtf(FirstTokens, useArrow=True))
    (docs,) = load_tables(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("poly_docs")
    return stage_sorted(
        spark.sql(
            f"""
            SELECT doc_id, s.*
            FROM poly_docs, LATERAL poly_first_tokens(text, {_UDTF_N_TOKENS}) s
            """
        ),
        "udtf_tokens",
        "doc_id",
    )


# --- grouped-map raw Arrow (applyInArrow) ----------------------------
#
# The grouped-map twin of embedding_norms_arrow's mapInArrow: per-key
# batches arrive as pyarrow.Table (zero pandas materialization, no
# index semantics, columnar end to end) — the lowest-overhead Python
# hook for per-group logic. Money math stays exact: values quantize
# to integer cents with the midpoint-stable floor(x*100 + 0.5) (the
# embedding_quantize_int8 policy) INSIDE Arrow compute, so the sums
# are int64 and the oracle replays them bitwise.

_ARROW_GROUP_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(MAX(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS max_cents
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "grouped_arrow_user_stats",
    _ARROW_GROUP_SQL,
    doc="Grouped-map raw Arrow (applyInArrow): per-user event batches "
    "arrive as pyarrow.Table and reduce with Arrow compute kernels — "
    "the columnar per-group hook below pandas. Values quantize to "
    "integer cents via midpoint-stable floor(x*100 + 0.5) inside "
    "Arrow, so sums are exact int64 and the oracle replays them "
    "bitwise. One user-keyed shuffle.",
)
def grouped_arrow_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(table: pa.Table) -> pa.Table:
        cents = pc.cast(
            pc.floor(pc.add(pc.multiply(table.column("value"), 100.0), 0.5)),
            pa.int64(),
        )
        return pa.table(
            {
                "user_id": [table.column("user_id")[0].as_py()],
                "n_events": [table.num_rows],
                "total_cents": [pc.sum(cents).as_py()],
                "max_cents": [pc.max(cents).as_py()],
            }
        )

    (events,) = load_tables(spark, sf_dir, "events")
    out = (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInArrow(
            stats,
            schema="user_id bigint, n_events bigint, "
            "total_cents bigint, max_cents bigint",
        )
    )
    return stage_sorted(out, "arrow_stats", "user_id")


# --- bag-semantics set operation (EXCEPT ALL) ------------------------
#
# The setop family's DISTINCT variants live in plans/relational.py;
# EXCEPT ALL completes it with multiset semantics: each view a user
# made is cancelled by one purchase, and the leftover multiplicity is
# the per-user count of UNCONVERTED views — a quantity the DISTINCT
# variant cannot express. Spark plans exceptAll as a generate-over-
# counts rewrite (no row-by-row matching); the aggregation after it
# makes the output shape deterministic.

_EXCEPT_ALL_SQL = """
WITH leftover AS (
  SELECT user_id FROM events WHERE event_type = 'view'
  EXCEPT ALL
  SELECT user_id FROM events WHERE event_type = 'purchase'
)
SELECT user_id, COUNT(*) AS unconverted_views
FROM leftover
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "setop_except_all_views",
    _EXCEPT_ALL_SQL,
    doc="EXCEPT ALL (bag semantics): each view row is cancelled by one "
    "purchase row per user, leaving the multiplicity of unconverted "
    "views — inexpressible with the DISTINCT setops in the relational "
    "family. Spark rewrites exceptAll to a counts+generate plan (no "
    "pairwise matching); the trailing aggregation pins a "
    "deterministic output shape.",
)
def setop_except_all_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    views = events.where(F.col("event_type") == "view").select("user_id")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id"
    )
    return ordered(
        views.exceptAll(purchases)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("unconverted_views")),
        "user_id",
    )


_INTERSECT_ALL_SQL = """
WITH matched AS (
  SELECT user_id FROM events WHERE event_type = 'view'
  INTERSECT ALL
  SELECT user_id FROM events WHERE event_type = 'purchase'
)
SELECT user_id, COUNT(*) AS converted_views
FROM matched
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "setop_intersect_all_views",
    _INTERSECT_ALL_SQL,
    doc="INTERSECT ALL (bag semantics), the sibling of "
    "setop_except_all_views: per-user multiplicity min(views, "
    "purchases) — each view matched by one purchase — completing the "
    "multiset half of the setop family. Same counts+generate rewrite, "
    "no pairwise matching; trailing aggregation pins the output shape.",
)
def setop_intersect_all_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    views = events.where(F.col("event_type") == "view").select("user_id")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id"
    )
    return ordered(
        views.intersectAll(purchases)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("converted_views")),
        "user_id",
    )


# --- KMV (bottom-k) distinct sketch: mergeable set operations ---------
#
# HLL (approx_distinct_users above) answers "how many distinct" but its
# sketches can't intersect. The KMV / k-minimum-values sketch (Bar-Yossef
# et al. 2002; Beyer et al. SIGMOD'07 for the set-op estimators) keeps
# the k smallest hash values of a set; sketches MERGE by re-taking the
# bottom-k of the member union (never re-reading the data), and the
# merged sketch supports union AND intersection estimates — the
# cross-partition / cross-day / cross-source overlap questions a 100 TB
# corpus plan needs answered without a global COUNT(DISTINCT) shuffle.
# Unlike engine-internal HLL registers, the sketch is just md5 prefixes:
# bit-identical in any engine, so the DuckDB twin replays the exact
# algorithm and the value hash pins every estimate.

_KMV_K = 64  # sketch size; rsd ~ 1/sqrt(k-2) ~ 0.127
_KMV_HEX = 12  # md5 hex prefix width -> 48-bit hash space
_KMV_SPACE = float(16**_KMV_HEX)


def _kmv_est_raw(n: F.Column, kth: F.Column) -> F.Column:
    """Unrounded KMV estimate: exhaustive sketch (n < k) reports its own
    size; a saturated sketch reports (k-1) / (kth / |hash space|). Kept
    unrounded so composed estimators (intersection = rho * union) round
    ONCE, identically to the oracle."""
    return F.when(n < _KMV_K, n.cast("double")).otherwise(
        F.lit(float(_KMV_K - 1)) / (kth.cast("double") / F.lit(_KMV_SPACE))
    )


def _kmv_est_sql(n: str, kth: str) -> str:
    """DuckDB twin of _kmv_est_raw — identical operation order so the
    IEEE doubles match bitwise."""
    return (
        f"CASE WHEN {n} < {_KMV_K} THEN CAST({n} AS DOUBLE) "
        f"ELSE {float(_KMV_K - 1)!r} / (CAST({kth} AS DOUBLE) / {_KMV_SPACE!r}) END"
    )


def _kmv_sql() -> str:
    from _imdb_etl_spark.functions import md5_prefix_int_sql

    h = md5_prefix_int_sql("CAST(user_id AS VARCHAR)", _KMV_HEX)
    return f"""
WITH hashed AS (
  SELECT DISTINCT event_type, {h} AS h FROM events
),
sk AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS r
    FROM hashed
  ) WHERE r <= {_KMV_K}
),
typed AS (
  SELECT p.event_type AS set_name, p.n_sketch, p.kth_hash,
         ROUND({_kmv_est_sql('p.n_sketch', 'p.kth_hash')}, 4) AS kmv_est,
         e.exact_users
  FROM (SELECT event_type, COUNT(*) AS n_sketch, MAX(h) AS kth_hash
        FROM sk GROUP BY event_type) p
  JOIN (SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
        FROM events GROUP BY event_type) e USING (event_type)
),
merged AS (SELECT DISTINCT h FROM sk ORDER BY h LIMIT {_KMV_K}),
urow AS (
  SELECT 'union:all' AS set_name, COUNT(*) AS n_sketch, MAX(h) AS kth_hash,
         ROUND({_kmv_est_sql('COUNT(*)', 'MAX(h)')}, 4) AS kmv_est,
         (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_users
  FROM merged
),
a AS (SELECT h FROM sk WHERE event_type = 'view'),
b AS (SELECT h FROM sk WHERE event_type = 'purchase'),
pair AS (
  SELECT h FROM (
    SELECT DISTINCT h FROM (SELECT h FROM a UNION ALL SELECT h FROM b)
  ) ORDER BY h LIMIT {_KMV_K}
),
pflag AS (
  SELECT p.h,
         CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a,
         CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b
  FROM pair p LEFT JOIN a ON a.h = p.h LEFT JOIN b ON b.h = p.h
),
irow AS (
  SELECT 'intersect:view*purchase' AS set_name,
         COUNT(*) AS n_sketch, MAX(h) AS kth_hash,
         ROUND((CAST(SUM(in_a * in_b) AS DOUBLE) / COUNT(*))
               * ({_kmv_est_sql('COUNT(*)', 'MAX(h)')}), 4) AS kmv_est,
         (SELECT COUNT(*) FROM
            (SELECT DISTINCT user_id FROM events WHERE event_type = 'view') v
            JOIN (SELECT DISTINCT user_id FROM events
                  WHERE event_type = 'purchase') pu USING (user_id)
         ) AS exact_users
  FROM pflag
)
SELECT * FROM typed
UNION ALL SELECT * FROM urow
UNION ALL SELECT * FROM irow
ORDER BY set_name
"""


@register(
    "sketch_distinct_kmv_setops",
    _kmv_sql(),
    doc="Mergeable KMV (bottom-k) distinct sketch with set operations "
    "— the sketch family HLL can't do: per-event-type sketches keep "
    f"the {_KMV_K} smallest 48-bit md5 hashes of the user set; the "
    "'union:all' row is estimated from the MERGED sketch members only "
    "(bottom-k of the k-sized per-type sketches — never re-reading "
    "events, exactly how 100 TB per-partition sketches combine on the "
    "driver), and the 'intersect:view*purchase' row applies the "
    "Beyer et al. rho-scaling (|M & A & B| / |M| times the pair-union "
    "estimate). Every hash is an md5 prefix, so the DuckDB oracle "
    "replays the identical algorithm and the value hash pins the "
    "estimates bitwise; exact_users columns carry the ground truth "
    "for accuracy reading. A pure-Python third implementation guards "
    "both twins in pytest (shared-bug lesson from the BPE trainer).",
)
def sketch_distinct_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from _imdb_etl_spark.functions import hex_prefix_int

    (events,) = load_tables(spark, sf_dir, "events")
    h = hex_prefix_int(F.md5(F.col("user_id").cast("string")), _KMV_HEX)
    hashed = events.select("event_type", h.alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    sk = (
        hashed.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= _KMV_K)
        .select("event_type", "h")
    )

    per_sk = sk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sketch"), F.max("h").alias("kth_hash")
    )
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    typed = per_sk.join(exact, "event_type").select(
        F.col("event_type").alias("set_name"),
        "n_sketch",
        "kth_hash",
        F.round(_kmv_est_raw(F.col("n_sketch"), F.col("kth_hash")), 4).alias(
            "kmv_est"
        ),
        "exact_users",
    )

    # merge = bottom-k of the sketch MEMBERS (<= 5k rows), not the data
    merged = sk.select("h").distinct().orderBy("h").limit(_KMV_K)
    magg = merged.agg(
        F.count(F.lit(1)).alias("n_sketch"), F.max("h").alias("kth_hash")
    )
    uexact = events.agg(F.count_distinct("user_id").alias("exact_users"))
    # 1-row scalar agg x 1-row scalar agg — bounded by construction
    urow = magg.crossJoin(uexact).select(
        F.lit("union:all").alias("set_name"),
        "n_sketch",
        "kth_hash",
        F.round(_kmv_est_raw(F.col("n_sketch"), F.col("kth_hash")), 4).alias(
            "kmv_est"
        ),
        "exact_users",
    )

    a = sk.where(F.col("event_type") == "view").select("h")
    b = sk.where(F.col("event_type") == "purchase").select("h")
    pair = a.unionByName(b).distinct().orderBy("h").limit(_KMV_K)
    flag = pair.join(
        a.withColumn("in_a", F.lit(1)), "h", "left"
    ).join(b.withColumn("in_b", F.lit(1)), "h", "left")
    pagg = flag.agg(
        F.count(F.lit(1)).alias("n_sketch"),
        F.max("h").alias("kth_hash"),
        F.sum(
            F.coalesce("in_a", F.lit(0)) * F.coalesce("in_b", F.lit(0))
        ).alias("n_both"),
    )
    iexact = (
        events.where(F.col("event_type") == "view")
        .select("user_id")
        .distinct()
        .join(
            events.where(F.col("event_type") == "purchase")
            .select("user_id")
            .distinct(),
            "user_id",
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("exact_users"))
    )
    # 1-row scalar agg x 1-row scalar agg — bounded by construction
    irow = pagg.crossJoin(iexact).select(
        F.lit("intersect:view*purchase").alias("set_name"),
        "n_sketch",
        "kth_hash",
        F.round(
            (F.col("n_both").cast("double") / F.col("n_sketch"))
            * _kmv_est_raw(F.col("n_sketch"), F.col("kth_hash")),
            4,
        ).alias("kmv_est"),
        "exact_users",
    )

    return ordered(typed.unionByName(urow).unionByName(irow), "set_name")


# --- exact distinct via mergeable bitmap blocks ------------------------

_BMP_BLK = 32  # ids per bitmap block; 1 << (id % 32) stays positive in i64

_BITMAP_SQL = f"""
WITH blocks AS (
  SELECT event_type,
         user_id // {_BMP_BLK} AS blk,
         bit_or(CAST(1 AS BIGINT) << CAST(user_id % {_BMP_BLK} AS INTEGER))
           AS mask
  FROM events
  GROUP BY event_type, user_id // {_BMP_BLK}
),
typed AS (
  SELECT event_type AS set_name,
         COUNT(*) AS n_blocks,
         CAST(SUM(bit_count(mask)) AS BIGINT) AS distinct_users
  FROM blocks GROUP BY event_type
),
merged AS (
  SELECT 'union:all' AS set_name,
         COUNT(*) AS n_blocks,
         CAST(SUM(bit_count(mask)) AS BIGINT) AS distinct_users
  FROM (SELECT blk, bit_or(mask) AS mask FROM blocks GROUP BY blk)
)
SELECT * FROM typed
UNION ALL SELECT * FROM merged
ORDER BY set_name
"""


@register(
    "distinct_users_bitmap_exact",
    _BITMAP_SQL,
    doc="EXACT mergeable distinct counting via bitmap blocks (the "
    "ClickHouse/Druid groupBitmap pattern, completing the sketch "
    f"triad: HLL = approx, KMV = set ops, bitmap = exact): user ids "
    f"pack into {_BMP_BLK}-wide bit blocks with a map-side bit_or "
    "partial, so the shuffle carries one long per (type, block) — "
    "bounded by the id-space/32 regardless of event count — and "
    "popcount sums recover exact distincts. The 'union:all' row "
    "re-merges the per-type BLOCKS with a second bit_or (never "
    "rereading events): the precomputed-bitmap rollup a 100 TB "
    "dashboard stores instead of raw ids. Exact equality with "
    "COUNT(DISTINCT) is pinned in pytest.",
)
def distinct_users_bitmap_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    blocks = (
        events.select(
            "event_type",
            (F.col("user_id") / _BMP_BLK).cast("long").alias("blk"),
            # F.shiftleft only takes a literal shift; expr() allows the
            # per-row bit position
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT),"
                f" CAST(user_id % {_BMP_BLK} AS INT))"
            ).alias("bit"),
        )
        .groupBy("event_type", "blk")
        .agg(F.expr("bit_or(bit)").alias("mask"))
    )
    typed = blocks.groupBy(F.col("event_type").alias("set_name")).agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.bit_count("mask")).alias("distinct_users"),
    )
    merged = (
        blocks.groupBy("blk")
        .agg(F.expr("bit_or(mask)").alias("mask"))
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.bit_count("mask")).alias("distinct_users"),
        )
        .select(
            F.lit("union:all").alias("set_name"),
            "n_blocks",
            "distinct_users",
        )
    )
    return ordered(typed.unionByName(merged), "set_name")
