"""Data-audit / profiling surface: CUBE grouping sets, exact grouped
percentiles, referential-integrity (orphan FK) audit, and single-pass
column profiling.

The reference delegates all of this to its warehouse (its only
inspection is SELECT * spot checks, /root/reference/etl_imdb_db.sql);
an engine meant to replace it at 100 TB needs first-class audit
primitives: you cannot eyeball a 100 TB staging load, you profile it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import dec, dsum, ordered
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables

_CUBE_SQL = """
SELECT o_orderstatus AS status,
       year(o_orderdate) AS order_year,
       GROUPING(o_orderstatus, year(o_orderdate)) AS gid,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, year(o_orderdate))
ORDER BY gid, status NULLS FIRST, order_year NULLS FIRST
"""


@register(
    "cube_orders_status_year",
    _CUBE_SQL,
    doc="CUBE grouping sets (all four subtotal combinations) with "
    "GROUPING id — completes the grouping-set family next to ROLLUP "
    "(rollup_orders_status_priority) and GROUPING SETS "
    "(grouping_sets_mixed). Spark expands to a single Expand node "
    "feeding one two-phase hash aggregate: one scan, map-side partial "
    "aggs for all 4 grouping sets at once — the shape that holds at "
    "100 TB because the fact table is read exactly once.",
)
def cube_orders_status_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    return ordered(
        orders.cube(
            F.col("o_orderstatus").alias("status"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum(dec("o_totalprice"), "total_price"),
        ),
        "gid",
        F.asc_nulls_first("status"),
        F.asc_nulls_first("order_year"),
    )


_MEDIAN_SQL = """
SELECT p_brand,
       COUNT(*) AS n_items,
       quantile_cont(l_extendedprice, 0.25) AS p25_price,
       quantile_cont(l_extendedprice, 0.50) AS median_price,
       quantile_cont(l_extendedprice, 0.75) AS p75_price
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
"""


@register(
    "median_exact_price_per_brand",
    _MEDIAN_SQL,
    doc="EXACT grouped percentiles (quartiles of l_extendedprice per "
    "brand) over a broadcast fact-dim join. Exact percentile holds "
    "per-group value counts in the aggregation state, so its memory is "
    "bounded by distinct values per group — the verification face; the "
    "registered scale face for percentile at 100 TB is "
    "approx_quantiles_price (GK sketch, constant state). Both engines "
    "linearly interpolate identically (Spark percentile == DuckDB "
    "quantile_cont, verified bitwise at sf0.001/sf0.01), so the raw "
    "doubles hash-match without rounding.",
)
def median_exact_price_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = load_tables(spark, sf_dir, "lineitem", "part")
    return ordered(
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.percentile("l_extendedprice", F.lit(0.25)).alias("p25_price"),
            F.percentile("l_extendedprice", F.lit(0.50)).alias("median_price"),
            F.percentile("l_extendedprice", F.lit(0.75)).alias("p75_price"),
        ),
        "p_brand",
    )


# FK edges of the driver star schema: (edge label, child table, fk col,
# parent table, pk col). Orphan = non-null FK with no parent row — the
# audit every warehouse load needs before trusting joins.
_FK_EDGES = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]

_RI_SQL = "\nUNION ALL\n".join(
    f"""
SELECT '{edge}' AS edge,
       COUNT(*) AS n_child,
       COUNT(*) FILTER (WHERE c.{fk} IS NULL) AS n_null_fk,
       COUNT(*) FILTER (WHERE c.{fk} IS NOT NULL AND p.{pk} IS NULL)
           AS n_orphans
FROM {child} c LEFT JOIN {parent} p ON c.{fk} = p.{pk}
""".strip()
    for edge, child, fk, parent, pk in _FK_EDGES
)
_RI_SQL = f"SELECT * FROM (\n{_RI_SQL}\n) ORDER BY edge"


@register(
    "audit_referential_integrity",
    _RI_SQL,
    doc="Referential-integrity audit over every FK edge of the star "
    "schema: child rows, NULL FKs, and orphans (non-null FK with no "
    "parent). Each edge is one left join + filtered counts; dimension "
    "parents (nation, region) broadcast, the fact-sized edges are "
    "key-key shuffle joins that AQE plans — at 100 TB each edge is one "
    "bounded-output pass, and the per-edge aggregates are 1-row, so "
    "the union is free. This is the load-acceptance gate the reference "
    "outsources to its warehouse's constraint checks.",
)
def audit_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from _imdb_etl_spark.functions import broadcast_if_bounded

    out = None
    for edge, child_t, fk, parent_t, pk in _FK_EDGES:
        child, parent = load_tables(spark, sf_dir, child_t, parent_t)
        pkeys = parent.select(pk).distinct()
        if parent_t in ("nation", "region"):
            pkeys = F.broadcast(pkeys)
        elif parent_t in ("part", "supplier"):
            # bounded-dimension parents: measure-gate a broadcast of
            # the key set (round 12 — the 1000x sweep showed these
            # edges flipping broadcast->SMJ between decades, sorting
            # 600M child rows). The row ceiling is widened for this
            # call: a SINGLE-bigint-column key set is byte-cheap (20M
            # longs ≈ 160 MB, inside BROADCAST_BYTES_MAX, which still
            # gates), and the default 4M-row ceiling is calibrated
            # for payload-carrying projections. orders/customer
            # parents stay shuffle joins: their key sets are
            # fact-sized and the eager distinct+count the gate needs
            # would be a full extra pass over a fact table.
            pkeys = broadcast_if_bounded(pkeys, max_rows=24_000_000)
        joined = child.select(fk).join(
            pkeys.withColumn("__present", F.lit(1)),
            F.col(fk) == F.col(pk),
            "left",
        )
        agg = joined.agg(
            F.lit(edge).alias("edge"),
            F.count(F.lit(1)).alias("n_child"),
            F.count_if(F.col(fk).isNull()).alias("n_null_fk"),
            F.count_if(
                F.col(fk).isNotNull() & F.col("__present").isNull()
            ).alias("n_orphans"),
        ).select("edge", "n_child", "n_null_fk", "n_orphans")
        out = agg if out is None else out.unionByName(agg)
    return ordered(out, "edge")


# Single-pass profile of the orders table: one aggregate computes every
# column's stats, then inline() explodes the 1-row result into one row
# per column. Numeric/timestamp min-max land in *_num (timestamps as
# epoch seconds), string min-max in *_str.
_PROFILE_COLS = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _profile_branch_sql(col: str, kind: str) -> str:
    if kind == "num":
        mn = f"CAST(MIN({col}) AS DOUBLE)"
        mx = f"CAST(MAX({col}) AS DOUBLE)"
    elif kind == "ts":
        mn = f"epoch_ms(MIN({col})) / 1000.0"
        mx = f"epoch_ms(MAX({col})) / 1000.0"
    else:
        mn = mx = "CAST(NULL AS DOUBLE)"
    ms = f"MIN({col})" if kind == "str" else "CAST(NULL AS VARCHAR)"
    xs = f"MAX({col})" if kind == "str" else "CAST(NULL AS VARCHAR)"
    return (
        f"SELECT '{col}' AS col_name, COUNT({col}) AS n_nonnull, "
        f"COUNT(DISTINCT {col}) AS n_distinct, {mn} AS min_num, "
        f"{mx} AS max_num, {ms} AS min_str, {xs} AS max_str FROM orders"
    )


_PROFILE_SQL = (
    "SELECT * FROM (\n"
    + "\nUNION ALL\n".join(_profile_branch_sql(c, k) for c, k in _PROFILE_COLS)
    + "\n) ORDER BY col_name"
)


@register(
    "profile_table_orders",
    _PROFILE_SQL,
    doc="Single-pass column profiler (ANALYZE-style): per column "
    "non-null count, exact distinct count, min/max (numeric + "
    "timestamp as epoch seconds, strings lexicographic). The Spark "
    "side is ONE aggregate over one scan — the multiple exact "
    "DISTINCTs expand (one Expand node), which is the exact-profiling "
    "face; at 100 TB swap count_distinct for approx_count_distinct "
    "and the same plan becomes a true single pass with constant "
    "state. inline() pivots the 1-row aggregate into one row per "
    "column, so nothing but the 6-cell result ever leaves the "
    "executors. The oracle's UNION ALL re-scans per column — "
    "DuckDB-side cost, irrelevant to the comparison.",
)
def profile_table_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    aggs = []
    structs = []
    for col, kind in _PROFILE_COLS:
        aggs.append(F.count(col).alias(f"{col}__n"))
        aggs.append(F.count_distinct(col).alias(f"{col}__d"))
        if kind == "num":
            mn = F.min(col).cast("double")
            mx = F.max(col).cast("double")
        elif kind == "ts":
            mn = F.unix_millis(F.min(col).cast("timestamp")) / F.lit(1000.0)
            mx = F.unix_millis(F.max(col).cast("timestamp")) / F.lit(1000.0)
        else:
            mn = mx = F.lit(None).cast("double")
        aggs.append(mn.alias(f"{col}__mn"))
        aggs.append(mx.alias(f"{col}__mx"))
        if kind == "str":
            aggs.append(F.min(col).alias(f"{col}__ms"))
            aggs.append(F.max(col).alias(f"{col}__xs"))
        structs.append(
            F.struct(
                F.lit(col).alias("col_name"),
                F.col(f"{col}__n").alias("n_nonnull"),
                F.col(f"{col}__d").alias("n_distinct"),
                F.col(f"{col}__mn").alias("min_num"),
                F.col(f"{col}__mx").alias("max_num"),
                (
                    F.col(f"{col}__ms") if kind == "str" else F.lit(None).cast("string")
                ).alias("min_str"),
                (
                    F.col(f"{col}__xs") if kind == "str" else F.lit(None).cast("string")
                ).alias("max_str"),
            )
        )
    return ordered(
        orders.agg(*aggs)
        .select(F.inline(F.array(*structs))),
        "col_name",
    )


# --- Benford first-digit audit ----------------------------------------
#
# Fraud/anomaly screening for financial columns: natural multi-scale
# amounts follow Benford's law P(d) = log10(1 + 1/d); a synthetic or
# manipulated column deviates. Observed first-digit counts are exact
# integers; expected counts and the chi-square statistic are one
# closed-form float step from identical inputs in both engines. The
# uniform-ish synthetic o_totalprice deliberately FAILS Benford — the
# audit's job is to say so, and benford_rejected pins that both engines
# agree on the verdict, not that the data is natural.

_BENFORD_SQL = """
WITH digits AS (
  -- floor, not a bare int cast: DuckDB ROUNDS double->int casts while
  -- Spark truncates (a 89999.997 order flips first digit 8 -> 9)
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS d,
         COUNT(*) AS n
  FROM orders
  WHERE o_totalprice >= 1
  GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM digits)
SELECT d, n,
       ROUND(CAST(n AS DOUBLE) / nt, 6) AS observed_p,
       ROUND(log10(1.0 + 1.0 / d), 6) AS benford_p,
       ROUND((CAST(n AS DOUBLE) - nt * log10(1.0 + 1.0 / d))
             * (CAST(n AS DOUBLE) - nt * log10(1.0 + 1.0 / d))
             / (nt * log10(1.0 + 1.0 / d)), 6) AS chi2_term,
       -- chi2(8 df) critical value at alpha=0.001 is 26.125
       (SELECT ROUND(SUM((CAST(n AS DOUBLE) - nt * log10(1.0 + 1.0 / d))
                     * (CAST(n AS DOUBLE) - nt * log10(1.0 + 1.0 / d))
                     / (nt * log10(1.0 + 1.0 / d))), 4) > 26.125
        FROM digits, tot) AS benford_rejected
FROM digits, tot
ORDER BY d
"""


@register(
    "audit_benford_totalprice",
    _BENFORD_SQL,
    doc="Benford first-digit audit of o_totalprice: exact per-digit "
    "counts (one scan, 9-row aggregate), observed vs log10(1+1/d) "
    "expected shares, per-digit chi-square terms and the global "
    "chi2(8)>26.125 rejection verdict. The synthetic driver amounts "
    "are ~uniform, so rejection is the EXPECTED outcome — the query "
    "proves the audit fires, cross-engine.",
)
def audit_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    digits = (
        orders.where(F.col("o_totalprice") >= 1)
        .groupBy(
            F.substring(
                F.floor("o_totalprice").cast("string"), 1, 1
            )
            .cast("bigint")
            .alias("d")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = digits.agg(F.sum("n").cast("long").alias("nt"))
    exp_p = F.log10(1.0 + 1.0 / F.col("d"))
    chi2_term = (
        (F.col("n").cast("double") - F.col("nt") * exp_p)
        * (F.col("n").cast("double") - F.col("nt") * exp_p)
        / (F.col("nt") * exp_p)
    )
    terms = digits.crossJoin(F.broadcast(tot))  # 1-row broadcast scalar
    verdict = terms.agg(
        (F.round(F.sum(chi2_term), 4) > 26.125).alias("benford_rejected")
    )
    return ordered(
        terms.crossJoin(F.broadcast(verdict))  # 1-row broadcast scalar
        .select(
            "d",
            "n",
            F.round(F.col("n").cast("double") / F.col("nt"), 6).alias(
                "observed_p"
            ),
            F.round(exp_p, 6).alias("benford_p"),
            F.round(chi2_term, 6).alias("chi2_term"),
            "benford_rejected",
        ),
        "d",
    )


# --- RFM customer segmentation ----------------------------------------
#
# The classic CRM cube: quintile scores for Recency (days since last
# order), Frequency (order count), Monetary (decimal-exact spend) per
# customer, then segment sizes. Scoring is boundary-based rather than
# NTILE: exact-percentile quintile boundaries come from a scalar
# aggregate (one row -> broadcast), and each customer scores by
# comparing against them map-side — no global sort window anywhere,
# which is what lets the same plan run at any customer cardinality.
# Tied values land in one quintile (boundary comparison), a semantic
# the oracle mirrors exactly; interpolated boundaries are bitwise
# cross-engine (the median_exact_price_per_brand finding).

_RFM_SQL = """
WITH base AS (
  SELECT o_custkey AS custkey,
         date_diff('day', MAX(o_orderdate),
                   (SELECT MAX(o_orderdate) FROM orders)) AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS monetary
  FROM orders
  GROUP BY o_custkey
),
bounds AS (
  SELECT quantile_cont(recency_days, 0.2) AS r20,
         quantile_cont(recency_days, 0.4) AS r40,
         quantile_cont(recency_days, 0.6) AS r60,
         quantile_cont(recency_days, 0.8) AS r80,
         quantile_cont(frequency, 0.2) AS f20,
         quantile_cont(frequency, 0.4) AS f40,
         quantile_cont(frequency, 0.6) AS f60,
         quantile_cont(frequency, 0.8) AS f80,
         quantile_cont(monetary, 0.2) AS m20,
         quantile_cont(monetary, 0.4) AS m40,
         quantile_cont(monetary, 0.6) AS m60,
         quantile_cont(monetary, 0.8) AS m80
  FROM base
),
scored AS (
  SELECT custkey,
         1 + CAST(recency_days > r20 AS INT) + CAST(recency_days > r40 AS INT)
           + CAST(recency_days > r60 AS INT) + CAST(recency_days > r80 AS INT)
           AS r_score,
         1 + CAST(frequency < f80 AS INT) + CAST(frequency < f60 AS INT)
           + CAST(frequency < f40 AS INT) + CAST(frequency < f20 AS INT)
           AS f_score,
         1 + CAST(monetary < m80 AS INT) + CAST(monetary < m60 AS INT)
           + CAST(monetary < m40 AS INT) + CAST(monetary < m20 AS INT)
           AS m_score
  FROM base, bounds
)
SELECT r_score, f_score, m_score,
       COUNT(*) AS n_customers
FROM scored
GROUP BY 1, 2, 3
ORDER BY r_score, f_score, m_score
"""


@register(
    "customers_rfm_segments",
    _RFM_SQL,
    doc="RFM segmentation via quantile-boundary scoring: per-customer "
    "recency/frequency/monetary from ONE orders aggregate, quintile "
    "boundaries from a scalar exact-percentile aggregate (one row, "
    "broadcast), scores by boundary comparison, 125-cell segment "
    "histogram. Unlike NTILE, there is NO global sort anywhere: the "
    "scoring pass is map-side against broadcast boundaries, so the "
    "shape is two scans + one small shuffle at any scale (swap the "
    "exact percentile for approx_percentile at 100 TB, same plan). "
    "Score direction: 1 = best quintile (most recent / most frequent / "
    "highest spend).",
)
def customers_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    maxdate = orders.agg(F.max("o_orderdate").alias("maxd"))
    base = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            dsum(dec("o_totalprice"), "monetary"),
        )
        .crossJoin(F.broadcast(maxdate))  # 1-row broadcast scalar
        .select(
            "custkey",
            F.datediff(
                F.col("maxd").cast("date"), F.col("last_order").cast("date")
            ).alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    bounds = base.agg(
        *[
            F.percentile(metric, F.lit(q)).alias(f"{m}{int(q * 100)}")
            for metric, m in (
                ("recency_days", "r"),
                ("frequency", "f"),
                ("monetary", "m"),
            )
            for q in qs
        ]
    )
    gt = lambda col, b: (F.col(col) > F.col(b)).cast("int")  # noqa: E731
    lt = lambda col, b: (F.col(col) < F.col(b)).cast("int")  # noqa: E731
    scored = base.crossJoin(F.broadcast(bounds)).select(  # 1-row scalar
        "custkey",
        (
            F.lit(1)
            + gt("recency_days", "r20") + gt("recency_days", "r40")
            + gt("recency_days", "r60") + gt("recency_days", "r80")
        ).alias("r_score"),
        (
            F.lit(1)
            + lt("frequency", "f80") + lt("frequency", "f60")
            + lt("frequency", "f40") + lt("frequency", "f20")
        ).alias("f_score"),
        (
            F.lit(1)
            + lt("monetary", "m80") + lt("monetary", "m60")
            + lt("monetary", "m40") + lt("monetary", "m20")
        ).alias("m_score"),
    )
    return ordered(
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).alias("n_customers")),
        "r_score",
        "f_score",
        "m_score",
    )


# --- Gini coefficient of customer spend --------------------------------
#
# Concentration/inequality audit: how skewed is revenue across
# customers (the whale-detection metric behind spend-concentration
# alerts). Gini = sum((2*rank - n - 1) * x) / (n * sum(x)) over
# ascending-sorted spend. Everything before the final division is
# EXACT integer arithmetic: spend is decimal cents (BIGINT), ranks
# come from the same two-stage distributed ranking as
# events_mannwhitney_u (order-preserving spend buckets, broadcast
# triangular prefix offsets over the range-bounded bucket table,
# per-bucket rank windows) — no corpus-sized single-partition sort,
# and ties are rank-order-invariant because equal x contribute
# identically wherever they land. top_decile_share (spend share of the
# top 10% of customers) rides along from the same ranks.

_GINI_SQL = """
WITH base AS (
  SELECT o_custkey AS custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
),
bt AS (
  SELECT CAST(floor(cents / 10000000) AS BIGINT) AS bkt,
         CAST(COUNT(*) AS BIGINT) AS nb
  FROM base GROUP BY 1
),
off AS (
  SELECT a.bkt,
         CAST(COALESCE(SUM(b.nb), 0) AS BIGINT) AS bkt_off
  FROM bt a LEFT JOIN bt b ON b.bkt < a.bkt
  GROUP BY a.bkt
),
rk AS (
  SELECT b.cents,
         o.bkt_off + ROW_NUMBER() OVER (
             PARTITION BY CAST(floor(b.cents / 10000000) AS BIGINT)
             ORDER BY b.cents, b.custkey) AS rnk
  FROM base b
  JOIN off o ON o.bkt = CAST(floor(b.cents / 10000000) AS BIGINT)
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         -- decimal(38) accumulator: each term is <= 2n*max_cents (can
         -- pass int64 at ~1.5M customers); the sum is exact in decimal
         -- and converts to double identically in both engines
         CAST(SUM(CAST((2 * rnk - (SELECT COUNT(*) FROM base) - 1) * cents
                  AS DECIMAL(28,0))) AS DECIMAL(38,0)) AS gini_num,
         CAST(SUM(CASE WHEN rnk > (SELECT COUNT(*) FROM base) * 0.9
                       THEN cents ELSE 0 END) AS BIGINT) AS top_cents
  FROM rk
)
SELECT n AS n_customers,
       CAST(total_cents AS DOUBLE) / 100.0 AS total_spend,
       ROUND(CAST(gini_num AS DOUBLE)
             / (CAST(n AS DOUBLE) * total_cents), 6) AS gini,
       ROUND(CAST(top_cents AS DOUBLE) / total_cents, 6)
         AS top_decile_share
FROM agg
"""


@register(
    "customers_gini_spend",
    _GINI_SQL,
    doc="Gini coefficient + top-decile share of per-customer spend: "
    "decimal-cents BIGINT spend, two-stage distributed ranking "
    "(spend-range-bounded buckets, broadcast triangular offsets, "
    "per-bucket windows), numerator summed in exact integer space — "
    "the one float step is the final division. Tie placement cannot "
    "change the statistic (equal x, interchangeable ranks).",
)
def customers_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        (F.sum(dec("o_totalprice")) * 100).cast("long").alias("cents")
    )
    bkt = F.floor(F.col("cents") / 10000000).cast("long")
    bt = base.groupBy(bkt.alias("bkt")).agg(
        F.count(F.lit(1)).cast("long").alias("nb")
    )
    # broadcast triangular prefix-sum: quadratic only in the
    # range-bounded bucket count (see events_mannwhitney_u)
    off = (
        bt.alias("a")
        .join(
            F.broadcast(
                bt.select(F.col("bkt").alias("bkt_b"), F.col("nb").alias("nb_b"))
            ),
            F.col("bkt_b") < F.col("a.bkt"),
            "left",
        )
        .groupBy(F.col("a.bkt").alias("bkt"))
        .agg(F.coalesce(F.sum("nb_b"), F.lit(0)).cast("long").alias("bkt_off"))
    )
    w = Window.partitionBy("bkt").orderBy("cents", "custkey")
    rk = (
        base.withColumn("bkt", bkt)
        .join(off, "bkt")
        .withColumn("rnk", F.col("bkt_off") + F.row_number().over(w))
    )
    n_row = base.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    agg = rk.crossJoin(F.broadcast(n_row)).agg(  # 1-row broadcast scalar
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total_cents"),
        # decimal(38) accumulator — terms can pass int64 at ~1.5M
        # customers; exact decimal sum, identical double conversion
        F.sum(
            ((2 * F.col("rnk") - F.col("n_all") - 1) * F.col("cents")).cast(
                "decimal(28,0)"
            )
        ).alias("gini_num"),
        F.sum(
            F.when(F.col("rnk") > F.col("n_all") * 0.9, F.col("cents")).otherwise(
                F.lit(0)
            )
        ).cast("long").alias("top_cents"),
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        (F.col("total_cents").cast("double") / 100.0).alias("total_spend"),
        F.round(
            F.col("gini_num").cast("double")
            / (F.col("n").cast("double") * F.col("total_cents")),
            6,
        ).alias("gini"),
        F.round(
            F.col("top_cents").cast("double") / F.col("total_cents"), 6
        ).alias("top_decile_share"),
    )


# --- Spearman rank correlation ----------------------------------------
#
# Monotone-association audit between order price and order width
# (lineitem count): Pearson on average ranks, the tie-correct Spearman.
# Ranks come from the value-count form of two-stage distributed
# ranking (rank per DISTINCT value, then joined back — no row-level
# global sort), carried as exact integers R' = 2*avg_rank =
# 2*rank0 + ties + 1. All five Pearson sums accumulate in
# DECIMAL(38,0) (R'^2 terms pass int64 at ~1.3M orders), and the one
# float step is the closed-form correlation; Pearson is
# scale-invariant, so using R' instead of R changes nothing.

def _rank_cte(src: str, val: str, bkt_div: int) -> str:
    """SQL CTE body computing (value -> t, rank0) for one variable."""
    return f"""
vc_{val} AS (
  SELECT {val} AS v, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(floor({val} / {bkt_div}) AS BIGINT) AS bkt
  FROM {src} GROUP BY 1, 3
),
bt_{val} AS (SELECT bkt, CAST(SUM(t) AS BIGINT) AS nb FROM vc_{val} GROUP BY bkt),
off_{val} AS (
  SELECT a.bkt, CAST(COALESCE(SUM(b.nb), 0) AS BIGINT) AS bkt_off
  FROM bt_{val} a LEFT JOIN bt_{val} b ON b.bkt < a.bkt GROUP BY a.bkt
),
rk_{val} AS (
  SELECT v.v, v.t,
         o.bkt_off + COALESCE(CAST(SUM(v.t) OVER (
             PARTITION BY v.bkt ORDER BY v.v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             0) AS rank0
  FROM vc_{val} v JOIN off_{val} o USING (bkt)
)"""


_SPEARMAN_SQL = f"""
WITH base AS (
  SELECT o.o_orderkey,
         CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS n_items
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
{_rank_cte("base", "cents", 1000000)},
{_rank_cte("base", "n_items", 1)},
rp AS (
  SELECT (2 * rc.rank0 + rc.t + 1) AS rx,
         (2 * ri.rank0 + ri.t + 1) AS ry
  FROM base b
  JOIN rk_cents rc ON rc.v = b.cents
  JOIN rk_n_items ri ON ri.v = b.n_items
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(rx AS DECIMAL(28,0))) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(CAST(ry AS DECIMAL(28,0))) AS DECIMAL(38,0)) AS s2,
         CAST(SUM(CAST(rx * rx AS DECIMAL(28,0))) AS DECIMAL(38,0)) AS s11,
         CAST(SUM(CAST(ry * ry AS DECIMAL(28,0))) AS DECIMAL(38,0)) AS s22,
         CAST(SUM(CAST(rx * ry AS DECIMAL(28,0))) AS DECIMAL(38,0)) AS s12
  FROM rp
)
SELECT n AS n_orders,
       ROUND((n * CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE))
             / (sqrt(n * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                * sqrt(n * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))),
             6) + 0.0 AS spearman_rho
FROM sums
"""


@register(
    "orders_spearman_price_items",
    _SPEARMAN_SQL,
    doc="Spearman rank correlation between order price and lineitem "
    "count: tie-correct average ranks per DISTINCT value (value-count "
    "two-stage ranking — broadcast triangular bucket offsets, "
    "per-bucket windows), integer R'=2*avg_rank joined back to "
    "orders, Pearson closed form over DECIMAL(38,0)-exact sums. The "
    "rank tables are distinct-value-sized, the join back is keyed, "
    "and no row-level global sort exists anywhere.",
)
def orders_spearman_price_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    base = (
        orders.join(
            lineitem.select("l_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            "o_orderkey",
            (dec("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    )

    def ranks(df, val, bkt_div):
        vc = df.groupBy(
            F.col(val).alias("v"),
            F.floor(F.col(val) / bkt_div).cast("long").alias("bkt"),
        ).agg(F.count(F.lit(1)).cast("long").alias("t"))
        bt = vc.groupBy("bkt").agg(F.sum("t").cast("long").alias("nb"))
        off = (
            bt.alias("a")
            .join(
                F.broadcast(
                    bt.select(
                        F.col("bkt").alias("bkt_b"), F.col("nb").alias("nb_b")
                    )
                ),
                F.col("bkt_b") < F.col("a.bkt"),
                "left",
            )
            .groupBy(F.col("a.bkt").alias("bkt"))
            .agg(
                F.coalesce(F.sum("nb_b"), F.lit(0)).cast("long").alias("bkt_off")
            )
        )
        w = (
            Window.partitionBy("bkt")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            vc.join(off, "bkt")
            .withColumn(
                "rank0",
                F.col("bkt_off")
                + F.coalesce(F.sum("t").over(w), F.lit(0)).cast("long"),
            )
            .select(
                F.col("v"),
                (2 * F.col("rank0") + F.col("t") + 1).alias("rprime"),
            )
        )

    rx = ranks(base, "cents", 1000000).withColumnsRenamed(
        {"v": "vx", "rprime": "rx"}
    )
    ry = ranks(base, "n_items", 1).withColumnsRenamed(
        {"v": "vy", "rprime": "ry"}
    )
    rp = base.join(rx, F.col("cents") == F.col("vx")).join(
        ry, F.col("n_items") == F.col("vy")
    )
    sums = rp.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("rx").cast("decimal(28,0)")).alias("s1"),
        F.sum(F.col("ry").cast("decimal(28,0)")).alias("s2"),
        F.sum((F.col("rx") * F.col("rx")).cast("decimal(28,0)")).alias("s11"),
        F.sum((F.col("ry") * F.col("ry")).cast("decimal(28,0)")).alias("s22"),
        F.sum((F.col("rx") * F.col("ry")).cast("decimal(28,0)")).alias("s12"),
    )
    n = F.col("n").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    s11, s22 = F.col("s11").cast("double"), F.col("s22").cast("double")
    s12 = F.col("s12").cast("double")
    rho = (n * s12 - s1 * s2) / (
        F.sqrt(n * s11 - s1 * s1) * F.sqrt(n * s22 - s2 * s2)
    )
    return sums.select(
        F.col("n").alias("n_orders"), (F.round(rho, 6) + 0.0).alias("spearman_rho")
    )


# --- ABC (Pareto) classification of parts by revenue -------------------
#
# The inventory-management classic: class A = parts covering the first
# 70% of cumulative revenue (ranked by revenue, descending), B = next
# 20%, C = the tail. Needs a DESCENDING prefix sum of revenue by rank
# — same two-stage machinery as customers_gini_spend but accumulating
# CENTS (not counts) in the triangular offsets: bucket by revenue,
# offsets from HIGHER buckets, within-bucket running decimal sums.
# Everything through cum_cents is exact integer/decimal; class
# boundaries compare exact integers against total*0.7 / total*0.9.

_ABC_SQL = """
WITH base AS (
  SELECT l_partkey AS partkey,
         -- floor, not bare CAST: DuckDB CAST(DECIMAL AS BIGINT) rounds
         -- half-away-from-zero while Spark .cast('long') truncates;
         -- floor is engine-identical (round-7 advisory fix)
         CAST(floor(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6)) * 100)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
),
bt AS (
  SELECT CAST(floor(cents / 10000000) AS BIGINT) AS bkt,
         CAST(SUM(CAST(cents AS DECIMAL(28,0))) AS BIGINT) AS bkt_cents
  FROM base GROUP BY 1
),
off AS (
  SELECT a.bkt, CAST(COALESCE(SUM(b.bkt_cents), 0) AS BIGINT) AS off_cents
  FROM bt a LEFT JOIN bt b ON b.bkt > a.bkt GROUP BY a.bkt
),
cum AS (
  SELECT b.partkey, b.cents,
         o.off_cents
         + CAST(SUM(b.cents) OVER (
               PARTITION BY CAST(floor(b.cents / 10000000) AS BIGINT)
               ORDER BY b.cents DESC, b.partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_cents
  FROM base b
  JOIN off o ON o.bkt = CAST(floor(b.cents / 10000000) AS BIGINT)
),
tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total_cents FROM base),
classed AS (
  SELECT CASE WHEN cum_cents * 10 <= total_cents * 7 THEN 'A'
              WHEN cum_cents * 10 <= total_cents * 9 THEN 'B'
              ELSE 'C' END AS abc_class,
         cents
  FROM cum, tot
)
SELECT abc_class,
       COUNT(*) AS n_parts,
       ROUND(CAST(SUM(CAST(cents AS DECIMAL(28,0))) AS DOUBLE)
             / (SELECT total_cents FROM tot), 6) AS revenue_share
FROM classed
GROUP BY abc_class
ORDER BY abc_class
"""


@register(
    "parts_abc_classification",
    _ABC_SQL,
    doc="ABC / Pareto revenue classification of parts: decimal-cents "
    "revenue per part, DESCENDING cumulative revenue via two-stage "
    "ranking (revenue buckets, triangular offsets accumulating cents, "
    "per-bucket running sums), integer boundary tests cum*10 <= "
    "total*7 / total*9 — no float enters until the reported shares. "
    "Class A covering ~70% of revenue in few parts is the "
    "concentration fact inventory policy keys on.",
)
def parts_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    # BIGINT through the fact-table aggregate (round 13, guide §2.3
    # narrower types): the 2-dp price and discount make the per-row
    # revenue exact at 4 decimals, so scale it to an integer BEFORE the
    # 600M-row groupBy — the partial aggregates then accumulate one
    # 8-byte long per group instead of a 38-digit decimal. Equivalence
    # to the oracle's floor(SUM(DECIMAL(18,6)) * 100) is exact:
    # sum_e4 = SUM(rev * 1e4) is a nonnegative integer (revenue >= 0:
    # price >= 0, discount <= 1), and floor(sum_e4/100) recovers the
    # identical cents — done in decimal so no float ever enters.
    rev_e4 = (
        (F.col("l_extendedprice").cast("decimal(12,2)")
         * (1 - F.col("l_discount")).cast("decimal(8,2)"))
        * 10000
    ).cast("long")
    base = lineitem.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(rev_e4).alias("e4")
    ).select(
        "partkey",
        F.floor(F.col("e4").cast("decimal(38,0)") / 100)
        .cast("long")
        .alias("cents"),
    )
    bkt = F.floor(F.col("cents") / 10000000).cast("long")
    bt = base.groupBy(bkt.alias("bkt")).agg(
        F.sum(F.col("cents").cast("decimal(28,0)")).cast("long").alias("bkt_cents")
    )
    off = (
        bt.alias("a")
        .join(
            F.broadcast(
                bt.select(
                    F.col("bkt").alias("bkt_b"),
                    F.col("bkt_cents").alias("cents_b"),
                )
            ),
            F.col("bkt_b") > F.col("a.bkt"),
            "left",
        )
        .groupBy(F.col("a.bkt").alias("bkt"))
        .agg(
            F.coalesce(F.sum("cents_b"), F.lit(0)).cast("long").alias("off_cents")
        )
    )
    w = (
        Window.partitionBy("bkt")
        .orderBy(F.desc("cents"), "partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        base.withColumn("bkt", bkt)
        .join(off, "bkt")
        .withColumn(
            "cum_cents",
            F.col("off_cents") + F.sum("cents").over(w).cast("long"),
        )
    )
    tot = base.agg(F.sum("cents").cast("long").alias("total_cents"))
    classed = cum.crossJoin(F.broadcast(tot)).select(  # 1-row scalar
        F.when(
            F.col("cum_cents") * 10 <= F.col("total_cents") * 7, "A"
        )
        .when(F.col("cum_cents") * 10 <= F.col("total_cents") * 9, "B")
        .otherwise("C")
        .alias("abc_class"),
        "cents",
        "total_cents",
    )
    return ordered(
        classed.groupBy("abc_class", "total_cents")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.col("cents").cast("decimal(28,0)")).alias("class_cents"),
        )
        .select(
            "abc_class",
            "n_parts",
            F.round(
                F.col("class_cents").cast("double") / F.col("total_cents"), 6
            ).alias("revenue_share"),
        ),
        "abc_class",
    )


# --- weighted median ---------------------------------------------------
#
# The quantity-weighted median unit price per return flag — the
# weighted-percentile primitive Spark has no built-in for (percentile
# weights rows equally; here a 50-unit line counts 50x). Lower
# weighted median: smallest price whose cumulative quantity reaches
# half the group's total. Cumulative weights come from the grouped
# form of the two-stage ranking machinery (buckets within each group,
# triangular offsets joined on (group, bucket-order), per-(group,
# bucket) windows); quantities are integer-exact, and the median
# selection is a conditional MIN — no float enters except the output
# price itself.

_WMEDIAN_SQL = """
WITH vc AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice / 10000) AS BIGINT) AS bkt,
         l_extendedprice AS price,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2, 3
),
bt AS (
  SELECT flag, bkt, CAST(SUM(w) AS BIGINT) AS nb
  FROM vc GROUP BY flag, bkt
),
off AS (
  SELECT a.flag, a.bkt, CAST(COALESCE(SUM(b.nb), 0) AS BIGINT) AS bkt_off
  FROM bt a LEFT JOIN bt b ON b.flag = a.flag AND b.bkt < a.bkt
  GROUP BY a.flag, a.bkt
),
cum AS (
  SELECT v.flag, v.price,
         o.bkt_off + CAST(SUM(v.w) OVER (
             PARTITION BY v.flag, v.bkt ORDER BY v.price
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cw
  FROM vc v JOIN off o ON o.flag = v.flag AND o.bkt = v.bkt
),
tot AS (SELECT flag, CAST(SUM(w) AS BIGINT) AS tw FROM vc GROUP BY flag)
SELECT c.flag AS l_returnflag,
       t.tw AS total_quantity,
       MIN(CASE WHEN 2 * c.cw >= t.tw THEN c.price END)
         AS weighted_median_price
FROM cum c JOIN tot t ON t.flag = c.flag
GROUP BY c.flag, t.tw
ORDER BY l_returnflag
"""


@register(
    "lineitem_weighted_median_price",
    _WMEDIAN_SQL,
    doc="Quantity-weighted median unit price per return flag — the "
    "weighted-percentile primitive percentile() cannot express (rows "
    "weigh equally there). Grouped two-stage cumulative weights "
    "(integer-exact), conditional-MIN selection at half the total; "
    "the same shape computes any weighted quantile by changing the "
    "threshold.",
)
def lineitem_weighted_median_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    vc = lineitem.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") / 10000).cast("long").alias("bkt"),
        F.col("l_extendedprice").alias("price"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("w"))
    bt = vc.groupBy("flag", "bkt").agg(F.sum("w").cast("long").alias("nb"))
    off = (
        bt.alias("a")
        .join(
            F.broadcast(
                bt.select(
                    F.col("flag").alias("fb"),
                    F.col("bkt").alias("bkt_b"),
                    F.col("nb").alias("nb_b"),
                )
            ),
            (F.col("fb") == F.col("a.flag")) & (F.col("bkt_b") < F.col("a.bkt")),
            "left",
        )
        .groupBy(F.col("a.flag").alias("flag"), F.col("a.bkt").alias("bkt"))
        .agg(F.coalesce(F.sum("nb_b"), F.lit(0)).cast("long").alias("bkt_off"))
    )
    w = (
        Window.partitionBy("flag", "bkt")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vc.join(off, ["flag", "bkt"]).withColumn(
        "cw", F.col("bkt_off") + F.sum("w").over(w).cast("long")
    )
    tot = vc.groupBy(F.col("flag").alias("tf")).agg(
        F.sum("w").cast("long").alias("tw")
    )
    return ordered(
        cum.join(F.broadcast(tot), F.col("flag") == F.col("tf"))
        .groupBy(F.col("flag").alias("l_returnflag"), F.col("tw"))
        .agg(
            F.min(
                F.when(2 * F.col("cw") >= F.col("tw"), F.col("price"))
            ).alias("weighted_median_price")
        )
        .select(
            "l_returnflag",
            F.col("tw").alias("total_quantity"),
            "weighted_median_price",
        ),
        "l_returnflag",
    )


# --- Herfindahl-Hirschman market concentration -------------------------
#
# Per-nation supplier concentration of lineitem revenue: HHI = sum of
# squared market shares (x10000, the antitrust convention). Shares
# come from decimal-exact cents; the share squares are the only float
# step, summed per nation over a supplier-bounded group and rounded.
# Pairs with customers_gini_spend: Gini measures inequality across the
# whole population, HHI measures top-end concentration per market.

_HHI_SQL = """
WITH rev AS (
  SELECT s.s_nationkey AS nationkey, l.l_suppkey AS suppkey,
         -- floor for engine-identical decimal->bigint (see _ABC_SQL)
         CAST(floor(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,6)) * 100)) AS BIGINT) AS cents
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY 1, 2
),
tot AS (SELECT nationkey, CAST(SUM(cents) AS BIGINT) AS tc
        FROM rev GROUP BY nationkey)
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       ROUND(SUM((CAST(r.cents AS DOUBLE) / t.tc)
                 * (CAST(r.cents AS DOUBLE) / t.tc)) * 10000, 4) AS hhi
FROM rev r
JOIN tot t ON t.nationkey = r.nationkey
JOIN nation n ON n.n_nationkey = r.nationkey
GROUP BY n.n_name
ORDER BY nation
"""


@register(
    "supplier_hhi_by_nation",
    _HHI_SQL,
    doc="Herfindahl-Hirschman supplier concentration per nation "
    "(x10000): decimal-exact revenue cents, share squares summed per "
    "market, broadcast nation names. One fact aggregate + two keyed "
    "joins; market count bounds the output.",
)
def supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, supplier, nation = load_tables(
        spark, sf_dir, "lineitem", "supplier", "nation"
    )
    rev = (
        lineitem.join(
            supplier.select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            # floor-then-cast mirrors the oracle (engine-identical
            # decimal->long; see parts_abc_classification)
            F.floor(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(18,6)")
                    * 100
                )
            )
            .cast("long")
            .alias("cents")
        )
    )
    tot = rev.groupBy(F.col("nationkey").alias("tk")).agg(
        F.sum("cents").cast("long").alias("tc")
    )
    share = F.col("cents").cast("double") / F.col("tc")
    return ordered(
        rev.join(tot, F.col("nationkey") == F.col("tk"))
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.round(F.sum(share * share) * 10000, 4).alias("hhi"),
        ),
        "nation",
    )


# --- order-to-ship latency percentiles ---------------------------------
#
# The logistics SLA metric: days between order placement and line
# shipment, exact quartiles + p95 per order priority. Lag days are
# exact integers (date difference), so the only float is the
# interpolated percentile — bitwise-identical cross-engine (the
# median_exact_price_per_brand finding). One fact-fact key join
# (orders broadcast-side prunable to two columns) + a
# priority-bounded aggregate.

_SHIPLAG_SQL = """
WITH lag AS (
  SELECT o.o_orderpriority AS priority,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS lag_days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT priority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(MIN(lag_days) AS BIGINT) AS min_days,
       quantile_cont(lag_days, 0.25) AS p25_days,
       quantile_cont(lag_days, 0.50) AS median_days,
       quantile_cont(lag_days, 0.75) AS p75_days,
       quantile_cont(lag_days, 0.95) AS p95_days,
       CAST(MAX(lag_days) AS BIGINT) AS max_days
FROM lag
GROUP BY priority
ORDER BY priority
"""


@register(
    "shipping_lag_percentiles",
    _SHIPLAG_SQL,
    doc="Order-to-ship latency distribution per priority: exact "
    "integer day lags, exact interpolated quartiles + p95 "
    "(verification face; approx_percentile is the 100 TB scale "
    "face), min/max fences. One key join + a priority-bounded "
    "aggregate — the logistics SLA readout.",
)
def shipping_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    lag = lineitem.join(
        orders.select("o_orderkey", "o_orderpriority", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("lag_days"),
    )
    qs = [(0.25, "p25_days"), (0.50, "median_days"), (0.75, "p75_days"), (0.95, "p95_days")]
    return ordered(
        lag.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.min("lag_days").cast("long").alias("min_days"),
            *[
                F.percentile("lag_days", F.lit(q)).alias(name)
                for q, name in qs
            ],
            F.max("lag_days").cast("long").alias("max_days"),
        )
        .select(
            "priority", "n_items", "min_days",
            "p25_days", "median_days", "p75_days", "p95_days", "max_days",
        ),
        "priority",
    )


# --- customer value-tier migration -------------------------------------
#
# The CRM dynamics view RFM's static snapshot can't show: split the
# order history at its midpoint (computed from the data, not
# hard-coded), score each customer's spend quintile in each half with
# the same boundary method as customers_rfm_segments (scalar
# exact-percentile boundaries per half, broadcast, map-side compare —
# no NTILE funnel), and count the 5x5 tier-transition matrix plus the
# entered/churned margins (customers active in only one half). All
# joins are customer-keyed; boundaries are two 1-row broadcasts.

_MIGRATION_SQL = """
WITH bounds_t AS (
  SELECT CAST(to_timestamp((epoch_ms(MIN(o_orderdate)) / 1000
              + epoch_ms(MAX(o_orderdate)) / 1000) / 2) AS TIMESTAMP)
         AS mid
  FROM orders
),
spend AS (
  SELECT o_custkey AS custkey,
         (o_orderdate < (SELECT mid FROM bounds_t)) AS h1,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS m
  FROM orders
  GROUP BY o_custkey, (o_orderdate < (SELECT mid FROM bounds_t))
),
q1 AS (
  SELECT quantile_cont(m, 0.2) AS b20, quantile_cont(m, 0.4) AS b40,
         quantile_cont(m, 0.6) AS b60, quantile_cont(m, 0.8) AS b80
  FROM spend WHERE h1
),
q2 AS (
  SELECT quantile_cont(m, 0.2) AS b20, quantile_cont(m, 0.4) AS b40,
         quantile_cont(m, 0.6) AS b60, quantile_cont(m, 0.8) AS b80
  FROM spend WHERE NOT h1
),
s1 AS (
  SELECT custkey,
         1 + CAST(m < q.b80 AS INT) + CAST(m < q.b60 AS INT)
           + CAST(m < q.b40 AS INT) + CAST(m < q.b20 AS INT) AS tier
  FROM spend, q1 q WHERE h1
),
s2 AS (
  SELECT custkey,
         1 + CAST(m < q.b80 AS INT) + CAST(m < q.b60 AS INT)
           + CAST(m < q.b40 AS INT) + CAST(m < q.b20 AS INT) AS tier
  FROM spend, q2 q WHERE NOT h1
)
SELECT COALESCE(CAST(s1.tier AS VARCHAR), 'none') AS tier_h1,
       COALESCE(CAST(s2.tier AS VARCHAR), 'none') AS tier_h2,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM s1 FULL OUTER JOIN s2 ON s1.custkey = s2.custkey
GROUP BY 1, 2
ORDER BY tier_h1, tier_h2
"""


@register(
    "customers_tier_migration",
    _MIGRATION_SQL,
    doc="Customer value-tier migration between data-derived period "
    "halves: per-half spend quintiles by scalar-percentile boundary "
    "comparison (the customers_rfm_segments method — no NTILE "
    "funnel), full-outer customer join, 5x5 transition matrix with "
    "entered/churned 'none' margins. Tier 1 = top spend quintile.",
)
def customers_tier_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    mid = orders.agg(
        F.to_timestamp(
            (
                F.unix_millis(F.min("o_orderdate").cast("timestamp")) / 1000
                + F.unix_millis(F.max("o_orderdate").cast("timestamp")) / 1000
            )
            / 2
        ).alias("mid")
    )
    spend = (
        orders.crossJoin(F.broadcast(mid))  # 1-row broadcast scalar
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            (F.col("o_orderdate").cast("timestamp") < F.col("mid")).alias("h1"),
        )
        .agg(dsum(dec("o_totalprice"), "m"))
    )

    def tiers(half_df):
        q = half_df.agg(
            *[
                F.percentile("m", F.lit(p)).alias(f"b{int(p * 100)}")
                for p in (0.2, 0.4, 0.6, 0.8)
            ]
        )
        lt = lambda b: (F.col("m") < F.col(b)).cast("int")  # noqa: E731
        return half_df.crossJoin(F.broadcast(q)).select(  # 1-row scalar
            "custkey",
            (
                F.lit(1) + lt("b80") + lt("b60") + lt("b40") + lt("b20")
            ).alias("tier"),
        )

    s1 = tiers(spend.where(F.col("h1"))).withColumnsRenamed(
        {"custkey": "k1", "tier": "t1"}
    )
    s2 = tiers(spend.where(~F.col("h1"))).withColumnsRenamed(
        {"custkey": "k2", "tier": "t2"}
    )
    return ordered(
        s1.join(s2, F.col("k1") == F.col("k2"), "full_outer")
        .groupBy(
            F.coalesce(F.col("t1").cast("string"), F.lit("none")).alias(
                "tier_h1"
            ),
            F.coalesce(F.col("t2").cast("string"), F.lit("none")).alias(
                "tier_h2"
            ),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers")),
        "tier_h1",
        "tier_h2",
    )
