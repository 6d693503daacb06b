"""Data-quality validation operators.

The reference declares PRIMARY KEYs that Snowflake doesn't enforce
(etl_imdb_db.sql:9,23,27,39,45,52 — informational, like all analytic
engines); this module turns those contracts into *queries*: uniqueness
violations, FK coverage, and null-rate profiles as first-class
DataFrames a pipeline can gate on. One aggregation pass per table —
the validation cost model that still works at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import ordered
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables


def pk_violations(df: DataFrame, *keys: str) -> DataFrame:
    """Rows per duplicated key tuple (empty frame == PK holds)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .where(F.col("n_rows") > 1)
    )


def fk_coverage(child: DataFrame, child_key: str, parent: DataFrame, parent_key: str) -> DataFrame:
    """(matched, dangling) counts for a foreign-key edge."""
    marked = child.join(
        parent.select(F.col(parent_key).alias("__pk")).distinct(),
        child[child_key] == F.col("__pk"),
        "left",
    )
    return marked.agg(
        F.count(F.when(F.col("__pk").isNotNull(), 1)).alias("matched"),
        F.count(F.when(F.col("__pk").isNull(), 1)).alias("dangling"),
    )


_DQ_SQL = """
SELECT 'orders_pk' AS check_name,
       (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
         GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS violations
UNION ALL
SELECT 'lineitem_pk',
       (SELECT COUNT(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem
         GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1))
UNION ALL
SELECT 'orders_custkey_fk_dangling',
       (SELECT COUNT(*) FROM orders LEFT JOIN customer ON o_custkey = c_custkey
         WHERE c_custkey IS NULL)
UNION ALL
SELECT 'lineitem_partkey_fk_dangling',
       (SELECT COUNT(*) FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
         WHERE p_partkey IS NULL)
ORDER BY check_name
"""


@register(
    "dq_constraint_checks",
    _DQ_SQL,
    doc="Declared-constraint validation as a query: PK uniqueness "
    "(orders, lineitem composite) and FK dangling counts (orders-> "
    "customer, lineitem->part) in one result set — the enforcement "
    "layer for the reference's informational PRIMARY KEYs. Returned as "
    "one lazy union of scalar aggregates (no driver round-trips).",
)
def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem, customer, part = load_tables(
        spark, sf_dir, "orders", "lineitem", "customer", "part"
    )

    def labeled(name: str, df: DataFrame, col: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"), F.col(col).cast("long").alias("violations")
        )

    parts = [
        labeled(
            "orders_pk",
            pk_violations(orders, "o_orderkey").agg(F.count(F.lit(1)).alias("n")),
            "n",
        ),
        labeled(
            "lineitem_pk",
            pk_violations(lineitem, "l_orderkey", "l_linenumber").agg(
                F.count(F.lit(1)).alias("n")
            ),
            "n",
        ),
        labeled(
            "orders_custkey_fk_dangling",
            fk_coverage(orders, "o_custkey", customer, "c_custkey"),
            "dangling",
        ),
        labeled(
            "lineitem_partkey_fk_dangling",
            fk_coverage(lineitem, "l_partkey", part, "p_partkey"),
            "dangling",
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return ordered(out, "check_name")


_NULLPROF_SQL = """
SELECT 'lang' AS column_name,
       COUNT(*) - COUNT(lang) AS n_null, COUNT(*) AS n_total
FROM documents
UNION ALL
SELECT 'text', COUNT(*) - COUNT(text), COUNT(*) FROM documents
ORDER BY column_name
"""


@register(
    "dq_null_profile",
    _NULLPROF_SQL,
    doc="Null-rate profile (one aggregation pass, no shuffle beyond the "
    "final combine) — the cheap always-on data-quality telemetry.",
)
def dq_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    total = F.count(F.lit(1))
    return ordered(
        docs.agg(
            total.alias("n_total"),
            (total - F.count("lang")).alias("lang_nulls"),
            (total - F.count("text")).alias("text_nulls"),
        )
        .selectExpr(
            "stack(2, 'lang', lang_nulls, n_total, 'text', text_nulls, n_total)"
            " AS (column_name, n_null, n_total)"
        ),
        "column_name",
    )


# --- piggybacked DQ metrics via df.observe ------------------------------
#
# dq_null_profile and dq_constraint_checks each COST a pass over the
# table. The Observation API is the zero-cost alternative for metrics a
# pipeline wants on EVERY run: observe() attaches aggregate expressions
# to an existing plan and the metrics materialize as a side effect of
# whatever action the pipeline already executes — at 100 TB the DQ
# counters ride the main scan for free instead of doubling it. The
# registered query attaches row/null/domain counters to the documents
# quality-gate pass, executes ONE action (the gate count the pipeline
# needs anyway), and returns the observed metrics as a 1-row frame —
# driver-side bounded by construction (a fixed metric tuple, the CMS
# readback precedent). The oracle recomputes the same aggregates
# declaratively, so a dropped or double-counted metric is a hash diff.

_OBSERVE_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_empty_text,
       CAST(SUM(CASE WHEN lang NOT IN ('en','de','fr','es','it')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_lang,
       CAST(SUM(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass_gate,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
"""


@register(
    "dq_observe_metrics",
    _OBSERVE_SQL,
    doc="Zero-extra-pass data quality via the Observation API: row, "
    "empty-text, out-of-domain-language, gate-pass, and volume "
    "counters attach to the documents quality-gate plan with "
    "df.observe() and materialize as a side effect of the ONE action "
    "the pipeline runs anyway — at 100 TB the DQ counters ride the "
    "main scan for free where dq_null_profile pays a dedicated pass. "
    "The result is the fixed 1-row metric tuple (driver-side bounded "
    "by construction); the oracle recomputes the same aggregates "
    "declaratively, so a dropped or double-counted metric flips the "
    "hash.",
)
def dq_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    (docs,) = load_tables(spark, sf_dir, "documents")
    obs = Observation("dq")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(
                F.col("text").isNull() | (F.col("text") == ""), 1
            ).otherwise(0)
        ).alias("n_empty_text"),
        F.sum(
            F.when(
                ~F.col("lang").isin("en", "de", "fr", "es", "it"), 1
            ).otherwise(0)
        ).alias("n_bad_lang"),
        F.sum(F.when(F.col("n_chars") >= 200, 1).otherwise(0)).alias(
            "n_pass_gate"
        ),
        F.sum("n_chars").alias("total_chars"),
    )
    # the action the pipeline runs anyway: the quality-gate count
    observed.where(F.col("n_chars") >= 200).count()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_docs"]),
                int(m["n_empty_text"]),
                int(m["n_bad_lang"]),
                int(m["n_pass_gate"]),
                int(m["total_chars"]),
            )
        ],
        "n_docs bigint, n_empty_text bigint, n_bad_lang bigint, "
        "n_pass_gate bigint, total_chars bigint",
    )
