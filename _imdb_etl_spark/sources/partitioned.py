"""Partitioned-table maintenance: dynamic partition-overwrite backfill.

The reference stages flat CSVs (no partitioned tables), but any 100 TB
deployment of this engine lands fact data date-partitioned and lives or
dies by the ability to RE-RUN one day without touching its neighbors —
the daily-backfill idempotence contract. Spark expresses it with
``spark.sql.sources.partitionOverwriteMode=dynamic``: an overwrite
write replaces exactly the partitions present in the incoming frame.
The registered query proves the contract end-to-end: full load, then a
one-day backfill in dynamic mode, and the re-read must still equal the
batch oracle over ALL days — a static-mode clobber (every other day
deleted) or a duplicated backfill day flips row counts and the hash.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import dec, dsum
from _imdb_etl_spark.plans.registry import register
from _imdb_etl_spark.sources import load_tables, scoped_conf, scratch_dir

_BACKFILL_DAY = "2024-01-05"  # driver events all land in 2024-01

_BACKFILL_SQL = """
SELECT CAST(ts AS DATE) AS event_date,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1
ORDER BY 1
"""


@register(
    "sink_dynamic_partition_backfill",
    _BACKFILL_SQL,
    doc="Dynamic partition-overwrite backfill (partitionOverwriteMode="
    f"dynamic): events land date-partitioned, then day {_BACKFILL_DAY} "
    "is recomputed and overwritten IN PLACE — dynamic mode replaces "
    "only the partitions present in the incoming frame, so the other "
    "29 days survive and the backfill is idempotent. The re-read "
    "aggregates per day against the batch oracle over all days: a "
    "static-mode clobber or a doubled backfill day flips the hash. "
    "Partition pruning on event_date comes free for downstream reads.",
)
def sink_dynamic_partition_backfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    tbl = scratch_dir("part_backfill")
    shutil.rmtree(tbl, ignore_errors=True)

    (events,) = load_tables(spark, sf_dir, "events")
    ev = events.withColumn("event_date", F.to_date("ts"))

    mode_key = "spark.sql.sources.partitionOverwriteMode"
    with scoped_conf(spark, {mode_key: "dynamic"}):
        ev.write.partitionBy("event_date").mode("overwrite").parquet(tbl)
        backfill = ev.where(
            F.col("event_date") == F.lit(_BACKFILL_DAY).cast("date")
        )
        # dynamic mode: only the 2024-01-05 directory is replaced
        backfill.write.partitionBy("event_date").mode("overwrite").parquet(
            tbl
        )

    back = spark.read.parquet(tbl)
    return (
        back.groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(dec("value"), "total_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("event_date")
    )


# --- bucketed co-located join (the no-shuffle fact-fact join) ----------
#
# The named next lever in fact_star_left_joins' doc: lineitem x orders
# is a genuine key-key shuffle join when both sides arrive unorganized,
# but a table LAYOUT decision — bucketBy(orderkey) on both fact tables
# at write time — removes that exchange from every subsequent join on
# the key. At 100 TB this is the difference between re-shuffling 600 GB
# per query and shuffling once at ingest: the bucket files are the
# shuffle, paid one time, amortized over every downstream join/agg on
# the same key. tests/test_sinks.py pins the physical plan: with
# broadcast disabled, the bucketed join has ZERO Exchange nodes.

_N_BUCKETS = 8


@register(
    "bucketed_join_orders_lineitem",
    """
SELECT o_orderstatus AS status,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
ORDER BY status
""",
    doc="Co-located fact-fact join via bucketed table layout: both "
    f"lineitem and orders are written bucketBy({_N_BUCKETS}, orderkey) "
    "+ sortBy(orderkey) (the one-time ingest shuffle), then the "
    "revenue-per-status join reads the bucketed tables back and joins "
    "WITHOUT an exchange — bucket i joins bucket i, pinned "
    "Exchange-free in pytest with broadcast disabled. The amortization "
    "argument for 100 TB: every later join/groupBy on orderkey reuses "
    "the same layout for free. Result hash-checked against the plain "
    "join on the raw parquet.",
)
def bucketed_join_orders_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    bucketed_orders_lineitem(spark, sf_dir)
    o = spark.table(_bucket_table("o"))
    li = spark.table(_bucket_table("l"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(rev.cast("decimal(18,6)"), "revenue"),
        )
        .orderBy("status")
    )


def _bucket_table(side: str) -> str:
    return f"bjoin_{side}"


def bucketed_orders_lineitem(spark: SparkSession, sf_dir: str) -> None:
    """Write orders + lineitem as orderkey-bucketed tables under this
    process's scratch root (idempotent per process)."""
    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    for side, df, key in (
        ("o", orders, "o_orderkey"),
        ("l", lineitem.select("l_orderkey", "l_extendedprice", "l_discount"), "l_orderkey"),
    ):
        name = _bucket_table(side)
        # hashlib, not builtin hash(): PYTHONHASHSEED randomizes the
        # builtin per process, so marker names would never match across
        # restarts and stale markers would pile up (round-7 advisory fix)
        src_tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        path = scratch_dir(name)
        marker = os.path.join(path, f"_src_{src_tag}")
        if spark.catalog.tableExists(name) and os.path.exists(marker):
            continue  # already materialized for this sf_dir in this process
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(_N_BUCKETS, key)
            .sortBy(key)
            .mode("overwrite")
            .option("path", path)
            .saveAsTable(name)
        )
        open(marker, "w").close()


# --- schema evolution across landed batches ----------------------------
#
# Long-lived lakes never have one schema: a column added in month N
# must coexist with files written in month N-1. Spark's contract is
# mergeSchema=true at read time — the unified schema is the union of
# all footers, files missing a column surface NULLs. The registered
# query proves the whole contract end-to-end: batch 1 lands WITHOUT
# the quality_score column, batch 2 lands WITH it, the merged read
# must see both batches, type-widen nothing, and fill batch-1 rows
# with NULLs — any footer-merging or NULL-fill defect flips the
# per-language counts against the oracle, which recomputes the same
# split rule directly. Batch assignment is doc_id parity (content-
# stable, engine-portable).

_SCHEMA_EVO_SQL = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_score,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars % 100 END) AS BIGINT)
         AS sum_score
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register(
    "source_schema_evolution",
    _SCHEMA_EVO_SQL,
    doc="Schema evolution across landed parquet batches: batch=1 is "
    "written without the quality_score column, batch=2 with it, and "
    "the read back uses mergeSchema=true + partition discovery — the "
    "unified schema is the union of the footers, batch-1 rows "
    "surface NULL scores, and the batch column materializes from the "
    "directory layout. The per-language rollup (docs, scored docs, "
    "score sum) hash-matches an oracle that recomputes the same "
    "parity split directly, so a footer-merge or NULL-fill defect is "
    "a value diff, not a silent scan. At 100 TB this is the monthly "
    "reality of any landed fact table; mergeSchema reads footers, "
    "not data, so the cost is per-file metadata only.",
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    tbl = scratch_dir("schema_evo")
    shutil.rmtree(tbl, ignore_errors=True)

    (docs,) = load_tables(spark, sf_dir, "documents")
    v1 = docs.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", "n_chars"
    )
    v2 = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "lang",
        "n_chars",
        (F.col("n_chars") % 100).cast("int").alias("quality_score"),
    )
    v1.write.mode("overwrite").parquet(os.path.join(tbl, "batch=1"))
    v2.write.mode("overwrite").parquet(os.path.join(tbl, "batch=2"))

    merged = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", tbl)
        .parquet(tbl)
    )
    return (
        merged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("quality_score").cast("long").alias("n_with_score"),
            F.sum("quality_score").cast("long").alias("sum_score"),
        )
        .orderBy("lang")
    )
