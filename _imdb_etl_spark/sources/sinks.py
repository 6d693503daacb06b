"""Sinks: catalog-managed tables.

The reference's sink surface is CTAS + DROP TABLE
(etl_imdb_db.sql:90-141,153-158); here that maps to ``saveAsTable``
into the session catalog (S7), optionally with ``bucketBy`` on join
keys so later joins/aggregations on the bucket key skip their
shuffle, and ``DROP TABLE`` (S8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def save_as_table(
    df: DataFrame,
    name: str,
    bucket_by: tuple[int, list[str]] | None = None,
    mode: str = "overwrite",
) -> None:
    """CTAS (S7): materialize into the session catalog. ``bucket_by``
    = (n_buckets, cols) pre-shuffles once at write so every later join
    or aggregation on those columns skips its exchange."""
    w = df.write.mode(mode).format("parquet")
    if bucket_by:
        n, cols = bucket_by
        w = w.bucketBy(n, *cols).sortBy(*cols)
    w.saveAsTable(name)


def drop_table(spark: SparkSession, name: str) -> None:
    """S8: DROP TABLE IF EXISTS (etl_imdb_db.sql:153-158)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
