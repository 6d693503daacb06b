"""Driver contract for the spark-graft builder (PySpark target).

Exposes `_imdb_etl_spark.registry.REGISTRY` in the driver's shape.
Importing `_imdb_etl_spark.plans` registers every implemented operator
from SURVEY.md §2 as a (DataFrame builder, DuckDB oracle SQL) pair and
puts the registry in gate order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from _imdb_etl_spark.plans import REGISTRY

FLAGSHIP = "graf3_top10_customers"
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (Graf-3 shape: join -> grouped count -> top-10) on
    /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY[FLAGSHIP].spark(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.spark for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None
    }
