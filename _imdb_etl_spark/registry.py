"""Registry of declared queries.

Each entry pairs an idiomatic-DataFrame builder with the equivalent ANSI
SQL the DuckDB oracle runs on the same parquet tables. The driver
contract (`__spark_entry__.py` at the repo root) exposes exactly this mapping.
This module imports only pyspark, so a query module can import it first;
importing the `plans` package registers every query and sets the order.

Column-name discipline: the builder aliases every computed column and the
oracle SQL uses identical `AS` names — the driver sorts columns by name
before hashing values.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkBuilder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkBuilder
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: SparkBuilder) -> SparkBuilder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco
