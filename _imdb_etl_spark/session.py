"""SparkSession factory.

The reference delegates all execution to Snowflake; here the equivalent
"warehouse" is a tuned SparkSession. Defaults are chosen for the driver
harness (local[N], small scale factors) but every knob matters identically
on a real cluster:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  broadcast-join demotion/promotion — the scale story for 100 TB inputs.
- shuffle.partitions ~ cores locally; on a cluster this should be
  2-3x total executor cores (or left to AQE coalescing from a high cap).
- Arrow on: any pandas_udf / toPandas crossing is vectorized.
- session timezone UTC: parquet timestamps compare cleanly against
  UTC-naive engines (the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "imdb-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # runtime bloom-filter join pruning: inactive below its size
        # thresholds (local test data) but the right default at scale
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Python data sources implementing pushFilters are REJECTED
        # outright unless this is on; set at session build so planning
        # never depends on which query ran first
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
