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
- codegen cache sized to the registry's working set (``CODEGEN_CACHE_ENTRIES``),
  so a query that runs again reuses its compiled classes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in Catalyst's compiled-class cache (spark.sql.codegen.cache.maxEntries,
# default 100). Measured working set: one call of each of the 304 registered
# queries at sf0.01, in one session, compiles 4391 distinct classes. The cap
# leaves about 80 % headroom: the cache is split into four segments that each
# evict at a quarter of the cap, and the registry grows. tools/check.py
# prints the count of its run.
CODEGEN_CACHE_ENTRIES = 8000


def get_spark(
    app_name: str = "imdb-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    Whole-stage code generation compiles each generated source to a Java
    class, and Spark keeps the compiled classes in a cache keyed by that
    source, one cache per JVM. The default cap of 100 entries is below
    what one ``imdb_etl`` pass alone needs (about 155 classes), so the
    cache thrashed and every pass compiled about 153 of them again.
    ``CODEGEN_CACHE_ENTRIES`` holds the measured working set of the whole
    registry (4391 classes at sf0.01), so a query that runs again in the
    same JVM compiles nothing. Cached classes stay loaded, so a session
    that runs many queries holds more metaspace.

    The cap is a static conf, read once when the JVM first generates
    code. It holds only for a JVM this builder starts: a driver-supplied
    session (``__spark_entry__.entry`` receives the driver's) and any
    session ``getOrCreate`` reuses keep the JVM's first value. The first
    run of each query still compiles all of its classes; nothing here
    warms the cache ahead of time.
    """
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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """Classes the JVM's code generator has compiled since it started,
    and the seconds it spent compiling them. A cache hit adds to neither."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return metrics.METRIC_COMPILATION_TIME().getCount(), codegen.compileTime() / 1e9
