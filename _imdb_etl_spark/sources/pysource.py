"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API) —
the connector seam for systems Spark has no built-in reader for.

The reference ingests only CSV through a stage; a production engine
also needs to ingest from APIs, manifests, and bespoke formats. Spark 4
makes that a first-class Python surface: a `DataSource` plans
`InputPartition`s on the driver and each executor runs `read(part)`
independently — the same split-planning contract as a file source, so
parallelism scales with the partition count, not the driver.

The concrete source here is deterministic (rows derived from md5 of the
row id), which makes the whole path — option parsing, partition
planning, executor-side generation, schema — verifiable against a
DuckDB `range()` oracle with a value hash, not just a row count.
A real connector (e.g. a paginated HTTP API or a shard manifest) swaps
the body of `read()` and keeps the planning shape.

Scale posture: partition planning is O(#partitions) driver-side
metadata; generation is embarrassingly parallel; the registered query
aggregates executor-side before anything returns. The Arrow batch size
for Python-source rows is Spark-managed (spark.sql.execution.arrow
configs); rows are yielded as tuples, not pandas, to keep the per-row
overhead in the iterator protocol only.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from _imdb_etl_spark.functions import md5_prefix_int_sql, ordered
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.streaming.events import _run_to_memory


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


def _payload(i: int):
    """The one row derivation every path shares — both connectors AND
    both DuckDB oracle twins depend on it staying identical."""
    sig = hashlib.md5(str(i).encode()).hexdigest()
    return (i, sig, int(sig[:2], 16))


class SyntheticDocsReader(DataSourceReader):
    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.nparts = int(options.get("partitions", 8))

    def partitions(self):
        step = max(1, -(-self.rows // self.nparts))  # ceil division
        return [
            _RangePartition(lo, min(lo + step, self.rows))
            for lo in range(0, self.rows, step)
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield _payload(i)


class SyntheticDocsDataSource(DataSource):
    """``spark.read.format("synthetic_docs")`` — options: rows, partitions."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_docs"

    def schema(self) -> str:
        return "doc_id bigint, sig string, bucket int"

    def reader(self, schema):
        return SyntheticDocsReader(self.options)


def read_synthetic_docs(
    spark: SparkSession, rows: int = 2000, partitions: int = 8
) -> DataFrame:
    spark.dataSource.register(SyntheticDocsDataSource)
    return (
        spark.read.format("synthetic_docs")
        .option("rows", rows)
        .option("partitions", partitions)
        .load()
    )


# DuckDB twin: same md5-derived rows from range(); the bucket is the
# first two hex digits decoded via positional lookup (cross-engine, no
# hex-cast builtin needed).
_PYSRC_SQL = f"""
WITH src AS (
  SELECT i AS doc_id,
         md5(CAST(i AS VARCHAR)) AS sig,
         {md5_prefix_int_sql("CAST(i AS VARCHAR)", 2)} AS bucket
  FROM range(0, 2000) t(i)
)
SELECT bucket,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc,
       MAX(sig) AS max_sig
FROM src
GROUP BY bucket
ORDER BY bucket
"""


@register(
    "pysource_synthetic_docs",
    _PYSRC_SQL,
    doc="Custom Python DataSource (Spark 4 datasource API): "
    "driver-side partition planning + executor-side generation, "
    "aggregated per bucket. The md5-derived payload makes the full "
    "connector path value-hash-verifiable against the DuckDB range() "
    "oracle. The template for API/manifest connectors Spark lacks.",
)
def pysource_synthetic_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_synthetic_docs(spark, rows=2000, partitions=8)
    return ordered(
        df.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.max("sig").alias("max_sig"),
        ),
        "bucket",
    )


# ---------------------------------------------------------------------------
# Streaming form: the same connector seam for unbounded sources.
# ---------------------------------------------------------------------------

class SyntheticStreamReader(SimpleDataSourceStreamReader):
    """SimpleDataSourceStreamReader over the same deterministic rows:
    offsets advance `batch` ids per micro-batch up to `rows`, and
    `readBetweenOffsets` replays any committed range exactly — the
    replayability contract a recovering query depends on."""

    def __init__(self, options):
        self.cap = int(options.get("rows", 1000))
        self.batch = int(options.get("batch", 400))

    def initialOffset(self):
        return {"off": 0}

    def read(self, start):
        lo = start["off"]
        hi = min(lo + self.batch, self.cap)
        return (iter([_payload(i) for i in range(lo, hi)]), {"off": hi})

    def readBetweenOffsets(self, start, end):
        return iter([_payload(i) for i in range(start["off"], end["off"])])


class SyntheticStreamDataSource(DataSource):
    """``spark.readStream.format("synthetic_docs_stream")`` — options:
    rows (total), batch (ids per micro-batch)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_docs_stream"

    def schema(self) -> str:
        return "doc_id bigint, sig string, bucket int"

    def simpleStreamReader(self, schema):
        return SyntheticStreamReader(self.options)


def read_synthetic_docs_stream(
    spark: SparkSession, rows: int = 2000, batch: int = 700
) -> DataFrame:
    spark.dataSource.register(SyntheticStreamDataSource)
    return (
        spark.readStream.format("synthetic_docs_stream")
        .option("rows", rows)
        .option("batch", batch)
        .load()
    )


_STREAM_PYSRC_SQL = f"""
WITH src AS (
  SELECT i AS doc_id,
         {md5_prefix_int_sql("CAST(i AS VARCHAR)", 2)} AS bucket
  FROM range(0, 2000) t(i)
)
SELECT bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_id
FROM src
GROUP BY bucket
ORDER BY bucket
"""


@register(
    "streaming_pysource_bucket_counts",
    _STREAM_PYSRC_SQL,
    doc="Custom Python STREAMING DataSource (Spark 4 "
    "SimpleDataSourceStreamReader): offset-tracked micro-batches with "
    "exact replay via readBetweenOffsets, drained to a bounded "
    "completion (3 micro-batches) into a complete-mode memory sink. "
    "The deterministic payload gives the full value-hash oracle — the "
    "whole custom-streaming-connector path is verified, not stubbed. "
    "It drains through the shared memory-sink runner "
    "(processAllAvailable on the finite offset range; availableNow "
    "would run Python sources as a single 700-row batch).",
)
def streaming_pysource_bucket_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stream = read_synthetic_docs_stream(spark, rows=2000, batch=700)
    agg = stream.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_id"),
    )
    out = _run_to_memory(agg)
    return ordered(out, "bucket")


# ---------------------------------------------------------------------------
# Writer form: the same connector seam for custom SINKS (Spark 4
# DataSourceWriter) — export to systems Spark has no built-in writer
# for (APIs, bespoke formats, non-JVM stores).
# ---------------------------------------------------------------------------


class _PartFile(WriterCommitMessage):
    """Commit message carrying one task's temp-file path to the driver."""

    def __init__(self, tmp: str):
        self.tmp = tmp


class JsonLinesSinkWriter(DataSourceWriter):
    """Two-phase-commit JSONL sink: each task writes its partition to a
    hidden temp file and reports it in a WriterCommitMessage; only the
    driver-side commit() renames temp files to final part files and
    drops a _SUCCESS marker, and abort() removes the temps — so a
    failed or speculative task can never leave a half-visible file.
    This is the same task-commit/job-commit protocol real file sinks
    use, expressed through the Python writer API. Local-FS paths here;
    on a cluster the rename target must be shared storage (or the
    commit uploads to the destination system)."""

    def __init__(self, options, overwrite: bool):
        self.dir = options["path"]
        self.overwrite = overwrite

    def write(self, iterator):
        import json
        import os
        import uuid

        os.makedirs(self.dir, exist_ok=True)
        tmp = os.path.join(self.dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(), sort_keys=True) + "\n")
        return _PartFile(tmp)

    def commit(self, messages):
        import os
        import shutil

        if self.overwrite:
            for entry in os.listdir(self.dir):
                if entry.startswith("part-") or entry == "_SUCCESS":
                    p = os.path.join(self.dir, entry)
                    shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        for i, m in enumerate(messages):
            os.rename(m.tmp, os.path.join(self.dir, f"part-{i:05d}.json"))
        open(os.path.join(self.dir, "_SUCCESS"), "w").close()

    def abort(self, messages):
        import os

        # the contract delivers None in place of the commit message of
        # any FAILED task — skip those or the cleanup itself crashes
        # and leaves the surviving temp files behind
        for m in messages:
            if m is None:
                continue
            try:
                os.remove(m.tmp)
            except FileNotFoundError:
                pass


class JsonLinesSinkDataSource(DataSource):
    """``df.write.format("pysink_jsonl").option("path", dir)`` — the
    writer half of the custom-connector seam."""

    @classmethod
    def name(cls) -> str:
        return "pysink_jsonl"

    def writer(self, schema, overwrite: bool):
        return JsonLinesSinkWriter(self.options, overwrite)


_PYSINK_SQL = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register(
    "pysink_roundtrip_docs",
    _PYSINK_SQL,
    doc="Custom Python DataSource WRITER (Spark 4): documents written "
    "through a two-phase-commit JSONL sink (task temp files -> "
    "WriterCommitMessage -> driver-side rename + _SUCCESS; abort "
    "cleans temps) and read back with an explicit schema. The oracle "
    "aggregates the ORIGINAL table, so a sink that drops, duplicates, "
    "or corrupts one row fails the value hash — the writer path is "
    "verified end to end, completing the connector seam "
    "(batch read / stream read / write).",
)
def pysink_roundtrip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from _imdb_etl_spark.sources import load_tables, scratch_dir

    out = scratch_dir("pysink_docs")
    spark.dataSource.register(JsonLinesSinkDataSource)
    (docs,) = load_tables(spark, sf_dir, "documents")
    (
        docs.select("doc_id", "lang", "n_chars")
        .write.format("pysink_jsonl")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    back = spark.read.schema("doc_id bigint, lang string, n_chars bigint").json(
        f"{out}/part-*.json"
    )
    return ordered(
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ),
        "lang",
    )


# ---------------------------------------------------------------------------
# Pushdown form: connector-side filter pushdown + partition pruning
# (Spark 4 DataSourceReader.pushFilters).
# ---------------------------------------------------------------------------


class PrunedRangeReader(DataSourceReader):
    """Range source with CONNECTOR-side filter pushdown: pushFilters
    receives the query's predicates, the reader keeps the doc_id
    bounds it can apply exactly and returns the rest for Spark to
    re-evaluate, and partitions() then plans splits ONLY inside the
    accepted range — the partition-pruning contract a file source
    gets from min/max stats, expressed through the Python API. The
    correctness proof is structural: accepted bounds are REMOVED from
    the post-scan Filter, so a reader that ignored them would emit
    out-of-range rows and fail the value hash."""

    def __init__(self, options):
        self.rows = int(options.get("rows", 2000))
        self.step = int(options.get("step", 250))
        self.lo = 0
        self.hi = self.rows

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        rest = []
        for f in filters:
            if getattr(f, "attribute", None) != ("doc_id",):
                rest.append(f)
            elif not isinstance(getattr(f, "value", None), int) or isinstance(
                f.value, bool
            ):
                # only exact integer bounds are safe to fold into the
                # range (a float/decimal literal would crash range());
                # anything else stays with Spark for post-scan eval
                rest.append(f)
            elif isinstance(f, GreaterThanOrEqual):
                self.lo = max(self.lo, f.value)
            elif isinstance(f, GreaterThan):
                self.lo = max(self.lo, f.value + 1)
            elif isinstance(f, LessThan):
                self.hi = min(self.hi, f.value)
            elif isinstance(f, LessThanOrEqual):
                self.hi = min(self.hi, f.value + 1)
            elif isinstance(f, EqualTo):
                self.lo = max(self.lo, f.value)
                self.hi = min(self.hi, f.value + 1)
            else:
                rest.append(f)
        return rest

    def partitions(self):
        start = self.lo - self.lo % self.step
        parts = [
            _RangePartition(max(lo, self.lo), min(lo + self.step, self.hi))
            for lo in range(start, self.hi, self.step)
        ]
        return [p for p in parts if p.end > p.start] or [
            _RangePartition(0, 0)
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield _payload(i)


class PrunedRangeDataSource(DataSource):
    """``spark.read.format("pushdown_range")`` — options: rows, step."""

    @classmethod
    def name(cls) -> str:
        return "pushdown_range"

    def schema(self) -> str:
        return "doc_id bigint, sig string, bucket int"

    def reader(self, schema):
        return PrunedRangeReader(self.options)


def read_pushdown_range(
    spark: SparkSession, rows: int = 2000, step: int = 250
) -> DataFrame:
    # the python.filterPushdown feature flag is set centrally (session
    # builder + sources.catalog._tune for the driver-owned session);
    # guard here only for sessions built by neither path — set exactly
    # the flag this source needs rather than _tune(), whose unrelated
    # session-wide knobs (nanosAsLong) shouldn't leak onto arbitrary
    # caller sessions
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PrunedRangeDataSource)
    return (
        spark.read.format("pushdown_range")
        .option("rows", rows)
        .option("step", step)
        .load()
    )


_PUSHDOWN_LO, _PUSHDOWN_HI = 500, 1500

_PUSHDOWN_SQL = f"""
WITH src AS (
  SELECT i AS doc_id,
         md5(CAST(i AS VARCHAR)) AS sig,
         {md5_prefix_int_sql("CAST(i AS VARCHAR)", 2)} AS bucket
  FROM range({_PUSHDOWN_LO}, {_PUSHDOWN_HI}) t(i)
)
SELECT bucket,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc,
       MAX(sig) AS max_sig
FROM src
GROUP BY bucket
ORDER BY bucket
"""


@register(
    "pysource_pushdown_range",
    _PUSHDOWN_SQL,
    doc="Python DataSource filter pushdown (Spark 4 pushFilters): the "
    "connector accepts the query's doc_id bounds, prunes its planned "
    "partitions to the accepted range, and Spark drops the pushed "
    "predicates from the post-scan Filter — so a reader that ignored "
    "them would emit out-of-range rows and fail the value hash. "
    "Partition-count pruning and the filter-free post-scan plan are "
    "pinned in tests/test_sources.py.",
)
def pysource_pushdown_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_pushdown_range(spark, rows=2000, step=250).where(
        (F.col("doc_id") >= _PUSHDOWN_LO) & (F.col("doc_id") < _PUSHDOWN_HI)
    )
    return ordered(
        df.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.max("sig").alias("max_sig"),
        ),
        "bucket",
    )
