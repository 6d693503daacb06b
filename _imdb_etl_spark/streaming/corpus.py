"""Streaming corpus ingestion — the LLM-pipeline composition on the
streaming side: documents arriving continuously (with at-least-once
redelivery) are quality-gated and content-deduplicated online, with
watermark-bounded dedup state.

This is the streaming twin of the batch prep pipeline
(operators/pipeline.py): in production the source line is a Kafka topic
of crawled pages; here the bounded replay doubles a file source so
every document genuinely arrives twice, and the registered query must
produce exactly the batch answer over the UN-doubled corpus — one
lost or duplicate-surviving document fails the gate hash.

Dedup key discipline: the key is (lang, normalized-content md5), not
the doc id — so redelivered AND reformatted copies collapse — and the
per-language aggregate groups by a key column, which makes the
surviving row's group deterministic even though WHICH physical copy
survives first-arrival dedup is not.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import ordered
from _imdb_etl_spark.operators.text import QUALITY_GATE_SQL, quality_gate_col
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.streaming.events import _run_to_memory, read_table_stream


def read_docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents stream with a synthetic deterministic event time
    (epoch + doc_id seconds) — the arrival clock a crawl frontier
    would stamp."""
    stream = read_table_stream(spark, sf_dir, "documents")
    return stream.withColumn(
        "ts",
        F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        + F.make_dt_interval(secs=F.col("doc_id").cast("double")),
    )


_INGEST_SQL = f"""
WITH uniq AS (
  SELECT lang,
         md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS h
  FROM documents
  WHERE {QUALITY_GATE_SQL}
  GROUP BY 1, 2
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_unique_quality_docs
FROM uniq
GROUP BY lang
ORDER BY lang
"""


@register(
    "streaming_corpus_ingest",
    _INGEST_SQL,
    doc="Streaming corpus ingestion: a doubled document stream "
    "(at-least-once redelivery) is quality-gated (narrow filter, "
    "before any state), content-deduplicated online with "
    "dropDuplicatesWithinWatermark keyed on (lang, normalized md5) — "
    "watermark-bounded state, so a crawler redelivering within the "
    "window can never double-count a page — and rolled up per "
    "language. On the bounded replay the result must equal the batch "
    "distinct-count over the original corpus: one lost doc or one "
    "surviving duplicate flips the oracle hash.",
)
def streaming_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    first = read_docs_stream(spark, sf_dir)
    replay = read_docs_stream(spark, sf_dir)
    doubled = first.unionAll(replay)
    norm_h = F.md5(F.trim(F.regexp_replace(F.lower("text"), " +", " ")))
    deduped = (
        doubled.where(quality_gate_col())
        .select("lang", norm_h.alias("h"), "ts")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["lang", "h"])
    )
    agg = deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_unique_quality_docs")
    )
    out = _run_to_memory(agg)
    return ordered(out, "lang")
