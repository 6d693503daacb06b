"""JSONL (newline-delimited JSON) source — the lingua franca of LLM
corpus interchange: crawls, filtered dumps, and annotation exports all
ship as JSONL before they are compacted to parquet.

The registered query proves the full round trip end to end: documents
-> distributed JSONL write -> schema'd JSONL read (FAILFAST: a single
malformed line fails the job rather than silently nulling fields) ->
per-language accounting, verified against DuckDB reading the very same
files Spark wrote. At scale both sides are embarrassingly parallel:
the write is one task per partition, the read splits on file
boundaries (gzip-less JSONL is splittable per file, and a production
layout keeps files at 64-256 MB for scan parallelism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _imdb_etl_spark.plans.registry import register
from _imdb_etl_spark.sources import load_tables, scratch_dir

_DOC_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)

# The oracle reads this process's output directory, substituted at
# registration time: an oracle run without a prior Spark build in the
# same process fails loudly (missing dir) instead of reading another
# run's stale files. The build-before-oracle ordering within a process
# is the driver's documented contract.
_JSONL_SQL = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(length(text)) AS BIGINT) AS sum_text_len,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM read_json('{scratch_dir("jsonl_docs")}/*.json', format='newline_delimited',
               columns={{'doc_id': 'BIGINT', 'text': 'VARCHAR',
                         'lang': 'VARCHAR', 'source': 'VARCHAR',
                         'n_chars': 'BIGINT'}})
GROUP BY lang
ORDER BY lang
"""


@register(
    "jsonl_roundtrip_source",
    _JSONL_SQL,
    doc="JSONL interchange round trip: write the documents table as "
    "newline-delimited JSON (distributed, one file per partition), "
    "read it back with an explicit schema in FAILFAST mode, and "
    "aggregate per language. The oracle reads the exact files Spark "
    "wrote, so the check covers serialization fidelity (ids, text "
    "bytes, counts) — not just the aggregate math.",
)
def jsonl_roundtrip_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    out = scratch_dir("jsonl_docs")
    docs.write.mode("overwrite").json(out)
    back = (
        spark.read.schema(_DOC_SCHEMA)
        .option("mode", "FAILFAST")
        .json(out)
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.length("text")).alias("sum_text_len"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )
