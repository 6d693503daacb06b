"""XML source/sink (Spark 4 native ``xml`` format) — the enterprise
interchange format the reference's CSV-only stage world never covers:
feeds, sitemaps, and legacy exports arrive as XML long before they are
compacted to parquet.

The registered query proves the full round trip end to end: documents
-> distributed XML write (one file per partition, rowTag-framed) ->
schema'd XML read -> per-language accounting verified against DuckDB
aggregating the ORIGINAL table. Because the oracle never sees the XML,
the check covers serialization fidelity — in particular XML entity
escaping of text content (&, <, >, quotes) both directions; a single
mis-escaped byte changes sum_text_len or the value hash.

Scale: the write is one task per partition; XML files split per file
on read (row-tag framing is not byte-splittable, so production layouts
keep files bounded — same discipline as JSONL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import ordered
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables, scratch_dir

_DOC_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)

_XML_SQL = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(length(text)) AS BIGINT) AS sum_text_len,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register(
    "xml_roundtrip_source",
    _XML_SQL,
    doc="Native XML round trip (Spark 4 built-in xml format): the "
    "documents table written as rowTag-framed XML and read back with "
    "an explicit schema, aggregated per language. The oracle "
    "aggregates the ORIGINAL table, so entity escaping and type "
    "round-tripping are verified byte-exactly — a mis-escaped "
    "character flips sum_text_len or the value hash.",
)
def xml_roundtrip_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    out = scratch_dir("xml_docs")
    (
        docs.write.mode("overwrite")
        .format("xml")
        .option("rowTag", "doc")
        .save(out)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema(_DOC_SCHEMA)
        .load(out)
    )
    return ordered(
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.length("text")).alias("sum_text_len"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ),
        "lang",
    )
