"""ORC source/sink — the second columnar interchange format (Hive/Trino
ecosystems ship ORC where the lakehouse world ships parquet); a
complete engine reads and writes both.

The registered query proves the full round trip end to end: documents
-> distributed ORC write (one file per partition, dictionary + RLE
encodings exercised by the low-cardinality lang/source columns) ->
schema'd ORC read -> per-language accounting that includes an
order-insensitive CONTENT SIGNATURE (bit_xor of doc_id-mixed md5
prefixes), so a row dropped, duplicated, or corrupted in flight flips
the hash — not just the counts. DuckDB cannot read ORC, so the oracle
computes the same aggregate from the ORIGINAL parquet table: equality
proves write+read fidelity (the pysink_roundtrip_docs proof shape).

At scale both sides are embarrassingly parallel: the write is one task
per partition, ORC stripes split for scan parallelism, and predicate
pushdown into the ORC reader is plan-asserted in tests/test_sinks.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _imdb_etl_spark.plans.registry import register
from _imdb_etl_spark.sources import load_tables, scratch_dir

_DOC_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def _md5_prefix_int_sql(expr: str, n: int = 8) -> str:
    """Integer value of the first ``n`` md5 hex chars (shared helper)."""
    from _imdb_etl_spark.functions import md5_prefix_int_sql

    return md5_prefix_int_sql(expr, n)


_ORC_SQL = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc,
       bit_xor(CAST((doc_id % 2097152) * 4294967296 +
                    {_md5_prefix_int_sql("text")} AS BIGINT)) AS content_sig
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register(
    "orc_roundtrip_source",
    _ORC_SQL,
    doc="ORC interchange round trip: write the documents table as ORC "
    "(distributed, dictionary/RLE encodings exercised), read it back "
    "with an explicit schema, and aggregate per language including an "
    "order-insensitive content signature (bit_xor of doc_id-mixed md5 "
    "prefixes). DuckDB reads no ORC, so the oracle aggregates the "
    "ORIGINAL table — equality proves serialization fidelity row for "
    "row, byte for byte.",
)
def orc_roundtrip_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    out = scratch_dir("orc_docs")
    docs.write.mode("overwrite").orc(out)
    back = spark.read.schema(_DOC_SCHEMA).orc(out)
    # doc_id folded modulo 2^21 so id*2^32 + 32-bit md5 prefix stays
    # inside int64 at any corpus size (no overflow-wrap divergence)
    sig = F.bit_xor(
        (
            (F.col("doc_id") % F.lit(2097152)) * F.lit(4294967296)
            + F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
        ).cast("long")
    ).alias("content_sig")
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            sig,
        )
        .orderBy("lang")
    )
