"""End-to-end training-data preparation: the composition a pre-training
corpus pipeline actually runs — quality gate -> normalized exact dedup
-> per-language corpus accounting — as ONE declarative plan.

Each stage reuses the registered operator's exact semantics
(text_quality's gate, dedup_exact_normalized's canonical hash), so the
composition is oracle-checkable end-to-end. At 100 TB the plan is: one
scan with narrow quality predicates, one hash-aggregate shuffle for the
dedup group, one semi join back (both keyed on the same values), and a
tiny per-language aggregate — no driver materialization anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import doc_permille_bucket, ordered
from _imdb_etl_spark.operators.dedup import _SHINGLE_SQL, _shingles
from _imdb_etl_spark.operators.text import (
    QUALITY_GATE_SQL,
    _toks,
    quality_gate_col,
)
from _imdb_etl_spark.operators.webcorpus import _BUCKET_SQL
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables

_PREP_SQL = f"""
WITH survivors AS (
  SELECT doc_id, text, lang
  FROM documents
  WHERE {QUALITY_GATE_SQL}
),
keep AS (
  SELECT MIN(doc_id) AS doc_id
  FROM survivors
  GROUP BY md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
),
corpus AS (
  SELECT s.doc_id, s.text, s.lang
  FROM survivors s JOIN keep k ON s.doc_id = k.doc_id
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST((SUM(length(text)) * 1000000) // COUNT(*) AS BIGINT) AS avg_chars_micro
FROM corpus
GROUP BY lang
ORDER BY lang
"""


@register(
    "pipeline_docs_prep",
    _PREP_SQL,
    doc="Training-corpus prep pipeline in one plan: text_quality's "
    "length+stopword gate filters, dedup_exact_normalized's canonical "
    "md5 keeps the lowest doc_id per duplicate group (left-semi back to "
    "the survivor set), and the kept corpus rolls up to per-language "
    "doc/token/char accounting.",
)
def pipeline_docs_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    survivors = docs.where(quality_gate_col()).select(
        "doc_id", "text", "lang"
    )
    norm_hash = F.md5(F.trim(F.regexp_replace(F.lower("text"), " +", " ")))
    keep = survivors.groupBy(norm_hash.alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    corpus = survivors.join(keep.select("doc_id"), "doc_id", "left_semi")
    # avg chars in exact integer micro-units (`div`, never float division):
    # float averaging plus ROUND is representation-sensitive across
    # engines, integer arithmetic is bitwise-identical everywhere
    return ordered(
        corpus.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(_toks())).alias("total_tokens"),
            F.sum(F.length("text")).alias("_sum_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            F.expr("(_sum_chars * 1000000L) div n_docs").alias("avg_chars_micro"),
        ),
        "lang",
    )


_PACK_BUDGET = 4096

_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
r AS (
  SELECT doc_id, lang, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, lang, n_tokens, cum_tokens,
       CAST(FLOOR((cum_tokens - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT) AS shard_id
FROM r
ORDER BY lang, doc_id
"""


@register(
    "corpus_pack_shards",
    _PACK_SQL,
    doc="Sequence packing for LLM training: assign documents to "
    f"~{_PACK_BUDGET}-token training shards per language via a running "
    "token count (shard = tokens-before-this-doc div budget). One "
    "window partitioned by language — parallel across languages, the "
    "realistic unit of a packing stream; at 100 TB the partition key "
    "becomes (lang, date-bucket) to bound any one window's task.",
)
def corpus_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (docs,) = load_tables(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return r.select(
        "doc_id",
        "lang",
        "n_tokens",
        "cum_tokens",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / float(_PACK_BUDGET))
        .cast("long")
        .alias("shard_id"),
    ).orderBy("lang", "doc_id")


# --- the full pretrain-mix pipeline ----------------------------------
#
# pipeline_docs_prep composes quality -> dedup -> accounting; this is
# the rest of the corpus-prep DAG a pretraining run actually ships:
# quality gate -> normalized exact dedup -> benchmark decontamination
# -> temperature-weighted language quotas -> deterministic sampling,
# with per-stage survivor accounting, still as ONE declarative plan.
# Every stage reuses a registered operator's exact semantics
# (text_quality's gate, dedup_exact_normalized's canonical hash,
# decontaminate_vs_eval's >= 3-shared-shingle rule with the eval set
# broadcast, corpus_temperature_sample's integer sqrt-weight quotas
# and md5-permille membership), so the whole funnel is oracle-checked
# end-to-end with zero float comparisons.

_N_EVAL = 10  # doc_id < 10 are the held-out eval docs (decontam target)
_MIX_BUDGET_PERMILLE = 500


def _mix_sql() -> str:
    bucket = _BUCKET_SQL.replace("doc_id", "s.doc_id")

    return f"""
WITH corpus AS (SELECT doc_id, text, lang FROM documents WHERE doc_id >= {_N_EVAL}),
flags AS (
  SELECT doc_id, text, lang,
         ({QUALITY_GATE_SQL}) AS qual_ok
  FROM corpus
),
keep AS (
  SELECT MIN(doc_id) AS keep_id
  FROM flags WHERE qual_ok
  GROUP BY md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
),
contam AS (
  SELECT s.doc_id
  FROM (SELECT doc_id, unnest({_SHINGLE_SQL}) AS sh FROM corpus) s
  JOIN (SELECT DISTINCT unnest({_SHINGLE_SQL}) AS sh
        FROM documents WHERE doc_id < {_N_EVAL}) ev USING (sh)
  GROUP BY s.doc_id
  HAVING COUNT(*) >= 3
),
staged AS (
  SELECT f.lang, f.doc_id, f.qual_ok,
         f.qual_ok AND f.doc_id IN (SELECT keep_id FROM keep) AS dedup_keep,
         f.qual_ok AND f.doc_id IN (SELECT keep_id FROM keep)
           AND f.doc_id NOT IN (SELECT doc_id FROM contam) AS clean
  FROM flags f
),
counts AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_raw,
         CAST(COUNT(*) FILTER (qual_ok) AS BIGINT) AS n_quality,
         CAST(COUNT(*) FILTER (dedup_keep) AS BIGINT) AS n_dedup,
         CAST(COUNT(*) FILTER (clean) AS BIGINT) AS n_clean
  FROM staged
  GROUP BY lang
),
w AS (SELECT lang, n_raw, n_quality, n_dedup, n_clean,
             CAST(floor(sqrt(n_clean)) AS BIGINT) AS wt
      FROM counts),
tot AS (SELECT CAST(SUM(n_clean) AS BIGINT) AS total_clean,
               CAST(GREATEST(SUM(wt), 1) AS BIGINT) AS total_wt
        FROM w),
rates AS (
  SELECT w.*, LEAST(1000,
           (total_clean * {_MIX_BUDGET_PERMILLE} // 1000) * wt
             * 1000 // total_wt // GREATEST(n_clean, 1)) AS keep_permille
  FROM w, tot
),
sampled AS (
  SELECT s.lang,
         CAST(SUM(CASE WHEN {bucket} < r.keep_permille
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
  FROM staged s JOIN rates r USING (lang)
  WHERE s.clean
  GROUP BY s.lang
)
SELECT r.lang, r.n_raw, r.n_quality, r.n_dedup, r.n_clean,
       CAST(r.wt AS BIGINT) AS weight,
       CAST(r.keep_permille AS BIGINT) AS keep_permille,
       COALESCE(sa.n_sampled, 0) AS n_sampled
FROM rates r LEFT JOIN sampled sa USING (lang)
ORDER BY r.lang
"""


@register(
    "pipeline_pretrain_mix",
    _mix_sql(),
    doc="The full pretrain corpus-mix DAG as one declarative plan: "
    "quality gate (narrow map) -> normalized exact dedup (one "
    "hash-agg shuffle + flag join) -> eval decontamination (shingle "
    "explode, broadcast eval set, >= 3-shared rule) -> per-language "
    "stage accounting -> temperature (alpha = 0.5) sqrt-weight quotas "
    "-> deterministic md5-permille sampling. Per-language survivor "
    "counts at every stage make the funnel auditable; all arithmetic "
    "integer, so the DuckDB twin is exact. At 100 TB: the only wide "
    "ops are the dedup-group and shingle shuffles (both content-keyed "
    "and combinable map-side); quotas/rates are a broadcast of "
    "|languages| rows.",
)
def pipeline_pretrain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") >= _N_EVAL).select("doc_id", "text", "lang")
    flags = corpus.select(
        "doc_id",
        "text",
        "lang",
        quality_gate_col().alias("qual_ok"),
    )
    norm_hash = F.md5(F.trim(F.regexp_replace(F.lower("text"), " +", " ")))
    keep = (
        flags.where("qual_ok")
        .groupBy(norm_hash.alias("h"))
        .agg(F.min("doc_id").alias("keep_id"))
        .select(F.col("keep_id").alias("doc_id"), F.lit(1).alias("is_keep"))
    )
    ev_sh = (
        _shingles(docs.where(F.col("doc_id") < _N_EVAL)).select("sh").distinct()
    )
    contam = (
        _shingles(corpus)
        .join(F.broadcast(ev_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 3)
        .select("doc_id", F.lit(1).alias("is_contam"))
    )
    staged = (
        flags.join(keep, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            "lang",
            "doc_id",
            "qual_ok",
            (F.col("qual_ok") & F.col("is_keep").isNotNull()).alias("dedup_keep"),
            (
                F.col("qual_ok")
                & F.col("is_keep").isNotNull()
                & F.col("is_contam").isNull()
            ).alias("clean"),
        )
    )
    cnt = lambda c: F.sum(F.col(c).cast("long"))  # noqa: E731
    counts = staged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_raw"),
        cnt("qual_ok").alias("n_quality"),
        cnt("dedup_keep").alias("n_dedup"),
        cnt("clean").alias("n_clean"),
    )
    w = counts.withColumn("wt", F.floor(F.sqrt(F.col("n_clean"))).cast("long"))
    tot = w.agg(
        F.sum("n_clean").alias("total_clean"),
        F.greatest(F.sum("wt"), F.lit(1).cast("long")).alias("total_wt"),
    )
    rates = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_raw",
        "n_quality",
        "n_dedup",
        "n_clean",
        "wt",
        F.least(
            F.lit(1000).cast("long"),
            F.expr(
                f"(total_clean * {_MIX_BUDGET_PERMILLE} div 1000)"
                " * wt * 1000 div total_wt div greatest(n_clean, 1L)"
            ),
        ).alias("keep_permille"),
    )
    bucket = doc_permille_bucket("doc_id")
    sampled = (
        staged.where("clean")
        .select("lang", bucket.alias("bucket"))
        .join(F.broadcast(rates.select("lang", "keep_permille")), "lang")
        .groupBy("lang")
        .agg(
            F.sum((F.col("bucket") < F.col("keep_permille")).cast("long")).alias(
                "n_sampled"
            )
        )
    )
    return ordered(
        rates.join(sampled, "lang", "left")
        .select(
            "lang",
            "n_raw",
            "n_quality",
            "n_dedup",
            "n_clean",
            F.col("wt").alias("weight"),
            "keep_permille",
            F.coalesce("n_sampled", F.lit(0).cast("long")).alias("n_sampled"),
        ),
        "lang",
    )
