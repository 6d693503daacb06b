"""Web-corpus curation operators: domain-mix control, length
distribution profiling, and incremental-batch deduplication.

These are the source-level controls a web-scale pre-training pipeline
applies before tokenization: cap any one domain's share of the corpus
(a handful of boilerplate-heavy domains otherwise dominate a crawl),
profile the sequence-length distribution that drives packing/batching
decisions, and dedup a NEW crawl increment against the existing corpus
without re-deduping the corpus itself.

Absent from the reference (no string-typed corpus there); part of the
LLM-data-pipeline surface alongside operators/corpus.py.

Scale posture (100 TB):
- ``corpus_domain_cap`` windows on the domain key — parallel across
  domains, the natural unit; the kept-stats branch filters on the rank
  column itself so WindowGroupLimit actually fires and a skew-heavy
  domain bounds its task at cap-rank depth, not domain size (the
  unfiltered total comes from a separate plain count branch).
- ``corpus_length_histogram`` reduces each doc to one integer bucket
  map-side; the aggregate is buckets x languages — tiny by
  construction.
- ``dedup_incremental_batch`` is the production ingest shape: hash the
  increment, LEFT ANTI join against the corpus hash set on the same
  key — one keyed shuffle proportional to the increment plus the
  corpus hash column, never documents x documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import doc_permille_bucket
from _imdb_etl_spark.plans.registry import register
from _imdb_etl_spark.sources import load_tables, scratch_dir, spread, stage_to_parquet

_DOMAIN_CAP = 10

_DOMAIN_CAP_SQL = f"""
WITH ranked AS (
  SELECT source, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rnk
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rnk <= {_DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rnk <= {_DOMAIN_CAP} THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM ranked
GROUP BY source
ORDER BY source
"""


@register(
    "corpus_domain_cap",
    _DOMAIN_CAP_SQL,
    doc=f"Domain-mix rate limiting: keep at most {_DOMAIN_CAP} documents "
    "per source domain, deterministic by doc_id order (stable across "
    "re-runs, unlike sampling). Two branches over one scan: a plain "
    "count per domain, and a rank-filtered window branch whose "
    "row_number stops at cap depth via WindowGroupLimit (the limit "
    "optimization only fires under an explicit rank predicate — "
    "consuming rnk inside conditional aggregation would scan every "
    "row of a crawl-dominating domain). Both branches shuffle on the "
    "domain key, so work parallelizes across domains.",
)
def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    base = docs.select("source", "n_chars", "doc_id")
    totals = base.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("source").orderBy("doc_id")
    kept = (
        base.withColumn("rnk", F.row_number().over(w))
        # rank predicate directly over the window -> WindowGroupLimit:
        # each domain's task keeps only its first _DOMAIN_CAP rows
        .where(F.col("rnk") <= _DOMAIN_CAP)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )
    # inner join is total: every domain has >= 1 row, so rnk = 1 exists
    return (
        totals.join(kept, "source")
        .select("source", "n_docs", "n_kept", "kept_chars")
        .orderBy("source")
    )


_BUCKET_W = 64

_LENGTH_HIST_SQL = f"""
SELECT lang,
       CAST(n_chars // {_BUCKET_W} AS BIGINT) AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents
GROUP BY lang, bucket
ORDER BY lang, bucket
"""


@register(
    "corpus_length_histogram",
    _LENGTH_HIST_SQL,
    doc=f"Sequence-length distribution in fixed {_BUCKET_W}-char buckets "
    "per language — the profile that sizes packing budgets and batch "
    "shapes. Integer bucketing (div, no float log) is bitwise-stable "
    "cross-engine; each document reduces to one bucket id map-side and "
    "the aggregate is |langs| x |buckets| rows.",
)
def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    return (
        docs.select("lang", "n_chars")
        .withColumn("bucket", F.expr(f"n_chars div {_BUCKET_W}"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "bucket")
    )


# The "increment": a deterministic 20% slice standing in for a new crawl
# batch; the remaining 80% is the existing corpus. Membership from the
# key, not arrival order, so every engine and every re-run agrees.
_IS_BATCH = "doc_id % 5 = 4"

_INCR_SQL = f"""
WITH corpus AS (
  SELECT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS h
  FROM documents WHERE NOT ({_IS_BATCH})
),
batch AS (
  SELECT doc_id, lang,
         md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS h
  FROM documents WHERE {_IS_BATCH}
)
SELECT b.lang,
       COUNT(*) AS n_incoming,
       CAST(SUM(CASE WHEN c.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
FROM batch b
LEFT JOIN (SELECT DISTINCT h FROM corpus) c ON b.h = c.h
GROUP BY b.lang
ORDER BY b.lang
"""


@register(
    "dedup_incremental_batch",
    _INCR_SQL,
    doc="Incremental ingest dedup: a new crawl increment (deterministic "
    "20% slice) is normalized-hashed and anti-joined against the "
    "existing corpus's hash set — the production shape where each "
    "day's batch dedups against the accumulated corpus without "
    "rescanning document bodies (the corpus side is its hash column "
    "only). One keyed shuffle on the hash.",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    h = F.md5(F.trim(F.regexp_replace(F.lower("text"), " +", " "))).alias("h")
    is_batch = F.expr(_IS_BATCH)
    corpus_h = docs.where(~is_batch).select(h).distinct()
    batch = docs.where(is_batch).select("doc_id", "lang", h)
    novel = batch.join(corpus_h, "h", "left_anti")
    return (
        batch.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_incoming"))
        .join(
            novel.groupBy("lang").agg(F.count(F.lit(1)).alias("n_novel")),
            "lang",
            "left",
        )
        .select(
            "lang",
            "n_incoming",
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
        )
        .orderBy("lang")
    )


_SEG_LEN = 16

_LINE_DEDUP_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
segs AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, i * {_SEG_LEN} + 1,
                                        least((i + 1) * {_SEG_LEN}, n)), ' ')) AS h,
         least((i + 1) * {_SEG_LEN}, n) - i * {_SEG_LEN} AS n_toks
  FROM t, unnest(range(0, (greatest(n - 1, 0) // {_SEG_LEN}) + 1)) AS u(i)
),
freq AS (SELECT h, COUNT(*) AS c FROM segs GROUP BY h)
SELECT s.doc_id,
       COUNT(*) AS n_segs,
       CAST(SUM(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
       CAST(SUM(CASE WHEN f.c > 1 THEN 0 ELSE s.n_toks END) AS BIGINT) AS kept_tokens
FROM segs s JOIN freq f ON s.h = f.h
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


@register(
    "dedup_corpus_lines",
    _LINE_DEDUP_SQL,
    doc=f"C4-style line-level dedup accounting: documents split into "
    f"non-overlapping {_SEG_LEN}-token segments, each md5-hashed; a "
    "segment is boilerplate if its exact text occurs anywhere else in "
    "the corpus. Reports per-document segment counts, duplicated "
    "segments, and tokens surviving removal — the pre-tokenization "
    "cleanup every web corpus runs. Scale shape: segment hashing is "
    "map-side fan-out, the frequency table is one hash-agg shuffle "
    "(high-df segments are by definition few), and the join back keys "
    "on the same hash.",
)
def dedup_corpus_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    t = spread(docs).select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).alias("n"),
    )
    starts = F.sequence(
        F.lit(0), F.floor((F.greatest(F.col("n") - 1, F.lit(0))) / _SEG_LEN)
    )
    segs = t.select(
        "doc_id", "toks", "n", F.explode(starts).alias("i")
    ).select(
        "doc_id",
        F.md5(
            F.array_join(
                F.slice(F.col("toks"), F.col("i") * _SEG_LEN + 1, _SEG_LEN), " "
            )
        ).alias("h"),
        (
            F.least((F.col("i") + 1) * _SEG_LEN, F.col("n"))
            - F.col("i") * _SEG_LEN
        ).alias("n_toks"),
    )
    freq = segs.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    dup = F.col("c") > 1
    return (
        segs.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(dup.cast("long")).alias("n_dup_segs"),
            F.sum(F.when(dup, 0).otherwise(F.col("n_toks"))).alias("kept_tokens"),
        )
        .orderBy("doc_id")
    )


# hash-bucket expression shared by both engines: the first 4 md5 hex
# chars of the doc id as an integer, reduced mod 1000. 65536 % 1000 !=
# 0, so buckets 0-535 are marginally likelier (1/65536 each) — an
# acceptable, documented bias for mix control; both engines compute
# the identical membership so the oracle is exact.
_BUCKET_SQL = (
    "(("
    + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), {k + 1}, 1)) - 1) * {16 ** (3 - k)}"
        for k in range(4)
    )
    + ") % 1000)"
)

_BALANCED_SQL = f"""
WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
t AS (SELECT MIN(n_docs) AS target FROM counts),
rates AS (
  SELECT lang, n_docs,
         LEAST(1000, target * 1000 // n_docs) AS keep_permille
  FROM counts, t
),
h AS (SELECT lang, n_chars, {_BUCKET_SQL} AS bucket FROM documents)
SELECT r.lang,
       r.n_docs,
       CAST(r.keep_permille AS BIGINT) AS keep_permille,
       CAST(SUM(CASE WHEN h.bucket < r.keep_permille THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN h.bucket < r.keep_permille THEN h.n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM h JOIN rates r ON h.lang = r.lang
GROUP BY r.lang, r.n_docs, r.keep_permille
ORDER BY r.lang
"""


@register(
    "corpus_balanced_sample",
    _BALANCED_SQL,
    doc="Language-mix rebalancing: every language downsampled to the "
    "smallest language's document count via deterministic hash "
    "thresholding — membership comes from md5(doc_id) mod 1000 against "
    "a per-language permille rate, so the sample is content-stable "
    "across re-runs and engines (no RNG), the standard way a "
    "pretraining pipeline pins its mix. Scale shape: the per-language "
    "counts are one tiny shuffle, the rate table is |langs| rows and "
    "broadcasts, membership is map-side arithmetic over the corpus, "
    "and the final aggregate shuffles on the language key once.",
)
def corpus_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    target = counts.agg(F.min("n_docs").alias("target"))
    rates = counts.crossJoin(F.broadcast(target)).select(
        "lang",
        "n_docs",
        F.least(
            F.lit(1000).cast("long"), F.expr("target * 1000 div n_docs")
        ).alias("keep_permille"),
    )
    bucket = doc_permille_bucket("doc_id")
    probe = docs.select("lang", "n_chars", bucket.alias("bucket"))
    kept = F.col("bucket") < F.col("keep_permille")
    return (
        probe.join(F.broadcast(rates), "lang")
        .groupBy("lang", "n_docs", "keep_permille")
        .agg(
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias(
                "kept_chars"
            ),
        )
        .orderBy("lang")
    )


_VOCAB_K = 100

_OOV_SQL = f"""
WITH freqs AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
vocab AS (
  SELECT word FROM (
    SELECT word, COUNT(*) AS freq FROM freqs GROUP BY word
  ) ORDER BY freq DESC, word LIMIT {_VOCAB_K}
),
toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT t.lang,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST((SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) * 1000)
            // COUNT(*) AS BIGINT) AS oov_permille
FROM toks t LEFT JOIN vocab v ON t.word = v.word
GROUP BY t.lang
ORDER BY t.lang
"""


@register(
    "vocab_oov_rate",
    _OOV_SQL,
    doc=f"Tokenizer-health metric: out-of-vocabulary token rate per "
    f"language against the corpus's own top-{_VOCAB_K} vocabulary "
    "(same deterministic ranking as vocab_top_words). The vocabulary "
    "is bounded by construction, so the membership probe is a "
    "broadcast join against the token stream — corpus-linear, one "
    "aggregation shuffle on the language key. Rate in exact integer "
    "permille (div), no float rounding to drift cross-engine.",
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    # ONE scan+explode of the corpus (round 12): the old shape built
    # the vocabulary from one pass over the exploded token stream and
    # probed membership with a second full pass — two scans of the
    # text column. Both the top-K ranking and the per-language OOV
    # sums are exact functions of the (word, lang) count table, so
    # aggregate that once (heavy map-side partial aggregation: vocab x
    # languages keys per task) and derive vocabulary and OOV rates
    # from the aggregate. Pure integer arithmetic — identical output
    # by construction.
    wl = (
        spread(docs)
        .select("lang", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = (
        wl.groupBy("word")
        .agg(F.sum("c").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(_VOCAB_K)
        .select("word")
    )
    flagged = wl.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "word", "left"
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), F.col("c")).otherwise(
                    F.lit(0)
                )
            ).alias("n_oov"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_oov",
            F.expr("(n_oov * 1000) div n_tokens").alias("oov_permille"),
        )
        .orderBy("lang")
    )


# Temperature (alpha = 0.5) language sampling — the multilingual-mix
# shape that upweights low-resource languages relative to proportional
# sampling without flattening to uniform: weights w_l = floor(sqrt(n_l))
# (exact for BIGINT counts: IEEE sqrt of integers < 2^52 is correctly
# rounded, and perfect squares are exact, so floor agrees bitwise in
# both engines), quotas split a global budget by weight with integer
# division, and membership reuses the md5-permille bucket. Zero float
# comparisons anywhere, so the oracle is exact.
_TEMP_BUDGET_PERMILLE = 500  # sample half the corpus, redistributed


_TEMP_SQL = f"""
WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
w AS (
  SELECT lang, n_docs, CAST(floor(sqrt(n_docs)) AS BIGINT) AS wt FROM counts
),
tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
         CAST(SUM(wt) AS BIGINT) AS total_wt
  FROM w
),
rates AS (
  SELECT lang, n_docs, wt,
         LEAST(1000,
               (total_docs * {_TEMP_BUDGET_PERMILLE} // 1000) * wt
                 * 1000 // total_wt // n_docs) AS keep_permille
  FROM w, tot
),
h AS (SELECT lang, n_chars, {_BUCKET_SQL} AS bucket FROM documents)
SELECT r.lang,
       r.n_docs,
       CAST(r.wt AS BIGINT) AS weight,
       CAST(r.keep_permille AS BIGINT) AS keep_permille,
       CAST(SUM(CASE WHEN h.bucket < r.keep_permille THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM h JOIN rates r ON h.lang = r.lang
GROUP BY r.lang, r.n_docs, r.wt, r.keep_permille
ORDER BY r.lang
"""


@register(
    "corpus_temperature_sample",
    _TEMP_SQL,
    doc="Temperature-based language sampling (alpha = 0.5): a global "
    "budget is split across languages by sqrt(count) weights, so "
    "low-resource languages keep a larger share than proportional "
    "sampling gives them — the standard multilingual pretraining mix "
    "control. All arithmetic is integer (floor(sqrt) of BIGINT counts "
    "is bitwise-identical cross-engine; quotas and permilles use "
    "integer division; membership is the md5-permille bucket), so "
    "the sample is content-stable and the oracle exact. Same scale "
    "shape as corpus_balanced_sample: tiny count shuffle, broadcast "
    "rate table, map-side membership.",
)
def corpus_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w = counts.withColumn(
        "wt", F.floor(F.sqrt(F.col("n_docs"))).cast("long")
    )
    tot = w.agg(
        F.sum("n_docs").alias("total_docs"), F.sum("wt").alias("total_wt")
    )
    rates = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "wt",
        F.least(
            F.lit(1000).cast("long"),
            F.expr(
                f"(total_docs * {_TEMP_BUDGET_PERMILLE} div 1000)"
                " * wt * 1000 div total_wt div n_docs"
            ),
        ).alias("keep_permille"),
    )
    bucket = doc_permille_bucket("doc_id")
    probe = docs.select("lang", bucket.alias("bucket"))
    kept = F.col("bucket") < F.col("keep_permille")
    return (
        probe.join(F.broadcast(rates), "lang")
        .groupBy("lang", "n_docs", F.col("wt").alias("weight"), "keep_permille")
        .agg(F.sum(kept.cast("long")).alias("n_kept"))
        .orderBy("lang")
    )


# --- token-budget / epoch planning -----------------------------------

_PLAN_BUDGET = 200_000  # total training-token budget


def _plan_ctes(scale: int, alias: str) -> str:
    """The temperature-weight allocation CTEs (counts -> sqrt weights
    -> budget split), shared by the planner and the upsampling
    materializer so the two can never diverge: ``plan`` exposes
    (lang, n_tokens, wt, alloc_tokens, {alias}) with {alias} =
    alloc_tokens * scale // n_tokens (epochs in 1/scale units)."""
    return f"""counts AS (
  SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
w AS (SELECT lang, n_tokens,
             CAST(floor(sqrt(n_tokens)) AS BIGINT) AS wt
      FROM counts),
tot AS (SELECT CAST(GREATEST(SUM(wt), 1) AS BIGINT) AS total_wt FROM w),
plan AS (
  SELECT lang, n_tokens, wt,
         {_PLAN_BUDGET} * wt // total_wt AS alloc_tokens,
         ({_PLAN_BUDGET} * wt // total_wt) * {scale} // n_tokens AS {alias}
  FROM w, tot
)"""


def _epoch_plan_df(docs: DataFrame, scale: int) -> DataFrame:
    """Spark twin of _plan_ctes: (lang, n_tokens, wt, alloc_tokens, ep)
    with ep in 1/scale epoch units."""
    counts = (
        spread(docs)
        .groupBy("lang")
        .agg(F.sum(F.size(F.split("text", " "))).alias("n_tokens"))
    )
    w = counts.withColumn(
        "wt", F.floor(F.sqrt(F.col("n_tokens"))).cast("long")
    )
    tot = w.agg(
        F.greatest(F.sum("wt"), F.lit(1).cast("long")).alias("total_wt")
    )
    return w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        "wt",
        F.expr(f"{_PLAN_BUDGET} * wt div total_wt").alias("alloc_tokens"),
        F.expr(
            f"({_PLAN_BUDGET} * wt div total_wt) * {scale} div n_tokens"
        ).alias("ep"),
    )


_BUDGET_SQL = f"""
WITH {_plan_ctes(1_000_000, "epochs_micro")}
SELECT lang, n_tokens,
       CAST(wt AS BIGINT) AS weight,
       CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
       CAST(epochs_micro AS BIGINT) AS epochs_micro
FROM plan
ORDER BY lang
"""


@register(
    "corpus_token_budget_plan",
    _BUDGET_SQL,
    doc=f"Token-budget epoch planner: splits a {_PLAN_BUDGET}-token "
    "training budget across languages by temperature (sqrt) weights "
    "and reports each language's allocation and repeat factor "
    "(epochs, exact integer micro-units) — the data-constrained "
    "mixing plan of Muennighoff et al., 'Scaling Data-Constrained "
    "Language Models' (2023), where low-resource sources run multiple "
    "epochs while web-scale sources run < 1. One language-keyed "
    "aggregation; the weight table is |languages| rows — driver-free "
    "and broadcastable at any corpus size.",
)
def corpus_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    return (
        _epoch_plan_df(docs, 1_000_000)
        .select(
            "lang",
            "n_tokens",
            F.col("wt").alias("weight"),
            "alloc_tokens",
            F.col("ep").alias("epochs_micro"),
        )
        .orderBy("lang")
    )


# --- content-defined chunk dedup -------------------------------------
#
# dedup_corpus_lines uses FIXED 16-token segments: insert one word at
# the front of a document and every segment boundary shifts, so a
# near-identical copy shares zero segment hashes. Content-defined
# chunking (the rsync/LBFS/FastCDC idea, at word granularity) draws
# boundaries from the CONTENT — after any word whose md5 starts with
# '0' or '8' (P=1/8, mean chunk ~8 words) — so an insertion only
# perturbs the chunk it lands in and duplicate detection re-synchronizes
# immediately after. Scale shape: boundary marking is map-side, chunk
# assembly is a per-document window + per-chunk agg (one doc-keyed
# shuffle), the chunk-hash frequency table is one hash-agg shuffle,
# and the join back keys on the same hash — linear end to end.

_CDC_SQL = """
WITH toks AS (
  SELECT doc_id, lang, w, pos FROM (
    SELECT doc_id, lang,
           unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
  )
),
marked AS (
  SELECT doc_id, lang, w, pos,
         CASE WHEN substr(md5(w), 1, 1) IN ('0', '8') THEN 1 ELSE 0 END AS b
  FROM toks
),
assigned AS (
  SELECT doc_id, lang, w, pos,
         COALESCE(SUM(b) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
  FROM marked
),
chunks AS (
  SELECT doc_id, lang, chunk_id,
         md5(string_agg(w, ' ' ORDER BY pos)) AS h,
         COUNT(*) AS n_toks
  FROM assigned GROUP BY doc_id, lang, chunk_id
),
freq AS (SELECT h, COUNT(*) AS c FROM chunks GROUP BY h)
SELECT c.lang,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST(SUM(CASE WHEN f.c > 1 THEN c.n_toks ELSE 0 END) AS BIGINT)
         AS dup_tokens,
       CAST((1000 * SUM(CASE WHEN f.c > 1 THEN 1 ELSE 0 END)) // COUNT(*)
            AS BIGINT) AS dup_permille
FROM chunks c JOIN freq f USING (h)
GROUP BY c.lang
ORDER BY c.lang
"""


def cdc_chunk_table(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, chunk_id, h, n_toks) content-defined chunks of
    ``docs`` (columns doc_id, lang, text) — split out so tests can
    chunk synthetic documents and assert boundary re-synchronization."""
    toks = docs.select(
        "doc_id",
        "lang",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    )
    b = (
        F.when(F.substring(F.md5("w"), 1, 1).isin("0", "8"), 1)
        .otherwise(0)
        .alias("b")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = toks.select(
        "doc_id",
        "lang",
        "w",
        "pos",
        F.coalesce(F.sum(b).over(w_prev), F.lit(0)).alias("chunk_id"),
    )
    return assigned.groupBy("doc_id", "lang", "chunk_id").agg(
        F.md5(
            F.expr("listagg(w, ' ') WITHIN GROUP (ORDER BY pos)")
        ).alias("h"),
        F.count(F.lit(1)).alias("n_toks"),
    )


@register(
    "dedup_cdc_chunks",
    _CDC_SQL,
    doc="Content-defined chunking dedup (rsync/FastCDC at word "
    "granularity): chunk boundaries fall after words whose md5 starts "
    "with '0'/'8' (P=1/8, mean ~8-word chunks), so insertions shift "
    "boundaries only locally and duplicate chunks re-synchronize — "
    "the robustness fixed-segment dedup (dedup_corpus_lines) lacks. "
    "Per-language duplicated-chunk accounting; boundary marking is "
    "map-side, assembly one doc-keyed window shuffle, frequency one "
    "hash-agg shuffle.",
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    chunks = cdc_chunk_table(spread(docs))
    freq = chunks.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    dup = F.col("c") > 1
    return (
        chunks.join(freq, "h")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(dup, 1).otherwise(0)).alias("n_dup_chunks"),
            F.sum(F.when(dup, F.col("n_toks")).otherwise(0)).alias(
                "dup_tokens"
            ),
        )
        .select(
            "lang",
            "n_chunks",
            "n_dup_chunks",
            "dup_tokens",
            F.expr("1000 * n_dup_chunks div n_chunks").alias("dup_permille"),
        )
        .orderBy("lang")
    )


# --- epoch-plan materialization (deterministic upsampling) -----------
#
# corpus_token_budget_plan PLANS repeat factors; this operator
# MATERIALIZES them — the explode-based cardinality-changing pattern a
# training-data writer actually runs. Each document gets
#   n_copies = ep // 1000  +  (bucket(doc_id) < ep % 1000 ? 1 : 0)
# where ep is the language's planned epochs in permille and bucket is
# the shared md5 permille hash — so fractional epochs are realized by
# a deterministic, content-stable subset rather than a random sample,
# and the realized copy count per language converges to the plan.
#
# Scale posture (100 TB): the plan table is |languages| rows
# (broadcast); the explode is map-side (no shuffle — each task
# replicates its own rows); only the per-language accounting
# aggregates. sequence() is guarded by a n_copies >= 1 filter because
# Spark's sequence(1, 0) steps DOWNWARD ([1, 0]) instead of returning
# an empty array.

_UPSAMPLE_SQL = f"""
WITH {_plan_ctes(1000, "ep")},
d AS (
  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_toks,
         {_BUCKET_SQL} AS bucket
  FROM documents
),
c AS (
  SELECT d.lang, d.doc_id, d.n_toks,
         p.ep,
         (p.ep // 1000
          + CASE WHEN d.bucket < p.ep % 1000 THEN 1 ELSE 0 END) AS n_copies
  FROM d JOIN plan p USING (lang)
),
x AS (
  SELECT lang, n_toks
  FROM c, unnest(range(1, n_copies + 1))
  WHERE n_copies >= 1
),
src AS (
  SELECT lang, MAX(ep) AS ep, COUNT(*) AS n_docs FROM c GROUP BY lang
),
outp AS (
  SELECT lang, COUNT(*) AS n_copies_out,
         CAST(SUM(n_toks) AS BIGINT) AS out_tokens
  FROM x GROUP BY lang
)
SELECT s.lang,
       CAST(s.n_docs AS BIGINT) AS n_docs,
       CAST(s.ep AS BIGINT) AS planned_epochs_permille,
       CAST(COALESCE(o.n_copies_out, 0) AS BIGINT) AS n_copies_out,
       CAST(1000 * COALESCE(o.n_copies_out, 0) // s.n_docs AS BIGINT)
         AS realized_epochs_permille,
       CAST(COALESCE(o.out_tokens, 0) AS BIGINT) AS out_tokens
FROM src s LEFT JOIN outp o USING (lang)
ORDER BY s.lang
"""


@register(
    "corpus_upsample_epochs",
    _UPSAMPLE_SQL,
    doc="Materialize the token-budget epoch plan: each document is "
    "physically replicated floor(epochs) times plus one fractional "
    "copy for the content-stable md5-permille subset, via a map-side "
    "explode (no shuffle — tasks replicate their own rows; the plan "
    "table broadcasts at |languages| rows). Reports planned vs "
    "realized epochs per language in exact integer permille. The "
    "writer-side companion of corpus_token_budget_plan's pure plan.",
)
def corpus_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from _imdb_etl_spark.functions import hex_prefix_int

    (docs,) = load_tables(spark, sf_dir, "documents")
    plan = _epoch_plan_df(docs, 1000).select("lang", "ep")
    bucket = hex_prefix_int(F.md5(F.col("doc_id").cast("string"))) % 1000
    c = (
        docs.select(
            "lang",
            "doc_id",
            F.size(F.split("text", " ")).alias("n_toks"),
            bucket.alias("bucket"),
        )
        .join(F.broadcast(plan), "lang")
        .select(
            "lang",
            "doc_id",
            "n_toks",
            "ep",
            (
                F.expr("ep div 1000")
                + F.when(F.col("bucket") < F.col("ep") % 1000, 1).otherwise(0)
            ).alias("n_copies"),
        )
    )
    # guard BEFORE sequence: Spark's sequence(1, 0) steps downward
    x = (
        c.where(F.col("n_copies") >= 1)
        .select(
            "lang",
            "n_toks",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy"),
        )
    )
    src = c.groupBy("lang").agg(
        F.max("ep").alias("ep"), F.count(F.lit(1)).alias("n_docs")
    )
    outp = x.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_copies_out"),
        F.sum("n_toks").alias("out_tokens"),
    )
    return (
        src.join(outp, "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.col("ep").alias("planned_epochs_permille"),
            F.coalesce("n_copies_out", F.lit(0).cast("long")).alias(
                "n_copies_out"
            ),
            F.expr(
                "1000 * coalesce(n_copies_out, 0L) div n_docs"
            ).alias("realized_epochs_permille"),
            F.coalesce("out_tokens", F.lit(0).cast("long")).alias(
                "out_tokens"
            ),
        )
        .orderBy("lang")
    )


# --- reproducible epoch shuffle --------------------------------------
#
# Training-order determinism: an epoch's document order must be a
# reproducible pseudorandom permutation (re-runs and backfills produce
# byte-identical shards, and no global sort may appear in the plan).
# order key = md5(seed || ':' || doc_id); shard = first-4-hex int mod
# N_SHARDS (a hash split, map-side, no exchange-by-range); position =
# ROW_NUMBER within the shard (per-shard windows — the only shuffle is
# the shard hash partition). The manifest emits an order-sensitive
# exact-integer checksum sum(position * hex4(doc_id) mod p) mod p:
# any dropped, duplicated, or transposed document changes it (mod a
# prime, collision odds ~1e-9 per perturbation), so the driver hash
# proves the whole permutation plumbing without materializing order —
# no collect_list, and the mod-p terms keep the int64 accumulator
# exact to ~9e9 docs per shard in both engines.

_SHUFFLE_SEED = "epoch0"
_N_SHARDS = 16
# checksum modulus: per-term products stay < 1e9+7, so a shard of up
# to ~9e9 docs sums without overflowing int64 in either engine
_CKSUM_MOD = 1_000_000_007


def _hex4_sql(expr: str) -> str:
    from _imdb_etl_spark.functions import md5_prefix_int_sql

    return md5_prefix_int_sql(expr, 4)


_EPOCH_SHUFFLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_toks,
         md5('{_SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS okey,
         ({_hex4_sql("'" + _SHUFFLE_SEED + ":' || CAST(doc_id AS VARCHAR)")}
          % {_N_SHARDS}) AS shard,
         {_hex4_sql("CAST(doc_id AS VARCHAR)")} AS idh
  FROM documents
),
pos AS (
  SELECT shard, n_toks, idh,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY okey) AS position
  FROM keyed
)
SELECT CAST(shard AS BIGINT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       CAST(MAX(position) AS BIGINT) AS max_position,
       CAST(SUM((position * idh) % {_CKSUM_MOD}) % {_CKSUM_MOD}
            AS BIGINT) AS order_checksum
FROM pos
GROUP BY shard
ORDER BY shard
"""


@register(
    "corpus_epoch_shuffle",
    _EPOCH_SHUFFLE_SQL,
    doc=f"Reproducible epoch shuffle: md5(seed:doc_id) order keys, "
    f"hash split into {_N_SHARDS} shards (map-side, never a global "
    "sort), per-shard ROW_NUMBER positions, and a shard manifest "
    "whose order-sensitive exact-integer checksum sum(position * "
    "hex4(doc_id) mod p) mod p flips on any dropped/duplicated/"
    "transposed document (mod-p terms keep the int64 accumulator "
    "exact at any shard size). Re-runs are byte-identical; the only "
    "shuffle is the shard hash partition.",
)
def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from _imdb_etl_spark.functions import hex_prefix_int

    (docs,) = load_tables(spark, sf_dir, "documents")
    okey = F.md5(
        F.concat(F.lit(f"{_SHUFFLE_SEED}:"), F.col("doc_id").cast("string"))
    )
    keyed = docs.select(
        F.size(F.split("text", " ")).alias("n_toks"),
        okey.alias("okey"),
        (hex_prefix_int(okey) % _N_SHARDS).alias("shard"),
        hex_prefix_int(F.md5(F.col("doc_id").cast("string"))).alias("idh"),
    )
    w = Window.partitionBy("shard").orderBy("okey")
    pos = keyed.select(
        "shard", "n_toks", "idh", F.row_number().over(w).alias("position")
    )
    return (
        pos.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.max("position").alias("max_position"),
            (
                F.sum((F.col("position") * F.col("idh")) % _CKSUM_MOD)
                % _CKSUM_MOD
            ).alias("order_checksum"),
        )
        .orderBy("shard")
    )


# --- incremental NEAR-dup: the crawl increment vs the corpus LSH index


def _incremental_minhash_sql() -> str:
    # composes the shared banding CTE (one definition of the candidate
    # semantics, the dedup_*_lsh convention) and the exact-Jaccard
    # verify, then restricts to pairs that CROSS the corpus/batch
    # boundary before the per-language rollup.
    from _imdb_etl_spark.operators.dedup import _LSH_CAND_CTE

    return f"""{_LSH_CAND_CTE},
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY 1, 2
),
verified AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6
),
flags AS (
  SELECT doc_id, lang, ({_IS_BATCH}) AS is_batch FROM documents
),
matched AS (
  SELECT DISTINCT CASE WHEN fa.is_batch THEN v.doc_a ELSE v.doc_b END AS doc_id
  FROM verified v
  JOIN flags fa ON v.doc_a = fa.doc_id
  JOIN flags fb ON v.doc_b = fb.doc_id
  WHERE fa.is_batch <> fb.is_batch
)
SELECT f.lang,
       COUNT(*) AS n_incoming,
       CAST(SUM(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_near_dup,
       CAST(COUNT(*) - SUM(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS n_novel
FROM flags f
LEFT JOIN matched m ON f.doc_id = m.doc_id
WHERE f.is_batch
GROUP BY f.lang
ORDER BY f.lang
"""


@register(
    "dedup_incremental_minhash",
    None,  # oracle installed below (composes dedup's banding CTE)
    doc="Incremental NEAR-dup ingest: the crawl increment (same "
    "deterministic 20% slice as dedup_incremental_batch) is checked "
    "against the accumulated corpus for 3-gram-Jaccard >= 0.6 "
    "near-duplicates via the shared MinHash-LSH candidate stage — the "
    "production shape where each day's batch probes a PERSISTED band "
    "index (sim_knn_ivf_persisted's train->persist->serve analog; the "
    "registered form recomputes corpus signatures in-plan so the "
    "DuckDB twin can replay it) and only LSH collisions pay the exact "
    "verify. Candidate join is bucketed on (band_id, band_key), "
    "cross-boundary pairs filtered before the verify's set "
    "intersection; per-language novel/near-dup rollup is tiny. "
    "Catches the reformatted re-crawls the exact-hash incremental "
    "path misses.",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from _imdb_etl_spark.operators.dedup import _jaccard_verify, lsh_candidates

    (docs,) = load_tables(spark, sf_dir, "documents")
    doc_sets, cand = lsh_candidates(docs)
    flags = docs.select(
        "doc_id", "lang", F.expr(_IS_BATCH).alias("is_batch")
    )
    fa = flags.select(
        F.col("doc_id").alias("doc_a"), F.col("is_batch").alias("batch_a")
    )
    fb = flags.select(
        F.col("doc_id").alias("doc_b"), F.col("is_batch").alias("batch_b")
    )
    cross = (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .where(F.col("batch_a") != F.col("batch_b"))
    )
    verified = _jaccard_verify(
        doc_sets, cross.select("doc_a", "doc_b"), with_est=False
    )
    matched = (
        verified.join(fa, "doc_a")
        .select(
            F.when(F.col("batch_a"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_id")
        )
        .distinct()
        .withColumn("m", F.lit(1))
    )
    return (
        flags.where("is_batch")
        .join(matched, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_incoming"),
            F.sum(F.coalesce("m", F.lit(0))).cast("long").alias("n_near_dup"),
        )
        .select(
            "lang",
            "n_incoming",
            "n_near_dup",
            (F.col("n_incoming") - F.col("n_near_dup")).alias("n_novel"),
        )
        .orderBy("lang")
    )


from _imdb_etl_spark.plans.registry import REGISTRY as _REG  # noqa: E402

_REG["dedup_incremental_minhash"] = _REG["dedup_incremental_minhash"].__class__(
    name="dedup_incremental_minhash",
    spark=_REG["dedup_incremental_minhash"].spark,
    oracle=_incremental_minhash_sql(),
    doc=_REG["dedup_incremental_minhash"].doc,
)


# --- weighted reservoir sampling per source (Efraimidis-Spirakis) ------
#
# Sample k docs per source WITHOUT replacement with inclusion
# probability proportional to document length — the length-aware
# variant of the md5-prefix samplers (sample_deterministic_orders
# family): a token-budget subsample should prefer long documents, and
# uniform row sampling under-weights them. A-ES (Efraimidis & Spirakis
# 2006): draw u ~ U(0,1) per item, rank by u^(1/w) — equivalently
# ln(u)/w — and keep the top k per key. One map-side key computation +
# one per-source top-k window; no global sort, no state. u derives from
# md5(seed:doc_id), so the sample is content-stable and both engines
# rank identical doubles (ln last-bit variance is ~1e-16 against u
# spacings of ~1e-10 — ordering-safe; the emitted key is rounded to 9).

_WRES_SEED = "wres0"
_WRES_K = 10
_WRES_DENOM = float(16**8 + 1)


def _wres_sql() -> str:
    u = (
        f"(({_hex4_sql_n8('CAST(doc_id AS VARCHAR)', _WRES_SEED)}) + 1.0)"
        f" / {_WRES_DENOM}"
    )
    return f"""
WITH keyed AS (
  -- round BEFORE ranking (round-7 advisory fix): ln() is not required
  -- to be correctly rounded, so ranking the raw double could in
  -- principle reorder near-equal keys across libm implementations;
  -- ranking the round-9 key (the same key the query emits) with the
  -- doc_id tiebreak makes the ordering structurally engine-identical
  SELECT source, doc_id, n_chars,
         ROUND(ln({u}) / n_chars, 9) AS es_key
  FROM documents
),
ranked AS (
  SELECT source, doc_id, n_chars, es_key,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY es_key DESC, doc_id) AS rnk
  FROM keyed
)
SELECT source, rnk, doc_id, n_chars, es_key
FROM ranked
WHERE rnk <= {_WRES_K}
ORDER BY source, rnk
"""


def _hex4_sql_n8(expr: str, seed: str) -> str:
    from _imdb_etl_spark.functions import md5_prefix_int_sql

    return md5_prefix_int_sql(f"'{seed}:' || {expr}", 8)


@register(
    "corpus_weighted_reservoir",
    _wres_sql(),
    doc=f"Length-weighted sampling without replacement, {_WRES_K} docs "
    "per source, via Efraimidis-Spirakis exponential keys ln(u)/w with "
    "u from md5(seed:doc_id) — deterministic, single-pass, and "
    "embarrassingly parallel: the key is computed map-side and the "
    "only exchange is the per-source top-k window (WindowGroupLimit "
    "prunes to k rows per partition before the shuffle at scale). "
    "Inclusion probability ~ n_chars, the token-budget-aware subsample "
    "uniform row sampling cannot express.",
)
def corpus_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from _imdb_etl_spark.functions import hex_prefix_int

    (docs,) = load_tables(spark, sf_dir, "documents")
    h = hex_prefix_int(
        F.md5(F.concat(F.lit(f"{_WRES_SEED}:"), F.col("doc_id").cast("string"))),
        8,
    )
    u = (h + F.lit(1.0)) / F.lit(_WRES_DENOM)
    # round-before-rank (repo determinism contract, matches the kNN
    # round-to-6 policy): ranking the emitted round-9 key removes the
    # libm-vs-JVM last-ulp ordering hazard the raw ln() key carried
    keyed = spread(docs).select(
        "source",
        "doc_id",
        "n_chars",
        F.round(F.log(u) / F.col("n_chars"), 9).alias("es_key"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("es_key"), "doc_id")
    return (
        keyed.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _WRES_K)
        .select("source", "rnk", "doc_id", "n_chars", "es_key")
        .orderBy("source", "rnk")
    )


# --- Jensen-Shannon divergence between source distributions ------------
#
# The data-mixing drift metric: how far apart are two sources' unigram
# distributions (symmetric, bounded by ln 2 — unlike KL it tolerates
# disjoint support). Key scale trick: one-sided tokens NEVER
# materialize per pair. For tokens only in P, the JSD term is
# p*ln(2p/(p+0)) = p*ln2, and sum(p over only-P) = 1 - sum(p over
# common) — so the pairwise join is INNER on common tokens and the
# one-sided mass arrives via the complement, turning a full-outer
# explosion into (common vocab x source-pairs) where source count is a
# config-bounded constant. Float log terms sum under round(6)
# (established entropy policy).

_JSD_SQL = """
WITH tc AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
  ) GROUP BY 1, 2
),
ns AS (SELECT source, CAST(SUM(c) AS DOUBLE) AS n FROM tc GROUP BY source),
common AS (
  SELECT a.source AS source_a, b.source AS source_b,
         COUNT(*) AS n_common_tokens,
         SUM(a.c / na.n) AS p_common,
         SUM(b.c / nb.n) AS q_common,
         SUM((a.c / na.n)
             * ln(2 * (a.c / na.n) / (a.c / na.n + b.c / nb.n))) AS p_term,
         SUM((b.c / nb.n)
             * ln(2 * (b.c / nb.n) / (a.c / na.n + b.c / nb.n))) AS q_term
  FROM tc a
  JOIN tc b ON a.w = b.w AND a.source < b.source
  JOIN ns na ON na.source = a.source
  JOIN ns nb ON nb.source = b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_common_tokens,
       ROUND(0.5 * (p_term + (1 - p_common) * ln(2))
             + 0.5 * (q_term + (1 - q_common) * ln(2)), 6) AS jsd_nats
FROM common
ORDER BY source_a, source_b
"""


@register(
    "corpus_js_divergence",
    _JSD_SQL,
    doc="Pairwise Jensen-Shannon divergence (nats, <= ln 2) between "
    "every pair of sources' unigram distributions — the drift/mixing "
    "audit behind pretraining mix design. One (source, token) count "
    "shuffle; the pair stage joins common tokens only (per-token work "
    "bounded by source-pairs, a config constant), with one-sided "
    "probability mass recovered as (1 - common mass) * ln 2 instead "
    "of a full-outer join.",
)
def corpus_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    tc = (
        spread(docs)
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ns = tc.groupBy("source").agg(F.sum("c").cast("double").alias("n"))
    a = (
        tc.join(ns, "source")
        .select(
            F.col("source").alias("source_a"),
            "w",
            (F.col("c") / F.col("n")).alias("p"),
        )
    )
    b = (
        tc.join(ns, "source")
        .select(
            F.col("source").alias("source_b"),
            "w",
            (F.col("c") / F.col("n")).alias("q"),
        )
    )
    pq = F.col("p") + F.col("q")
    common = (
        a.join(b, "w")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_common_tokens"),
            F.sum("p").alias("p_common"),
            F.sum("q").alias("q_common"),
            F.sum(F.col("p") * F.log(2 * F.col("p") / pq)).alias("p_term"),
            F.sum(F.col("q") * F.log(2 * F.col("q") / pq)).alias("q_term"),
        )
    )
    ln2 = F.log(F.lit(2.0))
    jsd = 0.5 * (F.col("p_term") + (1 - F.col("p_common")) * ln2) + 0.5 * (
        F.col("q_term") + (1 - F.col("q_common")) * ln2
    )
    return common.select(
        "source_a",
        "source_b",
        "n_common_tokens",
        F.round(jsd, 6).alias("jsd_nats"),
    ).orderBy("source_a", "source_b")


# --- Zipf-law fit of the corpus frequency spectrum ---------------------
#
# Corpus-linguistics health check: natural text has token frequencies
# f(r) ~ r^s with s near -1; a synthetic or heavily-filtered corpus
# drifts. Fit = OLS of ln(freq) on ln(rank) over the full vocabulary.
# Ranks come from the descending two-stage shape: the frequency
# DISTRIBUTION table (one row per distinct frequency — far smaller
# than the vocabulary) provides prefix offsets via a broadcast
# triangular join, and row_number within each frequency tie resolves
# by token — no vocabulary-sized single-partition sort. The OLS sums
# accumulate f64 over vocabulary-bounded terms under ROUND(6).

_ZIPF_SQL = """
WITH vc AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
),
ft AS (SELECT freq, CAST(COUNT(*) AS BIGINT) AS nt FROM vc GROUP BY freq),
off AS (
  SELECT a.freq, CAST(COALESCE(SUM(b.nt), 0) AS BIGINT) AS bkt_off
  FROM ft a LEFT JOIN ft b ON b.freq > a.freq GROUP BY a.freq
),
rk AS (
  SELECT v.freq,
         o.bkt_off + ROW_NUMBER() OVER (
             PARTITION BY v.freq ORDER BY v.w) AS rnk
  FROM vc v JOIN off o ON o.freq = v.freq
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(ln(CAST(rnk AS DOUBLE))) AS sx,
         SUM(ln(CAST(freq AS DOUBLE))) AS sy,
         SUM(ln(CAST(rnk AS DOUBLE)) * ln(CAST(freq AS DOUBLE))) AS sxy,
         SUM(ln(CAST(rnk AS DOUBLE)) * ln(CAST(rnk AS DOUBLE))) AS sxx,
         SUM(ln(CAST(freq AS DOUBLE)) * ln(CAST(freq AS DOUBLE))) AS syy
  FROM rk
)
SELECT n AS n_types,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 AS zipf_slope,
       ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM sums
"""


@register(
    "vocab_zipf_slope",
    _ZIPF_SQL,
    doc="Zipf-law fit over the full vocabulary: OLS slope and R^2 of "
    "ln(freq) on ln(rank), ranks from the descending two-stage shape "
    "keyed on the frequency-distribution table (one row per distinct "
    "frequency), ties resolved lexicographically. Natural corpora sit "
    "near slope -1; the synthetic driver corpus reads much flatter — "
    "the point is both engines agree on the whole fit.",
)
def vocab_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    vc = (
        spread(docs)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    ft = vc.groupBy("freq").agg(F.count(F.lit(1)).cast("long").alias("nt"))
    off = (
        ft.alias("a")
        .join(
            F.broadcast(
                ft.select(F.col("freq").alias("fb"), F.col("nt").alias("ntb"))
            ),
            F.col("fb") > F.col("a.freq"),
            "left",
        )
        .groupBy(F.col("a.freq").alias("freq"))
        .agg(F.coalesce(F.sum("ntb"), F.lit(0)).cast("long").alias("bkt_off"))
    )
    w = Window.partitionBy("freq").orderBy("w")
    rk = vc.join(off, "freq").withColumn(
        "rnk", F.col("bkt_off") + F.row_number().over(w)
    )
    x = F.log(F.col("rnk").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    sums = rk.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return sums.select(
        F.col("n").alias("n_types"),
        (F.round(num / denx, 6) + 0.0).alias("zipf_slope"),
        F.round(num * num / (denx * deny), 6).alias("r2"),
    )


# --- DSIR-style importance weights -------------------------------------
#
# Data Selection with Importance Resampling (Xie et al. 2023), the
# unigram-LM form: score every candidate document by how much more
# likely its tokens are under the TARGET distribution (docs from a
# chosen high-quality source) than under the general corpus
# distribution — log w(d) = sum_t [ln p_target(t) - ln p_corpus(t)].
# Both LMs are add-1-smoothed unigram counts over a shared vocabulary
# (the corpus vocab), so every probability is a ratio of exact
# integers; the per-doc sum accumulates f64 under ROUND(6) (the
# entropy policy) and the log-weight feeds corpus_weighted_reservoir-
# style resampling downstream. One token-count pass per LM + one
# doc-keyed scoring aggregate; the LM tables broadcast.

_DSIR_TARGET = "src0"
_DSIR_TOP = 50

_DSIR_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
  FROM documents
),
tok2 AS (SELECT doc_id, source, w FROM tok WHERE w <> ''),
vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c_all FROM tok2 GROUP BY w),
vsize AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
                 CAST(SUM(c_all) AS BIGINT) AS n_all FROM vocab),
tcnt AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c_t
  FROM tok2 WHERE source = '{_DSIR_TARGET}' GROUP BY w
),
tsize AS (SELECT CAST(COALESCE(SUM(c_t), 0) AS BIGINT) AS n_t FROM tcnt),
lm AS (
  SELECT v.w,
         ln((COALESCE(t.c_t, 0) + 1.0) / (ts.n_t + vs.v))
         - ln((v.c_all + 1.0) / (vs.n_all + vs.v)) AS log_ratio
  FROM vocab v
  LEFT JOIN tcnt t ON t.w = v.w
  CROSS JOIN tsize ts CROSS JOIN vsize vs
),
scored AS (
  SELECT k.doc_id, k.source,
         CAST(COUNT(*) AS BIGINT) AS n_toks,
         ROUND(SUM(l.log_ratio), 6) + 0.0 AS log_weight
  FROM tok2 k JOIN lm l ON l.w = k.w
  WHERE k.source <> '{_DSIR_TARGET}'
  GROUP BY k.doc_id, k.source
)
SELECT doc_id, source, n_toks, log_weight
FROM scored
ORDER BY log_weight DESC, doc_id
LIMIT {_DSIR_TOP}
"""


@register(
    "corpus_dsir_importance",
    _DSIR_SQL,
    doc=f"DSIR importance weights (Xie et al.): add-1 unigram LMs for "
    f"the target source ('{_DSIR_TARGET}') and the whole corpus over "
    "a shared vocabulary, per-candidate-doc summed log-probability "
    "ratio, top-"
    f"{_DSIR_TOP} candidates most target-like. The LM join broadcasts "
    "a vocabulary-sized table; scoring is one doc-keyed aggregate — "
    "the selection weights corpus_weighted_reservoir resamples by.",
)
def corpus_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    tok = (
        spread(docs)
        .select("doc_id", "source", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
    )
    # ONE (source, w) count aggregate feeds both LM tables (round 13,
    # the vocab_oov_rate single-scan shape, guide §2.3/§2.4): the old
    # plan scanned + exploded the corpus separately for the all-corpus
    # vocabulary and the target-source counts (different filters, so
    # no exchange reuse). Both derive from sw by exact integer sums;
    # sw's identical exchange subtree is reused at runtime, so the two
    # LM builds cost one scan. The SCORING pass below keeps its own
    # raw token stream on purpose — its per-occurrence float log sums
    # must stay bit-compatible with the oracle's.
    sw = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    vocab = sw.groupBy("w").agg(F.sum("c").cast("long").alias("c_all"))
    vsize = vocab.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("c_all").cast("long").alias("n_all"),
    )
    tcnt = (
        sw.where(F.col("source") == _DSIR_TARGET)
        .select(F.col("w").alias("tw"), F.col("c").alias("c_t"))
    )
    tsize = tcnt.agg(
        F.coalesce(F.sum("c_t"), F.lit(0)).cast("long").alias("n_t")
    )
    lm = (
        vocab.join(F.broadcast(tcnt), F.col("w") == F.col("tw"), "left")
        .crossJoin(F.broadcast(tsize))  # 1-row broadcast scalar
        .crossJoin(F.broadcast(vsize))  # 1-row broadcast scalar
        .select(
            "w",
            (
                F.log(
                    (F.coalesce(F.col("c_t"), F.lit(0)) + 1.0)
                    / (F.col("n_t") + F.col("v"))
                )
                - F.log((F.col("c_all") + 1.0) / (F.col("n_all") + F.col("v")))
            ).alias("log_ratio"),
        )
    )
    return (
        tok.where(F.col("source") != _DSIR_TARGET)
        .join(F.broadcast(lm), "w")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            (F.round(F.sum("log_ratio"), 6) + 0.0).alias("log_weight"),
        )
        .orderBy(F.desc("log_weight"), "doc_id")
        .limit(_DSIR_TOP)
    )


# --- persisted MinHash band index (build -> persist -> serve) -----------
#
# dedup_incremental_minhash documents "the production shape where each
# day's batch probes a PERSISTED band index"; this registers that
# shape. Build phase signs the ACCUMULATED CORPUS slice once and
# writes two index tables — the banding (partitioned by band_id, so a
# probe scans only the bands it keys into) and the signature/shingle
# sets the exact verify needs — then the serve phase touches ONLY the
# stored index plus the day's increment: batch docs are signed, their
# band keys join the stored banding, and collisions verify against
# the stored shingle sets. At 100 TB the corpus is never re-signed
# per batch — the index write is the one-time cost, amortized over
# every increment (the sim_knn_ivf_persisted lifecycle, dedup face).
# Output and oracle are dedup_incremental_minhash's per-language
# novel/near-dup rollup: the lifecycle changes WHERE signatures come
# from, provably not WHAT matches.


@register(
    "dedup_minhash_index_persisted",
    None,  # oracle installed below (same rollup as the in-plan probe)
    doc="Persisted MinHash band index: the corpus slice is signed "
    "ONCE and written as two parquet tables (banding partitioned by "
    "band_id + signature/shingle sets), then the day's increment is "
    "signed and served AGAINST THE STORED INDEX only — band-key "
    "probe, exact-Jaccard verify on stored shingle sets, "
    "per-language novel/near-dup rollup. The "
    "train->persist->serve lifecycle of sim_knn_ivf_persisted for "
    "the dedup family: at 100 TB the corpus is never re-signed per "
    "batch, and a pytest pins that the serve plan scans the index "
    "files and reads the documents table exactly once (the batch). "
    "Same oracle as dedup_incremental_minhash — the lifecycle moves "
    "where signatures COME FROM, not what matches.",
)
def dedup_minhash_index_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from _imdb_etl_spark.operators.dedup import (
        band_table,
        minhash_doc_sets,
    )

    base = scratch_dir("mh_index")

    (docs,) = load_tables(spark, sf_dir, "documents")
    corpus = docs.where(~F.expr(_IS_BATCH))

    # build phase: sign the corpus once, persist banding + sets
    corpus_sets = minhash_doc_sets(corpus)
    band_table(corpus_sets).write.mode("overwrite").partitionBy(
        "band_id"
    ).parquet(f"{base}/bands")
    corpus_sets.select("doc_id", "shs", F.size("shs").alias("n_sh")).write.mode(
        "overwrite"
    ).parquet(f"{base}/sets")

    # serve phase: stored index + the day's increment only. The
    # increment's signatures materialize ONCE (eager parquet staging,
    # bounded by the day's batch, not the corpus): they feed the band
    # probe, the verify, and — in production — the append that folds
    # the increment into the index; lazy, each consumer would re-sign
    # the batch from the raw table.
    batch = docs.where(F.expr(_IS_BATCH))
    batch_sets = stage_to_parquet(minhash_doc_sets(batch), "incr_batch_sets")
    stored_bands = spark.read.parquet(f"{base}/bands")
    stored_sets = spark.read.parquet(f"{base}/sets")
    probe = band_table(batch_sets).select(
        F.col("doc_id").alias("b_doc"), "band_id", "band_key"
    )
    cand = (
        probe.join(stored_bands, ["band_id", "band_key"])
        .select(F.col("doc_id").alias("c_doc"), "b_doc")
        .distinct()
    )
    bs = batch_sets.select(
        F.col("doc_id").alias("b_doc"),
        F.col("shs").alias("b_shs"),
        F.size("shs").alias("b_n"),
    )
    n_inter = F.size(F.array_intersect("shs", "b_shs"))
    jacc = n_inter.cast("double") / (F.col("n_sh") + F.col("b_n") - n_inter)
    matched = (
        cand.join(stored_sets, cand["c_doc"] == stored_sets["doc_id"])
        .join(bs, "b_doc")
        .where(jacc >= 0.6)
        .select("b_doc")
        .distinct()
    )
    flags = batch.select("doc_id", "lang")
    return (
        flags.join(matched, flags["doc_id"] == matched["b_doc"], "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_incoming"),
            F.sum(
                F.when(F.col("b_doc").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_near_dup"),
            F.sum(F.when(F.col("b_doc").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "lang",
            "n_incoming",
            "n_near_dup",
            "n_novel",
        )
        .orderBy("lang")
    )


_REG["dedup_minhash_index_persisted"] = _REG[
    "dedup_minhash_index_persisted"
].__class__(
    name="dedup_minhash_index_persisted",
    spark=_REG["dedup_minhash_index_persisted"].spark,
    oracle=_incremental_minhash_sql(),
    doc=_REG["dedup_minhash_index_persisted"].doc,
)
