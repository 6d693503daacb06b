"""Corpus-preparation operators — the training-data curation steps that
sit between raw documents and a tokenized training set: PII redaction,
deterministic train/val/test splitting, corpus-level boilerplate
removal, and language-model quality scoring.

Absent from the reference (which never parses its strings); mandated by
the LLM-data-pipeline surface alongside operators/text.py and
operators/dedup.py.

Scale posture (100 TB):
- ``text_pii_redact`` is a pure narrow map — regex count/replace in
  whole-stage codegen, zero shuffle, linear in bytes.
- ``split_train_val_test`` assigns membership from a content-stable
  hash of the key, not ``rand()`` — a re-run or backfill lands every
  document in the same split, which is the property a production
  pipeline needs; classification is map-side, one final aggregation.
- ``boilerplate_ngram_filter`` and ``unigram_logprob_quality`` are
  two-phase: a corpus-level frequency aggregation whose result is
  small by construction (high-document-frequency n-grams / the unigram
  vocabulary), joined back to the per-document stream. AQE broadcasts
  the small side; no hard hints, no all-pairs stage, no driver collect.

Oracle-parity notes: md5 is the cross-engine-stable hash; hex-prefix
string comparison ('0' < 'c' ...) gives identical 16-bucket splits in
both engines; regexp_replace needs the 'g' flag in DuckDB to match
Spark's replace-all; mean-of-ln aggregates are rounded to 6 places
after float64 accumulation (established float policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import (
    doc_permille_bucket,
    hex_prefix_int,
    md5_prefix_int_sql,
    ordered,
)
from _imdb_etl_spark.operators.dedup import (
    _JACCARD_SQL,
    _prefix_doc_sets,
    _prefix_pairs,
)
from _imdb_etl_spark.operators.text import (
    _STOPWORDS,
    QUALITY_GATE_SQL,
    quality_gate_col,
)
from _imdb_etl_spark.operators.webcorpus import _BUCKET_SQL
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables, scratch_run, spread, write_read_back

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_IPV4_RE = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"

# Deterministic synthetic-PII enrichment shared by both engines: the
# test corpus is space-separated words with no '@' or digits, so the
# injected emails (doc_id % 3 of them) and IPv4s (doc_id % 2) are the
# only matches — redaction is exactly verifiable.
_ENRICH_SQL = (
    "text || repeat(' user' || CAST(doc_id AS STRING) || '@example.com',"
    " CAST(doc_id % 3 AS INT))"
    " || repeat(' 10.' || CAST(doc_id % 256 AS STRING) || '.0.'"
    " || CAST(doc_id % 100 AS STRING), CAST(doc_id % 2 AS INT))"
)

_PII_SQL = f"""
WITH enriched AS (
  SELECT doc_id, {_ENRICH_SQL} AS body FROM documents
)
SELECT
  doc_id,
  len(regexp_extract_all(body, '{_EMAIL_RE}')) AS n_emails,
  len(regexp_extract_all(body, '{_IPV4_RE}')) AS n_ips,
  length(regexp_replace(regexp_replace(body, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{_IPV4_RE}', '<IP>', 'g')) AS n_chars_red,
  md5(regexp_replace(regexp_replace(body, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                     '{_IPV4_RE}', '<IP>', 'g')) AS sig
FROM enriched
ORDER BY doc_id
"""


@register(
    "text_pii_redact",
    _PII_SQL,
    doc="PII scrubbing: count and redact email / IPv4 literals via "
    "chained regexp_replace. Narrow map in whole-stage codegen — the "
    "per-byte cost IS the operator; nothing shuffles. The md5 of the "
    "redacted body proves byte-exact redaction cross-engine.",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    body = F.expr(_ENRICH_SQL)
    red = F.regexp_replace(
        F.regexp_replace(body, F.lit(_EMAIL_RE), F.lit("<EMAIL>")),
        F.lit(_IPV4_RE),
        F.lit("<IP>"),
    )
    return docs.select(
        "doc_id",
        F.regexp_count(body, F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(body, F.lit(_IPV4_RE)).alias("n_ips"),
        F.length(red).alias("n_chars_red"),
        F.md5(red).alias("sig"),
    ).orderBy("doc_id")


_SPLIT_SQL = """
WITH assigned AS (
  SELECT
    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
         ELSE 'test' END AS split,
    lang, n_chars, doc_id
  FROM documents
)
SELECT split, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM assigned
GROUP BY split, lang
ORDER BY split, lang
"""


@register(
    "split_train_val_test",
    _SPLIT_SQL,
    doc="Deterministic 75/12.5/12.5 train/val/test split from the md5 "
    "hex prefix of the document key — content-stable membership "
    "(re-runs and backfills agree), unlike rand()-based splits. "
    "Assignment is map-side; one aggregation verifies stratification.",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(h < "c", "train").when(h < "e", "val").otherwise("test")
    ).alias("split")
    return ordered(
        docs.select(split, "lang", "n_chars", "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ),
        "split",
        "lang",
    )


_BOILER_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(len(toks) - 2),
                i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))) AS g
  FROM base
),
freq AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
tot AS (SELECT COUNT(*) AS n FROM base),
boiler AS (
  SELECT g FROM freq, tot WHERE df >= greatest(2, ceil(0.005 * n))
),
perdoc AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM grams GROUP BY doc_id),
bp AS (
  SELECT doc_id, COUNT(*) AS n_boiler
  FROM grams JOIN boiler USING (g)
  GROUP BY doc_id
)
SELECT p.doc_id, p.n_ngrams,
       COALESCE(b.n_boiler, 0) AS n_boiler,
       ROUND(CAST(COALESCE(b.n_boiler, 0) AS DOUBLE) / p.n_ngrams, 6) AS boiler_ratio
FROM perdoc p LEFT JOIN bp b USING (doc_id)
ORDER BY p.doc_id
"""


@register(
    "boilerplate_ngram_filter",
    _BOILER_SQL,
    doc="C4-style corpus-level boilerplate detection: distinct word "
    "3-grams per document, document frequency over the corpus, and a "
    "relative threshold (>= 0.5% of documents, min 2) marking "
    "boilerplate; each document scores the fraction of its 3-grams "
    "that are boilerplate. Two-phase: the DF aggregation shrinks to "
    "the high-frequency tail, which AQE broadcasts back onto the "
    "linear per-document stream — no all-pairs stage at any scale.",
)
def boilerplate_ngram_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - F.lit(3)),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        )
    )
    base = docs.where(F.size(toks) >= 3)
    exploded = base.select("doc_id", F.explode(grams).alias("g"))
    # Distinct-per-doc already, so COUNT(*) per gram IS document frequency.
    freq = exploded.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    tot = base.agg(F.count(F.lit(1)).alias("n"))
    boiler = (
        freq.crossJoin(F.broadcast(tot))  # 1-row scalar: bounded, safe hint
        .where(F.col("df") >= F.greatest(F.lit(2).cast("double"), F.ceil(0.005 * F.col("n")).cast("double")))
        .select("g")
    )
    # n_ngrams is just the distinct-gram array length — map-side on the
    # base scan, no third explode pass and no extra shuffle
    perdoc = base.select("doc_id", F.size(grams).alias("n_ngrams"))
    bp = (
        exploded.join(boiler, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    return ordered(
        perdoc.join(bp, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            F.coalesce(F.col("n_boiler"), F.lit(0)).alias("n_boiler"),
            F.round(
                F.coalesce(F.col("n_boiler"), F.lit(0)).cast("double")
                / F.col("n_ngrams"),
                6,
            ).alias("boiler_ratio"),
        ),
        "doc_id",
    )


_LOGPROB_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
freq AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM freq)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       ROUND(AVG(ln(CAST(c AS DOUBLE) / t)), 6) AS avg_logprob
FROM toks JOIN freq USING (w) CROSS JOIN tot
GROUP BY doc_id
ORDER BY doc_id
"""


@register(
    "unigram_logprob_quality",
    _LOGPROB_SQL,
    doc="Language-model quality score: corpus unigram frequencies give "
    "each document its mean token log-probability (the classic "
    "perplexity-style fluency proxy for filtering). Two-phase: the "
    "vocabulary aggregation is bounded by language, AQE broadcasts it "
    "back onto the token stream; ln terms accumulate in float64 and "
    "round(6) absorbs summation-order drift.",
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").cast("double").alias("t"))
    return ordered(
        toks.join(freq, "w")
        .crossJoin(F.broadcast(tot))  # 1-row scalar: bounded, safe hint
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.ln(F.col("c").cast("double") / F.col("t"))), 6
            ).alias("avg_logprob"),
        ),
        "doc_id",
    )


# --- split leakage audit ---------------------------------------------
#
# Near-dup pairs that STRADDLE a train/val/test boundary are silent
# eval contamination: the doc in train teaches the model the doc in
# val. The audit joins the near-dup pair set (word-3-gram Jaccard >=
# 0.6, _JACCARD_SQL's exact semantics) against the
# content-stable split assignment (split_train_val_test's md5-prefix
# rule) and reports the pair count per (split, split) cell — the
# off-diagonal cells are the leakage. At 100 TB the pair set comes
# from the MinHash-LSH candidate stage instead of the exact self-join;
# the audit itself is two broadcast-friendly key joins + a tiny agg.


def _leakage_sql() -> str:
    # the pair stage is the exact all-pairs Jaccard SQL, embedded
    # verbatim as a subquery (the neardup_pagerank convention) — one
    # definition of the 0.6-threshold shingle-join semantics, never a
    # hand-copied drift-prone duplicate
    pair_subq = _JACCARD_SQL.replace("ORDER BY doc_a, doc_b", "")
    return f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({pair_subq})
),
assigned AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
cells AS (
  SELECT LEAST(pa.split, pb.split) AS split_lo,
         GREATEST(pa.split, pb.split) AS split_hi,
         COUNT(*) AS n_pairs
  FROM pairs
  JOIN assigned pa ON doc_a = pa.doc_id
  JOIN assigned pb ON doc_b = pb.doc_id
  GROUP BY 1, 2
)
SELECT split_lo, split_hi,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       (split_lo <> split_hi) AS is_leakage
FROM cells
ORDER BY split_lo, split_hi
"""


@register(
    "split_leakage_audit",
    _leakage_sql(),
    doc="Train/val/test leakage audit: the near-dup pair set (3-gram "
    "Jaccard >= 0.6) joined against the content-stable split "
    "assignment; off-diagonal (split, split) cells are eval "
    "contamination a random split inevitably creates — the reason "
    "production pipelines split by near-dup CLUSTER, not by document. "
    "Two key joins + tiny agg on top of the pair stage (exact "
    "self-join here; LSH candidates at scale).",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    # Pair stage = the PPJoin prefix-filtered exact join (round 13, the
    # neardup_pagerank swap): provably the SAME pair set as the
    # quadratic shared-shingle self-join (prefix
    # filtering is lossless; the dedup_jaccard_prefix face's oracle IS
    # the unfiltered all-pairs SQL, so its driver hash match is the
    # standing no-missed-pair proof). The quadratic pair join was this
    # face's measured 1000x wall (450.5 s, COVERAGE round-10 sweep).
    # Unordered pair relation: the cell aggregation below sorts last.
    pairs = _prefix_pairs(_prefix_doc_sets(docs)).select("doc_a", "doc_b")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    assigned = docs.select(
        "doc_id",
        F.when(h < "c", "train").when(h < "e", "val").otherwise("test").alias(
            "split"
        ),
    )
    pa = assigned.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    pb = assigned.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return ordered(
        pairs.join(pa, "doc_a")
        .join(pb, "doc_b")
        .groupBy(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "split_lo",
            "split_hi",
            "n_pairs",
            (F.col("split_lo") != F.col("split_hi")).alias("is_leakage"),
        ),
        "split_lo",
        "split_hi",
    )


# --- per-source curation profile -------------------------------------

_SOURCE_PROFILE_SQL = f"""
WITH flags AS (
  SELECT source,
         n_chars,
         md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS h,
         CASE WHEN {QUALITY_GATE_SQL} THEN 1 ELSE 0 END AS qual_ok
  FROM documents
),
per_hash AS (
  SELECT source, h, MAX(qual_ok) AS qual_ok, COUNT(*) AS n_copies,
         SUM(n_chars) AS chars_in_group
  FROM flags GROUP BY source, h
)
SELECT source,
       CAST(SUM(n_copies) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_unique,
       CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS n_dup_docs,
       CAST((1000 * (SUM(n_copies) - COUNT(*))) // SUM(n_copies) AS BIGINT)
         AS dup_permille,
       CAST(SUM(CASE WHEN qual_ok = 1 THEN n_copies ELSE 0 END) AS BIGINT)
         AS n_quality,
       CAST(SUM(chars_in_group) AS BIGINT) AS total_chars
FROM per_hash
GROUP BY source
ORDER BY source
"""


@register(
    "corpus_source_quality_profile",
    _SOURCE_PROFILE_SQL,
    doc="Per-source curation scorecard: document counts, within-source "
    "exact-duplicate rate (normalized-hash groups, integer permille), "
    "quality-gate pass counts, and char volume — the table a corpus "
    "owner reads to decide which crawl sources to keep, cap, or "
    "re-clean. One (source, hash)-keyed aggregation then a source "
    "rollup; both partial-aggregate map-side.",
)
def corpus_source_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    norm_hash = F.md5(F.trim(F.regexp_replace(F.lower("text"), " +", " ")))
    flags = docs.select(
        "source",
        "n_chars",
        norm_hash.alias("h"),
        F.when(quality_gate_col(), 1).otherwise(0).alias("qual_ok"),
    )
    per_hash = flags.groupBy("source", "h").agg(
        F.max("qual_ok").alias("qual_ok"),
        F.count(F.lit(1)).alias("n_copies"),
        F.sum("n_chars").alias("chars_in_group"),
    )
    return ordered(
        per_hash.groupBy("source")
        .agg(
            F.sum("n_copies").alias("n_docs"),
            F.count(F.lit(1)).alias("n_unique"),
            (F.sum("n_copies") - F.count(F.lit(1))).alias("n_dup_docs"),
            F.sum(
                F.when(F.col("qual_ok") == 1, F.col("n_copies")).otherwise(0)
            ).alias("n_quality"),
            F.sum("chars_in_group").alias("total_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            "n_dup_docs",
            F.expr("(1000 * n_dup_docs) div n_docs").alias("dup_permille"),
            "n_quality",
            "total_chars",
        ),
        "source",
    )


# --- closed-form linear probe ----------------------------------------
#
# The distributed model-fitting face: per-language ordinary least
# squares of token count against character count, fit in ONE
# aggregation pass from exact integer moments (n, Sx, Sy, Sxy, Sxx,
# Syy) — the normal-equations path every "train a linear probe on
# corpus features" job takes at 100 TB (no iteration, no driver data
# movement; the moments are the shuffle). Every moment is an exact
# BIGINT, so both engines start the closed-form arithmetic from
# identical doubles and every subsequent IEEE op is deterministic;
# slope rounds to 1e-6 BEFORE the intercept uses it, so the
# composition is cross-engine exact too. (Moment magnitudes: n*Sxx
# needs ~2*log2(n_chars)+log2(n) bits — int64 holds to ~1e9 docs of
# 1e3 chars; past that the moments would accumulate in DECIMAL(38,0).)

_REG_SQL = """
WITH m AS (
  SELECT lang,
         COUNT(*) AS n,
         CAST(SUM(n_chars) AS BIGINT) AS sx,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sy,
         CAST(SUM(n_chars * len(string_split(text, ' '))) AS BIGINT) AS sxy,
         CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx,
         CAST(SUM(len(string_split(text, ' '))
                  * len(string_split(text, ' '))) AS BIGINT) AS syy
  FROM documents GROUP BY lang
)
SELECT lang, n,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
         AS slope,
       ROUND((CAST(sy AS DOUBLE)
              - ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                      / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) + 0.0 AS intercept,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
         AS r2
FROM m
ORDER BY lang
"""


@register(
    "corpus_chars_tokens_regression",
    _REG_SQL,
    doc="Closed-form OLS per language (token count ~ character count) "
    "from exact integer moments in one aggregation pass — the "
    "normal-equations linear-probe fit: no iteration, no driver data "
    "movement, deterministic IEEE arithmetic from identical BIGINT "
    "moments in both engines. Slope, intercept (computed from the "
    "rounded slope), and R-squared per language.",
)
def corpus_chars_tokens_regression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    y = F.size(F.split("text", " "))
    m = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(F.col("n_chars") * y).alias("sxy"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov_n = nd * F.col("sxy") - sxd * syd
    varx_n = nd * F.col("sxx") - sxd * sxd
    vary_n = nd * F.col("syy") - syd * syd
    slope = F.round(cov_n / varx_n, 6)
    return ordered(
        m.select(
            "lang",
            "n",
            slope.alias("slope"),
            # + 0.0 collapses IEEE -0.0 (hash-visible, ==-invisible)
            (F.round((syd - slope * sxd) / nd, 6) + 0.0).alias("intercept"),
            F.round(cov_n * cov_n / (varx_n * vary_n), 6).alias("r2"),
        ),
        "lang",
    )


# --- BPE merge-candidate table ---------------------------------------
#
# The first iteration of byte-pair-encoding tokenizer TRAINING,
# distributed: count every adjacent character pair inside every token
# occurrence and rank the merge candidates — the table BPE's first
# merge rule is read from (the full trainer repeats this count-merge
# loop; each round is exactly this shuffle shape over a shrinking
# symbol stream). Pair extraction is map-side fan-out (one row per
# character position), the count is one hash-agg shuffle, and the
# top-k is TakeOrderedAndProject. Integer counts only.

_BPE_TOP = 20

_BPE_SQL = f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
pairs AS (
  SELECT substr(w, i, 2) AS pair
  FROM words, unnest(range(1, length(w))) AS u(i)
  WHERE length(w) >= 2
)
SELECT pair, COUNT(*) AS cnt,
       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pair) AS merge_rank
FROM pairs
GROUP BY pair
ORDER BY merge_rank
LIMIT {_BPE_TOP}
"""


@register(
    "tokenizer_bpe_first_merges",
    _BPE_SQL,
    doc=f"Distributed BPE tokenizer training, iteration one: adjacent "
    "character-pair counts over every token occurrence ranked into "
    f"the top-{_BPE_TOP} merge-candidate table (the table the first "
    "merge rule is read from; a full trainer repeats this count-merge "
    "shuffle over a shrinking symbol stream). Map-side pair fan-out, "
    "one hash-agg shuffle, TakeOrderedAndProject top-k; the "
    "row_number runs over exactly the post-limit rows — bounded.",
)
def tokenizer_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (docs,) = load_tables(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).where(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("pair")).limit(_BPE_TOP)
    # global window over exactly <= _BPE_TOP post-limit rows — bounded
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return ordered(
        top.select(
            "pair", "cnt", F.row_number().over(w).alias("merge_rank")
        ),
        "merge_rank",
    )


# --- supervised quality model (distributed training scorecard) -------
#
# The supervised half of the ML-training family (KMeans and PCA cover
# the unsupervised side): a pyspark.ml LogisticRegression learns the
# quality gate from surface features on a content-stable train split
# and is scored on the held-out quarter. The gate IS a function of the
# features (length and stopword presence), so a correctly-wired
# trainer separates it almost perfectly — the scorecard asserts
# accuracy floors with wide margins rather than raw floats because
# LBFGS gradient sums depend on partition order (the oracle-checkable
# face for iterative float training established by
# sim_knn_ivf_trained). Training is distributed; only the coefficient
# vector reaches the driver.

_LR_TEST_PERMILLE = 250
_LR_ACC_FLOOR = 0.75
_LR_NEGRECALL_FLOOR = 0.25

_LOGREG_SQL = f"""
WITH split AS (
  SELECT CASE WHEN {_BUCKET_SQL} < {_LR_TEST_PERMILLE}
              THEN 1 ELSE 0 END AS is_test
  FROM documents
)
SELECT CAST(SUM(1 - is_test) AS BIGINT) AS n_train,
       CAST(SUM(is_test) AS BIGINT) AS n_test,
       TRUE AS acc_ge_750,
       TRUE AS neg_recall_ge_250
FROM split
"""


@register(
    "quality_logreg_scorecard",
    _LOGREG_SQL,
    doc="Distributed supervised training scorecard: pyspark.ml "
    "LogisticRegression learns the shared quality gate from surface "
    "features (chars, tokens, stopword count) on the content-stable "
    "md5 train split and is scored on the held-out quarter. The gate "
    "is feature-determined, so held-out accuracy floors (0.75/0.90) "
    "hold with wide margin; floors rather than raw floats because "
    "LBFGS gradient sums are partition-order-dependent. Only the "
    "coefficient vector reaches the driver.",
)
def quality_logreg_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    (docs,) = load_tables(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    toks = F.split(F.col("text"), " ")
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    bucket = doc_permille_bucket("doc_id")
    feat_arr = F.array(
        F.length("text").cast("double"),
        F.size(toks).cast("double"),
        n_stop.cast("double"),
    )
    feats = docs.select(
        "doc_id",
        feat_arr.alias("feat_arr"),
        array_to_vector(feat_arr).alias("features"),
        F.when(quality_gate_col(), 1.0).otherwise(0.0).alias("label"),
        (bucket < _LR_TEST_PERMILLE).alias("is_test"),
    )
    train = feats.where(~F.col("is_test"))
    test = feats.where(F.col("is_test"))
    model = LogisticRegression(
        maxIter=25, regParam=0.01, featuresCol="features", labelCol="label"
    ).fit(train)
    # Score with the coefficient vector as literals rather than
    # model.transform: the model object drags its training summary —
    # and through it the SparkSession — into the task closure, which
    # stops serializing the moment any Observation has registered on
    # the session (ObservationManager is not Serializable). Driver-side
    # coefficients + a zip_with dot product keep inference entirely
    # inside codegen, the broadcast-the-weights batch-inference shape.
    coef = [float(c) for c in model.coefficients]
    margin = F.aggregate(
        F.zip_with(
            F.col("feat_arr"),
            F.array(*[F.lit(c) for c in coef]),
            lambda x, w: x * w,
        ),
        F.lit(float(model.intercept)),
        lambda acc, x: acc + x,
    )
    scored = test.select(
        "label",
        F.when(margin > 0.0, 1.0).otherwise(0.0).alias("prediction"),
    )
    acc = F.sum(
        F.when(F.col("prediction") == F.col("label"), 1).otherwise(0)
    ) / F.count(F.lit(1))
    neg_recall = F.sum(
        F.when((F.col("label") == 0) & (F.col("prediction") == 0), 1).otherwise(0)
    ) / F.sum(F.when(F.col("label") == 0, 1).otherwise(0))
    counts = feats.agg(
        F.sum(F.when(~F.col("is_test"), 1).otherwise(0)).alias("n_train"),
        F.sum(F.when(F.col("is_test"), 1).otherwise(0)).alias("n_test"),
    )
    accs = scored.agg(acc.alias("acc"), neg_recall.alias("neg_recall"))
    return counts.crossJoin(F.broadcast(accs)).select(
        "n_train",
        "n_test",
        (F.col("acc") >= _LR_ACC_FLOOR).alias("acc_ge_750"),
        (F.col("neg_recall") >= _LR_NEGRECALL_FLOOR).alias(
            "neg_recall_ge_250"
        ),
    )


# --- BPE merge application -------------------------------------------
#
# The other half of the BPE loop: APPLY the learned top merge rule to
# the symbol stream and account for the compression. Greedy
# left-to-right non-overlapping replacement is exactly both engines'
# replace() semantics, so one merge round is fully value-hash
# checkable: per token, merges = (len - len(replace(w, pair, ''))) / 2
# (always an integer — each hit removes exactly 2 chars), and the
# post-merge symbol count is len - merges. Map-side apply (the 1-row
# merge rule broadcasts; the explicit limit bounds the build side),
# one doc-keyed aggregation. A full encoder iterates this exact
# shape over the shrinking symbol stream.

_BPE_APPLY_SQL = """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
pairs AS (
  SELECT substr(w, i, 2) AS pair
  FROM words, unnest(range(1, length(w))) AS u(i)
  WHERE length(w) >= 2
),
top AS (
  SELECT pair FROM (
    SELECT pair, COUNT(*) AS cnt FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair LIMIT 1
  )
),
app AS (
  SELECT doc_id, length(w) AS lb,
         (length(w) - length(replace(w, top.pair, ''))) // 2 AS nrep
  FROM words CROSS JOIN top
)
SELECT doc_id,
       CAST(SUM(lb) AS BIGINT) AS symbols_before,
       CAST(SUM(nrep) AS BIGINT) AS n_merged,
       CAST(SUM(lb - nrep) AS BIGINT) AS symbols_after,
       CAST(1000 * SUM(lb - nrep) // SUM(lb) AS BIGINT)
         AS compression_permille
FROM app
GROUP BY doc_id
ORDER BY doc_id
"""


@register(
    "tokenizer_bpe_apply_merge",
    _BPE_APPLY_SQL,
    doc="Apply the corpus's top BPE merge rule to every token "
    "occurrence: greedy non-overlapping replacement (both engines' "
    "replace() semantics, so the round is value-hash exact), per-doc "
    "symbol counts before/after and integer compression permille. "
    "The 1-row merge rule broadcasts behind an explicit limit; the "
    "apply is map-side with one doc-keyed aggregation — the encode "
    "loop a full BPE tokenizer iterates over the shrinking stream.",
)
def tokenizer_bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    pairs = words.where(F.length("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair")
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(1)
        .select("pair")
    )
    nrep = F.expr("(length(w) - length(replace(w, pair, ''))) div 2")
    app = (
        words.crossJoin(F.broadcast(top))
        .select("doc_id", F.length("w").alias("lb"), nrep.alias("nrep"))
    )
    return ordered(
        app.groupBy("doc_id")
        .agg(
            F.sum("lb").alias("symbols_before"),
            F.sum("nrep").alias("n_merged"),
            F.sum(F.col("lb") - F.col("nrep")).alias("symbols_after"),
        )
        .select(
            "doc_id",
            "symbols_before",
            "n_merged",
            "symbols_after",
            F.expr(
                "1000 * symbols_after div symbols_before"
            ).alias("compression_permille"),
        ),
        "doc_id",
    )


# --- BPE trainer, N merge rounds -------------------------------------
#
# Round 6 (verdict task 4): extend the depth-1 BPE pair (first_merges /
# apply_merge) to the full iterative count -> merge -> re-segment loop.
# The symbol stream is a chr(31)-delimited string per token occurrence
# ("\x1f" never appears in the corpus — charset pinned in pytest), with
# DOUBLED separators at every boundary, so one merge round is a single
# literal replace():
#
#   stream:  <ss>s1<ss>s2<ss>...<ss>        (ss = sep+sep)
#   merge:   replace(stream, sep+a+ss+b+sep, sep+ab+sep)
#
# The doubling is load-bearing: each match consumes only the INNER sep
# of each flanking boundary, so consecutive occurrences of the rule —
# which share a boundary — both match ("b b b b" + (b,b) -> "bb bb",
# and "a b a b" + (a,b) -> "ab ab"). With single separators the shared
# boundary sep is consumed by the first match and replace() silently
# skips every second adjacent occurrence (caught by the pure-Python
# reference in tests/test_properties.py). Both engines' replace() is
# greedy left-to-right non-overlapping over the ORIGINAL string —
# exactly BPE's merge application semantics ("a a a" + (a,a) -> "aa a",
# never "a aa") — which makes every round value-hash checkable: the
# oracle replays the identical loop.
#
# Scale shape: the trainer works on the DISTINCT-WORD x frequency
# table, not per word occurrence — the design every production BPE
# trainer uses (pairs cannot cross word boundaries, so identical words
# contribute identical pairs and identical merges; weighting the
# distinct word's counts by its corpus frequency yields bitwise the
# same merge table and symbol totals as the per-occurrence stream the
# oracle replays). One corpus-wide word-count shuffle up front, then
# every round runs over |vocab| rows — corpus-size-independent: at
# 100 TB the rounds iterate over ~10M distinct words, not 10^13
# occurrences. Per round: narrow-map pair fan-out, ONE hash agg whose
# TakeOrdered readback returns BOTH the round's top rule and the
# previous round's post-merge symbol total (the two readbacks fused
# into one job), then a narrow-map replace. The stream persists
# between rounds (at 100 TB: parquet checkpoint — same DAG, disk
# tier). Driver-side state is the N-row merge table, the same
# bounded-model-state pattern as pyspark.ml training.

_BPE_SEP = "\x1f"
_BPE_TRAIN_ROUNDS = 8


def _bpe_cte_chain(n_rounds: int) -> str:
    """The shared DuckDB CTE chain replaying the training loop: w0 (the
    char-split double-delimited stream) through w{n}/a{n} (the stream
    and symbol count after merge n). Both the trainer oracle and the
    encoder oracle compose this ONE definition."""
    sep = "chr(31)"
    ss = f"{sep} || {sep}"  # doubled boundary separator
    parts = [
        f"""WITH w0 AS (
  SELECT {sep} || {sep} || regexp_replace(w, '(?s)(.)', '\\1' || {sep} || {sep}, 'g') AS s
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
)"""
    ]
    for k in range(1, n_rounds + 1):
        p = k - 1
        parts.append(
            f""",
p{k} AS (
  SELECT unnest(list_transform(range(2, greatest(len(syms) - 1, 2)),
                i -> syms[i] || {sep} || syms[i + 1])) AS sym_pair
  FROM (SELECT string_split(s, {ss}) AS syms FROM w{p})
),
r{k} AS (
  SELECT sym_pair, CAST(COUNT(*) AS BIGINT) AS pair_cnt
  FROM p{k} GROUP BY sym_pair
  ORDER BY pair_cnt DESC, sym_pair LIMIT 1
),
w{k} AS (
  -- LEFT JOIN ON TRUE, not CROSS JOIN: when the corpus exhausts its
  -- pairs before round {k}, r{k} is empty and a cross join would
  -- vanish the stream — the Spark loop breaks and keeps the stream,
  -- so the oracle must pass it through unchanged (NULL rule -> s)
  SELECT CASE WHEN sym_pair IS NULL THEN s
              ELSE replace(s,
                           {sep} || replace(sym_pair, {sep}, {ss}) || {sep},
                           {sep} || replace(sym_pair, {sep}, '') || {sep})
         END AS s
  FROM w{p} LEFT JOIN r{k} ON TRUE
),
a{k} AS (
  SELECT CAST(SUM(len(string_split(s, {ss})) - 2) AS BIGINT)
           AS symbols_after
  FROM w{k}
)"""
        )
    return "".join(parts)


def _bpe_train_sql(n_rounds: int) -> str:
    sep = "chr(31)"
    selects = "\nUNION ALL\n".join(
        f"SELECT {k} AS merge_rank, string_split(sym_pair, {sep})[1] AS sym_a,"
        f" string_split(sym_pair, {sep})[2] AS sym_b, pair_cnt, symbols_after"
        f" FROM r{k} CROSS JOIN a{k}"
        for k in range(1, n_rounds + 1)
    )
    return _bpe_cte_chain(n_rounds) + "\n" + selects + "\nORDER BY merge_rank"


@register(
    "tokenizer_bpe_train_n",
    _bpe_train_sql(_BPE_TRAIN_ROUNDS),
    doc=f"Full iterative BPE trainer, {_BPE_TRAIN_ROUNDS} merge rounds: "
    "count adjacent symbol pairs, take the (count DESC, pair ASC) top "
    "rule, greedily re-segment the shrinking symbol stream, repeat — "
    "emitting the learned merge table (rank, symbols, support count) "
    "plus the post-merge corpus symbol count per round, the pinned "
    "row-count trace. Trains on the DISTINCT-WORD x frequency table "
    "(the production BPE design — pairs never cross word boundaries, "
    "so frequency-weighted counts are bitwise-identical to the "
    "per-occurrence stream the oracle replays, while rounds scale "
    "with |vocab|, not corpus size). Per round: narrow-map pair "
    "fan-out, ONE hash-agg shuffle whose 2-row TakeOrdered readback "
    "fuses the round's rule with the prior round's symbol total "
    "(bounded driver model-state, the pyspark.ml trainer pattern), "
    "narrow-map replace; stream persisted between rounds (parquet "
    "checkpoint at 100 TB). The oracle replays the identical loop in "
    "DuckDB per occurrence.",
)
def tokenizer_bpe_train_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    return bpe_train_rounds(spark, docs, _BPE_TRAIN_ROUNDS)


def bpe_train_rounds(
    spark: SparkSession,
    docs: DataFrame,
    n_rounds: int,
    k: int = 1,
    cand: int = 1,
) -> DataFrame:
    """Run ``n_rounds`` rounds of the BPE loop over ``docs.text`` and
    return the merge table. The defaults are strict greedy BPE
    (tokenizer_bpe_train_n); ``k`` and ``cand`` give the batched face.
    Split out from the registered faces so pytest can pin the loop
    against an independent pure-Python BPE on arbitrary corpora (a
    third implementation guards against a bug shared by the Spark and
    DuckDB twins)."""
    merge_table, final_stream = _bpe_train(spark, docs, n_rounds, k, cand)
    final_stream.unpersist()
    return spark.createDataFrame(
        merge_table,
        "merge_rank int, sym_a string, sym_b string, "
        "pair_cnt long, symbols_after long",
    ).orderBy("merge_rank")


_BPE_CKPT_EVERY = 16  # merges applied between lineage truncations


def _bpe_ckpt_stream(
    spark: SparkSession, df: DataFrame, gen: int, run_dir: str
) -> DataFrame:
    """Parquet lineage checkpoint for the BPE symbol stream — the
    'parquet checkpoint at 100 TB' the trainer docstring names, made
    real: every _BPE_CKPT_EVERY generations the |vocab|-row stream is
    written out and read back, so the logical plan is a fresh scan
    instead of `gen` chained replace projections. Measured necessity,
    not hygiene: without truncation a 64-round strict training run
    OOMs the DRIVER JVM (java heap) at sf0.1 — the data is tiny, the
    Catalyst plan tree is what grows, and persist() caches partitions
    without shrinking the plan. Never triggers on the registered
    8-round faces (16 > 8); at production vocab sizes it bounds plan
    depth at _BPE_CKPT_EVERY generations for ~1 s of parquet I/O per
    window. ``run_dir`` (one `scratch_run` per trainer invocation)
    keeps concurrent or successive trainer runs in one process from
    overwriting each other's still-referenced checkpoints."""
    return write_read_back(df, f"{run_dir}/gen_{gen}")


def _bpe_train(
    spark: SparkSession,
    docs: DataFrame,
    n_rounds: int,
    k: int = 1,
    cand: int = 1,
) -> tuple[list, DataFrame]:
    """The one BPE training loop: returns (merge_table rows, the
    PERSISTED post-merge symbol stream) so the encoder face can
    tokenize with the learned vocabulary without re-deriving the
    rounds. Caller owns unpersisting the returned stream.

    Each round ranks the pair counts once by (count DESC, pair ASC),
    keeps the top ``cand`` as a candidate window, and greedily selects
    up to ``k`` pairwise SYMBOL-DISJOINT merges from it (a pair is
    skipped if either symbol is in an already-selected pair of this
    round), then applies them in selection order in one narrow-map
    projection. Selection reads only round-start counts and both
    engines apply the replaces in the same order, so the result is
    exactly deterministic; the bounded window makes it engine-identical.
    k=1 with cand=1 is strict greedy BPE: one merge per round, a 2-row
    readback. Larger k trades stale within-round counts for fewer
    shuffle+readback barriers, which dominate at production vocab
    sizes.

    Driver-side state is the learned merge table (the same bounded
    model-state pattern as pyspark.ml's iterative trainers). Each round
    runs ONE shuffle and readback: a single hash agg over the union of
    the pair fan-out and a per-row symbol-total marker, whose
    1 + ``cand`` row TakeOrdered readback yields the round's candidate
    window AND the previous round's post-merge symbol total (the total
    of the CURRENT stream). Executing it also populates the round's
    stream cache, so the next round reads cached partitions; a final
    scalar agg closes out the last round's total."""
    sep = _BPE_SEP
    ss = sep + sep  # doubled boundary separator (see module comment)
    # distinct-word x frequency formulation (see module comment): the
    # word-count shuffle is the only corpus-proportional stage; every
    # training round below runs over |vocab| rows
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # (?s): a bare '.' matches no newline in either engine, which would
    # silently fuse '\n'+next-char into one symbol in BOTH twins — the
    # shared-twin-bug class the pure-Python reference test guards
    stream = wc.select(
        F.concat(F.lit(ss), F.regexp_replace("w", "(?s)(.)", "$1" + ss)).alias("s"),
        "freq",
    )

    # bind the split to a column FIRST: Spark does not hoist common
    # subexpressions out of higher-order-function lambdas, so inlining
    # split(s, ...) in the transform body would re-split the stream
    # per element — the O(n^2) re-split anti-pattern _SHINGLE_EXPR's
    # comment in operators/dedup.py measured at 7x
    pair_expr = (
        "CASE WHEN size(syms) >= 4 THEN "
        "transform(sequence(2, size(syms) - 2), "
        f"i -> concat(element_at(syms, i), '{sep}', "
        "element_at(syms, i + 1))) "
        "ELSE array() END"
    )
    merge_table: list[tuple] = []
    run_dir = scratch_run("bpe_ckpt")  # private checkpoint namespace
    merges_applied = 0  # checkpoint keys on MERGES, not rounds: each
    last_ckpt = 0  # round nests up to k replaces, so a round-keyed
    # interval would carry 16*k chained replaces (round-7 advisory)
    prev = stream.persist()
    old = None  # previous generation, kept cached until its child runs
    pending: list[tuple] = []  # round's merges awaiting symbols_after
    for r in range(1, n_rounds + 1):
        per = prev.select(F.split("s", ss).alias("syms"), "freq")
        pairs = per.select(
            F.lit(False).alias("is_total"),
            F.explode(F.expr(pair_expr)).alias("k"),
            F.col("freq").alias("wt"),
        )
        tot = per.select(
            F.lit(True).alias("is_total"),
            F.lit("").alias("k"),
            ((F.size("syms") - 2).cast("long") * F.col("freq")).alias("wt"),
        )
        # ONE shuffle + readback per round: fused (total + candidate
        # window) readback, 1 + cand rows, bounded by construction
        rows = (
            pairs.unionByName(tot)
            .groupBy("is_total", "k")
            .agg(F.sum("wt").alias("c"))
            .orderBy(F.desc("is_total"), F.desc("c"), F.asc("k"))
            .limit(1 + cand)
            .collect()
        )
        if old is not None:  # prev is materialized now; parent can go
            old.unpersist()
            old = None
        if pending:
            merge_table.extend((*m, rows[0]["c"]) for m in pending)
            pending = []
        # greedy symbol-disjoint selection inside the shared window —
        # the exact scan the oracle's s{r}_{j} CTE chain performs
        used: set[str] = set()
        sel: list[tuple[int, str, str, int]] = []
        for row in rows[1:]:
            if len(sel) >= k:
                break
            sym_a, sym_b = row["k"].split(sep)
            if sym_a in used or sym_b in used:
                continue
            sel.append((len(sel) + 1, sym_a, sym_b, row["c"]))
            used.update((sym_a, sym_b))
        if not sel:  # corpus fully merged / no adjacent pairs left
            break
        col = F.col("s")
        for _, sym_a, sym_b, _cnt in sel:  # selection order, both twins
            col = F.replace(
                col,
                # one sep from each flanking double boundary joins the
                # match, so adjacent occurrences both match; the
                # replacement restores each boundary to two seps
                F.lit(sep + sym_a + ss + sym_b + sep),
                F.lit(sep + sym_a + sym_b + sep),
            )
        nxt = prev.select(col.alias("s"), "freq")
        merges_applied += len(sel)
        if merges_applied - last_ckpt >= _BPE_CKPT_EVERY:
            # bound Catalyst plan depth at _BPE_CKPT_EVERY chained
            # replaces regardless of k
            nxt = _bpe_ckpt_stream(spark, nxt, merges_applied, run_dir)
            last_ckpt = merges_applied
        nxt = nxt.persist()
        old, prev = prev, nxt
        pending = [
            ((r - 1) * k + j, sym_a, sym_b, cnt)
            for j, sym_a, sym_b, cnt in sel
        ]
    if pending:  # the last round's total never piggybacked
        after = prev.agg(
            F.sum(
                (F.size(F.split("s", ss)) - 2).cast("long") * F.col("freq")
            ).alias("a")
        ).collect()[0][0]
        merge_table.extend((*m, after) for m in pending)
    if old is not None:
        old.unpersist()
    return merge_table, prev


# --- the batched-merge BPE face: K merges per driver round --------------
#
# tokenizer_bpe_train_n pays one pair-count shuffle + readback barrier
# PER MERGE; this face runs the same _bpe_train loop with up to
# _BPE_BATCH_K symbol-disjoint merges per round from a shared
# top-_BPE_BATCH_CAND candidate window.

_BPE_BATCH_ROUNDS = 2
_BPE_BATCH_K = 4  # merges per round: 2x4 = the 8 merges train_n learns
_BPE_BATCH_CAND = 64  # shared candidate window (engine-identical greedy)


def _bpe_batched_sql(n_rounds: int, k: int, cand: int) -> str:
    """DuckDB replay of the batched trainer: per round, one ranked
    candidate window c{r}, k greedy symbol-disjoint selections
    s{r}_{j}, k sequential re-segmentations w{r}x{j}, and the
    post-round symbol total a{r}."""
    sep = "chr(31)"
    ss = f"{sep} || {sep}"
    parts = [
        f"""WITH w0 AS MATERIALIZED (
  SELECT {sep} || {sep} || regexp_replace(w, '(?s)(.)', '\\1' || {sep} || {sep}, 'g') AS s
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
)"""
    ]
    selects = []
    for r in range(1, n_rounds + 1):
        prev = "w0" if r == 1 else f"w{r - 1}x{k}"
        parts.append(
            f""",
p{r} AS (
  SELECT unnest(list_transform(range(2, greatest(len(syms) - 1, 2)),
                i -> syms[i] || {sep} || syms[i + 1])) AS sym_pair
  FROM (SELECT string_split(s, {ss}) AS syms FROM {prev})
),
c{r} AS MATERIALIZED (
  SELECT string_split(sym_pair, {sep})[1] AS a,
         string_split(sym_pair, {sep})[2] AS b,
         sym_pair, pair_cnt
  FROM (SELECT sym_pair, CAST(COUNT(*) AS BIGINT) AS pair_cnt
        FROM p{r} GROUP BY sym_pair
        ORDER BY pair_cnt DESC, sym_pair LIMIT {cand})
)"""
        )
        used_terms: list[str] = []
        for j in range(1, k + 1):
            if used_terms:
                used = " UNION ALL ".join(used_terms)
                conflict = (
                    f"\n  WHERE a NOT IN ({used})"
                    f"\n    AND b NOT IN ({used})"
                )
            else:
                conflict = ""
            parts.append(
                f""",
s{r}_{j} AS MATERIALIZED (
  SELECT a, b, sym_pair, pair_cnt FROM c{r}{conflict}
  ORDER BY pair_cnt DESC, sym_pair LIMIT 1
),
w{r}x{j} AS MATERIALIZED (
  -- LEFT JOIN ON TRUE: an exhausted selection passes the stream
  -- through unchanged (same guard as the strict-greedy oracle)
  SELECT CASE WHEN p.sym_pair IS NULL THEN s
              ELSE replace(s,
                           {sep} || replace(p.sym_pair, {sep}, {ss}) || {sep},
                           {sep} || replace(p.sym_pair, {sep}, '') || {sep})
         END AS s
  FROM {prev if j == 1 else f'w{r}x{j - 1}'} LEFT JOIN s{r}_{j} p ON TRUE
)"""
            )
            used_terms.append(f"SELECT a FROM s{r}_{j}")
            used_terms.append(f"SELECT b FROM s{r}_{j}")
            selects.append(
                f"SELECT {(r - 1) * k + j} AS merge_rank, a AS sym_a,"
                f" b AS sym_b, pair_cnt, symbols_after"
                f" FROM s{r}_{j} CROSS JOIN a{r}"
            )
        parts.append(
            f""",
a{r} AS (
  SELECT CAST(SUM(len(string_split(s, {ss})) - 2) AS BIGINT)
           AS symbols_after
  FROM w{r}x{k}
)"""
        )
    return (
        "".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY merge_rank"
    )


@register(
    "tokenizer_bpe_train_batched",
    _bpe_batched_sql(_BPE_BATCH_ROUNDS, _BPE_BATCH_K, _BPE_BATCH_CAND),
    doc=f"Batched-merge BPE trainer — tokenizer_bpe_train_n's one "
    f"remaining scale lever as a first-class face: {_BPE_BATCH_ROUNDS} "
    f"driver rounds of up to {_BPE_BATCH_K} pairwise symbol-disjoint "
    "merges each (the same 8 learned rules' worth of vocabulary in a "
    "quarter of the shuffle+readback barriers; at production vocab "
    "sizes the barrier count, not per-round compute, dominates). "
    "Selection is greedy by (round-start count DESC, pair ASC) inside "
    f"a shared top-{_BPE_BATCH_CAND} candidate window, skipping pairs "
    "that share a symbol with an already-selected merge; both engines "
    "apply the round's merges sequentially in selection order, so the "
    "result is exactly deterministic even though counts go stale "
    "within a round (the accuracy/barrier trade every batched "
    "distributed trainer makes vs strict greedy; tokenizer_bpe_train_n "
    "is the same loop at k=1). Readback is 1+"
    f"{_BPE_BATCH_CAND} rows per round, bounded by construction. "
    "symbols_after is the post-ROUND corpus symbol total, attached to "
    "each of the round's merges.",
)
def tokenizer_bpe_train_batched(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    return bpe_train_rounds(
        spark, docs, _BPE_BATCH_ROUNDS, _BPE_BATCH_K, _BPE_BATCH_CAND
    )


_BPE_VOCAB_TOP = 20

_BPE_ENCODE_SQL = f"""{_bpe_cte_chain(_BPE_TRAIN_ROUNDS)}
SELECT sym, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (SELECT unnest(string_split(s, chr(31) || chr(31))) AS sym
      FROM w{_BPE_TRAIN_ROUNDS})
WHERE sym <> ''
GROUP BY sym
ORDER BY cnt DESC, sym
LIMIT {_BPE_VOCAB_TOP}
"""


@register(
    "tokenizer_bpe_encode",
    _BPE_ENCODE_SQL,
    doc=f"The serve half of the BPE lifecycle (train -> encode, the "
    "tokenizer analog of the IVF family's train -> persist -> serve): "
    f"tokenize the corpus with the {_BPE_TRAIN_ROUNDS}-rule merge "
    f"table tokenizer_bpe_train_n learns and report the top-"
    f"{_BPE_VOCAB_TOP} vocabulary symbols by occurrence count. The "
    "encoder consumes the trainer's final persisted symbol stream "
    "directly — no re-derivation — so its own cost is one explode + "
    "hash-agg + top-k over the tokenized corpus; the oracle replays "
    "the same 8 rounds and histograms the final stream.",
)
def tokenizer_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    _, final_stream = _bpe_train(spark, docs, _BPE_TRAIN_ROUNDS)
    ss = _BPE_SEP + _BPE_SEP
    out = (
        final_stream.select(
            F.explode(F.split("s", ss)).alias("sym"), "freq"
        )
        .where(F.col("sym") != "")
        .groupBy("sym")
        # the stream is distinct-word rows: each symbol occurs once per
        # word occurrence, so the corpus histogram weights by freq
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("sym"))
        .limit(_BPE_VOCAB_TOP)
    )
    # release the training cache now rather than leak it for the
    # session lifetime (the gate runs 200+ queries in one session);
    # the consumer's collect recomputes the stream once through the
    # narrow literal-replace chain — no shuffle, bounded cost
    final_stream.unpersist()
    return out


# --- privacy audit: k-anonymity + l-diversity -------------------------

_KANON_K = 5  # minimum group size to release
_LDIV_L = 2  # minimum sensitive-value diversity to release unchanged

_KANON_SQL = f"""
WITH enriched AS (
  SELECT doc_id, lang, source, n_chars // 100 AS len_bucket,
         {_ENRICH_SQL.replace("STRING", "VARCHAR")} AS body
  FROM documents
),
classed AS (
  SELECT lang, source, len_bucket,
         CASE
           WHEN regexp_matches(body, '{_EMAIL_RE}')
                AND regexp_matches(body, '{_IPV4_RE}') THEN 'both'
           WHEN regexp_matches(body, '{_EMAIL_RE}') THEN 'email'
           WHEN regexp_matches(body, '{_IPV4_RE}') THEN 'ip'
           ELSE 'clean'
         END AS pii_class
  FROM enriched
)
SELECT lang, source, len_bucket,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT pii_class) AS l_diversity,
       CASE WHEN COUNT(*) < {_KANON_K} THEN 'suppress'
            WHEN COUNT(DISTINCT pii_class) < {_LDIV_L} THEN 'generalize'
            ELSE 'release' END AS action
FROM classed
GROUP BY lang, source, len_bucket
ORDER BY lang, source, len_bucket
"""


@register(
    "privacy_k_anonymity_audit",
    _KANON_SQL,
    doc=f"Pre-release privacy audit (Sweeney k-anonymity + Machanavajjhala "
    "l-diversity): documents grouped by the quasi-identifier tuple "
    "(lang, source, 100-char length bucket); a group smaller than "
    f"k={_KANON_K} is re-identifiable and marked 'suppress', a group "
    "whose sensitive attribute (PII class from the same deterministic "
    "enrichment text_pii_redact scrubs) shows fewer than "
    f"l={_LDIV_L} distinct values leaks by homogeneity and is marked "
    "'generalize'. One hash aggregation on the QI key with map-side "
    "partials (the sensitive domain is 4 values, so COUNT(DISTINCT) "
    "stays a bounded map-side set) — corpus-linear at 100 TB.",
)
def privacy_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    body = F.expr(_ENRICH_SQL)
    has_email = F.regexp_count(body, F.lit(_EMAIL_RE)) > 0
    has_ip = F.regexp_count(body, F.lit(_IPV4_RE)) > 0
    pii_class = (
        F.when(has_email & has_ip, "both")
        .when(has_email, "email")
        .when(has_ip, "ip")
        .otherwise("clean")
    )
    grouped = docs.select(
        "lang",
        "source",
        (F.col("n_chars") / 100).cast("long").alias("len_bucket"),
        pii_class.alias("pii_class"),
    ).groupBy("lang", "source", "len_bucket")
    return ordered(
        grouped.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("pii_class").alias("l_diversity"),
        ).select(
            "lang",
            "source",
            "len_bucket",
            "n_docs",
            "l_diversity",
            F.when(F.col("n_docs") < _KANON_K, "suppress")
            .when(F.col("l_diversity") < _LDIV_L, "generalize")
            .otherwise("release")
            .alias("action"),
        ),
        "lang",
        "source",
        "len_bucket",
    )


# --- CCNet-style perplexity bucketing ---------------------------------
#
# Wenzek et al. (CCNet) split each language's crawl into head / middle
# / tail by per-document LM perplexity terciles and train on the head.
# Here the LM is the corpus's own per-language unigram model (the
# unigram_logprob_quality score, per-language frequencies), and the
# tercile boundaries follow the customers_rfm_segments discipline:
# exact interpolated percentiles computed as ONE tiny per-language
# aggregate (|langs| rows, broadcast), every document then bucketed by
# map-side comparison — no NTILE and no global sort window, so the
# plan shape is independent of corpus cardinality. Ties at a boundary
# land in the lower bucket in both engines (same > comparison), and
# the per-bucket rollup reports only order-insensitive aggregates
# (counts, token sums, min/max of the round(6) score), so no
# float-summation-order hazard reaches the hash.

_CCNET_SQL = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
),
freq AS (SELECT lang, w, COUNT(*) AS c FROM toks GROUP BY lang, w),
tot AS (SELECT lang, CAST(SUM(c) AS DOUBLE) AS t FROM freq GROUP BY lang),
scored AS (
  SELECT doc_id, tk.lang, COUNT(*) AS n_tokens,
         ROUND(AVG(ln(CAST(c AS DOUBLE) / t)), 6) AS score
  FROM toks tk
  JOIN freq USING (lang, w)
  JOIN tot USING (lang)
  GROUP BY doc_id, tk.lang
),
bounds AS (
  SELECT lang,
         quantile_cont(score, CAST(1 AS DOUBLE) / 3) AS b1,
         quantile_cont(score, CAST(2 AS DOUBLE) / 3) AS b2
  FROM scored GROUP BY lang
),
bucketed AS (
  SELECT s.lang, s.n_tokens, s.score,
         CASE WHEN s.score > b.b2 THEN 'head'
              WHEN s.score > b.b1 THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM scored s JOIN bounds b ON s.lang = b.lang
)
SELECT lang, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       ROUND(MIN(score), 6) AS min_score,
       ROUND(MAX(score), 6) AS max_score
FROM bucketed
GROUP BY lang, bucket
ORDER BY lang, bucket
"""


@register(
    "corpus_ccnet_buckets",
    _CCNET_SQL,
    doc="CCNet-style head/middle/tail bucketing (Wenzek et al.): each "
    "language's documents are scored by their mean token "
    "log-probability under that language's own unigram LM, then split "
    "at exact per-language tercile boundaries — head is the most "
    "fluent third a pretraining mix keeps first. Follows the "
    "customers_rfm_segments anti-NTILE discipline: boundaries are one "
    "|langs|-row exact-percentile aggregate broadcast back, the "
    "bucket assignment is a map-side comparison, and the rollup "
    "reports only order-insensitive aggregates — no global sort "
    "window at any corpus size (swap exact percentile for "
    "approx_percentile at 100 TB, identical plan shape).",
)
def corpus_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    freq = toks.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.groupBy("lang").agg(F.sum("c").cast("double").alias("t"))
    scored = (
        toks.join(freq, ["lang", "w"])
        .join(F.broadcast(tot), "lang")  # |langs| rows: bounded, safe hint
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.ln(F.col("c").cast("double") / F.col("t"))), 6
            ).alias("score"),
        )
    )
    bounds = scored.groupBy("lang").agg(
        F.percentile("score", F.lit(1.0 / 3)).alias("b1"),
        F.percentile("score", F.lit(2.0 / 3)).alias("b2"),
    )
    bucketed = scored.join(F.broadcast(bounds), "lang").select(
        "lang",
        "n_tokens",
        "score",
        F.when(F.col("score") > F.col("b2"), "head")
        .when(F.col("score") > F.col("b1"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    return ordered(
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.min("score"), 6).alias("min_score"),
            F.round(F.max("score"), 6).alias("max_score"),
        ),
        "lang",
        "bucket",
    )


# --- T5-style span corruption mask planning -----------------------------
#
# The pretraining-objective prep stage: span corruption (Raffel et al.,
# T5) masks ~15% of tokens in contiguous spans (mean length 3) and the
# data pipeline must plan those masks deterministically so a re-run —
# or a different engine — regenerates byte-identical training examples.
# Noise comes from the corpus's one portable hash: a position starts a
# span iff the first 4 md5 hex chars of "doc_id:pos" fall in 1/20 of
# the bucket space (5% start rate x span 3 ~ 14% corruption), and a
# position is masked iff any of the last 3 positions started a span —
# a RANGE-window OR, no sequential scan. Per-doc outputs: span/mask
# counts, corruption permille, and the md5 fingerprint of the ordered
# masked-position list, so both engines must agree on every single
# masked index, not just the counts.

_SPAN_LEN = 3
_SPAN_MOD = 20  # 1/20 of positions start a span

_SPAN_SQL = f"""
WITH pos AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
  FROM documents
),
marked AS (
  SELECT doc_id, n_tokens, i,
         CASE WHEN {md5_prefix_int_sql("doc_id || ':' || i")}
                   % {_SPAN_MOD} = 0
              THEN 1 ELSE 0 END AS is_start
  FROM pos
),
masked AS (
  SELECT doc_id, n_tokens, i, is_start,
         CASE WHEN MAX(is_start) OVER (PARTITION BY doc_id ORDER BY i
                RANGE BETWEEN {_SPAN_LEN - 1} PRECEDING AND CURRENT ROW) = 1
              THEN 1 ELSE 0 END AS is_masked
  FROM marked
)
SELECT doc_id,
       CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(is_start) AS BIGINT) AS n_spans,
       CAST(SUM(is_masked) AS BIGINT) AS n_masked,
       CAST((1000 * SUM(is_masked)) // MAX(n_tokens) AS BIGINT)
         AS corruption_permille,
       md5(COALESCE(string_agg(CASE WHEN is_masked = 1
                                    THEN CAST(i AS VARCHAR) END,
                               ',' ORDER BY i), '')) AS mask_md5
FROM masked
GROUP BY doc_id
ORDER BY doc_id
"""


@register(
    "corpus_span_corruption",
    _SPAN_SQL,
    doc=f"T5-style span-corruption mask planning: each token position "
    f"starts a length-{_SPAN_LEN} noise span iff its content-stable "
    f"md5(doc:pos) bucket falls in 1/{_SPAN_MOD} of the space "
    "(~14-15% corruption), and the masked set is a RANGE-window OR "
    "over the trailing span length — fully declarative, no sequential "
    "scan, and deterministic across engines and re-runs, which is "
    "what makes regenerated training examples byte-identical. The "
    "per-doc md5 fingerprint of the ordered masked-position list "
    "forces agreement on every index, not just the counts. One "
    "doc-keyed window over the exploded position table; work is "
    "corpus-token-linear, the 100 TB shape of objective prep.",
)
def corpus_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (docs,) = load_tables(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
    ).select(
        "doc_id",
        "n_tokens",
        F.explode(F.sequence(F.lit(1), F.col("n_tokens"))).alias("i"),
    )
    start_hash = hex_prefix_int(
        F.md5(F.concat_ws(":", F.col("doc_id"), F.col("i")))
    )
    marked = pos.select(
        "doc_id",
        "n_tokens",
        "i",
        F.when(start_hash % _SPAN_MOD == 0, 1).otherwise(0).alias("is_start"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rangeBetween(-(_SPAN_LEN - 1), 0)
    )
    masked = marked.withColumn(
        "is_masked",
        F.when(F.max("is_start").over(w) == 1, 1).otherwise(0),
    )
    return ordered(
        masked.groupBy("doc_id")
        .agg(
            F.max("n_tokens").cast("long").alias("n_tokens"),
            F.sum("is_start").cast("long").alias("n_spans"),
            F.sum("is_masked").cast("long").alias("n_masked"),
            F.expr("1000 * sum(is_masked) div max(n_tokens)")
            .cast("long")
            .alias("corruption_permille"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.sort_array(
                        F.collect_list(
                            F.when(F.col("is_masked") == 1, F.col("i"))
                        )
                    ),
                )
            ).alias("mask_md5"),
        ),
        "doc_id",
    )


# --- inference batching: padding waste of sorted vs arrival order -------
#
# Batch inference (embedding, scoring, generation prefill) pads every
# sequence in a batch to the batch max, so batch COMPOSITION is a real
# cost lever: length-sorted batching routinely cuts 30-60% of padded
# tokens vs arrival order. This operator quantifies that ROI on the
# corpus itself: documents are assigned to fixed-size batches under
# (a) arrival order (doc_id) and (b) length-sorted order, and each
# strategy reports its padded-token bill. Global ranks come from the
# shared two-stage distributed ranking (bucket table + broadcast
# triangular prefix offsets + per-bucket windows — bounded by the
# VALUE range, never row count), so the plan has no single-partition
# sort at any corpus size; all outputs are exact integers.

_BATCH_SIZE = 32

_PAD_SQL = f"""
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
ranked AS (
  SELECT doc_id, n_tokens,
         ROW_NUMBER() OVER (ORDER BY doc_id) AS r_arrival,
         ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) AS r_sorted
  FROM d
),
assigned AS (
  SELECT 'arrival' AS strategy, (r_arrival - 1) // {_BATCH_SIZE} AS batch_id,
         n_tokens
  FROM ranked
  UNION ALL
  SELECT 'sorted' AS strategy, (r_sorted - 1) // {_BATCH_SIZE} AS batch_id,
         n_tokens
  FROM ranked
),
batches AS (
  SELECT strategy, batch_id, COUNT(*) AS n_docs,
         MAX(n_tokens) AS max_tokens, SUM(n_tokens) AS real_tokens
  FROM assigned GROUP BY strategy, batch_id
)
SELECT strategy,
       CAST(COUNT(*) AS BIGINT) AS n_batches,
       CAST(SUM(real_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(max_tokens * n_docs) AS BIGINT) AS padded_tokens,
       CAST((1000 * (SUM(max_tokens * n_docs) - SUM(real_tokens)))
            // SUM(max_tokens * n_docs) AS BIGINT) AS waste_permille
FROM batches
GROUP BY strategy
ORDER BY strategy
"""


def _two_stage_rank(base: DataFrame, bucket_col, order_cols, out: str) -> DataFrame:
    """Global dense row-number via bucket offsets + per-bucket windows
    (the customers_gini_spend machinery, factored for reuse): adds
    column ``out`` = 1-based rank of ``order_cols`` lexicographic
    order, where ``bucket_col`` must be a coarsening of the first
    order column (bounded by its VALUE range)."""
    from pyspark.sql import Window

    bt = base.groupBy(bucket_col.alias("bkt")).agg(
        F.count(F.lit(1)).cast("long").alias("nb")
    )
    off = (
        bt.alias("a")
        .join(
            F.broadcast(
                bt.select(
                    F.col("bkt").alias("bkt_b"), F.col("nb").alias("nb_b")
                )
            ),
            F.col("bkt_b") < F.col("a.bkt"),
            "left",
        )
        .groupBy(F.col("a.bkt").alias("bkt"))
        .agg(
            F.coalesce(F.sum("nb_b"), F.lit(0)).cast("long").alias("bkt_off")
        )
    )
    w = Window.partitionBy("bkt").orderBy(*order_cols)
    return (
        base.withColumn("bkt", bucket_col)
        .join(off, "bkt")
        .withColumn(out, F.col("bkt_off") + F.row_number().over(w))
        .drop("bkt", "bkt_off")
    )


@register(
    "corpus_batch_padding_plan",
    _PAD_SQL,
    doc=f"Inference-batching ROI: documents assigned to "
    f"{_BATCH_SIZE}-doc batches under arrival order vs length-sorted "
    "order, each strategy billed for its padded tokens (every batch "
    "pads to its max length) — the measurement that justifies sorted "
    "batching before an embedding/scoring pass. Both global ranks use "
    "the shared two-stage distributed ranking (bucket table + "
    "broadcast triangular prefix offsets + per-bucket windows, "
    "bounded by the value range), so there is NO single-partition "
    "sort at any corpus size; the oracle states the same ranks with "
    "plain ROW_NUMBER. Exact integers end-to-end.",
)
def corpus_batch_padding_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    ranked = _two_stage_rank(
        d,
        F.floor(F.col("doc_id") / 1000).cast("long"),
        [F.col("doc_id")],
        "r_arrival",
    )
    ranked = _two_stage_rank(
        ranked,
        F.col("n_tokens").cast("long"),
        [F.col("n_tokens"), F.col("doc_id")],
        "r_sorted",
    )
    both = ranked.select(
        F.lit("arrival").alias("strategy"),
        F.expr(f"(r_arrival - 1) div {_BATCH_SIZE}").alias("batch_id"),
        "n_tokens",
    ).unionAll(
        ranked.select(
            F.lit("sorted").alias("strategy"),
            F.expr(f"(r_sorted - 1) div {_BATCH_SIZE}").alias("batch_id"),
            "n_tokens",
        )
    )
    batches = both.groupBy("strategy", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tokens").alias("max_tokens"),
        F.sum("n_tokens").alias("real_tokens"),
    )
    return ordered(
        batches.groupBy("strategy")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("real_tokens").cast("long").alias("total_tokens"),
            F.sum(F.col("max_tokens") * F.col("n_docs"))
            .cast("long")
            .alias("padded_tokens"),
        )
        .select(
            "strategy",
            "n_batches",
            "total_tokens",
            "padded_tokens",
            F.expr(
                "(1000 * (padded_tokens - total_tokens)) div padded_tokens"
            )
            .cast("long")
            .alias("waste_permille"),
        ),
        "strategy",
    )


# --- tokenizer vocab-coverage ladder -------------------------------------
#
# The tokenizer-sizing decision curve: what fraction of corpus tokens
# does a top-V word vocabulary cover, for a ladder of V? (vocab_oov_rate
# answers it for ONE fixed vocabulary; sizing needs the curve.) Global
# frequency ranks come from the shared two-stage distributed ranking —
# bucketed by the frequency VALUE, so no single-partition sort over the
# vocabulary exists at any corpus size — and the ladder evaluation is
# one conditional aggregate over the ranked type table. Exact integers
# throughout. The oracle states the same ranks with one ROW_NUMBER
# (freq DESC, word DESC — the exact reverse of the ascending two-stage
# order, so tie handling is identical by construction).

_VOCAB_LADDER = [1000, 2000, 4000, 8000]

_VOCAB_LADDER_SQL = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
freq AS (SELECT w, COUNT(*) AS freq FROM tok GROUP BY w),
tot AS (SELECT COUNT(*) AS n_types, SUM(freq) AS total FROM freq),
rk AS (
  SELECT w, freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, w DESC) AS dr
  FROM freq
),
lad AS (SELECT unnest({_VOCAB_LADDER}) AS vocab_size)
SELECT lad.vocab_size,
       CAST(SUM(CASE WHEN rk.dr <= lad.vocab_size THEN rk.freq ELSE 0 END)
            AS BIGINT) AS covered_tokens,
       CAST(MAX(tot.total) AS BIGINT) AS total_tokens,
       CAST((1000 * SUM(CASE WHEN rk.dr <= lad.vocab_size
                             THEN rk.freq ELSE 0 END))
            // MAX(tot.total) AS BIGINT) AS coverage_permille,
       CAST(GREATEST(MAX(tot.n_types) - lad.vocab_size, 0) AS BIGINT)
         AS oov_types
FROM lad CROSS JOIN rk CROSS JOIN tot
GROUP BY lad.vocab_size
ORDER BY lad.vocab_size
"""


@register(
    "tokenizer_vocab_coverage_ladder",
    _VOCAB_LADDER_SQL,
    doc=f"Tokenizer-sizing curve: corpus token coverage of a top-V "
    f"word vocabulary for V in {_VOCAB_LADDER} — the readout that "
    "decides vocabulary size before training (vocab_oov_rate is one "
    "point on this curve). Frequency ranks come from the shared "
    "two-stage distributed ranking (bucketed by the frequency VALUE, "
    "no single-partition vocabulary sort at any corpus size); the "
    "ladder evaluation is one conditional aggregate over the ranked "
    "type table. Exact integer permille; the oracle's single "
    "ROW_NUMBER (freq DESC, word DESC) is the exact reverse of the "
    "ascending two-stage order, so ties resolve identically.",
)
def tokenizer_vocab_coverage_ladder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = _two_stage_rank(
        freq,
        F.col("freq").cast("long"),
        [F.col("freq"), F.col("w")],
        "r",
    )
    tot = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("freq").cast("long").alias("total"),
    )
    lad = ranked.crossJoin(F.broadcast(tot)).select(  # 1-row scalar
        "freq",
        "r",
        "n_types",
        "total",
        F.explode(
            F.array(*[F.lit(v) for v in _VOCAB_LADDER])
        ).alias("vocab_size"),
    )
    # ascending rank r <=> descending rank n_types - r + 1; top-V by
    # frequency is r > n_types - V
    covered = F.sum(
        F.when(
            F.col("r") > F.col("n_types") - F.col("vocab_size"),
            F.col("freq"),
        ).otherwise(0)
    )
    return ordered(
        lad.groupBy("vocab_size")
        .agg(
            covered.cast("long").alias("covered_tokens"),
            F.max("total").cast("long").alias("total_tokens"),
            F.expr(
                "1000 * sum(CASE WHEN r > n_types - vocab_size"
                " THEN freq ELSE 0 END) div max(total)"
            )
            .cast("long")
            .alias("coverage_permille"),
            F.greatest(
                F.max("n_types") - F.col("vocab_size"), F.lit(0)
            )
            .cast("long")
            .alias("oov_types"),
        ),
        "vocab_size",
    )


# --- implicit-feedback negative sampling (recsys training pairs) --------
#
# Two-tower / matrix-factorization training on implicit feedback needs,
# per user, items they did NOT interact with — sampled negatives next
# to the observed positives. The pipeline requirements are exactly the
# corpus sampler's: DETERMINISTIC (re-runs and engines agree),
# collision-safe (a drawn candidate the user actually bought must be
# rejected, not mislabeled), and map-side (candidate generation never
# shuffles more than k rows per user). Candidates come from the
# content-stable md5(user:i) stream over the dense item-key space,
# positives are removed by an anti-join on (user, item), and the first
# k surviving draws (by draw index — the reproducible order) become
# the negatives, with the user's positive count carried for loss
# weighting.

_NEG_DRAWS = 12
_NEG_K = 4

_NEGSAMPLE_SQL = f"""
WITH pos AS (
  SELECT DISTINCT o_custkey AS custkey, l_partkey AS partkey
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
np AS (SELECT COUNT(*) AS p FROM part),
pc AS (SELECT custkey, COUNT(*) AS n_pos FROM pos GROUP BY custkey),
cand AS (
  SELECT custkey, i,
         -- 1 + (h %% p): the part catalog is 1-based [1, p], so the
         -- bare modulus [0, p-1] would emit nonexistent item 0 and
         -- never sample item p (round-7 advisory fix)
         1 + {md5_prefix_int_sql("custkey || ':' || i")} % (SELECT p FROM np)
           AS partkey
  FROM (SELECT DISTINCT custkey FROM pos) c,
       unnest(range(0, {_NEG_DRAWS})) AS t(i)
),
dd AS (
  SELECT custkey, partkey, MIN(i) AS i FROM cand GROUP BY custkey, partkey
),
neg AS (
  SELECT d.custkey, d.partkey, d.i
  FROM dd d
  LEFT JOIN pos p ON d.custkey = p.custkey AND d.partkey = p.partkey
  WHERE p.custkey IS NULL
)
SELECT n.custkey,
       CAST(rnk AS INT) AS neg_rank,
       CAST(n.partkey AS BIGINT) AS partkey,
       CAST(pc.n_pos AS BIGINT) AS n_pos
FROM (
  SELECT custkey, partkey, i,
         ROW_NUMBER() OVER (PARTITION BY custkey ORDER BY i) AS rnk
  FROM neg
) n
JOIN pc ON n.custkey = pc.custkey
WHERE rnk <= {_NEG_K}
ORDER BY n.custkey, neg_rank
"""


@register(
    "reco_negative_sampling",
    _NEGSAMPLE_SQL,
    doc=f"Implicit-feedback negative sampling for two-tower/MF "
    f"training: per purchasing customer, {_NEG_DRAWS} content-stable "
    "md5(user:draw) candidates over the dense item-key space, "
    "positives rejected by an anti-join on (user, item) — never "
    f"mislabeled — and the first {_NEG_K} surviving draws (by draw "
    "index, the reproducible order) become the negatives, with the "
    "user's positive count carried for loss weighting. Candidate "
    "generation is map-side (k rows per user, never the item "
    "catalog); the anti-join keys on (user, item) like the positives "
    "table itself — the plan a 100 TB interaction log needs. "
    "Engine-identical by construction: both sides draw from the same "
    "md5 stream.",
)
def reco_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders, lineitem, part = load_tables(
        spark, sf_dir, "orders", "lineitem", "part"
    )
    pos = (
        orders.join(
            lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .distinct()
    )
    np_ = part.agg(F.count(F.lit(1)).alias("p"))
    pc = pos.groupBy("custkey").agg(F.count(F.lit(1)).alias("n_pos"))
    cand = (
        pos.select("custkey")
        .distinct()
        .crossJoin(F.broadcast(np_))  # 1-row scalar: item-catalog size
        .select(
            "custkey",
            F.explode(
                F.sequence(F.lit(0), F.lit(_NEG_DRAWS - 1))
            ).alias("i"),
            "p",
        )
        .select(
            "custkey",
            "i",
            # 1 + (h % p) maps draws onto the actual 1-based part key
            # space [1, p] (mirrors the oracle; round-7 advisory fix)
            (
                hex_prefix_int(
                    F.md5(F.concat_ws(":", F.col("custkey"), F.col("i")))
                )
                % F.col("p")
                + 1
            ).alias("partkey"),
        )
    )
    dd = cand.groupBy("custkey", "partkey").agg(F.min("i").alias("i"))
    neg = dd.join(pos, ["custkey", "partkey"], "left_anti")
    w = Window.partitionBy("custkey").orderBy("i")
    return ordered(
        neg.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= _NEG_K)
        .join(pc, "custkey")
        .select(
            "custkey",
            F.col("neg_rank").cast("int").alias("neg_rank"),
            F.col("partkey").cast("long").alias("partkey"),
            F.col("n_pos").cast("long").alias("n_pos"),
        ),
        "custkey",
        "neg_rank",
    )


# --- canary scan (memorization / secret-sharer audit) --------------------
#
# Before training, teams plant or inventory CANARIES — distinctive
# substrings whose post-training extractability measures memorization
# (Carlini et al.'s secret sharer) — and the data side of that
# protocol is this scan: for every canary, how many corpus documents
# contain it verbatim? A canary seen once lives only in its source; a
# canary in several documents has already leaked through duplication,
# and its memorization odds (and the dedup pipeline's failure) scale
# with that count. Canaries here are deterministic mid-document
# extracts of every 97th doc (content-derived, so the scan provably
# finds at least the source); the scan is the corpus-scan x
# broadcast-needle-list shape — |canaries| bounded substring probes
# per document, one map pass at 100 TB, with Aho-Corasick in a pandas
# UDF as the documented many-needle upgrade.

_CANARY_STEP = 97
_CANARY_MAX_ID = 5000  # fixed canary universe: the needle list is O(1)
_CANARY_OFF = 17
_CANARY_LEN = 24

_CANARY_SQL = f"""
WITH canaries AS (
  SELECT doc_id AS canary_id,
         substr(text, {_CANARY_OFF}, {_CANARY_LEN}) AS needle
  FROM documents
  WHERE doc_id % {_CANARY_STEP} = 0 AND doc_id < {_CANARY_MAX_ID}
    AND length(text) >= {_CANARY_OFF + _CANARY_LEN}
),
hits AS (
  SELECT c.canary_id, c.needle, d.doc_id
  FROM canaries c JOIN documents d
    ON position(c.needle IN d.text) > 0
)
SELECT canary_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs_containing,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc,
       CAST(CASE WHEN COUNT(*) > 1 THEN 1 ELSE 0 END AS INT) AS leaked
FROM hits
GROUP BY canary_id
ORDER BY canary_id
"""


@register(
    "corpus_canary_scan",
    _CANARY_SQL,
    doc=f"Memorization-canary audit (the data half of the secret-sharer "
    "protocol): deterministic mid-document extracts of every "
    f"{_CANARY_STEP}th doc become needles, and the corpus is scanned "
    "for verbatim occurrences — a canary in one document lives only "
    "in its source, while a count above one means duplication has "
    "already spread it and its post-training extraction odds (and "
    "the dedup pipeline's miss) scale with that count. The scan is "
    "one corpus pass against a BROADCAST needle list (bounded "
    "substring probes per doc, no shuffle before the per-canary "
    "rollup). The canary universe is id-bounded because a planted "
"canary set is FIXED size — a corpus-proportional needle list "
"would make the scan quadratic (measured before the bound: 230 s "
"at 100x from 5k needles x 500k docs; after: the list is O(1) "
"and the scan one linear pass). For thousands of needles the "
"documented upgrade is "
    "Aho-Corasick in a mapInPandas pass — same plumbing, one "
    "automaton instead of per-needle probes.",
)
def corpus_canary_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    canaries = docs.where(
        (F.col("doc_id") % _CANARY_STEP == 0)
        & (F.col("doc_id") < _CANARY_MAX_ID)
        & (F.length("text") >= _CANARY_OFF + _CANARY_LEN)
    ).select(
        F.col("doc_id").alias("canary_id"),
        F.substring("text", _CANARY_OFF, _CANARY_LEN).alias("needle"),
    )
    hits = docs.join(
        F.broadcast(canaries),  # bounded: one canary per 97 docs
        F.expr("contains(text, needle)"),
    )
    return ordered(
        hits.groupBy("canary_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_containing"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
            F.when(F.count(F.lit(1)) > 1, 1)
            .otherwise(0)
            .cast("int")
            .alias("leaked"),
        ),
        "canary_id",
    )


# --- many-needle canary scan: Aho-Corasick over mapInPandas ---------------
#
# corpus_canary_scan's documented upgrade, now a registered face: when
# the needle list grows into the thousands (benchmark-contamination
# string sets, large planted-canary universes), per-needle contains()
# probes cost O(K * len) per document; an Aho-Corasick automaton costs
# O(len + hits) per document REGARDLESS of K. The automaton is built
# once per partition from the broadcast needle list (needles are a
# FIXED universe — one per 29 ids under an id cap — so the broadcast
# and the bounded driver collect are O(1) in corpus size), and the
# corpus makes exactly one mapInPandas pass: Arrow batches in, (canary
# hit) pairs out, then the same per-canary rollup as the contains()
# face. The JVM contains() join wins at tens of needles (no Python
# crossing); this face is the documented route when K is large — both
# hash-match the same oracle family, so the trade is purely a cost
# choice.

_CANARY_MANY_STEP = 29
_CANARY_MANY_MAX_ID = 20000  # fixed universe: needle list is O(1)

_CANARY_MANY_SQL = f"""
WITH canaries AS (
  SELECT doc_id AS canary_id,
         substr(text, {_CANARY_OFF}, {_CANARY_LEN}) AS needle
  FROM documents
  WHERE doc_id % {_CANARY_MANY_STEP} = 0 AND doc_id < {_CANARY_MANY_MAX_ID}
    AND length(text) >= {_CANARY_OFF + _CANARY_LEN}
),
hits AS (
  SELECT c.canary_id, d.doc_id
  FROM canaries c JOIN documents d
    ON position(c.needle IN d.text) > 0
)
SELECT canary_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs_containing,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc,
       CAST(CASE WHEN COUNT(*) > 1 THEN 1 ELSE 0 END AS INT) AS leaked
FROM hits
GROUP BY canary_id
ORDER BY canary_id
"""


def _aho_corasick(needles: list[tuple[int, str]]):
    """Build an Aho-Corasick automaton: returns (goto, fail, out) with
    goto as list[dict[ch -> state]], fail as list[int], out as
    list[list[int]] of needle ids terminating at each state. Pure
    Python, built once per partition from the broadcast needle list."""
    goto: list[dict] = [{}]
    out: list[list[int]] = [[]]
    for nid, pat in needles:
        s = 0
        for ch in pat:
            if ch not in goto[s]:
                goto.append({})
                out.append([])
                goto[s][ch] = len(goto) - 1
            s = goto[s][ch]
        out[s].append(nid)
    fail = [0] * len(goto)
    from collections import deque

    q = deque()
    for s in goto[0].values():
        q.append(s)
    while q:
        r = q.popleft()
        for ch, s in goto[r].items():
            q.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[s] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != s else 0
            out[s].extend(out[fail[s]])
    return goto, fail, out


@register(
    "corpus_canary_scan_many",
    _CANARY_MANY_SQL,
    doc="Many-needle canary scan — corpus_canary_scan's documented "
    f"Aho-Corasick upgrade as a first-class face: one needle per "
    f"{_CANARY_MANY_STEP} ids under a fixed id cap (O(1) universe), "
    "automaton built once per partition from the broadcast list, one "
    "mapInPandas corpus pass at O(len + hits) per document regardless "
    "of needle count (the contains() face pays O(K*len)). Same "
    "per-canary leak rollup and oracle family as the contains() face; "
    "the hash match proves the automaton finds exactly the verbatim "
    "occurrence set. The bounded driver collect is the fixed needle "
    "universe, never corpus-scaled.",
)
def corpus_canary_scan_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StructField, StructType

    (docs,) = load_tables(spark, sf_dir, "documents")
    canaries = [
        (int(r.canary_id), r.needle)
        for r in docs.where(
            (F.col("doc_id") % _CANARY_MANY_STEP == 0)
            & (F.col("doc_id") < _CANARY_MANY_MAX_ID)
            & (F.length("text") >= _CANARY_OFF + _CANARY_LEN)
        )
        .select(
            F.col("doc_id").alias("canary_id"),
            F.substring("text", _CANARY_OFF, _CANARY_LEN).alias("needle"),
        )
        .collect()  # bounded: fixed canary universe, O(1) in corpus size
    ]
    bc = spark.sparkContext.broadcast(canaries)
    hit_schema = StructType(
        [
            StructField("canary_id", LongType()),
            StructField("doc_id", LongType()),
        ]
    )

    def scan(batches):
        import pandas as pd  # worker-side

        goto, fail, out = _aho_corasick(bc.value)
        for pdf in batches:
            ids: list[int] = []
            cids: list[int] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                s = 0
                seen: set[int] = set()
                for ch in text:
                    while s and ch not in goto[s]:
                        s = fail[s]
                    s = goto[s].get(ch, 0)
                    if out[s]:
                        seen.update(out[s])
                for cid in seen:
                    ids.append(int(doc_id))
                    cids.append(cid)
            yield pd.DataFrame({"canary_id": cids, "doc_id": ids})

    hits = spread(docs).select("doc_id", "text").mapInPandas(
        scan, hit_schema
    )
    return ordered(
        hits.groupBy("canary_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_containing"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
            F.when(F.count(F.lit(1)) > 1, 1)
            .otherwise(0)
            .cast("int")
            .alias("leaked"),
        ),
        "canary_id",
    )


# --- dataset datasheet (the data card) ------------------------------------
#
# Datasheets for Datasets (Gebru et al.) is the artifact a dataset
# release ships: per slice, how much is there, how long is it, how
# duplicated, how contaminated with PII. Every constituent here reuses
# a registered operator's exact semantics — whitespace tokens
# (text_stats), md5 exact-dup groups (dedup_exact), the deterministic
# PII enrichment text_pii_redact scrubs (so PII rows provably exist) —
# composed into one (lang, source) summary: the single table a
# reviewer reads before anything trains on the corpus. Two passes
# (a global dup-hash aggregate + the slice rollup), all exact
# integers; the datasheet is the cheap-by-construction artifact even
# at 100 TB because it rides aggregations the pipeline runs anyway.

_DATASHEET_SQL = f"""
WITH enriched AS (
  SELECT doc_id, lang, source,
         {_ENRICH_SQL.replace("STRING", "VARCHAR")} AS body,
         length(string_split(text, ' ')) AS n_tokens,
         n_chars
  FROM documents
),
dups AS (
  SELECT md5(text) AS h, COUNT(*) AS n FROM documents GROUP BY md5(text)
),
flagged AS (
  SELECT e.*,
         CASE WHEN d.n > 1 THEN 1 ELSE 0 END AS is_dup,
         CASE WHEN regexp_matches(e.body, '{_EMAIL_RE}')
                OR regexp_matches(e.body, '{_IPV4_RE}')
              THEN 1 ELSE 0 END AS has_pii
  FROM enriched e
  JOIN documents doc ON e.doc_id = doc.doc_id
  JOIN dups d ON md5(doc.text) = d.h
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
       CAST(SUM(has_pii) AS BIGINT) AS n_pii_docs,
       CAST((1000 * SUM(is_dup)) // COUNT(*) AS BIGINT) AS dup_permille,
       CAST((1000 * SUM(has_pii)) // COUNT(*) AS BIGINT) AS pii_permille
FROM flagged
GROUP BY lang, source
ORDER BY lang, source
"""


@register(
    "corpus_datasheet",
    _DATASHEET_SQL,
    doc="The dataset datasheet (Gebru et al.'s data card) as one "
    "query: per (lang, source) slice — document and token volume, "
    "length range, exact-duplicate membership rate (md5 groups, "
    "dedup_exact's semantics), and PII incidence over the same "
    "deterministic enrichment text_pii_redact scrubs — the release "
    "artifact a reviewer reads before anything trains. Two passes "
    "(global dup-hash aggregate joined back + the slice rollup), "
    "exact integers and integer permille throughout; every "
    "constituent reuses a registered operator's semantics so the "
    "datasheet can never drift from the pipeline it documents.",
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    dups = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    body = F.expr(_ENRICH_SQL)
    has_pii = (
        (F.regexp_count(body, F.lit(_EMAIL_RE)) > 0)
        | (F.regexp_count(body, F.lit(_IPV4_RE)) > 0)
    ).cast("int")
    flagged = (
        docs.withColumn("h", F.md5("text"))
        .join(dups, "h")
        .select(
            "lang",
            "source",
            F.size(F.split("text", " ")).alias("n_tokens"),
            "n_chars",
            F.when(F.col("n") > 1, 1).otherwise(0).alias("is_dup"),
            has_pii.alias("has_pii"),
        )
    )
    return ordered(
        flagged.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.sum("is_dup").cast("long").alias("n_dup_docs"),
            F.sum("has_pii").cast("long").alias("n_pii_docs"),
            F.expr("(1000 * sum(is_dup)) div count(*)")
            .cast("long")
            .alias("dup_permille"),
            F.expr("(1000 * sum(has_pii)) div count(*)")
            .cast("long")
            .alias("pii_permille"),
        ),
        "lang",
        "source",
    )
