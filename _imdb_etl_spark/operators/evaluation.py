"""Classifier-evaluation operators — the measurement face of a quality
pipeline: rank-based AUC (Mann-Whitney) and a precision/recall curve
for a deterministic document score against the shared quality gate.

A curation stack that trains quality filters (quality_logreg_scorecard)
needs the evaluation half to be a first-class distributed operator too:
AUC and PR curves over 100 TB of scored documents, not a scikit call on
a driver-side sample.

Absent from the reference (its SQL never scores text); part of the
LLM-data-pipeline surface alongside operators/corpus.py.

Scale posture (100 TB):
- The score is an integer permille (0..1000), so the per-score
  aggregation — ONE hash-agg shuffle over the corpus — reduces
  everything downstream to <= 1001 rows. The cumulative windows run
  over that bounded table behind an explicit ``orderBy().limit(1001)``
  (compiles to TakeOrderedAndProject, same pattern as vocab_top_words:
  the single-task window is benign because its input is bounded by
  construction, and the limit makes the bound part of the plan).
- All arithmetic stays in exact integers until the final division
  (2*U is an integer; so are tp/fp cumulative counts), so the oracle
  comparison is exact — no float accumulation anywhere. The 2U terms
  are pair COUNTS (np_s * nn-mass), quadratic in corpus size, so they
  accumulate in DECIMAL(38,0) on the Spark side and HUGEINT in the
  oracle — exact past 10^18 where a bigint product would wrap.

AUC formula (Mann-Whitney with tie correction): for score groups s with
pos/neg counts np_s/nn_s and cum_nn_s = negatives strictly below s,
    U  = sum_s np_s * (cum_nn_s + nn_s / 2)
    AUC = U / (n_pos * n_neg)
computed as 2U (integer) / (2 * n_pos * n_neg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import ordered
from _imdb_etl_spark.operators.text import (
    _STOPWORDS,
    QUALITY_GATE_SQL,
    quality_gate_col,
)
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables

# score domain: integer stopword permille — bounded 0..1000 by
# construction, which is what keeps every post-aggregation stage tiny
_MAX_SCORES = 1001

_SW_IN = ", ".join(f"'{w}'" for w in _STOPWORDS)

_FEATS_SQL = f"""
  SELECT 1000 * len(list_filter(string_split(text, ' '), x -> x IN ({_SW_IN})))
           // len(string_split(text, ' ')) AS score,
         CASE WHEN {QUALITY_GATE_SQL} THEN 1 ELSE 0 END AS y
  FROM documents
  WHERE text IS NOT NULL
"""

_AUC_SQL = f"""
WITH feats AS ({_FEATS_SQL}),
g AS (
  SELECT score, SUM(y) AS np, SUM(1 - y) AS nn FROM feats GROUP BY score
),
c AS (
  SELECT np, nn,
         COALESCE(SUM(nn) OVER (ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
  FROM g
)
SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
       CAST(SUM(nn) AS BIGINT) AS n_neg,
       COUNT(*) AS n_scores,
       CASE WHEN SUM(np) = 0 OR SUM(nn) = 0 THEN NULL
            ELSE ROUND(
              CAST(SUM(CAST(np AS HUGEINT) * (2 * cum_nn + nn)) AS DOUBLE)
              / (2.0 * SUM(np) * SUM(nn)), 6)
       END AS auc
FROM c
"""


def _score_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(score, np, nn) per distinct stopword-permille score — the one
    corpus-wide shuffle both evaluation queries share."""
    (docs,) = load_tables(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))

    # NULL text would mint a NULL score group — a 1002nd group outside
    # the _MAX_SCORES bound, ordered OPPOSITE ways by the two engines'
    # windows. A NULL document has no stopword permille: excluded, in
    # both engines (WHERE text IS NOT NULL in the oracle).
    feats = (
        docs.where(F.col("text").isNotNull())
        .select(
            n_stop.alias("n_stop"),
            F.size(toks).alias("n_tok"),
            F.when(quality_gate_col(), 1).otherwise(0).alias("y"),
        )
        .select(F.expr("1000 * n_stop div n_tok").alias("score"), "y")
    )
    return feats.groupBy("score").agg(
        F.sum("y").alias("np"), F.sum(F.lit(1) - F.col("y")).alias("nn")
    )


@register(
    "quality_score_auc",
    _AUC_SQL,
    doc="Distributed rank-based AUC (Mann-Whitney with tie correction) "
    "of the stopword-permille score against the shared quality gate: "
    "one corpus hash-agg to <= 1001 integer score groups, a cumulative "
    "window over the bounded group table (explicit limit => "
    "TakeOrderedAndProject, no exchange funnel), and exact-integer 2U "
    "until the single final division. The evaluation half of the "
    "supervised quality family (training: quality_logreg_scorecard).",
)
def quality_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _score_groups(spark, sf_dir)
    # bounded: score is an integer permille, <= 1001 distinct values;
    # the limit encodes that bound in the plan (TakeOrderedAndProject)
    bounded = g.orderBy("score").limit(_MAX_SCORES)
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = bounded.select(
        "np", "nn", F.coalesce(F.sum("nn").over(w), F.lit(0)).alias("cum_nn")
    )
    # 2U terms are pair counts — quadratic in corpus size — so they
    # multiply and accumulate in decimal (18+19+1 = 38 digits, exact
    # to 1e38; a bigint product wraps past ~3e9 docs per class).
    # DuckDB's twin widens through HUGEINT. The denominator is double
    # in BOTH engines (the 2.0 literal), identical rounding.
    two_u = F.sum(
        F.col("np").cast("decimal(18,0)")
        * (F.lit(2) * F.col("cum_nn") + F.col("nn")).cast("decimal(19,0)")
    )
    denom = (
        F.lit(2.0)
        * F.sum("np").cast("double")
        * F.sum("nn").cast("double")
    )
    # degenerate single-class corpus (a real occurrence on the salted
    # sf1 scale-up, where every replica passes the gate): AUC is
    # undefined — NULL in both engines, never a divide-by-zero
    return c.agg(
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        F.count(F.lit(1)).alias("n_scores"),
        F.when(
            (F.sum("np") > 0) & (F.sum("nn") > 0),
            F.round(two_u.cast("double") / denom, 6),
        ).alias("auc"),
    )


_PR_SQL = f"""
WITH feats AS ({_FEATS_SQL}),
g AS (
  SELECT score, SUM(y) AS np, SUM(1 - y) AS nn FROM feats GROUP BY score
),
tot AS (SELECT SUM(np) AS total_pos FROM g),
c AS (
  SELECT score, np, nn,
         SUM(np) OVER (ORDER BY score DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         SUM(np + nn) OVER (ORDER BY score DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_pred
  FROM g
)
SELECT CAST(c.score AS BIGINT) AS threshold,
       CAST(c.n_pred AS BIGINT) AS n_pred_pos,
       CAST(c.tp AS BIGINT) AS tp,
       CAST(1000 * c.tp // c.n_pred AS BIGINT) AS precision_permille,
       CAST(CASE WHEN t.total_pos = 0 THEN NULL
                 ELSE 1000 * c.tp // t.total_pos END AS BIGINT)
         AS recall_permille
FROM c CROSS JOIN tot t
ORDER BY threshold
"""


@register(
    "quality_pr_curve",
    _PR_SQL,
    doc="Precision/recall curve for the stopword-permille score vs the "
    "quality gate, one point per distinct observed threshold (predict "
    "positive at score >= t): cumulative tp / predicted-positive "
    "windows over the <= 1001-row bounded score-group table, total "
    "positives as a broadcast scalar, exact integer permille — no "
    "float anywhere. The operating-point picker next to "
    "quality_score_auc's single ranking number.",
)
def quality_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _score_groups(spark, sf_dir)
    # bounded: integer permille domain, <= 1001 rows (see module doc)
    bounded = g.orderBy(F.desc("score")).limit(_MAX_SCORES)
    w = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    # total positives as an unbounded frame over the SAME bounded
    # table (not a separate g.agg(), which would re-run the whole
    # corpus scan lineage a second time)
    w_all = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = bounded.select(
        "score",
        F.sum("np").over(w).alias("tp"),
        F.sum(F.col("np") + F.col("nn")).over(w).alias("n_pred"),
        F.sum("np").over(w_all).alias("total_pos"),
    )
    return ordered(
        c.select(
            F.col("score").alias("threshold"),
            F.col("n_pred").alias("n_pred_pos"),
            "tp",
            F.expr("1000 * tp div n_pred").alias("precision_permille"),
            # no-positive corpus: recall undefined, NULL in both engines
            F.expr(
                "CASE WHEN total_pos = 0 THEN NULL"
                " ELSE 1000 * tp div total_pos END"
            ).alias("recall_permille"),
        ),
        "threshold",
    )


_CALIB_SQL = f"""
WITH feats AS ({_FEATS_SQL}),
g AS (
  SELECT score, SUM(y) AS np, SUM(1 - y) AS nn FROM feats GROUP BY score
),
b AS (
  SELECT LEAST(score // 100, 9) AS bin_id,
         SUM(np + nn) AS n_docs,
         SUM(np) AS n_pos,
         SUM(score * (np + nn)) AS score_mass
  FROM g
  GROUP BY LEAST(score // 100, 9)
)
SELECT CAST(bin_id AS BIGINT) AS bin_id,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(score_mass // n_docs AS BIGINT) AS mean_score_permille,
       CAST(1000 * n_pos // n_docs AS BIGINT) AS pos_rate_permille,
       CAST(ABS(score_mass // n_docs - 1000 * n_pos // n_docs) AS BIGINT)
         AS gap_permille
FROM b
ORDER BY bin_id
"""


@register(
    "quality_calibration_bins",
    _CALIB_SQL,
    doc="Calibration audit of the stopword-permille score against the "
    "quality gate (the reliability-diagram table behind an ECE "
    "number): ten equal-width score deciles, per-bin empirical "
    "positive rate vs mean score, exact-integer permille throughout — "
    "the over/under-confidence readout a probability-interpreted "
    "quality filter needs before its threshold is trusted. Composes "
    "on the shared <= 1001-row score-group table (one corpus "
    "hash-agg, same exchange as AUC/PR); the bin rollup is 10 rows. "
    "ECE = sum(n_docs * gap_permille) / N over this output.",
)
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _score_groups(spark, sf_dir)
    b = g.groupBy(
        F.least(F.expr("score div 100"), F.lit(9)).alias("bin_id")
    ).agg(
        F.sum(F.col("np") + F.col("nn")).alias("n_docs"),
        F.sum("np").alias("n_pos"),
        F.sum(F.col("score") * (F.col("np") + F.col("nn"))).alias(
            "score_mass"
        ),
    )
    mean_score = F.expr("score_mass div n_docs")
    pos_rate = F.expr("1000 * n_pos div n_docs")
    return ordered(
        b.select(
            "bin_id",
            "n_docs",
            "n_pos",
            mean_score.alias("mean_score_permille"),
            pos_rate.alias("pos_rate_permille"),
            F.abs(mean_score - pos_rate).alias("gap_permille"),
        ),
        "bin_id",
    )
