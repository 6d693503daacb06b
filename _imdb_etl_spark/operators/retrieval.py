"""Retrieval operators — the search-engine face of a corpus pipeline:
BM25 ranked retrieval over an inverted term index, and a bigram
language-model fluency score (the KenLM-style perplexity filter that
sits next to the unigram one in a real pretraining data stack).

Absent from the reference (its SQL never tokenizes text); mandated by
the LLM-data-pipeline surface alongside operators/corpus.py.

Scale posture (100 TB):
- ``text_bm25_search`` never materializes a full inverted index for
  scoring: the query-term list is a literal broadcast, so the token
  stream is filtered DOWN to query-term postings before any shuffle.
  Document lengths and corpus stats come from one token aggregation
  (the same shuffle a real indexer already pays); df/avgdl are
  by-construction tiny (|query| rows / 1 row) and broadcast back.
  The final top-k is TakeOrderedAndProject — no global sort.
- ``text_bigram_lm_score`` trains and scores in two shuffles: bigrams
  are formed with a per-document window (docs are the natural
  partition key — never a global window), the bigram/context count
  tables are vocabulary-bounded (small by construction next to the
  corpus), and AQE broadcasts them back onto the bigram stream.

Oracle-parity notes: scores are ln-based float64 sums rounded to 6
places after accumulation (established float policy); top-k orders by
the ROUNDED score then doc_id so tie order is engine-independent.
"""

from __future__ import annotations

from collections.abc import Iterator  # module-level: pandas_udf
import pandas as pd  # resolves postponed type hints here

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import doc_permille_bucket, md5_prefix_int_sql, ordered
from _imdb_etl_spark.operators.similarity import _cos_sql, _cosine
from _imdb_etl_spark.operators.webcorpus import _BUCKET_SQL
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables, stage_sorted, stage_to_parquet

# BM25 constants (the Lucene defaults) and a fixed query: literals so
# both engines see identical plans. idf uses the non-negative Lucene
# form ln(1 + (N - df + 0.5) / (df + 0.5)).
_K1 = 1.2
_B = 0.75
_QUERY_TERMS = ("vector", "merge", "scan")
_TOP_K = 20

_BM25_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
dl AS (
  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl
),
q(w) AS (VALUES {", ".join(f"('{t}')" for t in _QUERY_TERMS)}),
df AS (
  SELECT w, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM toks JOIN q USING (w) GROUP BY w
),
tf AS (
  SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM toks JOIN q USING (w) GROUP BY doc_id, w
),
scored AS (
  SELECT tf.doc_id,
         SUM(
           ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
           * tf.tf * ({_K1} + 1)
           / (tf.tf + {_K1} * (1 - {_B} + {_B} * dl.dl / s.avgdl))
         ) AS score
  FROM tf
  JOIN df USING (w)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, ROUND(score, 6) AS bm25
FROM scored
ORDER BY bm25 DESC, doc_id
LIMIT {_TOP_K}
"""


@register(
    "text_bm25_search",
    _BM25_SQL,
    doc="BM25 ranked retrieval (Lucene idf/tf form, k1=1.2 b=0.75) for "
    "a fixed query over the documents table: postings are the token "
    "stream FILTERED to the broadcast query-term list before any "
    "shuffle, document length and corpus stats come from one token "
    "aggregation, and the top-k is TakeOrderedAndProject (no global "
    "sort). Ties order by (rounded score, doc_id) in both engines.",
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    dl = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
    )
    qtoks = toks.where(F.col("w").isin(*_QUERY_TERMS))
    df = qtoks.groupBy("w").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    tf = qtoks.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") + F.lit(_K1) * (
        F.lit(1 - _B) + F.lit(_B) * F.col("dl") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(df), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))  # 1-row scalar: bounded, safe hint
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(idf * F.col("tf") * F.lit(_K1 + 1) / norm), 6
            ).alias("bm25")
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_TOP_K)
    )


# --- bigram language model ------------------------------------------
#
# Add-k smoothed bigram LM trained on the corpus itself, scoring each
# document's mean bigram log-probability:
#   P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k*V)
# with k = 0.5 and V = |unigram vocabulary|. Context counts c(w1) are
# total unigram occurrences (including document-final tokens) — stated
# so both engines share one definition.
_LM_K = 0.5

_BIGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, pos, w FROM (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
  )
),
bigrams AS (
  SELECT doc_id, w AS w1,
         LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM toks
),
pairs AS (
  SELECT doc_id, w1, w2 FROM bigrams WHERE w2 IS NOT NULL
),
c2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c2 FROM pairs GROUP BY w1, w2
),
c1 AS (
  SELECT w AS w1, CAST(COUNT(*) AS DOUBLE) AS c1 FROM toks GROUP BY w
),
v AS (
  SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v FROM toks
)
SELECT p.doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(AVG(ln((c2.c2 + {_LM_K}) / (c1.c1 + {_LM_K} * v.v))), 6)
         AS avg_bigram_logprob
FROM pairs p
JOIN c2 USING (w1, w2)
JOIN c1 USING (w1)
CROSS JOIN v
GROUP BY p.doc_id
ORDER BY p.doc_id
"""


@register(
    "text_bigram_lm_score",
    _BIGRAM_SQL,
    doc="KenLM-style fluency filter: an add-k smoothed bigram LM "
    "trained on the corpus scores each document's mean bigram "
    "log-probability. Bigrams form under a per-document window (never "
    "global); the count tables are vocabulary-bounded and broadcast "
    "back by AQE. Two shuffles total beyond the token stream.",
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"),
    )
    # per-document window: partitioned by doc_id, no global ordering
    nxt = F.lead("w").over(Window.partitionBy("doc_id").orderBy("pos"))
    pairs = (
        toks.select("doc_id", F.col("w").alias("w1"), nxt.alias("w2"))
        .where(F.col("w2").isNotNull())
    )
    c2 = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("c2")
    )
    c1 = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("c1")
    ).withColumnRenamed("w", "w1")
    v = toks.agg(F.countDistinct("w").cast("double").alias("v"))
    logp = F.ln(
        (F.col("c2") + F.lit(_LM_K))
        / (F.col("c1") + F.lit(_LM_K) * F.col("v"))
    )
    return ordered(
        pairs.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))  # 1-row scalar: bounded, safe hint
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(logp), 6).alias("avg_bigram_logprob"),
        ),
        "doc_id",
    )


# --- TF-IDF keyword extraction ---------------------------------------
#
# Per-document top-k characteristic terms by tf-idf — the tagging /
# routing signal next to BM25's ranked retrieval. Ranking happens on
# the ROUNDED score (quantize-before-rank): raw ln products can differ
# by 1 ulp across engines, the 1e-6 grid cannot, so tie order is
# engine-independent (term asc breaks exact ties).

_TFIDF_TOP = 3

_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
tf AS (
  SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM toks GROUP BY doc_id, w
),
df AS (
  SELECT w, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM toks GROUP BY w
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.w,
         ROUND(tf.tf * ln(n.n / df.df), 6) AS tfidf
  FROM tf JOIN df USING (w) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, w AS term, tfidf,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, w) AS term_rank
  FROM scored
)
SELECT doc_id, term_rank, term, tfidf
FROM ranked WHERE term_rank <= {_TFIDF_TOP}
ORDER BY doc_id, term_rank
"""


@register(
    "text_tfidf_keywords",
    _TFIDF_SQL,
    doc=f"Per-document top-{_TFIDF_TOP} keywords by tf-idf: one token "
    "shuffle feeds both the tf and vocabulary-bounded df tables, the "
    "scalar N broadcasts, and the per-document ROW_NUMBER window rides "
    "WindowGroupLimit (rank filter <= k). Scores rank on the rounded "
    "value so tie order is engine-independent.",
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    tf = toks.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    # df derived FROM tf, not from a second pass over the token stream
    # (round 13, the vocab_oov_rate single-scan shape, guide §2.3/§2.4):
    # tf holds exactly one row per (doc_id, w), so COUNT(*) per w over
    # tf IS COUNT(DISTINCT doc_id) over toks — algebraically identical,
    # pure integers. The corpus is scanned + exploded ONCE (tf's
    # identical exchange subtree is reused at runtime) instead of
    # twice, and the old distinct-aggregate's second token-stream
    # exchange disappears.
    df = tf.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = (
        tf.join(df, "w")
        .crossJoin(F.broadcast(n))  # 1-row scalar: bounded, safe hint
        .select(
            "doc_id",
            F.col("w").alias("term"),
            F.round(F.col("tf") * F.ln(F.col("n") / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return ordered(
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= _TFIDF_TOP)
        .select("doc_id", "term_rank", "term", "tfidf"),
        "doc_id",
        "term_rank",
    )


# --- n-gram novelty scoring ------------------------------------------
#
# Memorization/novelty audit: how much of each document's trigram mass
# appeared EARLIER in the corpus (by doc_id ingestion order)? The
# per-trigram first-seen table (min doc_id) is one hash-agg shuffle,
# joined back onto the trigram stream; a trigram is novel for the doc
# that introduced it. High repeated-mass docs are the templated /
# boilerplate tail a curation pass down-weights. Exact integer
# permille — no float drift.

_NOVELTY_SQL = """
WITH toks AS (
  SELECT doc_id, w, pos FROM (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
  )
),
grams AS (
  SELECT doc_id,
         w || ' ' || LEAD(w, 1) OVER win || ' ' || LEAD(w, 2) OVER win AS g
  FROM toks
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY g IS NOT NULL
),
first_seen AS (
  SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
)
SELECT gr.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN f.first_doc < gr.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_seen_before,
       CAST((1000 * SUM(CASE WHEN f.first_doc < gr.doc_id THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS repeated_permille
FROM grams gr JOIN first_seen f USING (g)
GROUP BY gr.doc_id
ORDER BY gr.doc_id
"""


@register(
    "corpus_ngram_novelty",
    _NOVELTY_SQL,
    doc="Trigram novelty audit in ingestion order: the per-trigram "
    "first-seen table (one hash-agg shuffle, MIN(doc_id)) joins back "
    "onto the trigram stream, and each document reports how much of "
    "its trigram mass appeared in earlier documents — the "
    "memorization / templated-boilerplate signal. Exact integer "
    "permille, no float.",
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    g = F.concat_ws(
        " ", F.col("w"), F.lead("w", 1).over(win), F.lead("w", 2).over(win)
    )
    # concat_ws skips NULLs, so guard on the last lead being present
    grams = (
        toks.select(
            "doc_id", g.alias("g"), F.lead("w", 2).over(win).alias("w2")
        )
        .where(F.col("w2").isNotNull())
        .drop("w2")
    )
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    seen = F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
    return ordered(
        grams.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(seen).alias("n_seen_before"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_seen_before",
            F.expr("1000 * n_seen_before div n_grams").alias(
                "repeated_permille"
            ),
        ),
        "doc_id",
    )


# --- unigram entropy profile -----------------------------------------
#
# Per-document Shannon entropy of the doc's OWN unigram distribution —
# the compressibility proxy: low entropy flags repetitive/templated
# text, high entropy flags word salad; both tails get filtered. One
# (doc, word) aggregation, then a per-doc sum — entropy terms
# accumulate in float64 and round(6) absorbs summation-order drift
# (established policy).

_ENTROPY_SQL = """
WITH tf AS (
  SELECT doc_id, w, COUNT(*) AS c FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) GROUP BY doc_id, w
),
dl AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n FROM tf GROUP BY doc_id)
SELECT tf.doc_id,
       CAST(dl.n AS BIGINT) AS n_tokens,
       COUNT(*) AS n_distinct,
       ROUND(-SUM((tf.c / dl.n) * ln(tf.c / dl.n)), 6) AS entropy_nats
FROM tf JOIN dl USING (doc_id)
GROUP BY tf.doc_id, dl.n
ORDER BY tf.doc_id
"""


@register(
    "corpus_entropy_profile",
    _ENTROPY_SQL,
    doc="Per-document unigram Shannon entropy (nats) — the "
    "compressibility proxy whose low tail is templated text and high "
    "tail is word salad. One (doc, word) count shuffle reused for "
    "doc length; entropy terms sum in float64 under round(6).",
)
def corpus_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("c").cast("double").alias("n"))
    p = F.col("c") / F.col("n")
    return ordered(
        tf.join(dl, "doc_id")
        .groupBy("doc_id", "n")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(-F.sum(p * F.ln(p)), 6).alias("entropy_nats"),
        )
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_tokens"),
            "n_distinct",
            "entropy_nats",
        ),
        "doc_id",
    )


# --- batch-inference embedding (iterator pandas UDF) -----------------
#
# The batch-inference serving pattern every embedding/classifier
# pipeline runs at 100 TB: a SCALAR_ITER pandas UDF receives an
# iterator of Arrow batches per task, so the model loads ONCE per task
# and amortizes across every batch (the per-row/per-batch reload is
# the classic Python-UDF performance bug). The "model" here is a
# deterministic md5-derived 8-dim encoder, so DuckDB can replay the
# exact floats and the whole inference path — Arrow transfer, batch
# iteration, array column assembly — is value-hash-checked, not just
# smoke-tested. Real deployments swap _load_encoder for the real
# checkpoint; the Spark-side plumbing is identical.

_EMBED_DIM = 8


def _embed_component_sql(j: int) -> str:
    salted = f"text || '_{j}'"
    return f"(CAST({md5_prefix_int_sql(salted)} AS DOUBLE) / 65535 - 0.5)"


_EMBED_SQL = f"""
WITH e AS (
  SELECT doc_id,
         {", ".join(f"{_embed_component_sql(j)} AS e{j}" for j in range(_EMBED_DIM))}
  FROM documents
)
SELECT doc_id,
       ROUND(sqrt({" + ".join(f"e{j} * e{j}" for j in range(_EMBED_DIM))}), 6)
         AS emb_norm,
       ROUND(e0, 6) AS e0,
       ROUND(e1, 6) AS e1
FROM e
ORDER BY doc_id
"""


@register(
    "text_embed_batch_inference",
    _EMBED_SQL,
    doc="Batch-inference embedding via a SCALAR_ITER pandas UDF: the "
    "encoder loads once per task and amortizes across every Arrow "
    "batch (the serving pattern for model inference over a corpus; "
    "per-batch reload is the classic Python-UDF bug). The encoder is "
    "md5-derived so the oracle replays the exact floats — the Arrow "
    "transfer and batch iteration are value-hash-checked end to end.",
)
def text_embed_batch_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # "model load" happens HERE — once per task, not per batch/row
        import hashlib

        def encode(text: str) -> list[float]:
            out = []
            for j in range(_EMBED_DIM):
                h = hashlib.md5(f"{text}_{j}".encode()).hexdigest()
                out.append(int(h[:4], 16) / 65535 - 0.5)
            return out

        for s in batches:
            yield s.map(encode)

    (docs,) = load_tables(spark, sf_dir, "documents")
    e = F.col("emb")
    norm = F.sqrt(
        F.aggregate(
            F.zip_with(e, e, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    out = docs.select("doc_id", embed("text").alias("emb")).select(
        "doc_id",
        F.round(norm, 6).alias("emb_norm"),
        F.round(e[0], 6).alias("e0"),
        F.round(e[1], 6).alias("e1"),
    )
    return stage_sorted(out, "embed_infer", "doc_id")


# --- hybrid retrieval: reciprocal rank fusion -------------------------
#
# The retrieval stack's production shape: a lexical ranker (BM25) and a
# semantic ranker (embedding cosine) each produce a bounded top-k, and
# reciprocal rank fusion combines them with score
#   rrf(d) = sum over rankers of 1 / (K + rank_r(d)),   K = 60
# (Cormack et al.'s constant). Rank fusion needs only the RANKS, so the
# expensive per-ranker stages stay independent and bounded; the fusion
# itself is a full outer join of two <= depth-row sets.
#
# Scale posture (100 TB): the lexical side is the postings-filtered
# BM25 pipeline above; the semantic side here is the exact corpus scan
# (one broadcast query vector, TakeOrderedAndProject top-k) with the
# ANN routes (sim_knn_lsh / sim_knn_ivf*) as the documented swap-in at
# corpus scale. Every post-ranker stage operates on <= 2*depth rows.
# Both ranked lists order by (rounded score, doc_id) so tie order is
# engine-independent, and rrf ranks on its ROUNDED value likewise.

_RRF_K = 60
_RRF_QUERY_VEC = 0  # "more like this" anchor: doc/vec id 0
_RRF_DEPTH = _TOP_K  # per-ranker depth (shares the BM25 top-k)
_RRF_TOP = 10


def _rrf_sql() -> str:
    return f"""
WITH lex AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
  FROM ({_BM25_SQL})
),
q AS (SELECT embedding AS qe FROM embeddings
      WHERE vec_id = {_RRF_QUERY_VEC}),
sem_scored AS (
  SELECT e.vec_id AS doc_id,
         ROUND({_cos_sql('q.qe', 'e.embedding')}, 6) AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> {_RRF_QUERY_VEC}
),
sem AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS sem_rank
  FROM sem_scored
  ORDER BY cos DESC, doc_id
  LIMIT {_RRF_DEPTH}
),
fused AS (
  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
         lex.lex_rank, sem.sem_rank,
         ROUND(COALESCE(1.0 / ({_RRF_K} + lex.lex_rank), 0)
               + COALESCE(1.0 / ({_RRF_K} + sem.sem_rank), 0), 6)
           AS rrf_score
  FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf_score,
       ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS fused_rank
FROM fused
ORDER BY rrf_score DESC, doc_id
LIMIT {_RRF_TOP}
"""


@register(
    "retrieval_hybrid_rrf",
    _rrf_sql(),
    doc=f"Hybrid retrieval via reciprocal rank fusion (K={_RRF_K}): "
    f"BM25 top-{_RRF_DEPTH} and embedding-cosine top-{_RRF_DEPTH} "
    f"(query = vector {_RRF_QUERY_VEC}, broadcast single-row build "
    "side) fuse through a full outer join of two bounded rank lists; "
    "rrf = sum 1/(K+rank) over the rankers that returned the doc. "
    "Every post-ranker stage is <= 2x depth rows; the semantic scan "
    "swaps for the in-repo ANN routes at corpus scale.",
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lexical ranks: window over the bounded post-limit BM25 rows
    lex = text_bm25_search(spark, sf_dir)
    wl = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex = lex.select("doc_id", F.row_number().over(wl).alias("lex_rank"))

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    # single-row broadcast build side; the explicit limit makes the
    # bound part of the plan (GlobalLimit under the BroadcastExchange)
    q = (
        emb.where(F.col("vec_id") == _RRF_QUERY_VEC)
        .select(F.col("embedding").alias("qe"))
        .limit(1)
    )
    sem_scored = (
        F.broadcast(q)
        .crossJoin(emb)
        .where(F.col("vec_id") != _RRF_QUERY_VEC)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(_cosine(F.col("qe"), F.col("embedding")), 6).alias("cos"),
        )
    )
    sem_top = sem_scored.orderBy(F.desc("cos"), F.asc("doc_id")).limit(
        _RRF_DEPTH
    )
    ws = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    sem = sem_top.select(
        "doc_id", F.row_number().over(ws).alias("sem_rank")
    )

    rrf = F.round(
        F.coalesce(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("sem_rank")), F.lit(0.0)
        ),
        6,
    )
    fused = lex.join(sem, ["doc_id"], "full_outer").select(
        "doc_id", "lex_rank", "sem_rank", rrf.alias("rrf_score")
    )
    top = fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(_RRF_TOP)
    wf = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return ordered(top.withColumn("fused_rank", F.row_number().over(wf)), "fused_rank")


# --- held-out LM scoring ---------------------------------------------
#
# text_bigram_lm_score trains and scores on the same corpus (the
# in-corpus fluency screen); production quality filters train the LM
# on a TRUSTED split and score unseen documents. This operator does
# that with the shared content-stable md5 split (the same one the
# logreg scorecard uses): the add-k bigram LM trains on the ~75%
# train docs and scores every held-out doc, where unseen contexts and
# unseen bigrams fall back to the smoothing mass (that graceful OOV
# handling is WHY add-k; the oov permille is reported per doc). The
# count tables stay vocabulary-bounded and broadcastable; the one
# new cost vs the in-corpus score is the split filter on each side.

_HELDOUT_TEST_PERMILLE = 250


def _heldout_sql() -> str:
    return f"""
WITH split AS (
  -- bucket at DOCUMENT granularity: computing it over the unnested
  -- token stream would evaluate 4 md5 calls per token, not per doc
  SELECT doc_id, text,
         ({_BUCKET_SQL} < {_HELDOUT_TEST_PERMILLE}) AS is_test
  FROM documents
),
toks AS (
  SELECT doc_id, pos, w, is_test
  FROM (
    SELECT doc_id, is_test,
           unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM split
  )
),
pairs AS (
  SELECT doc_id, is_test, w AS w1,
         LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM toks
  QUALIFY w2 IS NOT NULL
),
c2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c2
  FROM pairs WHERE NOT is_test GROUP BY w1, w2
),
c1 AS (
  SELECT w AS w1, CAST(COUNT(*) AS DOUBLE) AS c1
  FROM toks WHERE NOT is_test GROUP BY w
),
v AS (
  SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v
  FROM toks WHERE NOT is_test
)
SELECT p.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unseen,
       CAST(1000 * SUM(CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END)
            // COUNT(*) AS BIGINT) AS unseen_permille,
       ROUND(AVG(ln((COALESCE(c2.c2, 0) + {_LM_K})
                    / (COALESCE(c1.c1, 0) + {_LM_K} * v.v))), 6)
         AS avg_heldout_logprob
FROM pairs p
LEFT JOIN c2 USING (w1, w2)
LEFT JOIN c1 USING (w1)
CROSS JOIN v
WHERE p.is_test
GROUP BY p.doc_id
ORDER BY p.doc_id
"""


@register(
    "text_lm_heldout_perplexity",
    _heldout_sql(),
    doc="Held-out LM scoring with train/test discipline: the add-k "
    "bigram LM trains on the content-stable md5 train split (~75%) "
    "and scores every held-out document; unseen contexts/bigrams fall "
    "back to the smoothing mass and are reported as an exact integer "
    "oov permille per doc. Count tables stay vocabulary-bounded "
    "(broadcastable); per-document windows only. The production "
    "quality-filter shape next to the in-corpus text_bigram_lm_score.",
)
def text_lm_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    bucket = doc_permille_bucket("doc_id")
    # eager parquet staging: the token stream feeds c1/v AND the pair
    # stream, and the pair stream feeds c2 AND the scored side — four
    # consumers that would otherwise re-run the corpus tokenization
    # and the per-doc window per lineage (the sim_recall_curve /
    # neardup_graph_stats reuse pattern; at petabyte scale these
    # intermediates are materialized tables in any real pipeline).
    toks = stage_to_parquet(
        docs.select(
            "doc_id",
            (bucket < _HELDOUT_TEST_PERMILLE).alias("is_test"),
            F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"),
        ),
        "lm_toks",
    )
    nxt = F.lead("w").over(Window.partitionBy("doc_id").orderBy("pos"))
    pairs = stage_to_parquet(
        toks.select(
            "doc_id", "is_test", F.col("w").alias("w1"), nxt.alias("w2")
        ).where(F.col("w2").isNotNull()),
        "lm_pairs",
    )
    train_toks = toks.where(~F.col("is_test"))
    c2 = (
        pairs.where(~F.col("is_test"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("double").alias("c2"))
    )
    c1 = (
        train_toks.groupBy("w")
        .agg(F.count(F.lit(1)).cast("double").alias("c1"))
        .withColumnRenamed("w", "w1")
    )
    v = train_toks.agg(F.countDistinct("w").cast("double").alias("v"))
    logp = F.ln(
        (F.coalesce(F.col("c2"), F.lit(0.0)) + F.lit(_LM_K))
        / (F.coalesce(F.col("c1"), F.lit(0.0)) + F.lit(_LM_K) * F.col("v"))
    )
    unseen = F.when(F.col("c2").isNull(), 1).otherwise(0)
    return ordered(
        pairs.where(F.col("is_test"))
        .join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(v))  # 1-row scalar: bounded, safe hint
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(unseen).alias("n_unseen"),
            F.round(F.avg(logp), 6).alias("avg_heldout_logprob"),
        )
        # one predicate, one aggregate: the permille derives from the
        # already-aggregated columns instead of re-spelling `unseen`
        .withColumn(
            "unseen_permille", F.expr("1000 * n_unseen div n_bigrams")
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_unseen",
            "unseen_permille",
            "avg_heldout_logprob",
        ),
        "doc_id",
    )
