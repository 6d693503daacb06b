"""Text-analysis operators over the ``documents`` table — the
LLM-data-pipeline surface (BASELINE.json north star; absent from the
reference, which never parses its strings).

All hot-path expressions are built-in column functions (whole-stage
codegen, no Python in the loop); the per-document array lambdas
(transform/filter/aggregate) run JVM-side too. Linear in input size, no
shuffle except the final aggregations — the same plan is the right one
at 100 TB.

Oracle-parity notes: every derived number is either integer arithmetic
or a single double division of identical operands, so DuckDB matches
bitwise. regexp_replace needs the 'g' flag in DuckDB to match Spark's
replace-all. md5 is the cross-engine-stable hash (xxhash64 etc. differ
per engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import md5_prefix_int_sql, ordered
from _imdb_etl_spark.operators.dedup import connected_components
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import (
    load_tables,
    scratch_run,
    spread,
    stage_sorted,
    write_read_back,
)

def _toks():
    return F.split(F.col("text"), " ")

_STATS_SQL = """
SELECT
  doc_id,
  length(text) AS n_chars,
  len(string_split(text, ' ')) AS n_tokens,
  len(list_distinct(string_split(text, ' '))) AS n_types,
  ROUND(CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE)
        / len(string_split(text, ' ')), 6) AS avg_token_len
FROM documents
ORDER BY doc_id
"""


@register(
    "text_stats",
    _STATS_SQL,
    doc="Per-document token statistics: whitespace tokenization, type "
    "counts, mean token length. Pure narrow transforms, no shuffle.",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    return ordered(
        docs.select(
            "doc_id",
            F.length("text").alias("n_chars"),
            F.size(_toks()).alias("n_tokens"),
            F.size(F.array_distinct(_toks())).alias("n_types"),
            F.round(
                F.aggregate(_toks(), F.lit(0), lambda acc, x: acc + F.length(x)).cast(
                    "double"
                )
                / F.size(_toks()),
                6,
            ).alias("avg_token_len"),
        ),
        "doc_id",
    )


_STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is"]

# THE quality gate (length >= 100 chars AND >= 1 stopword), defined once
# and consumed by text_quality, the batch pipelines, the per-source
# profile, and the streaming ingest — one edit point, five operators.
_SW_IN = ",".join(f"'{w}'" for w in _STOPWORDS)
QUALITY_GATE_SQL = (
    "length(text) >= 100"
    " AND len(list_filter(string_split(text, ' '),"
    f" x -> x IN ({_SW_IN}))) > 0"
)


def quality_gate_col():
    """Spark twin of QUALITY_GATE_SQL (a boolean Column over `text`)."""
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(_toks(), lambda x: F.array_contains(sw, x)))
    return (F.length("text") >= 100) & (n_stop > 0)

_QUALITY_SQL = f"""
SELECT
  doc_id,
  ROUND(CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        / length(text), 6) AS punct_ratio,
  ROUND(CAST(len(list_filter(string_split(text, ' '),
                             x -> x IN ({','.join(f"'{w}'" for w in _STOPWORDS)})))
        AS DOUBLE) / len(string_split(text, ' ')), 6) AS stopword_ratio,
  CASE WHEN {QUALITY_GATE_SQL} THEN 1 ELSE 0 END AS quality_flag
FROM documents
ORDER BY doc_id
"""


@register(
    "text_quality",
    _QUALITY_SQL,
    doc="Heuristic quality scoring: punctuation density, stopword ratio, "
    "and a length+stopword gate — the classic pre-training corpus filter "
    "shape (per-row, embarrassingly parallel).",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(_toks(), lambda x: F.array_contains(sw, x)))
    return ordered(
        docs.select(
            "doc_id",
            F.round(
                F.length(F.regexp_replace("text", "[A-Za-z0-9 ]", "")).cast("double")
                / F.length("text"),
                6,
            ).alias("punct_ratio"),
            F.round(n_stop.cast("double") / F.size(_toks()), 6).alias("stopword_ratio"),
            F.when(quality_gate_col(), 1).otherwise(0).alias("quality_flag"),
        ),
        "doc_id",
    )


# tiny per-language function-word lexicon; the operator shape (explode ->
# broadcast lexicon join -> per-doc argmax) is what scales, the lexicon
# content is swappable.
_LEXICON = {
    "en": ["the", "a", "an", "of", "and", "is", "to"],
    "es": ["el", "la", "los", "de", "y", "es"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "zh": ["的", "是", "和", "了", "在"],
}

_LEX_VALUES = ", ".join(
    f"('{lang}', '{w}')" for lang, words in _LEXICON.items() for w in words
)

_LANG_SQL = f"""
WITH lex(lang, word) AS (VALUES {_LEX_VALUES}),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
hits AS (
  SELECT doc_id, lang, COUNT(*) AS n_hits
  FROM tok JOIN lex ON tok = word
  GROUP BY doc_id, lang
),
best AS (
  SELECT doc_id, lang, n_hits,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY n_hits DESC, lang) AS rnk
  FROM hits
)
SELECT d.doc_id,
       COALESCE(b.lang, 'und') AS pred_lang,
       COALESCE(b.n_hits, 0) AS n_hits
FROM documents d
LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rnk = 1
ORDER BY d.doc_id
"""


@register(
    "text_lang_id",
    _LANG_SQL,
    doc="N-gram/function-word language ID: explode tokens, broadcast-join "
    "a (lang, word) lexicon, per-doc argmax with deterministic ties. "
    "The lexicon join stays map-side; the only shuffle is the per-doc "
    "aggregation.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ordered(_lang_preds(spark, sf_dir), "doc_id")


def _lang_preds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc (doc_id, pred_lang, n_hits), unsorted."""
    # Zero-shuffle formulation: the lexicon is a compile-time constant,
    # so per-language hit counts are narrow array expressions
    # (size(filter(toks, in lang_words))) and the per-doc argmax is a
    # greatest(struct...) over the per-language structs — no explode, no
    # join, no aggregation; the whole operator is one codegen'd map
    # stage. The struct orders by (n_hits, reverse-alphabetical rank) to
    # reproduce the oracle window's (n_hits DESC, lang ASC) tiebreak.
    (docs,) = load_tables(spark, sf_dir, "documents")
    docs = spread(docs)
    langs_sorted = sorted(_LEXICON)  # alphabetical
    per_lang = []
    for r, lang in enumerate(reversed(langs_sorted)):
        words = F.array(*[F.lit(w) for w in _LEXICON[lang]])
        n = F.size(F.filter(_toks(), lambda x: F.array_contains(words, x)))  # noqa: B023
        per_lang.append(F.struct(n.alias("n_hits"), F.lit(r).alias("r"), F.lit(lang).alias("lex_lang")))
    best = F.greatest(*per_lang)
    return docs.withColumn("m", best).select(
        "doc_id",
        F.when(F.col("m.n_hits") > 0, F.col("m.lex_lang"))
        .otherwise("und")
        .alias("pred_lang"),
        F.when(F.col("m.n_hits") > 0, F.col("m.n_hits"))
        .otherwise(0)
        .cast("long")
        .alias("n_hits"),
    )


_BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

_BPE_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS n_bpe_tokens,
       len(list_distinct(regexp_extract_all(text, '{_BPE_PATTERN}'))) AS n_bpe_types
FROM documents
ORDER BY doc_id
"""


@register(
    "text_token_count_bpe",
    _BPE_SQL,
    doc="BPE-ish pre-tokenizer counting: letter runs, digit runs, and "
    "single punctuation marks (the GPT-2 pre-tokenizer shape, minus "
    "unicode categories). Same regex semantics in Java and RE2 for this "
    "alternation.",
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    toks = F.expr(f"regexp_extract_all(text, '{_BPE_PATTERN}', 0)")
    return ordered(
        docs.select(
            "doc_id",
            F.size(toks).alias("n_bpe_tokens"),
            F.size(F.array_distinct(toks)).alias("n_bpe_types"),
        ),
        "doc_id",
    )


_NORM_SQL = f"""
SELECT doc_id,
       len(list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '),
           x -> x <> '' AND x NOT IN ({','.join(f"'{w}'" for w in _STOPWORDS)})))
         AS n_content_tokens,
       len(list_distinct(list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '),
           x -> x <> '' AND x NOT IN ({','.join(f"'{w}'" for w in _STOPWORDS)}))))
         AS n_content_types
FROM documents
ORDER BY doc_id
"""


@register(
    "text_normalize_tokens",
    _NORM_SQL,
    doc="Normalization pipeline: lowercase -> strip non-alphanumerics "
    "-> drop empties and stopwords -> content-token counts. The "
    "pre-embedding cleanup stage, entirely in codegen.",
)
def text_normalize_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    cleaned = F.split(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    content = F.filter(
        cleaned, lambda x: (x != "") & ~F.array_contains(sw, x)
    )
    out = docs.select(
        "doc_id",
        F.size(content).alias("n_content_tokens"),
        F.size(F.array_distinct(content)).alias("n_content_types"),
    )
    return stage_sorted(out, "norm_tokens", "doc_id")


_CHUNK_SIZE = 32  # tokens per chunk
_CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks

_CHUNK_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
)
SELECT doc_id,
       i AS chunk_no,
       array_to_string(list_slice(toks, i * {_CHUNK_STRIDE} + 1,
                       least(i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, n)), ' ') AS chunk_text,
       least(i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, n) - i * {_CHUNK_STRIDE} AS n_tokens
FROM t, unnest(range(0, (greatest(n - 1, 0) // {_CHUNK_STRIDE}) + 1)) AS u(i)
ORDER BY doc_id, chunk_no
"""


@register(
    "text_chunk_documents",
    _CHUNK_SQL,
    doc=f"Document chunking for training pipelines: overlapping "
    f"{_CHUNK_SIZE}-token windows with stride {_CHUNK_STRIDE}, as a "
    "pure explode-over-sequence (1->N fan-out in codegen, no UDF). "
    "Token array bound once per row; linear cost, no shuffle.",
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    t = spread(docs).select(
        "doc_id", F.split("text", " ").alias("toks"), F.size(F.split("text", " ")).alias("n")
    )
    starts = F.sequence(
        F.lit(0), F.floor((F.greatest(F.col("n") - 1, F.lit(0))) / _CHUNK_STRIDE)
    )
    return ordered(
        t.select("doc_id", "toks", "n", F.explode(starts).alias("chunk_no"))
        .select(
            "doc_id",
            F.col("chunk_no").cast("long").alias("chunk_no"),
            F.array_join(
                F.slice(F.col("toks"), F.col("chunk_no") * _CHUNK_STRIDE + 1, _CHUNK_SIZE),
                " ",
            ).alias("chunk_text"),
            (
                F.least(
                    F.col("chunk_no") * _CHUNK_STRIDE + _CHUNK_SIZE, F.col("n")
                )
                - F.col("chunk_no") * _CHUNK_STRIDE
            ).cast("long").alias("n_tokens"),
        ),
        "doc_id",
        "chunk_no",
    )


_FP_SQL = """
SELECT doc_id,
       list_min(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
                               i -> md5(substr(text, i, 8)))) AS fingerprint
FROM documents
ORDER BY doc_id
"""


@register(
    "text_fingerprint",
    _FP_SQL,
    doc="Document fingerprint: minimum md5 over all 8-char shingles "
    "(a 1-permutation MinHash). md5 is the cross-engine-stable hash; "
    "per-row array work, no shuffle.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    # spread the per-row md5-per-shingle work across cores (documents is
    # typically a single input split at test scale)
    docs = spread(docs)
    return ordered(
        docs.select(
            "doc_id",
            F.expr(
                "array_min(transform(sequence(1, greatest(length(text) - 7, 1)),"
                " i -> md5(substr(text, i, 8))))"
            ).alias("fingerprint"),
        ),
        "doc_id",
    )


_REP_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
), g AS (
  SELECT doc_id, l,
         list_transform(range(1, len(l)),
                        i -> l[i] || ' ' || l[i + 1]) AS bg,
         list_transform(range(1, len(l) - 1),
                        i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]) AS tg
  FROM t
), c AS (
  SELECT doc_id, l, bg, tg,
         list_max(list_transform(list_distinct(l),
                                 d -> len(list_filter(l, x -> x = d)))) AS top_uni,
         CASE WHEN len(l) >= 2 THEN
           list_max(list_transform(list_distinct(bg),
                                   d -> len(list_filter(bg, x -> x = d))))
         END AS top_bi,
         CASE WHEN len(l) >= 3 THEN len(tg) - len(list_distinct(tg)) END AS dup_tri
  FROM g
)
SELECT doc_id,
       ROUND(CAST(top_uni AS DOUBLE) / len(l), 6) AS top_unigram_frac,
       CASE WHEN len(l) >= 2
            THEN ROUND(CAST(top_bi AS DOUBLE) / len(bg), 6) END AS top_bigram_frac,
       CASE WHEN len(l) >= 3
            THEN ROUND(CAST(dup_tri AS DOUBLE) / len(tg), 6) END AS dup_trigram_frac,
       CASE WHEN top_uni * 5 <= len(l)
             AND len(l) >= 3 AND dup_tri * 10 <= len(tg) * 3
            THEN 1 ELSE 0 END AS repetition_ok
FROM c
ORDER BY doc_id
"""


@register(
    "text_repetition_scores",
    _REP_SQL,
    doc="Gopher-style repetition quality filters: most-frequent unigram "
    "and bigram token fractions plus duplicated-trigram fraction, with "
    "an integer-arithmetic keep flag (top unigram <= 20% of tokens, "
    "duplicated trigrams <= 30%). All per-document JVM array lambdas — "
    "zero shuffle, linear in corpus size; the O(distinct x tokens) "
    "multiplicity scan is bounded by document length, not corpus size.",
)
def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    docs = spread(docs)
    toks = _toks()

    # Max multiplicity = the widest gap between run BOUNDARIES of the
    # sorted array (round 11): sort once (bound as a column so each
    # stage evaluates it once), collect the 1-based positions where
    # s[i] != s[i-1] with sentinels 1 and n+1, and take the max
    # adjacent difference. Every pass is a flat O(n) vectorized HOF —
    # the previous struct-fold (aggregate with a 3-field struct
    # rebuilt per element) allocated per ELEMENT and measured as the
    # face's dominant cost at the 1000x probe (CAP>900 s; interpreted
    # HOFs, not codegen).
    def run_boundaries(sorted_col: str):
        # boundary positions via an (element, index) transform over the
        # tail slice — NOT filter(sequence(2, n), ...): sequence(2, n)
        # DESCENDS to [2, 1] on a single-token doc and element_at(_, 2)
        # throws under ANSI (the winnow property-test lesson)
        return F.expr(
            f"concat(array(1),"
            f" filter(transform("
            f"   slice({sorted_col}, 2, greatest(size({sorted_col}) - 1, 0)),"
            f"   (x, i) -> if(x != element_at({sorted_col}, i + 1),"
            f"             i + 2, 0)),"
            f"  p -> p > 0),"
            f" array(size({sorted_col}) + 1))"
        )

    def max_gap(bp_col: str):
        return F.expr(
            f"array_max(zip_with(slice({bp_col}, 2, size({bp_col}) - 1),"
            f" slice({bp_col}, 1, size({bp_col}) - 1), (a, b) -> a - b))"
        )

    # 1-based element_at over sequence(1, n-1) / sequence(1, n-2); Spark's
    # sequence() counts DOWN when the bound is below the start, so the
    # short-document guards are CASE, not empty sequences as in DuckDB.
    bigrams = F.expr(
        "transform(sequence(1, size(tk) - 1),"
        " i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1)))"
    )
    trigrams = F.expr(
        "transform(sequence(1, size(tk) - 2),"
        " i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1),"
        " element_at(tk, i + 2)))"
    )
    staged = (
        docs.select("doc_id", toks.alias("tk"))
        .withColumn("n", F.size("tk"))
        .withColumn("bg", F.when(F.col("n") >= 2, bigrams))
        .withColumn("tg", F.when(F.col("n") >= 3, trigrams))
        .withColumn("stk", F.array_sort("tk"))
        .withColumn("sbg", F.array_sort("bg"))
        .withColumn("bp_uni", run_boundaries("stk"))
        .withColumn("bp_bi", F.when(F.col("n") >= 2, run_boundaries("sbg")))
    )
    t = staged.select(
        "doc_id",
        "n",
        max_gap("bp_uni").alias("top_uni"),
        F.when(F.col("n") >= 2, max_gap("bp_bi")).alias("top_bi"),
        F.when(F.col("n") >= 2, F.size("bg")).alias("n_bi"),
        F.when(
            F.col("n") >= 3, F.size("tg") - F.size(F.array_distinct("tg"))
        ).alias("dup_tri"),
        F.when(F.col("n") >= 3, F.size("tg")).alias("n_tri"),
    )
    return ordered(
        t.select(
            "doc_id",
            F.round(F.col("top_uni").cast("double") / F.col("n"), 6).alias(
                "top_unigram_frac"
            ),
            F.round(F.col("top_bi").cast("double") / F.col("n_bi"), 6).alias(
                "top_bigram_frac"
            ),
            F.round(F.col("dup_tri").cast("double") / F.col("n_tri"), 6).alias(
                "dup_trigram_frac"
            ),
            F.when(
                (F.col("top_uni") * 5 <= F.col("n"))
                & (F.col("n") >= 3)
                & (F.col("dup_tri") * 10 <= F.col("n_tri") * 3),
                1,
            )
            .otherwise(0)
            .alias("repetition_ok"),
        ),
        "doc_id",
    )


_SPAN_K = 5  # tokens per span fingerprint

_DUP_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS t FROM documents
),
pos AS (
  SELECT doc_id,
         unnest(range(1, len(t) - {_SPAN_K} + 2)) AS i,
         t
  FROM toks WHERE len(t) >= {_SPAN_K}
),
grams AS (
  SELECT doc_id, i,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
           AS gram
  FROM pos
),
gd AS (SELECT gram, COUNT(DISTINCT doc_id) AS n_docs FROM grams GROUP BY gram),
per AS (
  SELECT g.doc_id,
         COUNT(*) AS n_positions,
         COUNT(*) FILTER (gd.n_docs >= 2) AS n_dup_positions
  FROM grams g JOIN gd USING (gram)
  GROUP BY g.doc_id
)
SELECT doc_id,
       CAST(n_positions AS BIGINT) AS n_positions,
       CAST(n_dup_positions AS BIGINT) AS n_dup_positions,
       CAST((1000 * n_dup_positions) // n_positions AS BIGINT) AS dup_permille
FROM per
ORDER BY doc_id
"""


@register(
    "text_duplicate_spans",
    _DUP_SPANS_SQL,
    doc=f"Exact-substring duplication profile (the dedup signal of Lee "
    "et al., 'Deduplicating Training Data Makes Language Models "
    f"Better', ACL 2022): every {_SPAN_K}-token span is fingerprinted "
    "positionally; a span is duplicated when the same token sequence "
    "occurs in >= 2 distinct documents, and each doc reports the "
    "fraction of its span positions that are duplicated (integer "
    "permille). Suffix-array-free formulation that distributes: "
    "map-side positional n-gram explode, one gram-keyed shuffle for "
    "corpus span frequencies, one hash join back, one doc-keyed agg. "
    "At 100 TB the gram key is hashed (fixed width) and the "
    "frequency table is heavy-hitter skewed — AQE skew-join handles "
    "the head; the 'the quick brown'-style stopword runs that "
    "dominate it are exactly what the operator is built to surface.",
)
def text_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    toks = spread(docs).select(
        "doc_id", F.split(F.coalesce("text", F.lit("")), " ").alias("t")
    )
    grams = (
        toks.where(F.size("t") >= _SPAN_K)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {_SPAN_K} + 1),"
                    " i -> concat_ws(' ', element_at(t, i),"
                    " element_at(t, i + 1), element_at(t, i + 2),"
                    " element_at(t, i + 3), element_at(t, i + 4)))"
                )
            ).alias("gram"),
        )
    )
    gd = grams.groupBy("gram").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    per = (
        grams.join(gd, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_positions"),
            F.count(F.when(F.col("n_docs") >= 2, 1)).alias("n_dup_positions"),
        )
    )
    return ordered(
        per.select(
            "doc_id",
            "n_positions",
            "n_dup_positions",
            # exact integer div, matching the oracle's // at every scale
            F.expr("(1000 * n_dup_positions) div n_positions").alias(
                "dup_permille"
            ),
        ),
        "doc_id",
    )


_CONFUSION_SQL = f"""
WITH lex(lang, word) AS (VALUES {_LEX_VALUES}),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
hits AS (
  SELECT doc_id, lang, COUNT(*) AS n_hits
  FROM tok JOIN lex ON tok = word
  GROUP BY doc_id, lang
),
best AS (
  SELECT doc_id, lang, n_hits,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY n_hits DESC, lang) AS rnk
  FROM hits
),
pred AS (
  SELECT d.doc_id, d.lang AS true_lang,
         COALESCE(b.lang, 'und') AS pred_lang
  FROM documents d
  LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rnk = 1
),
cells AS (
  SELECT true_lang, pred_lang, COUNT(*) AS n_docs FROM pred GROUP BY 1, 2
),
tot AS (SELECT true_lang, SUM(n_docs) AS row_total FROM cells GROUP BY 1)
SELECT c.true_lang, c.pred_lang,
       CAST(c.n_docs AS BIGINT) AS n_docs,
       (c.true_lang = c.pred_lang) AS is_correct,
       CAST((1000 * c.n_docs) // t.row_total AS BIGINT) AS rate_permille
FROM cells c JOIN tot t USING (true_lang)
ORDER BY c.true_lang, c.pred_lang
"""


@register(
    "text_lang_id_confusion",
    _CONFUSION_SQL,
    doc="Classifier evaluation face for the language-ID heuristic: the "
    "(true lang, predicted lang) confusion matrix with row-normalized "
    "rates in exact integer permille — the per-class accuracy audit "
    "run before any lang-conditioned pipeline stage trusts the "
    "labels. Same plan as text_lang_id (broadcast lexicon join, "
    "per-doc argmax) plus a |langs|^2-cell aggregate; the row-total "
    "join is |langs| rows, broadcast.",
)
def text_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    preds = _lang_preds(spark, sf_dir).select("doc_id", "pred_lang")
    cells = (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(preds, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = cells.groupBy("true_lang").agg(F.sum("n_docs").alias("row_total"))
    return ordered(
        cells.join(F.broadcast(tot), "true_lang")
        .select(
            "true_lang",
            "pred_lang",
            "n_docs",
            (F.col("true_lang") == F.col("pred_lang")).alias("is_correct"),
            F.expr("(1000 * n_docs) div row_total").alias("rate_permille"),
        ),
        "true_lang",
        "pred_lang",
    )


# --- exact-substring dedup: the corpus REWRITE face -------------------

_RM_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS t FROM documents
),
spans AS (
  SELECT doc_id, i,
         array_to_string(list_slice(t, CAST(i AS INT),
                                    CAST(i + {_SPAN_K} - 1 AS INT)), ' ')
           AS gram
  FROM toks, unnest(range(1, len(t) - {_SPAN_K} + 2)) AS u(i)
  WHERE len(t) >= {_SPAN_K}
),
ranked AS (
  SELECT doc_id, i,
         ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rn
  FROM spans
),
covered AS (
  SELECT DISTINCT doc_id, tp
  FROM (SELECT doc_id, unnest(range(i, i + {_SPAN_K})) AS tp
        FROM ranked WHERE rn > 1)
),
tokens AS (
  SELECT doc_id, tp, t[CAST(tp AS INT)] AS tok
  FROM toks, unnest(range(1, len(t) + 1)) AS u(tp)
),
kept AS (
  SELECT tk.doc_id, tk.tp, tk.tok
  FROM tokens tk
  LEFT JOIN covered c ON tk.doc_id = c.doc_id AND tk.tp = c.tp
  WHERE c.tp IS NULL
),
ka AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(tok, ' ' ORDER BY tp)) AS kept_md5
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.t) AS BIGINT) AS n_tokens,
       CAST(len(b.t) - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(ka.kept_md5, md5('')) AS kept_md5
FROM toks b LEFT JOIN ka ON b.doc_id = ka.doc_id
ORDER BY b.doc_id
"""


@register(
    "text_remove_duplicate_spans",
    _RM_SPANS_SQL,
    doc=f"Exact-substring dedup, the corpus REWRITE face of "
    "text_duplicate_spans' profile (Lee et al. ACL 2022 actually "
    f"removes the repeats): every {_SPAN_K}-token span occurrence "
    "except the GLOBAL FIRST (ordered by doc_id, position — "
    "within-doc repeats count too, unlike the >= 2-distinct-docs "
    "profile) marks its covered token positions for removal, and "
    "each document is re-assembled from its surviving tokens "
    "(reported as an md5 so the full rewritten corpus round-trips "
    "the hash check without shipping text). One gram-keyed window "
    "for first-occurrence ranking, one doc-keyed anti join, one "
    "doc-keyed ordered re-assembly — the suffix-array-free "
    "distributed formulation; at 100 TB the gram key hashes to "
    "fixed width and the rewrite streams map-side around the two "
    "keyed exchanges.",
)
def text_remove_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    toks = spread(docs).select(
        "doc_id", F.split(F.coalesce("text", F.lit("")), " ").alias("t")
    )
    spans = (
        toks.where(F.size("t") >= _SPAN_K)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {_SPAN_K} + 1),"
                    f" i -> struct(i AS i,"
                    f" array_join(slice(t, i, {_SPAN_K}), ' ') AS gram))"
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.i").alias("i"), F.col("s.gram").alias("gram"))
    )
    w = Window.partitionBy("gram").orderBy("doc_id", "i")
    covered = (
        spans.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + _SPAN_K - 1)
            ).alias("tp"),
        )
        .distinct()
    )
    tokens = toks.select(
        "doc_id", F.posexplode("t").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("tp"), "tok")
    kept = tokens.join(covered, ["doc_id", "tp"], "left_anti")
    ka = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tp", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            )
        ).alias("kept_md5"),
    )
    base = toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
    return ordered(
        base.join(ka, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce("kept_md5", F.md5(F.lit(""))).alias("kept_md5"),
        ),
        "doc_id",
    )


# --- pointwise mutual information of co-occurring tokens --------------
#
# Corpus-level collocation mining: which token pairs co-occur in the
# same document far more often than independence predicts. The classic
# distributional-semantics primitive (Church & Hanks 1990) and the
# feature extractor behind phrase detection in word2vec-style
# pipelines. Scale shape: the pair stage is vocab-capped — only the
# top-V tokens by document frequency enter the per-doc self-join, so
# pairs-per-doc is <= V*(V-1)/2 regardless of document length, and the
# candidate stream stays bounded at any corpus size. PMI's log is
# rounded to 6 decimals in both engines (the ln-rounding convention
# unigram_logprob_quality established).

_PMI_VOCAB = 50
_PMI_MIN_CO = 5
_PMI_TOP = 50

_PMI_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents
),
tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
dft AS (SELECT token, COUNT(*) AS df FROM tok2 GROUP BY token),
vocab AS (SELECT token, df FROM dft ORDER BY df DESC, token LIMIT {_PMI_VOCAB}),
vt AS (SELECT t.doc_id, t.token, v.df FROM tok2 t JOIN vocab v USING (token)),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
pairs AS (
  SELECT a.token AS token_a, b.token AS token_b,
         a.df AS df_a, b.df AS df_b, COUNT(*) AS n_co
  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2, 3, 4
)
SELECT token_a, token_b, n_co, df_a, df_b,
       ROUND(ln(CAST(n_co AS DOUBLE) * n_docs / (df_a * df_b)), 6) + 0.0 AS pmi
FROM pairs, n
WHERE n_co >= {_PMI_MIN_CO}
ORDER BY pmi DESC, token_a, token_b
LIMIT {_PMI_TOP}
"""


@register(
    "text_cooccurrence_pmi",
    _PMI_SQL,
    doc="Document-level PMI collocations over the top-"
    f"{_PMI_VOCAB} vocabulary: presence-based co-occurrence counts "
    "from a doc-keyed self-join of the vocab-filtered token table "
    "(pairs-per-doc bounded by the vocab cap, not document length), "
    "PMI = ln(n_co * N / (df_a * df_b)), support floor "
    f"{_PMI_MIN_CO}, top {_PMI_TOP} by PMI with a total-order "
    "tiebreak. The vocab table broadcasts; the only real exchange is "
    "the doc-keyed pair aggregation.",
)
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    tok = (
        spread(docs)
        .select(
            "doc_id",
            F.explode(F.array_distinct(_toks())).alias("token"),
        )
        .where(F.col("token") != "")
    )
    dft = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    vocab = dft.orderBy(F.desc("df"), "token").limit(_PMI_VOCAB)
    vt = tok.join(F.broadcast(vocab), "token")
    a = vt.select(
        "doc_id", F.col("token").alias("token_a"), F.col("df").alias("df_a")
    )
    b = vt.select(
        "doc_id", F.col("token").alias("token_b"), F.col("df").alias("df_b")
    )
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b", "df_a", "df_b")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .where(F.col("n_co") >= _PMI_MIN_CO)
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    pmi = F.round(
        F.log(
            F.col("n_co").cast("double")
            * F.col("n_docs")
            / (F.col("df_a") * F.col("df_b"))
        ),
        6,
    )
    # 1-row crossJoin broadcasts the corpus size (bounded by construction)
    return (
        pairs.crossJoin(F.broadcast(n_docs))
        .select("token_a", "token_b", "n_co", "df_a", "df_b", (pmi + 0.0).alias("pmi"))
        .orderBy(F.desc("pmi"), "token_a", "token_b")
        .limit(_PMI_TOP)
    )


# --- feature-hashing doc vectors (hashing trick) -------------------------
#
# The model-free embedding: each token hashes into one of a fixed
# number of dimensions (Weinberger et al.'s hashing trick — what
# HashingVectorizer / Spark ML's HashingTF implement), giving every
# document a sparse count vector with NO vocabulary to build, ship, or
# keep consistent across workers — the property that matters at
# 100 TB, where a vocabulary table is itself a distributed artifact.
# Hashing uses the corpus's one portable hash (md5 first-4-hex mod
# dims) so the oracle reproduces every bucket; outputs stay exact
# integers (counts, nnz, squared l2 norm) plus an md5 fingerprint of
# the ordered dim:count pairs, so both engines must agree on the
# whole sparse vector, not just its summary.

_HASH_DIMS = 64

_HASHVEC_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
cells AS (
  SELECT doc_id,
         {{hash_expr}} AS dim,
         COUNT(*) AS c
  FROM tok
  GROUP BY doc_id, dim
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS nnz,
       CAST(SUM(c * c) AS BIGINT) AS l2sq,
       md5(string_agg(CAST(dim AS VARCHAR) || ':' || CAST(c AS VARCHAR),
                      ',' ORDER BY dim)) AS vec_md5
FROM cells
GROUP BY doc_id
ORDER BY doc_id
""".format(hash_expr=md5_prefix_int_sql("w") + f" % {_HASH_DIMS}")


@register(
    "text_hashing_vectorizer",
    _HASHVEC_SQL,
    doc=f"Feature-hashing document vectors (the hashing trick / "
    f"HashingTF): every token md5-hashes into one of {_HASH_DIMS} "
    "dimensions, so each doc gets a sparse count vector with NO "
    "vocabulary to build or broadcast — the embedding you can compute "
    "in one map-side pass over 100 TB with zero coordination. "
    "Reported per doc: token count, nnz, exact squared L2 norm, and "
    "an md5 fingerprint of the ordered dim:count pairs — both engines "
    "must agree on every bucket of every vector. One (doc, dim) "
    "aggregate with map-side partials, then a doc rollup; "
    "corpus-token-linear.",
)
def text_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from _imdb_etl_spark.functions import hex_prefix_int

    (docs,) = load_tables(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    cells = tok.groupBy(
        "doc_id",
        (hex_prefix_int(F.md5(F.col("w"))) % _HASH_DIMS).alias("dim"),
    ).agg(F.count(F.lit(1)).alias("c"))
    return ordered(
        cells.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("nnz"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("l2sq"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("dim", "c"))
                        ),
                        lambda x: F.concat_ws(
                            ":",
                            x["dim"].cast("string"),
                            x["c"].cast("string"),
                        ),
                    ),
                    ",",
                )
            ).alias("vec_md5"),
        ),
        "doc_id",
    )


# --- winnowing fingerprints (Schleimer et al. / MOSS) --------------------
#
# text_fingerprint keeps ONE hash per doc (1-permutation MinHash —
# whole-doc near-identity); winnowing keeps a GUARANTEED-coverage set:
# selecting the rightmost minimum hash in every window of w
# consecutive k-gram hashes ensures any shared substring of length
# >= w + k - 1 contributes at least one common fingerprint — the
# local-similarity guarantee MinHash cannot give, and the algorithm
# behind MOSS-style plagiarism and license-scan pipelines. Everything
# is per-row array lambdas over md5 hex strings (the engine-portable
# hash; lexicographic min), ZERO shuffle before the final sort: the
# 100 TB cost is one map pass. Per doc: k-gram count, selected
# fingerprint count, density (expected ~2/(w+1)), and the md5 of the
# position-ordered fingerprint sequence so both engines must agree on
# every selection, ties included (rightmost-min, the paper's rule).

_WIN_K = 8  # k-gram length (chars)
_WIN_W = 8  # window of consecutive k-gram hashes

_WINNOW_SQL = f"""
WITH h AS (
  SELECT doc_id,
         list_transform(range(1, GREATEST(length(text) - {_WIN_K - 1}, 0) + 1),
                        i -> md5(substr(text, CAST(i AS INT), {_WIN_K}))) AS hs
  FROM documents
),
sel AS (
  SELECT doc_id, len(hs) AS nk,
         list_sort(list_distinct(
           list_transform(range(1, GREATEST(len(hs) - {_WIN_W - 1}, 0) + 1),
             j -> j + {_WIN_W} - list_position(
                    list_reverse(list_slice(hs, CAST(j AS INT),
                                            CAST(j + {_WIN_W - 1} AS INT))),
                    list_min(list_slice(hs, CAST(j AS INT),
                                        CAST(j + {_WIN_W - 1} AS INT))))))) AS ps,
         hs
  FROM h
)
SELECT doc_id,
       CAST(nk AS BIGINT) AS n_kgrams,
       CAST(len(ps) AS BIGINT) AS n_fingerprints,
       CAST(CASE WHEN nk > 0 THEN (1000 * len(ps)) // nk ELSE 0 END
            AS BIGINT) AS density_permille,
       md5(array_to_string(list_transform(ps,
             p -> hs[CAST(p AS INT)]), ',')) AS fp_md5
FROM sel
ORDER BY doc_id
"""


def winnow_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, hs, ps): per-doc k-gram hash array and the sorted
    distinct winnowing-selected positions — ONE definition of the
    selection semantics, shared by the fingerprint report and the
    pair-matching face."""
    docs = spread(docs)
    # sequence(1, 0) DESCENDS in Spark (DuckDB's range(1, 1) is empty),
    # so the too-short edge must return an explicit empty array
    hs = F.expr(
        f"if(length(text) < {_WIN_K}, array(),"
        f" transform(sequence(1, length(text) - {_WIN_K - 1}),"
        f" i -> md5(substr(text, i, {_WIN_K}))))"
    )
    base = docs.select("doc_id", hs.alias("hs"))
    # Sliding rightmost-min by sparse-table doubling (round 11): the
    # naive form materialized and scanned TWO w-element window slices
    # per position (O(n*w) interpreted HOF work + 2 allocations per
    # window), which the 1000x probe measured as ~83% of the face and
    # capped at 900 s. Doubling computes every window's rightmost min
    # in log2(w)=3 zip_with passes over (value, position) structs —
    # O(n log w) with per-LEVEL allocations instead of per-window.
    # The combiner prefers the RIGHT operand on value ties at every
    # level; the level ranges are non-overlapping ([i..i+1]+[i+2..i+3]
    # etc.), so the final struct is exactly the rightmost minimum of
    # hs[j .. j+w-1] — identical selection to the oracle's
    # list_position(list_reverse(list_slice(...)), list_min(...)),
    # which the shared sf0.01 gate and the winnow pytest pins verify.
    assert _WIN_W == 8, "doubling ladder below is specialized to w = 8"
    comb = "(x, y) -> if(y.v <= x.v, y, x)"
    ps = F.expr(
        f"if(size(hs) < {_WIN_W}, array(), array_sort(array_distinct("
        "transform("
        "  zip_with("
        "    slice(m2, 1, greatest(size(m2) - 4, 0)),"
        "    slice(m2, 5, greatest(size(m2) - 4, 0)),"
        f"   {comb}),"
        "  e -> e.p))))"
    )
    # GREATEST(..., 0) clamps the short-document ladders (a doc below
    # w k-grams must yield empty slices, not a negative-length error;
    # the if() above already discards their ps)
    m1 = F.expr(
        "zip_with(slice(s0, 1, greatest(size(s0) - 1, 0)),"
        f" slice(s0, 2, greatest(size(s0) - 1, 0)), {comb})"
    )
    m2 = F.expr(
        "zip_with(slice(m1, 1, greatest(size(m1) - 2, 0)),"
        f" slice(m1, 3, greatest(size(m1) - 2, 0)), {comb})"
    )
    staged = (
        base.withColumn(
            "s0",
            # (element, 0-based index) transform: an EMPTY hs yields an
            # empty s0 (sequence(1, size) would DESCEND to [1, 0] on a
            # zero-k-gram doc and element_at would throw under ANSI —
            # caught by test_winnowing_property_random_texts)
            F.expr(
                "transform(hs,"
                " (x, i) -> struct(x AS v, cast(i + 1 AS bigint) AS p))"
            ),
        )
        .withColumn("m1", m1)
        .withColumn("m2", m2)
    )
    return staged.select("doc_id", "hs", ps.alias("ps"))



@register(
    "text_winnowing_fingerprints",
    _WINNOW_SQL,
    doc=f"Winnowing (Schleimer et al., the MOSS fingerprint): the "
    f"rightmost minimum of every window of {_WIN_W} consecutive "
    f"{_WIN_K}-char-gram md5 hashes — guaranteeing any shared "
    f"substring of length >= {_WIN_W + _WIN_K - 1} contributes a "
    "common fingerprint, the LOCAL-similarity property the "
    "1-permutation MinHash (text_fingerprint) lacks and the basis of "
    "plagiarism/license scanning. Pure per-row array lambdas over "
    "engine-portable md5 hex (lexicographic min), zero shuffle — one "
    "map pass at 100 TB; the position-ordered fingerprint md5 forces "
    "both engines to agree on every selection including rightmost-min "
    "tie handling. Density ~2/(w+1) pinned in pytest with a "
    "shared-substring guarantee case.",
)
def text_winnowing_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from _imdb_etl_spark.sources import stage_to_parquet

    (docs,) = load_tables(spark, sf_dir, "documents")
    sel = winnow_arrays(docs).select(
        "doc_id", F.size("hs").alias("nk"), "ps", "hs"
    )
    out = sel.select(
        "doc_id",
        F.col("nk").cast("long").alias("n_kgrams"),
        F.size("ps").cast("long").alias("n_fingerprints"),
        F.when(
            F.col("nk") > 0, F.expr("(1000 * size(ps)) div nk")
        )
        .otherwise(0)
        .cast("long")
        .alias("density_permille"),
        F.md5(
            F.expr("array_join(transform(ps, p -> element_at(hs, int(p))), ',')")
        ).alias("fp_md5"),
    )
    # Stage the NARROW result before the global sort (round 12, verdict
    # task 5): a global orderBy runs the child twice — once for the
    # range-partitioner's boundary sampling, once for the sort — and
    # with a map-only lineage (no shuffle files to reuse) the second
    # run re-executes the ENTIRE per-char ladder. Measured at 100x:
    # 65.7 s with the sort sampling the live ladder vs 28.6 s for one
    # ladder pass; staging 5 narrow columns/doc costs ~2 s and the
    # sort then samples a parquet scan. 1000x: 578 -> ~290 s.
    return ordered(stage_to_parquet(out, "winnow_fp_report"), "doc_id")


# --- winnowing pair matching (the MOSS match step) -----------------------
#
# The consumer of the fingerprints: documents sharing winnowed
# fingerprint VALUES share substrings of length >= w + k - 1, so the
# pair table keyed on fingerprint values is a THIRD near-dup candidate
# route next to MinHash-LSH (probabilistic banding) and prefix
# filtering (rarity-ordered exactness) — this one with a guaranteed
# LOCAL-match floor. Scale safety is MOSS's own rule: boilerplate
# fingerprints are DROPPED before the join. The cap must be RELATIVE
# to the corpus at the low end (max(10, 0.1% of docs)): a SMALL fixed
# cap silently drops every duplicate CLUSTER once the corpus outgrows
# it (measured: at 10x bench scale a cap of 10 found 0 pairs while
# the relative cap found the 284 real ones; raising it to 200 let in
# the boilerplate explosion, 116k pairs). But the relative rule must
# ALSO be ceilinged at the high end (round 12, _WIN_DF_CEIL): the
# measured true-cluster df never leaves 10-100 at any probed scale
# (duplicate-cluster SIZE does not grow with the corpus), while an
# uncapped permille grows without bound and by 1000x was admitting
# df-2000..5000 boilerplate that carried 80% of the bucket work. The
# composed bound max(floor, min(ceiling, permille)) tracks cluster
# growth through the small-corpus regime and stays calibrated to
# cluster size — not corpus size — beyond 500k docs.

_WIN_DF_FLOOR = 10
_WIN_DF_PERMILLE = 1
# Rarity cap = max(FLOOR, min(CEIL, permille of docs)) — MOSS's
# boilerplate rule with an ABSOLUTE ceiling (round 12, the r11
# verdict's re-baseline remedy for the face's 1000x single-box wall).
# The ceiling is calibrated against the measured true-cluster df
# distribution of the salted scale corpus:
# true duplicate clusters are intra-replica by construction, their df
# equals their cluster size, and the signal measured at df 10-100 at
# EVERY probed scale (cluster sizes replicate; they do not grow with
# the corpus). An uncapped permille, by contrast, grows with the
# corpus and at 1000x (5M docs, cap 5000 = exactly the replica size)
# admitted within-replica BOILERPLATE k-grams at df 2000-5000 —
# 3.6e11 of the measured 4.5e11 sum(df^2) bucket work and 95.7 GiB of
# forest shuffle, all of it noise a human would not call copying.
# CEIL=500 is a 5x margin over the measured signal ceiling; it binds
# only above 500k docs (permille < 500 below that), so every gated
# oracle row and every sf1/sf10 probe is bit-identical, and it makes
# the bucket stage's cost provably shuffle-linear: sum(df^2) <=
# CEIL * sum(df). Duplicate clusters WIDER than the ceiling (500+
# near-identical docs) are exact-dup/MinHash-LSH territory
# (dedup_exact, dedup_minhash_lsh) — winnowing's job is bounded-size
# partial-overlap clusters, and the division of labor is deliberate.
_WIN_DF_CEIL = 500
_WIN_MIN_SHARED = 3

_WINNOW_PAIRS_SQL = f"""
WITH h AS (
  SELECT doc_id,
         list_transform(range(1, GREATEST(length(text) - {_WIN_K - 1}, 0) + 1),
                        i -> md5(substr(text, CAST(i AS INT), {_WIN_K}))) AS hs
  FROM documents
),
sel AS (
  SELECT doc_id,
         list_sort(list_distinct(
           list_transform(range(1, GREATEST(len(hs) - {_WIN_W - 1}, 0) + 1),
             j -> j + {_WIN_W} - list_position(
                    list_reverse(list_slice(hs, CAST(j AS INT),
                                            CAST(j + {_WIN_W - 1} AS INT))),
                    list_min(list_slice(hs, CAST(j AS INT),
                                        CAST(j + {_WIN_W - 1} AS INT)))))))
           AS ps,
         hs
  FROM h
),
fp AS (
  SELECT DISTINCT doc_id, hs[CAST(p AS INT)] AS v
  FROM sel, unnest(ps) AS t(p)
),
rare AS (
  SELECT v FROM fp GROUP BY v
  HAVING COUNT(*) <= GREATEST({_WIN_DF_FLOOR},
                              LEAST({_WIN_DF_CEIL},
                                    CEIL({_WIN_DF_PERMILLE} * 0.001 *
                                         (SELECT COUNT(*) FROM documents))))
),
sizes AS (SELECT doc_id, COUNT(*) AS nf FROM fp GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM fp a
  JOIN rare r ON a.v = r.v
  JOIN fp b ON b.v = a.v AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_WIN_MIN_SHARED}
)
SELECT p.doc_a, p.doc_b,
       CAST(p.n_shared AS BIGINT) AS n_shared,
       CAST((1000 * p.n_shared) // LEAST(sa.nf, sb.nf) AS BIGINT)
         AS overlap_permille
FROM pairs p
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
ORDER BY p.doc_a, p.doc_b
"""


def _winnow_rare_postings(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(fp, rp): the materialized (doc_id, fingerprint-value) posting
    table (it feeds both the rarity filter and the rare-subset join —
    lazy, each consumer would re-run the O(chars x w) lambda
    extraction) and its rare-filtered subset
    (values at or under the corpus-relative boilerplate cap).

    The posting table materializes to PARQUET, not a heap cache: it is
    corpus-sized (hundreds of millions of rows at the 1000x probe — a
    localCheckpoint of it plus the downstream joins overran an 8g
    heap with GCLocker thrash) and is exactly the 'persisted
    fingerprint index' the registration docstrings describe at 100 TB.
    Values are dictionary-encoded to 8-byte ints AT THE SOURCE
    (round 12; previously the clusters face re-encoded after
    read-back): every downstream shuffle — the dedup/distinct, the
    rarity groupBy, both pair-join sides, the contraction sets —
    carries xxhash64(md5-hex) longs instead of 32-char hex strings,
    which also makes the pre-write DISTINCT a long-key exchange. The
    vid MUST be a pure function of the value (xxhash64 here), never
    monotonically_increasing_id after a distinct: under task retry /
    speculative execution a shuffled distinct's row order is not
    stable, so positional ids could assign one value different ids
    across recomputed partitions — identical rare sets would then
    fail to contract and intersection counts would undercount. A
    64-bit collision (p ~ n^2 / 2^65 over md5-hex inputs) would merge
    two fingerprint values; negligible, and detectable by comparing
    count(distinct md5) upstream to count(distinct v) on the index.
    Each invocation stages under its own `scratch_run` leaf, so a
    still-referenced lazy DataFrame from a PRIOR invocation never
    re-reads files a later invocation rewrote mid-plan."""
    (docs,) = load_tables(spark, sf_dir, "documents")
    # per-doc distinct happens MAP-SIDE inside the array (round 13):
    # (doc_id, v) rows from array_distinct are already globally
    # distinct because doc_id scopes them (doc_id is unique per
    # documents row, pinned by tests/test_sources.py::
    # test_documents_doc_id_unique), so the old .distinct() was
    # a full exchange of the posting stream (236M rows at 1000x) that
    # bought nothing — the index now writes straight off the map pass
    # (measured 26.6 -> 23.1 s at 100x for the posting stream alone)
    fp_lazy = winnow_arrays(docs).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(ps, p -> xxhash64(element_at(hs, int(p))))"
                )
            )
        ).alias("v"),
    )
    fp = write_read_back(fp_lazy, scratch_run("winnow_fp"))
    n_docs = docs.count()
    cap = max(
        _WIN_DF_FLOOR, min(_WIN_DF_CEIL, -(-_WIN_DF_PERMILLE * n_docs // 1000))
    )
    rare = (
        fp.groupBy("v")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= cap)
        .select("v")
    )
    return fp, fp.join(rare, "v")


_WINNOW_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({_WINNOW_PAIRS_SQL.strip().rstrip()})
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
labels AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
  FROM reach GROUP BY a
)
SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
FROM labels GROUP BY cluster_id
ORDER BY cluster_id
"""


@register(
    "dedup_winnow_clusters",
    _WINNOW_CLUSTERS_SQL,
    doc="The cluster-level production face of winnowing dedup: connected "
    "components (min-label propagation + pointer jumping, the shared "
    "O(log diameter) machinery of dedup_clusters) consume the winnow "
    "match edges and emit ONE row per duplicate cluster "
    "(cluster_id = min doc_id, cluster_size), never the pair "
    "expansion. On a cluster-heavy corpus the pair list's OUTPUT is "
    "quadratic in cluster size (measured 29.1M rows / 231 s at the "
    "100x probe); this face's output is linear in the number of "
    "clusters (singleton docs — no match edge — are not emitted, so "
    "rows = duplicate clusters only). The oracle states the same "
    "fixpoint as a recursive CTE over the winnow pair SQL; cluster "
    "sizes are reconciled against a pure-Python union-find over that "
    "SQL's pairs in pytest (third implementation). Scale lever (found when "
    "the naive pair-graph CC thrashed the JVM at the 100x probe): "
    "n_shared depends ONLY on the two docs' rare-fingerprint-set "
    "intersection, so docs with IDENTICAL rare sets are "
    "interchangeable — they contract to one super-node before any "
    "pair expansion (exact duplicates, the bulk of any duplicate "
    "cluster, collapse first), the quadratic pair join and the CC "
    "iterations run on the contracted group graph, and member counts "
    "expand back at the end. Docs whose rare set has < MIN_SHARED "
    "values can never reach the threshold with anyone and are pruned "
    "before the join. Round 12 closed the face's 1000x single-box "
    "wall by re-baselining the rarity cap against the measured "
    "true-cluster df distribution (_WIN_DF_CEIL: signal at df "
    "10-100 at every probed scale, 5x margin, binds only above 500k "
    "docs, so all gated/probed rows below 1000x are bit-identical); "
    "with the ceiling the bucket stage is provably shuffle-linear "
    "(sum(df^2) <= CEIL * sum(df)) and the measured 1000x forest "
    "shuffle fell 95.7 -> 4.7 GiB.",
)
def dedup_winnow_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    _fp, rp = _winnow_rare_postings(spark, sf_dir)
    # values arrive dictionary-encoded from the shared postings index
    # (xxhash64 at the source — the determinism/collision rationale
    # lives on _winnow_rare_postings since round 12)
    rpi = rp.select("doc_id", F.col("v").alias("vid"))
    # contract identical rare sets: one representative (min doc_id)
    # per distinct set; docs whose rare set is too small to ever reach
    # the threshold are pruned up front
    docsets = (
        rpi.groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("vid")).alias("vs"))
        .where(F.size("vs") >= _WIN_MIN_SHARED)
    )
    # The contracted group table feeds three consumers (bucket
    # explosion, the CC label join, the member-count expansion); stage
    # it to parquet like the postings index — executor-heap
    # localCheckpoint is the same mechanism whose GCLocker thrash the
    # postings table hit at the 100x probe, and the parquet route is
    # the consistent persisted-index answer at 100 TB.
    gmap = write_read_back(
        docsets.groupBy("vs").agg(
            F.min("doc_id").alias("gid"),
            F.count(F.lit(1)).alias("members"),
        ),
        scratch_run("winnow_groups"),
    )
    # Per-VALUE spanning forests instead of the full qualifying-pair
    # relation. The global qualifying graph is the union over value
    # buckets of each bucket's local qualifying subgraph (every
    # qualifying pair co-occurs in >= MIN_SHARED buckets), and a
    # spanning forest per bucket preserves each bucket subgraph's
    # connectivity — so the union of per-bucket forests has EXACTLY
    # the connected components of the full pair graph while carrying
    # <= df-1 edges per bucket instead of up to C(df, 2). Measured
    # necessity at the 100x probe: the full qualifying relation there
    # is 172M pairs (1.5e9 co-occurrence rows through a shuffle-join
    # route; 200 s even map-side) — the forest route feeds CC <10M
    # edges. Each bucket is one Arrow batch row: pairwise shared
    # counts via a single BLAS GEMM on the bucket's binary
    # member x value matrix (the dedup_embedding_cosine_ivf trick),
    # then a vectorized min-label/pointer-jump loop (O(log df)
    # iterations on a <= cap x cap boolean matrix) emits one edge per
    # non-root member. Bucket width is bounded by the boilerplate cap,
    # so batch memory is C(cap) x |local universe| ints.
    from pyspark.sql.types import LongType, StructField, StructType

    gposts = gmap.select("gid", "vs", F.explode("vs").alias("vid"))
    buckets = (
        gposts.groupBy("vid")
        .agg(F.collect_list(F.struct("gid", "vs")).alias("ms"))
        .where(F.size("ms") >= 2)
        .select("ms")
    )
    edge_schema = StructType(
        [StructField("a", LongType()), StructField("b", LongType())]
    )
    min_shared = _WIN_MIN_SHARED

    def bucket_forests(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a: list = []
            out_b: list = []
            for ms in pdf["ms"]:
                n = len(ms)
                gids = np.fromiter((m["gid"] for m in ms), dtype=np.int64)
                sets = [np.asarray(m["vs"], dtype=np.int64) for m in ms]
                lens = np.fromiter((len(s) for s in sets), dtype=np.int64)
                _uniq, inv = np.unique(np.concatenate(sets), return_inverse=True)
                rows = np.repeat(np.arange(n), lens)
                m = np.zeros((n, len(_uniq)), dtype=np.float32)
                m[rows, inv] = 1.0
                shared = m @ m.T
                adj = shared >= min_shared
                np.fill_diagonal(adj, False)
                if not adj.any():
                    continue
                labels = np.arange(n)
                while True:
                    nbr = np.where(adj, labels[None, :], n).min(axis=1)
                    nxt = np.minimum(labels, nbr)
                    nxt = np.minimum(nxt, nxt[nxt])  # pointer jump
                    if np.array_equal(nxt, labels):
                        break
                    labels = nxt
                mask = labels != np.arange(n)
                fa, fb = gids[mask], gids[labels[mask]]
                out_a.extend((fa, fb))  # both directions: CC wants a
                out_b.extend((fb, fa))  # symmetric edge list
            if out_a:
                yield pd.DataFrame(
                    {
                        "a": np.concatenate(out_a),
                        "b": np.concatenate(out_b),
                    }
                )

    edges = buckets.mapInPandas(bucket_forests, edge_schema).persist()
    labels, _ = connected_components(edges)
    # isolated groups keep their own gid as the label; clusters of one
    # doc (an isolated single-member group) have no pair edge in the
    # uncontracted graph and are not emitted
    glabel = gmap.join(
        labels, gmap["gid"] == labels["doc_id"], "left"
    ).select(
        F.coalesce(labels["cluster_id"], gmap["gid"]).alias("cluster_id"),
        "members",
    )
    out = (
        glabel.groupBy("cluster_id")
        .agg(F.sum("members").cast("long").alias("cluster_size"))
        .where(F.col("cluster_size") >= 2)
        .orderBy("cluster_id")
    )
    edges.unpersist()
    return out
