"""Deduplication operators over ``documents`` — exact, normalized-exact,
n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB:
- Exact / normalized dedup is a hash groupBy: map-side partial
  aggregation collapses duplicates before the shuffle.
- The all-pairs n-gram Jaccard exists only as DuckDB oracle SQL
  (`_JACCARD_SQL`): its shingle self-join is quadratic in the worst
  case, so Spark runs pruned joins that verify with the same ratio.
- `dedup_minhash_lsh` is the scale path: cost is O(docs x shingles x k)
  map work + a shuffle keyed on (band, band-signature); only bucket
  collisions are verified exactly. All hashing is md5 (the only hash
  both engines implement identically). One groupBy(doc_id) computes all
  k signature mins map-side AND collects the shingle set the verify
  stage intersects — the exchange carries one row per doc, never an
  exploded or seed-multiplied shingle table.
- `dedup_simhash` is the Arrow/pandas-UDF showcase (bit manipulation is
  miserable as SQL); its oracle recomputes the signature bit-by-bit
  from md5 hex nibbles, so candidates AND hamming distances are fully
  hash-checked, with recall additionally property-tested in pytest.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves postponed hints here

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import hex_prefix_int, md5_prefix_int_sql, ordered
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import (
    load_tables,
    scratch_dir,
    scratch_run,
    spread,
    stage_to_parquet,
    write_read_back,
)

_EXACT_SQL = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
FROM documents
GROUP BY md5(text)
ORDER BY text_hash
"""


@register(
    "dedup_exact",
    _EXACT_SQL,
    doc="Exact dedup: hash-groupBy on md5(text), keep lowest doc_id. "
    "Partial aggregation collapses dup groups map-side.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    return ordered(
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keep_id")),
        "text_hash",
    )


_NORM_SQL = """
SELECT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS norm_hash,
       COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
FROM documents
GROUP BY 1
ORDER BY norm_hash
"""


@register(
    "dedup_exact_normalized",
    _NORM_SQL,
    doc="Exact dedup after canonicalization (lowercase, collapse runs of "
    "spaces, trim) — catches trivially-reformatted copies.",
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), " +", " "))
    return ordered(
        docs.groupBy(F.md5(norm).alias("norm_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keep_id")),
        "norm_hash",
    )


# Word 3-gram shingles (not char n-grams): ~10x fewer shingles per
# document for the same near-dup signal, which is the difference between
# a cheap and an expensive minhash at scale. concat/|| are both
# NULL-propagating and try_element_at/list[i] both yield NULL
# out-of-bounds, so the two engines agree on degenerate (<3-token) docs.
# The lambda references a pre-bound `toks` column — inlining
# split(text) into the lambda would re-split the document once per
# shingle (O(tokens^2) per doc; measured 7s -> <1s at sf0.1).
_SHINGLE_EXPR = (
    "array_distinct(transform(sequence(1, greatest(size(toks) - 2, 1)),"
    " i -> concat(try_element_at(toks, i), ' ',"
    " try_element_at(toks, i + 1), ' ',"
    " try_element_at(toks, i + 2))))"
)
_SHINGLE_SQL = (
    "list_distinct(list_transform("
    "range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),"
    " i -> string_split(text, ' ')[i] || ' ' ||"
    " string_split(text, ' ')[i + 1] || ' ' ||"
    " string_split(text, ' ')[i + 2]))"
)


def _shingles(docs: DataFrame) -> DataFrame:
    # documents often arrive as one file -> one partition; spread the
    # CPU-heavy shingle/hash work across cores before the narrow ops
    # (conditional: no shuffle when the scan is already parallel)
    wide = spread(docs)
    return (
        wide.select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", F.explode(F.expr(_SHINGLE_EXPR)).alias("sh"))
        # <3-token docs produce a NULL shingle (concat over OOB lookups);
        # drop it: DuckDB's list_distinct discards NULLs, and keeping it
        # would give every short doc an identical minhash signature —
        # a quadratic candidate blow-up on short-doc corpora
        .where(F.col("sh").isNotNull())
    )


_JACCARD_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLE_SQL}) AS sh FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6
ORDER BY doc_a, doc_b
"""


_CONTAIN_TAU = 0.8

_CONTAIN_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLE_SQL}) AS sh FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS container_id, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id, container_id,
       ROUND(CAST(n_inter AS DOUBLE) / sa.n_sh, 6) AS containment
FROM inter
JOIN sizes sa USING (doc_id)
WHERE CAST(n_inter AS DOUBLE) / sa.n_sh >= {_CONTAIN_TAU}
ORDER BY doc_id, container_id
"""


_N_HASHES = 12
_BAND_SIZE = 4  # 3 bands x 4 rows

# The banding CTE chain every LSH-composed oracle composes — ONE
# definition, so the candidate stage can never silently desynchronize
# between dedup_minhash_lsh and the dedup_*_lsh verify faces (the
# twins must produce the same candidate set or the verify outputs
# diverge).
_LSH_CAND_CTE = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLE_SQL}) AS sh FROM documents
),
seeds AS (SELECT unnest(range(0, {_N_HASHES})) AS i),
sig AS (
  SELECT doc_id, i, MIN(md5(i::VARCHAR || ':' || sh)) AS mh
  FROM sh CROSS JOIN seeds
  GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, i // {_BAND_SIZE} AS band_id,
         string_agg(mh, '|' ORDER BY i) AS band_key
  FROM sig
  GROUP BY doc_id, i // {_BAND_SIZE}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)
"""

_MINHASH_SQL = f"""{_LSH_CAND_CTE},
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6
ORDER BY i.doc_a, i.doc_b
"""


@register(
    "dedup_minhash_lsh",
    _MINHASH_SQL,
    doc=f"MinHash ({_N_HASHES} md5-derived permutations) + LSH banding "
    f"({_N_HASHES // _BAND_SIZE} bands x {_BAND_SIZE}): bucket join on "
    "(band, signature), exact-Jaccard verify of collisions only. The "
    "linear-cost scale path for near-dedup; md5-relational formulation "
    "keeps it engine-portable and oracle-checkable.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    doc_sets, cand = lsh_candidates(docs)
    return _jaccard_verify(doc_sets, cand, with_est=False)


def _jaccard_verify(
    doc_sets: DataFrame, cand: DataFrame, with_est: bool
) -> DataFrame:
    """Shared exact-Jaccard verify over LSH candidates — ONE
    implementation, so dedup_minhash_lsh and dedup_jaccard_lsh can
    never drift apart (their pair sets are asserted equal in pytest).
    ``with_est`` additionally reports the MinHash estimate (matching
    signature fraction), the estimator-vs-truth audit column."""
    da = doc_sets.select(
        F.col("doc_id").alias("ka"),
        F.col("shs").alias("shs_a"),
        F.size("shs").alias("na"),
        *(
            [F.col(f"mh{i}").alias(f"a_mh{i}") for i in range(_N_HASHES)]
            if with_est
            else []
        ),
    )
    db = doc_sets.select(
        F.col("doc_id").alias("kb"),
        F.col("shs").alias("shs_b"),
        F.size("shs").alias("nb"),
        *(
            [F.col(f"mh{i}").alias(f"b_mh{i}") for i in range(_N_HASHES)]
            if with_est
            else []
        ),
    )
    n_inter = F.size(F.array_intersect("shs_a", "shs_b"))
    jacc = n_inter.cast("double") / (F.col("na") + F.col("nb") - n_inter)
    cols = ["doc_a", "doc_b"]
    if with_est:
        est = F.round(
            sum(
                F.when(F.col(f"a_mh{i}") == F.col(f"b_mh{i}"), 1).otherwise(0)
                for i in range(_N_HASHES)
            )
            / F.lit(float(_N_HASHES)),
            6,
        )
        cols.append(est.alias("jaccard_est"))
    cols.append(F.round(jacc, 6).alias("jaccard"))
    return (
        cand.join(da, F.col("doc_a") == F.col("ka"))
        .join(db, F.col("doc_b") == F.col("kb"))
        .where(jacc >= 0.6)
        .select(*cols)
        .orderBy("doc_a", "doc_b")
    )


def lsh_candidates(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The shared MinHash-LSH candidate stage every registered near-dup
    scale face composes: returns (doc_sets, cand).

    doc_sets — one row per doc with the full shingle set plus the
    _N_HASHES signature mins; cand — distinct (doc_a < doc_b) pairs
    colliding on at least one (band_id, band_key) bucket.

    ONE exchange for the whole stage: a single groupBy(doc_id)
    produces both the 12 signature mins (per-seed md5 computed
    map-side per shingle, partial-aggregated before the shuffle — no
    12x seed-crossJoin inflation) and the shingle set the exact-verify
    stages intersect. Banding, probe side, and build side all consume
    the same aggregation subtree, so the shingle shuffle is computed
    once and reused. The band join keys on (band_id, band_key) —
    corpus-linear, never all-pairs."""
    doc_sets = minhash_doc_sets(docs)
    bands = band_table(doc_sets)
    ba, bb = bands.alias("ba"), bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band_id") == F.col("bb.band_id"))
            & (F.col("ba.band_key") == F.col("bb.band_key"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return doc_sets, cand


def minhash_doc_sets(docs: DataFrame) -> DataFrame:
    """One row per doc: full shingle set + the _N_HASHES signature
    mins, from a single groupBy (the one exchange of the LSH stage).
    Factored out of lsh_candidates so the persisted-index lifecycle
    can sign corpus and increment slices separately — ONE definition
    of the signature semantics."""
    sh = _shingles(docs)
    return sh.groupBy("doc_id").agg(
        F.collect_set("sh").alias("shs"),
        *[
            F.min(
                F.md5(F.concat_ws(":", F.lit(str(i)), F.col("sh")))
            ).alias(f"mh{i}")
            for i in range(_N_HASHES)
        ],
    )


def band_table(doc_sets: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) — the LSH banding of a signature
    table; the single definition lsh_candidates and the persisted
    band index both consume."""
    return doc_sets.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("long").alias("band_id"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh{i}")
                                for i in range(
                                    b * _BAND_SIZE, (b + 1) * _BAND_SIZE
                                )
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(_N_HASHES // _BAND_SIZE)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")


# --- LSH-composed registered scale faces ------------------------------

_JACCARD_LSH_SQL = f"""{_LSH_CAND_CTE},
est AS (
  SELECT c.doc_a, c.doc_b,
         ROUND(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)
               / CAST({_N_HASHES} AS DOUBLE), 6) AS jaccard_est
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
  GROUP BY 1, 2
),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, e.jaccard_est,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6)
         AS jaccard
FROM inter i
JOIN est e ON e.doc_a = i.doc_a AND e.doc_b = i.doc_b
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6
ORDER BY i.doc_a, i.doc_b
"""


@register(
    "dedup_jaccard_lsh",
    _JACCARD_LSH_SQL,
    doc="The scale face of n-gram Jaccard dedup: MinHash-LSH banding "
    "prunes to colliding pairs, "
    "then the exact Jaccard ratio verifies — with the MinHash estimate "
    "(matching signature fraction) reported next to the exact value, "
    "the estimator-vs-truth audit column a production pipeline uses to "
    "tune bands x rows. One doc-keyed exchange computes signatures, "
    "band join is bucketed on (band_id, band_key) — corpus-linear.",
)
def dedup_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    doc_sets, cand = lsh_candidates(docs)
    return _jaccard_verify(doc_sets, cand, with_est=True)


_CONTAIN_LSH_SQL = f"""{_LSH_CAND_CTE},
pairs AS (
  SELECT doc_a AS doc_id, doc_b AS container_id FROM cand
  UNION ALL
  SELECT doc_b AS doc_id, doc_a AS container_id FROM cand
),
inter AS (
  SELECT p.doc_id, p.container_id, COUNT(*) AS n_inter
  FROM pairs p
  JOIN sh a ON a.doc_id = p.doc_id
  JOIN sh b ON b.doc_id = p.container_id AND b.sh = a.sh
  GROUP BY 1, 2
)
SELECT i.doc_id, i.container_id,
       ROUND(CAST(n_inter AS DOUBLE) / sa.n_sh, 6) AS containment
FROM inter i
JOIN sizes sa ON i.doc_id = sa.doc_id
WHERE CAST(n_inter AS DOUBLE) / sa.n_sh >= {_CONTAIN_TAU}
ORDER BY i.doc_id, i.container_id
"""


@register(
    "dedup_containment_lsh",
    _CONTAIN_LSH_SQL,
    doc="The scale face of directional containment dedup "
    "(|A∩B|/|A|, Broder 1997): each unordered LSH candidate pair is "
    "checked in BOTH directions for |A∩B|/|A| >= 0.8. Honest recall "
    "caveat, pinned in pytest: symmetric MinHash banding under-recalls "
    "extreme-asymmetry containment (tiny doc inside a huge one has "
    "Jaccard ~0, so bands rarely collide); near-equal-size "
    "containment — the dominant web-dup case — band-collides like any "
    "strong near-dup. The oracle composes the identical banding, so "
    "the twins agree pair-for-pair.",
)
def dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    doc_sets, cand = lsh_candidates(docs)
    pairs = cand.select("doc_a", "doc_b").union(
        cand.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("container_id"))
    da = doc_sets.select(
        F.col("doc_id").alias("ka"),
        F.col("shs").alias("shs_a"),
        F.size("shs").alias("na"),
    )
    db = doc_sets.select(
        F.col("doc_id").alias("kb"), F.col("shs").alias("shs_b")
    )
    contain = F.size(F.array_intersect("shs_a", "shs_b")).cast("double") / F.col(
        "na"
    )
    return ordered(
        pairs.join(da, F.col("doc_id") == F.col("ka"))
        .join(db, F.col("container_id") == F.col("kb"))
        .where(contain >= _CONTAIN_TAU)
        .select(
            "doc_id", "container_id", F.round(contain, 6).alias("containment")
        ),
        "doc_id",
        "container_id",
    )


_N_EVAL_DOCS = 10

_DECONTAM_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLE_SQL}) AS sh FROM documents
),
eval_sh AS (SELECT DISTINCT sh FROM sh WHERE doc_id < {_N_EVAL_DOCS}),
contaminated AS (
  SELECT doc_id, COUNT(*) AS n_shared
  FROM sh JOIN eval_sh USING (sh)
  WHERE doc_id >= {_N_EVAL_DOCS}
  GROUP BY doc_id
  HAVING COUNT(*) >= 3
)
SELECT doc_id, n_shared FROM contaminated
ORDER BY doc_id
"""


@register(
    "decontaminate_vs_eval",
    _DECONTAM_SQL,
    doc=f"Benchmark decontamination: training docs sharing >=3 word "
    f"3-gram shingles with the eval set (doc_id < {_N_EVAL_DOCS}) are "
    "flagged. The eval shingle set broadcasts (it is tiny by "
    "construction), so the scan over 100 TB of training text stays "
    "map-side — the standard eval-leakage filter for pretraining "
    "corpora.",
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    sh = _shingles(docs)
    eval_sh = (
        sh.where(F.col("doc_id") < _N_EVAL_DOCS).select("sh").distinct()
    )
    return ordered(
        sh.where(F.col("doc_id") >= _N_EVAL_DOCS)
        .join(F.broadcast(eval_sh), "sh", "inner")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 3),
        "doc_id",
    )


_VOCAB_SQL = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT word, COUNT(*) AS freq,
       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word) - 1 AS token_id
FROM tok
GROUP BY word
ORDER BY token_id
LIMIT 100
"""


@register(
    "vocab_top_words",
    _VOCAB_SQL,
    doc="Tokenizer-vocabulary construction: corpus-wide word "
    "frequencies, deterministic (freq desc, word) ranking to ids. "
    "Explode -> two-phase count -> parallel top-k "
    "(TakeOrderedAndProject: each task keeps its local top-100, the "
    "driver merges 100 x tasks rows) -> row_number over exactly 100 "
    "rows. The naive alternative — a global row_number window then "
    "filter — funnels the ENTIRE vocabulary through one task; at "
    "corpus scale that single sort is the job.",
)
def vocab_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (docs,) = load_tables(spark, sf_dir, "documents")
    freqs = (
        spread(docs)
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = freqs.orderBy(F.desc("freq"), F.asc("word")).limit(100)
    # global (unpartitioned) window — benign by construction: it runs
    # AFTER the limit, over exactly <= 100 rows, so the single-task
    # WindowExec warning Spark always emits does not indicate a funnel
    w = Window.orderBy(F.desc("freq"), F.asc("word"))
    return ordered(top.withColumn("token_id", F.row_number().over(w) - 1), "token_id")


_SIMHASH_BITS = 64
_HAMMING_MAX = 6
# token -> md5-top-8-bytes hash, resident in the reused Python worker so
# repeated vocabulary (the common case for natural text) hashes once per
# worker, not once per batch; bounded in the kernel before insertion
_SIMHASH_MEMO: dict = {}
# entry-count bound for the memo, plus a per-token length cap (ADVICE
# r12): long distinct tokens could otherwise pin GBs of str->int
# entries in a reused worker — an over-cap token is hashed but never
# memoized (correctness unchanged; md5 recomputes)
_SIMHASH_MEMO_MAX = 4_000_000
_SIMHASH_MEMO_TOKLEN_MAX = 64
# per-worker reusable gather buffer for the big-vocab vote path (guide
# §4.5: heavyweight state once per task/worker, not per batch)
_SIMHASH_BUF: dict = {}
# kernel sizing, module-level so tests can shrink them to force the
# big-vocab fallback through slab boundaries (ADVICE r12: the fallback
# was unreachable by any test at production sizes):
# - GEMM path while n_docs * n_distinct_tokens fits this many cells
_SIMHASH_GEMM_MAX = 8_000_000
# - fallback gather slab, in tokens. Round 13 shrank it 2x (1 << 17 ->
#   1 << 16) and moved the vote to float32 (exact: every histogram
#   count and partial sum is an integer < 2^23, guarded per batch) —
#   together the per-worker slab fell 68.7 -> 17.8 MB, cutting the
#   first-batch page-in constant that dominated the face's bench entry
#   on a cold worker (round-12 verdict task 6).
_SIMHASH_SLAB_TOKENS = 1 << 16


# Bit-level SQL twin of the pandas-UDF SimHash: instead of 64-bit
# integer twiddling (whose shift/sign semantics differ per engine), the
# oracle works one (doc, bit) row at a time — bit b of md5(token) read
# straight out of hex nibble (63-b)//4, majority vote per bit, band
# keys as small per-chunk integer sums, hamming as a per-bit inequality
# count. Bitwise-identical to the UDF by construction — including NULL
# text: the UDF maps NULL to '' (one empty token), so the oracle
# COALESCEs before splitting; a bare string_split(NULL) would unnest to
# zero rows and silently drop the document from the signature set.
_SIMHASH_SQL = f"""
WITH toks AS (SELECT doc_id, unnest(string_split(COALESCE(text, ''),' ')) AS tok FROM documents),
h AS (SELECT doc_id, md5(tok) AS m FROM toks),
bt AS (
  SELECT doc_id, b,
         CASE WHEN SUM(CASE WHEN ((strpos('0123456789abcdef',
                  substr(m, CAST((63-b)//4 AS INT) + 1, 1)) - 1)
                  // (CASE b%4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END)) % 2 = 1
              THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bit
  FROM h CROSS JOIN (SELECT unnest(range({_SIMHASH_BITS})) AS b) GROUP BY doc_id, b
),
chunks AS (
  SELECT doc_id, b//8 AS chunk_id,
         SUM(bit * (CASE b%8 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 WHEN 3 THEN 8
                    WHEN 4 THEN 16 WHEN 5 THEN 32 WHEN 6 THEN 64 ELSE 128 END)) AS chunk
  FROM bt GROUP BY doc_id, b//8
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, e.doc_id AS doc_b
  FROM chunks a JOIN chunks e ON a.chunk_id = e.chunk_id AND a.chunk = e.chunk AND a.doc_id < e.doc_id
),
ham AS (
  SELECT c.doc_a, c.doc_b, SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS hamming
  FROM cand c
  JOIN bt x ON x.doc_id = c.doc_a
  JOIN bt y ON y.doc_id = c.doc_b AND y.b = x.b
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
FROM ham WHERE hamming <= {_HAMMING_MAX} ORDER BY doc_a, doc_b
"""


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig): 64-bit SimHash per document, whole-batch
    vectorized (round 12). Module-level so the kernel is pinned
    bit-for-bit by test_simhash_kernel_vectorized."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def simhash64(texts: pd.Series) -> pd.Series:
        # Whole-batch vectorized signature (round 12): the old kernel
        # looped per token in Python with per-token 64-element numpy
        # ops (~10 us/token) and dominated the face end to end (698 s
        # at 1000x). Tokenize + dictionary-encode now run as Arrow C
        # kernels, md5 runs once per DISTINCT token (memoized across
        # batches in the reused worker), and the per-doc majority vote
        # is a (docs x vocab) histogram times a (vocab x 64) bit
        # matrix — float64 BLAS GEMM, exact because every value is an
        # integer far below 2^53. Bit-identical to the old kernel by
        # construction: same (t or "").split(" ") token semantics
        # (Arrow split_pattern keeps [''] for empty and '' runs), same
        # per-token md5 top-8-bytes hash, same strict acc > 0 (2c > T)
        # majority rule. Pinned by test_simhash_kernel_vectorized.
        import hashlib

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        n = len(texts)
        if n == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        shifts = np.arange(_SIMHASH_BITS, dtype=np.uint64)
        toks = pc.split_pattern(pa.Array.from_pandas(texts.fillna("")), " ")
        offs = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        lens = np.diff(offs)
        enc = toks.values.dictionary_encode()
        codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        uniq = enc.dictionary.to_pylist()
        memo = _SIMHASH_MEMO
        uh = np.empty(len(uniq), dtype=np.uint64)
        for i, tok in enumerate(uniq):
            v = memo.get(tok)
            if v is None:
                v = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
                # bound worker-resident memo by entries AND token size
                if (
                    len(memo) < _SIMHASH_MEMO_MAX
                    and len(tok) <= _SIMHASH_MEMO_TOKLEN_MAX
                ):
                    memo[tok] = v
            uh[i] = v
        # float32 vote (round 13): every histogram count and every
        # partial sum below is an integer bounded by the longest doc's
        # token count, so float32 is EXACT while 2*count stays under
        # 2^24 — i.e. lens.max() < 2^23, true for any real document
        # batch; the guard keeps pathological inputs on float64. Halves
        # the slab bytes, the gather traffic and the GEMM bandwidth.
        vote_dt = np.float32 if lens.max() < (1 << 23) else np.float64
        # (vocab, 64) bit matrix; column b holds bit b of each hash
        ubits = np.unpackbits(
            uh.byteswap().view(np.uint8).reshape(-1, 8), axis=1, bitorder="big"
        )[:, ::-1].astype(vote_dt)
        doc_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
        if n * len(uniq) <= _SIMHASH_GEMM_MAX:
            hist = (
                np.bincount(doc_idx * len(uniq) + codes, minlength=n * len(uniq))
                .reshape(n, len(uniq))
                .astype(vote_dt)
            )
            counts = hist @ ubits
        else:
            # big-vocab fallback: gather each token's bit row and
            # segment-sum per doc with reduceat (np.add.at measured
            # 16x slower on the same slab). The gather target is a
            # preallocated per-worker buffer (np.take(..., out=...)):
            # a fresh ~270 MB temporary per batch in 32 concurrent
            # workers collapsed the vote 100x in mmap/page-fault churn
            # (measured 51 s/batch concurrent vs 0.5 s alone; buffered
            # stage 59.6 -> 16.2 s at 100x). Slabs align to doc
            # boundaries so every reduceat segment is complete; lens
            # >= 1 always (split of '' is ['']), so no empty segment
            slab_tokens = _SIMHASH_SLAB_TOKENS
            buf = _SIMHASH_BUF.get(vote_dt)
            if buf is None or buf.shape[0] < slab_tokens + 4096:
                buf = np.zeros(
                    (slab_tokens + 4096, _SIMHASH_BITS), dtype=vote_dt
                )
                _SIMHASH_BUF[vote_dt] = buf
            counts = np.empty((n, _SIMHASH_BITS), dtype=vote_dt)
            d0 = 0
            while d0 < n:
                d1 = int(
                    np.searchsorted(offs, offs[d0] + slab_tokens, side="left")
                )
                d1 = max(d0 + 1, min(d1, n))
                k = offs[d1] - offs[d0]
                if k > buf.shape[0]:
                    g = ubits[codes[offs[d0] : offs[d1]]]
                else:
                    g = buf[:k]
                    np.take(
                        ubits, codes[offs[d0] : offs[d1]], axis=0, out=g
                    )
                counts[d0:d1] = np.add.reduceat(
                    g, offs[d0:d1] - offs[d0], axis=0
                )
                d0 = d1
        sigbits = (2.0 * counts.astype(np.float64)) > lens[:, None]
        sig = (sigbits.astype(np.uint64) << shifts).sum(axis=1, dtype=np.uint64)
        return pd.Series(sig.view(np.int64).copy())

    # asNondeterministic (guide §4.4): the banding join's inferred
    # isnotnull(sig) constraint otherwise gets pushed BELOW the
    # projection and the optimizer re-evaluates the UDF above it —
    # two ArrowEvalPython nodes in sequence per join side, the whole
    # signature kernel run 4x per query (seen in the 100x plan). The
    # function is pure; the marker only forbids Catalyst from
    # duplicating or reordering it.
    simhash64 = simhash64.asNondeterministic()
    return docs.select("doc_id", simhash64("text").alias("sig"))


@register(
    "dedup_simhash",
    _SIMHASH_SQL,
    doc="64-bit SimHash near-dup candidates (hamming <= "
    f"{_HAMMING_MAX}) via Arrow-vectorized pandas UDF + chunk-pair "
    "(28 x 16-bit) band exact-match blocking. Fully oracle-checked: "
    "the DuckDB twin "
    "recomputes the signature per (doc, bit) from md5 hex nibbles — "
    "no 64-bit twiddling in SQL — and must agree on every candidate "
    "pair AND its exact hamming distance. Recall vs the exact Jaccard "
    "pairs additionally asserted in tests/test_operators.py.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    # NOT staged: the banding self-join's two sides produce identical
    # Exchange(chunk_id, chunk) subtrees, so the signature UDF runs
    # once and the second side is a ReusedExchange (verified in the
    # plan; an explicit parquet stage measured SLOWER at 100x,
    # 35.6 -> 47.3 s, round 12)
    sigs = simhash_signatures(spread(docs))
    # band on PAIRS of 8-bit chunks (28 bands of 16 bits, round 12): a
    # pair with hamming <= 6 has its differing bits in at most 6 of the
    # 8 chunks, so at least TWO chunks are identical — band (i, j) over
    # every i < j therefore guarantees candidate recall for
    # _HAMMING_MAX = 6, exactly like the old any-single-chunk banding
    # (which needed only hamming <= 7). The point is collision mass:
    # random single-chunk collisions cost sum-over-buckets C(n,2) ~
    # 8 N^2/2^9 pair emissions (measured 4.7e9 at 100x, ~4.7e11 at
    # 1000x — the face's real scale wall, NOT the signature UDF), while
    # 16-bit keys cost 28 N^2/2^17 — 73x fewer. The exploded row count
    # only grows 8 -> 28 per doc. Output is IDENTICAL: both schemes
    # have guaranteed recall at the hamming cutoff, and the final
    # hamming filter + distinct make the result the full hamming <= 6
    # pair set either way (the oracle's single-chunk SQL twin agrees
    # for the same reason).
    chunks = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(8 * i + j).alias("chunk_id"),
                        (
                            F.shiftrightunsigned("sig", 8 * i)
                            .bitwiseAND(F.lit(0xFF))
                            * 256
                            + F.shiftrightunsigned("sig", 8 * j)
                            .bitwiseAND(F.lit(0xFF))
                        ).alias("chunk"),
                    )
                    for i in range(8)
                    for j in range(i + 1, 8)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "sig", "ch.chunk_id", "ch.chunk")
    ca, cb = chunks.alias("ca"), chunks.alias("cb")
    cand = (
        ca.join(
            cb,
            (F.col("ca.chunk_id") == F.col("cb.chunk_id"))
            & (F.col("ca.chunk") == F.col("cb.chunk"))
            & (F.col("ca.doc_id") < F.col("cb.doc_id")),
        )
        .select(
            F.col("ca.doc_id").alias("doc_a"),
            F.col("cb.doc_id").alias("doc_b"),
            F.col("ca.sig").alias("sig_a"),
            F.col("cb.sig").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return ordered(
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= _HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming"),
        "doc_a",
        "doc_b",
    )


_CLUSTER_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_MINHASH_SQL.strip().rstrip()})
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
SELECT l.doc_id, l.cluster_id, c.cluster_size
FROM labels l
JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
      FROM labels GROUP BY cluster_id) c USING (cluster_id)
ORDER BY doc_id
"""


_CC_MAX_ROUNDS = 32
_CC_PROBE_EVERY = 2  # rounds between convergence probes


def connected_components(edges: DataFrame) -> tuple[DataFrame, int]:
    """Connected components over a symmetric edge list (columns a, b):
    returns (labels, rounds_used) where labels has (doc_id, cluster_id)
    = the component's minimum node id.

    Each round combines TWO label moves before the next checkpoint:

    - neighbor-min propagation (the Pregel step): pull every
      neighbor's current label, keep the minimum — advances a label
      one hop per round, O(diameter) alone;
    - pointer jumping (path halving): re-label through the label's own
      label (lbl = lbl(lbl)) — doubles the hop distance a label has
      travelled, so the combination converges in O(log diameter)
      rounds. A 1000-hop duplicate chain costs ~10 rounds, not 1000
      (plain propagation under a fixed round cap would return WRONG
      components on chains longer than the cap).

    Each round is two shuffles keyed on node id and ends in a parquet
    frontier stage (``write_read_back``, the repo's persisted-staging
    pattern): persist() alone would cache the data but the logical plan
    would still deepen every round (analysis cost grows with iteration
    count — the classic iterative-algorithm trap), and localCheckpoint
    (the previous mechanism) pinned every round's labels in executor
    heap with no public release API, degrading every query that ran
    after a CC face in the same session: measured at 1000x,
    dedup_jaccard_lsh ran 365 s after dedup_clusters' CC loop vs 171 s
    in a fresh session. A parquet stage costs one tiny columnar write
    per round (2 long columns) and leaves the heap clean; each
    invocation stages under its own ``scratch_run`` leaf, so a round's
    directory is never overwritten mid-plan. The other graph faces
    (pagerank, k-core, semantic clusters) stage their pair and frontier
    tables the same way. The scalar convergence probe runs every
    _CC_PROBE_EVERY rounds to halve driver-side actions; _CC_MAX_ROUNDS
    caps the loop.
    """
    run_dir = scratch_run("cc")
    # init: every node labels itself with the smallest neighbor (or self)
    labels = write_read_back(
        edges.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("lbl"))
        .select(F.col("a").alias("doc_id"), F.col("lbl").alias("cluster_id")),
        f"{run_dir}/r0",
    )
    rounds = 0
    for r in range(1, _CC_MAX_ROUNDS + 1):
        rounds = r
        nbr = (
            edges.join(labels, edges["b"] == labels["doc_id"])
            .groupBy("a")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        prop = labels.join(nbr, labels["doc_id"] == nbr["a"], "left").select(
            "doc_id",
            F.least(
                "cluster_id", F.coalesce("nbr_min", F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        parent = prop.select(
            F.col("doc_id").alias("p_id"), F.col("cluster_id").alias("p_lbl")
        )
        new_labels = write_read_back(
            prop.join(parent, prop["cluster_id"] == parent["p_id"], "left")
            .select(
                "doc_id",
                F.least(
                    "cluster_id", F.coalesce("p_lbl", F.col("cluster_id"))
                ).alias("cluster_id"),
            ),
            f"{run_dir}/r{r}",
        )
        converged = False
        if r % _CC_PROBE_EVERY == 0 or r == _CC_MAX_ROUNDS:
            converged = (
                new_labels.join(
                    labels.withColumnRenamed("cluster_id", "old"), "doc_id"
                )
                .where(F.col("cluster_id") != F.col("old"))
                .limit(1)
                .count()
                == 0
            )
        labels = new_labels
        if converged:
            break
    return labels, rounds


@register(
    "dedup_clusters",
    _CLUSTER_SQL,
    doc="Duplicate-cluster assignment (the step after pair generation a "
    "real dedup pipeline needs): connected components of the "
    "minhash-LSH near-dup graph via min-label propagation WITH pointer "
    "jumping (lbl = lbl(lbl)) — the hop distance a label covers "
    "doubles per round, so convergence is O(log diameter) with two "
    "node-keyed shuffles per round and a convergence probe every "
    "second round (see connected_components; round count on a 64-node "
    "path graph pinned in tests/test_operators.py). The oracle states "
    "the same fixpoint as a recursive CTE over the identical pair set.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        )
        .distinct()
        .persist()
    )
    labels, _ = connected_components(edges)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    out = (
        labels.join(sizes, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
        .orderBy("doc_id")
    )
    edges.unpersist()
    return out


# Graph profile of the near-dup pair graph — the health check a dedup
# pipeline runs before collapsing clusters: node/edge counts, max
# degree (a super-connector node usually means a boilerplate shingle
# slipped through), and the triangle count (transitivity of the
# near-dup relation). Triangles enumerate by the standard distributed
# ordered-edge join: pairs keep doc_a < doc_b, so each triangle
# (a < b < c) matches exactly one (e1=(a,b), e2=(b,c), e3=(a,c))
# combination — two keyed shuffle joins, no orientation dedup needed.
_GRAPH_STATS_SQL = f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({_MINHASH_SQL.strip().rstrip()})
),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT doc_a AS node FROM pairs
        UNION ALL SELECT doc_b AS node FROM pairs)
  GROUP BY node
),
tri AS (
  SELECT COUNT(*) AS n
  FROM pairs e1
  JOIN pairs e2 ON e2.doc_a = e1.doc_b
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM pairs) AS n_edges,
       (SELECT n FROM tri) AS n_triangles,
       (SELECT MAX(d) FROM deg) AS max_degree
"""


@register(
    "neardup_graph_stats",
    _GRAPH_STATS_SQL,
    doc="Near-dup graph profile: node/edge counts, max degree, and "
    "triangle count of the minhash-LSH pair graph. Triangles use the "
    "ordered-edge join (doc_a < doc_b throughout, so each triangle "
    "matches exactly one edge combination) — two keyed shuffle joins, "
    "the standard distributed triangle enumeration; max degree flags "
    "boilerplate super-connectors before cluster collapse.",
)
def neardup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # eager parquet staging instead of persist: the pair table feeds
    # four consumers (degrees, both triangle sides, edge count), so it
    # must be computed once — but a lazy persist from inside a builder
    # would outlive the query in long sessions (the gate runs 140+
    # queries in one process), and localCheckpoint (the previous
    # mechanism) pins heap blocks with no release API (the round-9
    # GCLocker lesson). At production scale the pair table is a
    # materialized upstream output anyway.
    pairs = stage_to_parquet(
        dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b"),
        "graphstats_pairs",
    )
    deg = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionAll(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"), F.max("d").alias("max_degree")
    )
    edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    # three 1-row aggregates; cross joins broadcast single rows
    out = nodes.crossJoin(edges).crossJoin(tri).select(
        "n_nodes", "n_edges", "n_triangles", "max_degree"
    )
    return out


# --- PageRank over the near-dup graph --------------------------------
#
# Centrality on the duplicate graph ranks the "hub" documents a dedup
# keep-policy should prefer (keep the most-connected representative,
# drop satellites). Fixed-iteration PageRank with per-round rounding
# to 9 decimals in BOTH engines: float sums are order-sensitive at
# ~1e-15 while the rounding grid is 1e-9, so each round re-quantizes
# to identical values cross-engine and the hashes stay exact. The
# oracle replays all rounds in one recursive CTE (aggregation in the
# recursive step — DuckDB supports it; every float literal cast to
# DOUBLE because bare decimals parse as DECIMAL and truncate).

_PR_DAMP = 0.85
_PR_ITERS = 10
_PR_TOP = 20


def _pagerank_sql() -> str:
    return f"""
WITH RECURSIVE edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM ({_JACCARD_SQL.replace("ORDER BY doc_a, doc_b", "")})
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM ({_JACCARD_SQL.replace("ORDER BY doc_a, doc_b", "")})
),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
pr(iter, node, rank) AS (
  SELECT 0, node, ROUND(CAST(1.0 AS DOUBLE) / nn.n, 9) FROM nodes, nn
  UNION ALL
  SELECT iter + 1, e.dst,
         ROUND(CAST((1.0 - {_PR_DAMP}) AS DOUBLE) / (SELECT n FROM nn)
               + CAST({_PR_DAMP} AS DOUBLE) * SUM(pr.rank / deg.d), 9)
  FROM pr
  JOIN edges e ON pr.node = e.src
  JOIN deg ON pr.node = deg.src
  WHERE iter < {_PR_ITERS}
  GROUP BY iter + 1, e.dst
)
SELECT node AS doc_id, ROUND(rank, 6) AS pagerank,
       rnk AS rank_order
FROM (
  SELECT node, rank,
         ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS rnk
  FROM pr WHERE iter = {_PR_ITERS}
)
WHERE rnk <= {_PR_TOP}
ORDER BY rank_order
"""


@register(
    "neardup_pagerank",
    _pagerank_sql(),
    doc=f"PageRank (d={_PR_DAMP}, {_PR_ITERS} fixed rounds) over the "
    "near-dup graph: ranks the hub documents a cluster keep-policy "
    "prefers as representatives. Each round is one node-keyed "
    "shuffle (edges join ranks, sum by destination) with per-round "
    "1e-9 re-quantization making the float iteration engine-exact; "
    "lineage is parquet-stage-truncated every 5 rounds (the "
    "connected-components discipline — staged frontiers leave no "
    "pinned executor-heap blocks behind). The oracle replays the exact "
    "iteration in one recursive CTE with aggregation in the "
    "recursive step.",
)
def neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    run_dir = scratch_run("pr")
    # Pair stage = the PPJoin prefix-filtered exact join (round 13):
    # provably the SAME pair set as the quadratic shared-shingle
    # self-join (prefix filtering is lossless —
    # Chaudhuri/Bayardo; the dedup_jaccard_prefix face's oracle IS the
    # unfiltered all-pairs SQL, so its driver hash match is the
    # standing no-missed-pair proof), at a fraction of the pair-stage
    # cost: candidates come only from rarity-ordered prefix collisions
    # + length/positional bounds, then the exact Jaccard verify. This
    # was the face's 1000x wall (319 s, dominated by the definitional
    # pair stage — round-12 verdict task 2). Unordered relation: the
    # union/degree aggregation below makes a pair sort pure waste.
    (docs,) = load_tables(spark, sf_dir, "documents")
    # stage the PAIR table before the symmetric union: the union's two
    # branches re-execute everything above the pair stage's last
    # exchange (the exact-verify join ran twice — measured 93.8 s vs
    # 46.3 s for one pair pass at 100x), while a staged pair set is
    # read back twice for free
    pairs = write_read_back(
        _prefix_pairs(_prefix_doc_sets(docs)).select("doc_a", "doc_b"),
        f"{run_dir}/pairs",
    )
    edges = pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionByName(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    # edges also parquet-staged (see connected_components) so nothing
    # stays pinned in executor heap after the query
    edges = write_read_back(edges, f"{run_dir}/edges")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # fold degree into the edge table once — otherwise every round's
    # lazy plan re-aggregates edges and does a second join
    wedges = write_read_back(edges.join(deg, "src"), f"{run_dir}/wedges")
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n = nodes.count()
    if n == 0:
        # no near-dup pairs -> empty graph; mirror the oracle's empty
        # result instead of dividing by zero below
        return spark.createDataFrame(
            [], "doc_id bigint, pagerank double, rank_order int"
        )
    ranks = nodes.select(
        "node", F.round(F.lit(1.0) / n, 9).alias("rank")
    )
    for i in range(_PR_ITERS):
        contrib = ranks.join(wedges, ranks.node == wedges.src).select(
            F.col("dst").alias("node"), (F.col("rank") / F.col("d")).alias("c")
        )
        ranks = contrib.groupBy("node").agg(
            F.round(
                F.lit((1.0 - _PR_DAMP) / n) + _PR_DAMP * F.sum("c"), 9
            ).alias("rank")
        )
        if (i + 1) % 5 == 0:
            ranks = write_read_back(ranks, f"{run_dir}/ranks_r{i}")
    w = Window.orderBy(F.desc("rank"), F.asc("node"))
    # global window over the top-k only would still need the sort; the
    # orderBy+limit collapses to TakeOrderedAndProject and the final
    # row_number runs over exactly <= _PR_TOP rows — benign
    top = ranks.orderBy(F.desc("rank"), F.asc("node")).limit(_PR_TOP)
    return ordered(
        top.select(
            F.col("node").alias("doc_id"),
            F.round("rank", 6).alias("pagerank"),
            F.row_number().over(w).alias("rank_order"),
        ),
        "rank_order",
    )


# --- Bloom-filter decontamination ------------------------------------
#
# decontaminate_vs_eval broadcasts the eval shingle SET; at 100 TB the
# eval suite itself can be huge (every benchmark ever published), and
# what broadcasts then is a BLOOM FILTER of the shingles — constant
# bits per element, no false negatives, FP-rate-tunable. The filter
# here is md5-derived bit positions (k=3 seeds into a 2^16 space)
# realized as a broadcast hash set of set positions: the membership
# test is bit-identical to a bloom probe, stays fully declarative
# (JVM md5 + join, no UDF), and the DuckDB twin rebuilds the exact
# same filter, so even the false positives hash-match. The output
# carries exact-overlap accounting so the FP cost of the filter is
# auditable per flagged doc.

_BLOOM_SEEDS = 3
_BLOOM_MIN_HITS = 3  # same >= 3-shared rule as decontaminate_vs_eval


_BLOOM_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLE_SQL}) AS sh FROM documents
),
ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id < {_N_EVAL_DOCS}),
seeds AS (SELECT unnest(range(0, {_BLOOM_SEEDS})) AS k),
bits AS (
  SELECT DISTINCT {md5_prefix_int_sql("CAST(k AS VARCHAR) || ':' || sh")} AS pos
  FROM ev CROSS JOIN seeds
),
probe AS (
  SELECT s.doc_id, s.sh,
         SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_set
  FROM (SELECT doc_id, sh FROM sh WHERE doc_id >= {_N_EVAL_DOCS}) s
  CROSS JOIN seeds
  LEFT JOIN bits b ON b.pos = {md5_prefix_int_sql("CAST(seeds.k AS VARCHAR) || ':' || s.sh")}
  GROUP BY s.doc_id, s.sh
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_bloom_hits
  FROM probe WHERE n_set = {_BLOOM_SEEDS}
  GROUP BY doc_id
),
exact AS (
  SELECT doc_id, COUNT(*) AS n_shared
  FROM sh JOIN ev USING (sh)
  WHERE doc_id >= {_N_EVAL_DOCS}
  GROUP BY doc_id
)
SELECT h.doc_id,
       CAST(h.n_bloom_hits AS BIGINT) AS n_bloom_hits,
       CAST(COALESCE(e.n_shared, 0) AS BIGINT) AS n_exact_shared,
       (COALESCE(e.n_shared, 0) < {_BLOOM_MIN_HITS}) AS bloom_only
FROM hits h LEFT JOIN exact e USING (doc_id)
WHERE h.n_bloom_hits >= {_BLOOM_MIN_HITS}
ORDER BY h.doc_id
"""


@register(
    "decontaminate_bloom",
    _BLOOM_SQL,
    doc=f"Bloom-filter decontamination: the eval shingle set compresses "
    f"to {_BLOOM_SEEDS} md5-derived bit positions per shingle in a "
    "2^16 space, broadcast as a position set; the corpus probe is a "
    "map-side join against it (no false negatives — every doc "
    "decontaminate_vs_eval flags is flagged here too, pinned in "
    "pytest). This is the filter that still broadcasts when the eval "
    "suite outgrows an exact set at 100 TB. Exact-overlap accounting "
    "rides along, so bloom-only rows ARE the filter's false "
    "positives; the oracle rebuilds the identical filter, making even "
    "those hash-checked.",
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    sh = _shingles(docs)
    ev = sh.where(F.col("doc_id") < _N_EVAL_DOCS).select("sh").distinct()
    seeds = F.explode(
        F.array(*[F.lit(k) for k in range(_BLOOM_SEEDS)])
    ).alias("k")

    def pos4(prefix, shc):
        return hex_prefix_int(F.md5(F.concat(prefix, F.lit(":"), shc)))

    bits = (
        ev.select("sh", seeds)
        .select(pos4(F.col("k").cast("string"), F.col("sh")).alias("pos"))
        .distinct()
        .withColumn("set_bit", F.lit(1))
    )
    corpus = sh.where(F.col("doc_id") >= _N_EVAL_DOCS)
    probe = (
        corpus.select("doc_id", "sh", seeds)
        .withColumn("pos", pos4(F.col("k").cast("string"), F.col("sh")))
        .join(F.broadcast(bits), "pos", "left")
        .groupBy("doc_id", "sh")
        .agg(F.sum(F.coalesce("set_bit", F.lit(0))).alias("n_set"))
    )
    hits = (
        probe.where(F.col("n_set") == _BLOOM_SEEDS)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bloom_hits"))
    )
    exact = (
        corpus.join(F.broadcast(ev), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return ordered(
        hits.join(exact, "doc_id", "left")
        .where(F.col("n_bloom_hits") >= _BLOOM_MIN_HITS)
        .select(
            "doc_id",
            "n_bloom_hits",
            F.coalesce("n_shared", F.lit(0)).alias("n_exact_shared"),
            (F.coalesce("n_shared", F.lit(0)) < _BLOOM_MIN_HITS).alias(
                "bloom_only"
            ),
        ),
        "doc_id",
    )


# --- cluster-size distribution ---------------------------------------

_CLUSTER_HIST_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_MINHASH_SQL.strip().rstrip()})
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
),
sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY cluster_id
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs,
       CAST(COUNT(*) * (cluster_size - 1) AS BIGINT) AS n_removable
FROM sizes
GROUP BY cluster_size
ORDER BY cluster_size
"""


@register(
    "dedup_cluster_size_histogram",
    _CLUSTER_HIST_SQL,
    doc="Duplicate-cluster size distribution: how many clusters of "
    "each size the near-dup graph produces, with the removable-doc "
    "count per size (size - 1 per cluster under keep-one) — the "
    "histogram that tells a corpus owner whether duplication is long "
    "tail (many pairs) or head-heavy (a few giant mirror farms, the "
    "case that demands domain caps before dedup). Rides on the same "
    "pointer-jumping components as dedup_clusters; the extra cost is "
    "two tiny aggregations over the label table.",
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    sizes = (
        dedup_clusters(spark, sf_dir)
        .select("cluster_id", "cluster_size")
        .distinct()
    )
    return ordered(
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("n_clusters") * F.col("cluster_size")).alias("n_docs"),
            (F.col("n_clusters") * (F.col("cluster_size") - 1)).alias(
                "n_removable"
            ),
        ),
        "cluster_size",
    )


# --- canonical-representative selection ------------------------------
#
# The step AFTER clustering in a production dedup pipeline: each
# near-dup cluster keeps exactly one canonical document and drops the
# rest. Keep-policy: longest document wins (n_chars, the quality proxy
# available without a scorer), ties break to the smallest doc_id so
# re-runs are stable. Per-cluster argmax is a window ROW_NUMBER
# partitioned by cluster_id — never a global window; cluster sizes are
# bounded by the LSH band structure, so no partition explodes. At
# 100 TB the labels table is the materialized output of the clustering
# job and this selection is one labels-keyed join + one partitioned
# window — linear, shuffle-bounded by the clustered (not total) docs.

_KEEP_BEST_SQL = f"""
WITH clusters AS (
  SELECT doc_id, cluster_id, cluster_size FROM ({_CLUSTER_SQL.strip()})
),
ranked AS (
  SELECT c.doc_id, c.cluster_id, c.cluster_size, d.n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY c.cluster_id
           ORDER BY d.n_chars DESC, c.doc_id
         ) AS rn
  FROM clusters c
  JOIN documents d USING (doc_id)
)
SELECT doc_id, cluster_id, cluster_size, n_chars,
       (rn = 1) AS keep
FROM ranked
ORDER BY doc_id
"""


@register(
    "dedup_keep_best",
    _KEEP_BEST_SQL,
    doc="Canonical-representative selection, the step after clustering: "
    "each near-dup cluster keeps its longest document (n_chars, tie "
    "to smallest doc_id) and marks the rest droppable. One "
    "labels-keyed join + one cluster-partitioned window ROW_NUMBER "
    "(cluster sizes are LSH-band-bounded, so no partition explodes); "
    "at 100 TB this runs over the materialized clustering output, "
    "linear in the clustered docs.",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (docs,) = load_tables(spark, sf_dir, "documents")
    clusters = dedup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id", "cluster_size"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return ordered(
        clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            "n_chars",
            (F.col("rn") == 1).alias("keep"),
        ),
        "doc_id",
    )


# --- prefix-filter (PPJoin-style) exact set-similarity join -----------
#
# The THIRD route to near-dup pairs next to the quadratic shared-shingle
# join (pytest verifier) and MinHash-LSH banding (probabilistic): prefix
# filtering is EXACT and sub-quadratic. Order every doc's shingle set by
# a single global rarity order (doc-frequency asc, shingle asc); for
# Jaccard >= tau two sets must share at least one shingle among each
# one's first n - ceil(tau*n) + 1 rarest shingles (Chaudhuri/Bayardo
# prefix-filter theorem), so candidate generation joins ONLY on prefix
# shingles — and because prefixes hold the RAREST shingles, the join is
# anti-skew by construction: a boilerplate shingle shared by half the
# corpus has maximal df and lands at the END of every ordering, never in
# a prefix. Lossless => the oracle is the plain exact all-pairs Jaccard
# SQL; a hash match IS the no-missed-pair proof at full output strength.

_PREFIX_TAU = 0.6

_JACCARD_PREFIX_SQL = _JACCARD_SQL


@register(
    "dedup_jaccard_prefix",
    _JACCARD_PREFIX_SQL,
    doc="Exact set-similarity self-join via prefix filtering "
    "(PPJoin-lite, Xiao et al. / Vernica et al.'s MapReduce form): "
    "global rarity order (df asc, shingle asc), per-doc prefix of the "
    "n - ceil(tau*n) + 1 rarest shingles, candidates = prefix-shingle "
    "collisions + length filter, then exact verify by sorted-set "
    "intersection on candidates only. Same result set as the quadratic "
    "all-pairs self-join (prefix filtering is lossless) at a fraction "
    "of the pair-stage cost, and unlike MinHash-LSH it has NO false "
    "negatives — the route a compliance-grade dedup takes at 100 TB. "
    "The oracle is the unfiltered exact all-pairs Jaccard SQL, so the "
    "hash match doubles as the losslessness proof. Round-7 rewrite "
    "(exact int-gid dictionary + positional filter) took the 100x "
    "bench probe from 179 s to 27 s: the verify stage intersects "
    "8-byte gid arrays instead of ~30-byte trigram strings, and the "
    "positional bound prunes the random rare-token collisions that "
    "dominated candidate volume. dedup_jaccard_prefix_persisted is "
    "the amortized production face — the same index materialized to "
    "storage once (sim_knn_ivf_persisted pattern), serve measured "
    "12.7 s at 100x against the stored index.",
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    return _prefix_join(_prefix_doc_sets(docs))


_GID_BUCKETS = 1024


def _prefix_doc_sets(docs: DataFrame) -> DataFrame:
    """Rarity-ordered shingle sets with PPJoin prefix lengths: one row
    per doc with its shingles as EXACT global integer ids sorted by
    rarity, the set size, and the prefix length n - ceil(tau*n) + 1.
    This is the PPJoin index table — the part a production service
    materializes to storage once (see dedup_jaccard_prefix_persisted).

    The shingle->gid dictionary is exact (injective, no hashing in the
    id itself) and built distributedly in two stages: bucket the
    distinct-shingle table by (df, xxhash64(sh) % B), take offsets
    from the cumulative bucket counts, and row_number within each
    bucket by shingle. The resulting total order is (df asc, bucket,
    shingle) — PPJoin only requires SOME fixed total order ascending
    in document frequency, so the hash-bucket middle key is a valid
    tiebreak, and the hash buckets keep the rank windows balanced
    (partitioning by df alone would put the whole df=1 long tail in
    one partition). Int arrays then make both the stored index and the
    verify-stage intersections ~4x smaller/cheaper than word-trigram
    string arrays, with bit-exact semantics (gid equality == shingle
    equality)."""
    sh = _shingles(docs)
    gids = _gid_dictionary(sh)
    return (
        sh.join(gids, "sh")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("gid")).alias("shs"))
        .select("doc_id", "shs", F.size("shs").alias("n_sh"))
        .withColumn(
            "p_len",
            (
                F.col("n_sh")
                - F.ceil(F.lit(_PREFIX_TAU) * F.col("n_sh")).cast("int")
                + 1
            ),
        )
    )


def _gid_dictionary(sh: DataFrame) -> DataFrame:
    """Exact (sh -> gid) dictionary over a shingle stream, gid order =
    (df asc, hash-bucket, shingle) — see _prefix_doc_sets. Exposed
    separately so the incremental face can persist the dictionary and
    left-join a NEW batch's shingles against it (unknown shingles get
    NULL: provably absent from the indexed corpus, so they contribute
    set size and prefix positions but never candidates)."""
    # global shingle doc-frequency = the rarity ordering key. The join
    # back to sh shuffles on the shingle — same exchange the df agg
    # already keyed, so AQE coalesces; no doc-side explosion.
    df_t = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    b = (F.xxhash64("sh") % _GID_BUCKETS + _GID_BUCKETS) % _GID_BUCKETS
    bt = df_t.groupBy(F.col("df"), b.alias("b")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # offsets in two distributed stages, no global-sort funnel:
    # (1) across df values — triangular prefix-sum over the df
    #     DISTRIBUTION table (one row per distinct df, << vocabulary;
    #     the rank-statistics family's bounded shape, cf.
    #     vocab_zipf_slope), and
    # (2) within a df — running sum over its bucket counts, a window
    #     PARTITIONED by df whose partitions hold <= _GID_BUCKETS rows
    #     by construction.
    df_tot = bt.groupBy("df").agg(F.sum("c").alias("ct"))
    off_df = (
        df_tot.alias("a")
        .join(
            F.broadcast(
                df_tot.select(
                    F.col("df").alias("df_b"), F.col("ct").alias("ct_b")
                )
            ),
            F.col("df_b") < F.col("a.df"),
            "left",
        )
        .groupBy(F.col("a.df").alias("df"))
        .agg(F.coalesce(F.sum("ct_b"), F.lit(0)).alias("off_df"))
    )
    w_b = (
        Window.partitionBy("df")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        bt.withColumn("off_b", F.coalesce(F.sum("c").over(w_b), F.lit(0)))
        .join(off_df, "df")
        .select("df", "b", (F.col("off_df") + F.col("off_b")).alias("off"))
    )
    w_rn = Window.partitionBy("df", "b").orderBy("sh")
    return (
        df_t.withColumn("b", b)
        .withColumn("rn", F.row_number().over(w_rn))
        .join(F.broadcast(off), ["df", "b"])
        .select("sh", (F.col("off") + F.col("rn")).alias("gid"))
    )


def _prefix_join(doc_sets: DataFrame) -> DataFrame:
    """Candidate generation + exact verify over a (possibly stored)
    PPJoin index table: prefix-shingle collisions filtered by the
    Jaccard length bound AND the PPJoin positional bound, then exact
    verify by sorted-set intersection on candidates only. Shared
    verbatim by the lazy-lineage and persisted faces so the two can
    never drift semantically. Ordered face of _prefix_pairs (graph
    consumers take the unordered relation — their downstream
    aggregation makes the sort pure waste)."""
    return _prefix_pairs(doc_sets).orderBy("doc_a", "doc_b")


def _prefix_pairs(doc_sets: DataFrame) -> DataFrame:
    """The UNORDERED exact near-dup pair relation behind _prefix_join —
    identical rows, no final sort."""
    pre_a = doc_sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("na"),
        F.posexplode(F.slice("shs", F.lit(1), F.col("p_len"))).alias(
            "ia", "ptok"
        ),
    )
    pre_b = doc_sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("nb"),
        F.posexplode(F.slice("shs", F.lit(1), F.col("p_len"))).alias(
            "jb", "ptok"
        ),
    )
    # required overlap alpha = ceil(tau/(1+tau) * (na+nb)); for tau =
    # 3/5 that is ceil(3(na+nb)/8), computed in EXACT integer form
    # (floats near the ceil boundary could over-tighten the bound and
    # silently drop a qualifying pair)
    assert _PREFIX_TAU == 0.6, "alpha below is specialized to tau=3/5"
    alpha = (3 * (F.col("na") + F.col("nb")) + 7) / F.lit(8)
    alpha = F.floor(alpha).cast("int")
    # length filter: tau*na <= nb and tau*nb <= na (necessary for
    # Jaccard >= tau), applied during candidate generation so oversize
    # mismatches never reach the verify stage; positional filter: a
    # qualifying pair's FIRST common token (global rarity order) sits
    # at i <= na - alpha + 1 and j <= nb - alpha + 1 (all alpha common
    # tokens lie at positions >= that first match), so requiring it of
    # SOME matching token is lossless while pruning the random
    # rare-token collisions that dominate candidate volume
    cand = (
        pre_a.join(pre_b, "ptok")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("nb").cast("double") >= F.lit(_PREFIX_TAU) * F.col("na"))
            & (F.col("na").cast("double") >= F.lit(_PREFIX_TAU) * F.col("nb"))
            # posexplode positions are 0-based: i = ia + 1
            & (F.col("ia") + 1 <= F.col("na") - alpha + 1)
            & (F.col("jb") + 1 <= F.col("nb") - alpha + 1)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    da = doc_sets.select(
        F.col("doc_id").alias("ka"),
        F.col("shs").alias("shs_a"),
        F.col("n_sh").alias("na2"),
    )
    db = doc_sets.select(
        F.col("doc_id").alias("kb"),
        F.col("shs").alias("shs_b"),
        F.col("n_sh").alias("nb2"),
    )
    inter = F.size(F.array_intersect("shs_a", "shs_b")).cast("double")
    jacc = inter / (F.col("na2") + F.col("nb2") - inter)
    return (
        cand.join(da, F.col("doc_a") == F.col("ka"))
        .join(db, F.col("doc_b") == F.col("kb"))
        .where(jacc >= _PREFIX_TAU)
        .select("doc_a", "doc_b", F.round(jacc, 6).alias("jaccard"))
    )


# --- persisted PPJoin index (the 100x answer) ----------------------------
#
# dedup_jaccard_prefix's one measured scale casualty is lineage
# re-execution: Spark does not CSE common subplans, so the lazy plan
# recomputes the full shingle pipeline once per consumer (two explode
# sides + two verify sides), and at 100x bench scale that measured
# 179 s. The production shape — exactly the sim_knn_ivf_persisted
# index lifecycle — is to BUILD the rarity-ordered shingle index once,
# write it to parquet, and run candidate generation + verify against
# the STORED table: every consumer is then a column-pruned parquet
# scan, and the shingle pipeline executes exactly once no matter how
# many times the index is read. Same oracle as the quadratic exact
# join, so the hash match keeps proving losslessness end to end
# through the storage round-trip.

@register(
    "dedup_jaccard_prefix_persisted",
    _JACCARD_PREFIX_SQL,
    doc="Lossless set-similarity dedup served from a PERSISTED PPJoin "
    "index: the rarity-ordered shingle table (doc_id, ordered shingle "
    "array, set size, prefix length) is materialized to parquet once "
    "— the build job — and candidate generation + exact verify read "
    "only the stored index, so the shingle pipeline executes exactly "
    "once instead of once per lineage consumer (the re-execution that "
    "cost the lazy face 179 s at 100x scale). Candidate/verify logic "
    "is shared verbatim with dedup_jaccard_prefix (_prefix_join); the "
    "oracle is the unfiltered exact all-pairs Jaccard SQL, so the "
    "hash match proves prefix filtering lossless THROUGH the storage "
    "round-trip. This is the compliance-grade no-false-negative dedup "
    "shape at 100 TB: index amortized across runs, serve cost is "
    "prefix-collision-linear.",
)
def dedup_jaccard_prefix_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("jprefix_index")

    # -- build phase: one execution of the shingle pipeline, written
    # once. No partitionBy: consumers scan the whole index but join on
    # different keys (prefix token vs doc id), so a single compact
    # layout with column pruning beats any one partitioning.
    (docs,) = load_tables(spark, sf_dir, "documents")
    _prefix_doc_sets(docs).write.mode("overwrite").parquet(f"{base}/doc_sets")

    # -- serve phase: all four consumers of the index table are scans
    # of the stored parquet (explode sides read (doc_id, n_sh, shs,
    # p_len); verify sides read (doc_id, shs, n_sh) — column-pruned)
    return _prefix_join(spark.read.parquet(f"{base}/doc_sets"))


# --- incremental LOSSLESS near-dup: the crawl increment vs the stored
# PPJoin index --------------------------------------------------------
#
# dedup_incremental_minhash's compliance-grade sibling: the same
# deterministic 20% batch slice probed against the accumulated corpus,
# but via the persisted prefix index — NO false negatives, every
# cross-boundary pair with true Jaccard >= tau is emitted. The subtle
# part is the asymmetric dictionary: the gid dictionary is built from
# (and persisted with) the INDEX corpus only, so a batch document can
# contain shingles the dictionary has never seen. Those are provably
# absent from every indexed document (df_index = 0 — the globally
# rarest), so they can never produce a candidate or an intersection;
# they still count toward the batch doc's set size and, sorting ahead
# of all known gids in the rarity order, shift the positions of its
# known prefix members by n_unknown. Handling them this way keeps the
# PPJoin prefix/positional theorems exact: the prefix is still the
# first p_len elements of the doc's totally-ordered set — its unknown
# members simply generate no join rows.

_JPREFIX_INC_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLE_SQL}) AS sh FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6)
         AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {_PREFIX_TAU}
  AND ((doc_a % 5 = 4) <> (doc_b % 5 = 4))
ORDER BY doc_a, doc_b
"""

_INC_IS_BATCH = "doc_id % 5 = 4"  # the corpus-wide increment slice


@register(
    "dedup_jaccard_prefix_incremental",
    _JPREFIX_INC_SQL,
    doc="Incremental LOSSLESS near-dup ingest: the deterministic 20% "
    "crawl increment probed against the persisted PPJoin index of the "
    "accumulated corpus — every cross-boundary pair with exact "
    "3-gram Jaccard >= 0.6, no false negatives (the compliance-grade "
    "sibling of dedup_incremental_minhash, whose banding can miss). "
    "The gid dictionary persists WITH the index; batch shingles "
    "left-join it and unknown shingles (provably absent from every "
    "indexed doc) contribute set size and prefix positions but never "
    "candidates, keeping the prefix/positional pruning theorems exact "
    "under the asymmetric dictionary. Serve-side work is batch-"
    "prefix x index-prefix collisions plus exact verify on survivors "
    "— the index corpus is scanned from storage, never re-shingled. "
    "Oracle is the unfiltered all-pairs exact Jaccard restricted to "
    "cross-boundary pairs, so the hash match proves losslessness.",
)
def dedup_jaccard_prefix_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = scratch_dir("jprefix_inc")

    (docs,) = load_tables(spark, sf_dir, "documents")
    is_batch = F.expr(_INC_IS_BATCH)

    # -- build phase (offline): dictionary + ordered doc sets over the
    # ACCUMULATED corpus only, persisted together (the dictionary is
    # part of the index: probing requires the same total order)
    sh_idx = _shingles(docs.where(~is_batch))
    gids = _gid_dictionary(sh_idx)
    gids.write.mode("overwrite").parquet(f"{base}/dict")
    stored_gids = spark.read.parquet(f"{base}/dict")
    (
        sh_idx.join(stored_gids, "sh")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("gid")).alias("shs"))
        .select("doc_id", "shs", F.size("shs").alias("n_sh"))
        .withColumn(
            "p_len",
            F.col("n_sh")
            - F.ceil(F.lit(_PREFIX_TAU) * F.col("n_sh")).cast("int")
            + 1,
        )
        .write.mode("overwrite")
        .parquet(f"{base}/doc_sets")
    )

    # -- serve phase: assemble the increment against the STORED
    # dictionary; unknowns -> NULL gid (collect_list drops them), kept
    # in n_sh and in the position shift n_unk
    idx = spark.read.parquet(f"{base}/doc_sets")
    batch = (
        _shingles(docs.where(is_batch))
        .join(stored_gids, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("gid")).alias("kshs"),
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.when(F.col("gid").isNull(), 1).otherwise(0))
            .cast("int")
            .alias("n_unk"),
        )
        .withColumn(
            "p_len",
            F.col("n_sh")
            - F.ceil(F.lit(_PREFIX_TAU) * F.col("n_sh")).cast("int")
            + 1,
        )
    )
    pre_x = idx.select(
        F.col("doc_id").alias("doc_x"),
        F.col("n_sh").alias("nx"),
        F.posexplode(F.slice("shs", F.lit(1), F.col("p_len"))).alias(
            "ix0", "ptok"
        ),
    )
    # known prefix members of a batch doc: the first p_len - n_unk of
    # its known-gid array (the n_unk unknowns occupy the head of the
    # totally-ordered set); global position = n_unk + pos + 1
    pre_q = batch.select(
        F.col("doc_id").alias("doc_q"),
        F.col("n_sh").alias("nq"),
        F.col("n_unk"),
        F.posexplode(
            F.slice(
                "kshs",
                F.lit(1),
                F.greatest(F.col("p_len") - F.col("n_unk"), F.lit(0)),
            )
        ).alias("jq0", "ptok"),
    )
    assert _PREFIX_TAU == 0.6, "alpha below is specialized to tau=3/5"
    alpha = F.floor((3 * (F.col("nx") + F.col("nq")) + 7) / F.lit(8)).cast(
        "int"
    )
    cand = (
        pre_x.join(pre_q, "ptok")
        .where(
            (F.col("nq").cast("double") >= F.lit(_PREFIX_TAU) * F.col("nx"))
            & (F.col("nx").cast("double") >= F.lit(_PREFIX_TAU) * F.col("nq"))
            & (F.col("ix0") + 1 <= F.col("nx") - alpha + 1)
            & (F.col("n_unk") + F.col("jq0") + 1 <= F.col("nq") - alpha + 1)
        )
        .select("doc_x", "doc_q")
        .distinct()
    )
    dx = idx.select(
        F.col("doc_id").alias("kx"),
        F.col("shs").alias("shs_x"),
        F.col("n_sh").alias("nx2"),
    )
    dq = batch.select(
        F.col("doc_id").alias("kq"),
        F.col("kshs").alias("shs_q"),
        F.col("n_sh").alias("nq2"),
    )
    inter = F.size(F.array_intersect("shs_x", "shs_q")).cast("double")
    jacc = inter / (F.col("nx2") + F.col("nq2") - inter)
    return ordered(
        cand.join(dx, F.col("doc_x") == F.col("kx"))
        .join(dq, F.col("doc_q") == F.col("kq"))
        .where(jacc >= _PREFIX_TAU)
        .select(
            F.least("doc_x", "doc_q").alias("doc_a"),
            F.greatest("doc_x", "doc_q").alias("doc_b"),
            F.round(jacc, 6).alias("jaccard"),
        ),
        "doc_a",
        "doc_b",
    )


# --- LSH recall audit: banding vs the lossless prefix-join truth ---------
#
# The honest-measurement face for the flagship scale path: MinHash-LSH
# banding is probabilistic (a near-dup pair that never collides in any
# band is silently missed), and the repo's policy is to MEASURE such
# gaps, not assert them (cf. sim_recall_curve's recorded ~0 recall for
# sign-LSH). Ground truth here is cheap because dedup_jaccard_prefix is
# lossless AND subquadratic: truth = the exact pair set from the
# prefix-filtered join, found = truth pairs that band-collide, rolled
# up per Jaccard permille-band. The expected shape is the S-curve of
# 3 bands x 4 rows banding: recall near 1 for jaccard ~1 duplicates,
# decaying toward the 0.6 threshold — the number a pipeline owner
# reads to size bands/rows for a recall SLO. Spark side composes two
# bucketed pipelines (no quadratic stage); the DuckDB twin replays the
# quadratic truth, which is fine at oracle scale.

_LSH_RECALL_SQL = f"""{_LSH_CAND_CTE},
inter_all AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.doc_a, i.doc_b,
         ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6)
           AS jaccard
  FROM inter_all i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
        >= {_PREFIX_TAU}
)
SELECT CAST(floor(floor(t.jaccard * 1000 + 0.5) / 100) AS INT) AS jacc_band,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_found,
       ROUND(CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS recall
FROM truth t
LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
GROUP BY 1
ORDER BY 1
"""


@register(
    "dedup_lsh_recall_audit",
    _LSH_RECALL_SQL,
    doc="Measured MinHash-LSH recall per Jaccard permille-band against "
    "LOSSLESS ground truth from the prefix-filtered exact join "
    "(subquadratic on the Spark side — the audit composes two bucketed "
    "pipelines, no all-pairs stage): for every true pair >= tau, did "
    f"any of the {_N_HASHES // _BAND_SIZE}x{_BAND_SIZE} bands collide? "
    "The S-curve output (recall ~1 at jaccard ~1, decaying toward the "
    "0.6 threshold) is what sizes bands/rows against a recall SLO — "
    "the honest-measurement companion the registered LSH faces' "
    "silent-miss caveat refers to.",
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    truth = _prefix_join(_prefix_doc_sets(docs))
    _, cand = lsh_candidates(docs)
    found = cand.withColumn("f", F.lit(1))
    permille = F.floor(F.col("jaccard") * 1000 + 0.5)
    band = F.floor(permille / F.lit(100)).cast("int")
    return ordered(
        truth.join(found, ["doc_a", "doc_b"], "left")
        .groupBy(band.alias("jacc_band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum(F.coalesce("f", F.lit(0))).cast("long").alias("n_found"),
            F.round(
                F.sum(F.coalesce("f", F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("recall"),
        ),
        "jacc_band",
    )


# --- near-dup rate by source pair --------------------------------------
#
# Provenance-level dedup audit: WHICH sources duplicate each other —
# the report a crawl-curation team reads to find mirror sites and
# cross-source boilerplate. Pure composition: the MinHash-LSH verified
# pair stream (one doc-keyed exchange, banding, exact verify) joined
# twice to the doc->source map, aggregated per unordered source pair
# and normalized by the pair's doc-count product (an upper-bound rate
# proxy that is scale-free across source sizes).

_SRC_PAIR_SQL = f"""{_LSH_CAND_CTE},
verified AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sizes sa ON c.doc_a = sa.doc_id
  JOIN sizes sb ON c.doc_b = sb.doc_id
  JOIN (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.6
),
srcs AS (SELECT doc_id, source FROM documents),
pairs AS (
  SELECT LEAST(x.source, y.source) AS source_a,
         GREATEST(x.source, y.source) AS source_b,
         COUNT(*) AS n_dup_pairs
  FROM verified v
  JOIN srcs x ON x.doc_id = v.doc_a
  JOIN srcs y ON y.doc_id = v.doc_b
  GROUP BY 1, 2
),
scount AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY source)
SELECT p.source_a, p.source_b, CAST(p.n_dup_pairs AS BIGINT) AS n_dup_pairs,
       ROUND(CAST(p.n_dup_pairs AS DOUBLE)
             / (ca.n_docs * CAST(cb.n_docs AS DOUBLE)), 9) AS dup_rate
FROM pairs p
JOIN scount ca ON ca.source = p.source_a
JOIN scount cb ON cb.source = p.source_b
ORDER BY n_dup_pairs DESC, source_a, source_b
"""


@register(
    "neardup_rate_by_source",
    _SRC_PAIR_SQL,
    doc="Provenance audit over the LSH-verified near-dup pair stream: "
    "duplicate-pair counts per unordered source pair, normalized by "
    "the doc-count product — mirrors and cross-source boilerplate "
    "surface first. Composition of dedup_minhash_lsh's one-exchange "
    "candidate+verify stages with two broadcast-sized source joins; "
    "no new shuffle shape.",
)
def neardup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    doc_sets, cand = lsh_candidates(docs)
    pairs = _jaccard_verify(doc_sets, cand, with_est=False).select(
        "doc_a", "doc_b"
    )
    srcs = docs.select("doc_id", "source")
    scount = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    joined = (
        pairs.join(
            srcs.select(
                F.col("doc_id").alias("da"), F.col("source").alias("sa")
            ),
            F.col("doc_a") == F.col("da"),
        )
        .join(
            srcs.select(
                F.col("doc_id").alias("db"), F.col("source").alias("sb")
            ),
            F.col("doc_b") == F.col("db"),
        )
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_pairs"))
    )
    ca = scount.select(F.col("source").alias("ka"), F.col("n_docs").alias("na"))
    cb = scount.select(F.col("source").alias("kb"), F.col("n_docs").alias("nb"))
    return ordered(
        joined.join(F.broadcast(ca), F.col("source_a") == F.col("ka"))
        .join(F.broadcast(cb), F.col("source_b") == F.col("kb"))
        .select(
            "source_a",
            "source_b",
            "n_dup_pairs",
            F.round(
                F.col("n_dup_pairs").cast("double")
                / (F.col("na") * F.col("nb").cast("double")),
                9,
            ).alias("dup_rate"),
        ),
        F.desc("n_dup_pairs"),
        "source_a",
        "source_b",
    )


# --- soft dedup: frequency weights instead of removal ------------------
#
# SoftDeDup (He et al. 2024): instead of DROPPING near-duplicates,
# down-WEIGHT them — every document in a near-dup cluster of size k
# trains with weight 1/k, so each duplicated content unit contributes
# one effective document while unique text keeps full weight. This
# keeps long-tail phrasing the hard-removal policy (dedup_keep_best)
# throws away. Output is the per-source effective-size report: raw
# docs, clustered docs, and sum of weights in exact permille integers
# (k <= corpus, so 1000/k floors deterministically and sums as
# BIGINT — no float accumulation).

_SOFT_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_MINHASH_SQL.strip().rstrip()})
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
),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS k
  FROM labels GROUP BY cluster_id
),
weighted AS (
  SELECT d.doc_id, d.source,
         -- // (floor) not / : DuckDB / is float division and its
         -- int cast ROUNDS (1000/6 -> 167) where Spark div gives 166
         CAST(COALESCE(1000 // s.k, 1000) AS BIGINT) AS w_permille
  FROM documents d
  LEFT JOIN labels l ON l.doc_id = d.doc_id
  LEFT JOIN sizes s ON s.cluster_id = l.cluster_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE w_permille < 1000) AS BIGINT)
         AS n_downweighted,
       CAST(SUM(w_permille) AS BIGINT) AS effective_permille
FROM weighted
GROUP BY source
ORDER BY source
"""


@register(
    "dedup_soft_weights",
    _SOFT_SQL,
    doc="SoftDeDup effective-size report: near-dup clusters (the "
    "registered LSH pair graph + min-label components) assign every "
    "member weight 1/k instead of being dropped; per-source raw "
    "count, downweighted count, and the exact integer-permille "
    "effective size (1000 div k floors identically in both engines, "
    "sums as BIGINT). The soft alternative to dedup_keep_best's "
    "hard removal — same pair stage, different policy face.",
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        )
        .distinct()
        .persist()
    )
    labels, _ = connected_components(edges)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    weighted = (
        docs.select("doc_id", "source")
        .join(labels, "doc_id", "left")
        .join(sizes, "cluster_id", "left")
        .select(
            "source",
            F.coalesce(
                F.expr("1000 div k"), F.lit(1000)
            ).cast("long").alias("w_permille"),
        )
    )
    out = (
        weighted.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_if(F.col("w_permille") < 1000).cast("long").alias(
                "n_downweighted"
            ),
            F.sum("w_permille").cast("long").alias("effective_permille"),
        )
        .orderBy("source")
    )
    edges.unpersist()
    return out


# --- per-node clustering coefficient over the near-dup graph ----------
#
# neardup_graph_stats reports the GLOBAL triangle count; the per-node
# local clustering coefficient is the keep-policy signal next to it: a
# near-dup node whose neighbors are also near-dups of each other
# (lcc -> 1) sits inside a coherent duplicate cluster and is safe to
# collapse, while a high-degree low-lcc node bridges unrelated docs —
# the signature of a boilerplate shingle that slipped past banding.
# The Spark side enumerates triangles with the DEGREE-ORDERED
# orientation (each edge directed from its lower-(degree, id) endpoint)
# so every wedge join fans out from the endpoint with the SMALLER
# out-neighborhood — out-degree is O(sqrt(m)) under this orientation,
# which caps hub blow-up where an id-ordered join would enumerate a
# hot node's full neighborhood squared. The oracle enumerates the same
# triangle set with the simpler id-ordered join (each triangle
# x < y < z matches exactly one edge combination), so per-node counts
# are identical while the Spark plan carries the skew-resistant shape.

_LCC_SQL = f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({_MINHASH_SQL.strip().rstrip()})
),
sym AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
deg AS (SELECT u AS node, COUNT(*) AS d FROM sym GROUP BY u),
tri AS (
  SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
  FROM pairs e1
  JOIN pairs e2 ON e2.doc_a = e1.doc_b
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
pt AS (
  SELECT node, COUNT(*) AS t
  FROM (SELECT x AS node FROM tri
        UNION ALL SELECT y AS node FROM tri
        UNION ALL SELECT z AS node FROM tri) corners
  GROUP BY node
)
SELECT d.node AS doc_id,
       CAST(d.d AS BIGINT) AS degree,
       CAST(COALESCE(pt.t, 0) AS BIGINT) AS tri_count,
       CAST(CASE WHEN d.d >= 2
                 THEN (2000 * COALESCE(pt.t, 0)) // (d.d * (d.d - 1))
                 ELSE 0 END AS BIGINT) AS lcc_permille
FROM deg d LEFT JOIN pt ON d.node = pt.node
ORDER BY doc_id
"""


@register(
    "neardup_clustering_coefficient",
    _LCC_SQL,
    doc="Per-node local clustering coefficient of the minhash-LSH "
    "near-dup graph: degree, triangle membership count, and "
    "floor(1000 * 2T / d(d-1)) in exact integer permille (no float "
    "division anywhere). Spark enumerates triangles via the "
    "degree-ordered edge orientation — every edge points from its "
    "lower-(degree, id) endpoint, so the wedge self-join fans out "
    "only from smaller out-neighborhoods (out-degree O(sqrt(m)), the "
    "standard skew cap for distributed triangle counting); the oracle "
    "uses the id-ordered join, which enumerates the identical "
    "triangle set. High-degree low-lcc nodes are bridge docs a "
    "collapse policy must NOT merge across.",
)
def neardup_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # one materialization of the (bounded) near-dup pair table feeds
    # degrees, both wedge sides, and the closing-edge probe — same
    # eager parquet-staging rationale as neardup_graph_stats
    pairs = stage_to_parquet(
        dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b"),
        "clustcoef_pairs",
    )
    sym = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
    # orient: u -> v iff (deg(u), u) < (deg(v), v)
    oriented = (
        sym.join(du, "u")
        .join(dv, "v")
        .where(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        .select("u", "v", "dv")
    )
    e1 = oriented.select("u", F.col("v").alias("n1"), F.col("dv").alias("d1"))
    e2 = oriented.select("u", F.col("v").alias("n2"), F.col("dv").alias("d2"))
    wedges = (
        e1.join(e2, "u")
        .where(
            (F.col("d1") < F.col("d2"))
            | ((F.col("d1") == F.col("d2")) & (F.col("n1") < F.col("n2")))
        )
        .select("u", "n1", "n2")
    )
    close = oriented.select(
        F.col("u").alias("n1"), F.col("v").alias("n2")
    )
    tri = wedges.join(close, ["n1", "n2"])
    corners = tri.select(F.explode(F.array("u", "n1", "n2")).alias("node"))
    pt = corners.groupBy("node").agg(F.count(F.lit(1)).alias("t"))
    return ordered(
        deg.select(F.col("u").alias("node"), "d")
        .join(pt, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("tri_count"),
            F.when(
                F.col("d") >= 2,
                F.expr("(2000 * coalesce(t, 0)) div (d * (d - 1))"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("lcc_permille"),
        ),
        "doc_id",
    )


# --- 2-core of the near-dup graph (iterative peel) ---------------------
#
# Stripping degree<2 nodes until fixpoint leaves the graph's 2-core:
# the densely-duplicated NUCLEUS (mirror farms, template families)
# with every pendant one-off duplicate removed — the set a curation
# pipeline audits first, since each nucleus doc implies many removals.
# Peeling is genuinely iterative (a node's survival depends on its
# neighbors' survival), so this is the third iterative-graph primitive
# next to connected components (min-label + pointer jumping) and
# PageRank (fixed-round re-quantized). Both engines run EXACTLY
# _KCORE_ROUNDS peel rounds — no engine-side convergence detection, so
# the outputs are identical by construction even on a pathological
# pendant chain longer than the round budget; fixpoint-well-before-
# the-budget is pinned in pytest on the fixture corpus. The oracle
# carries the alive set as a per-round LIST in a recursive CTE (one
# self-reference, as standard SQL requires); Spark peels with two
# semi-joins per round (edges whose BOTH endpoints survive) and
# re-counts degrees, parquet-staging the frontier every round to cut
# the 12-round lineage.

_KCORE_K = 2
_KCORE_ROUNDS = 12

_KCORE_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_MINHASH_SQL.strip().rstrip()})
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
alive(r, nodes) AS (
  SELECT 0, (SELECT COALESCE(list(DISTINCT a ORDER BY a), []) FROM edges)
  UNION ALL
  SELECT r + 1,
         (SELECT COALESCE(list(node ORDER BY node), [])
          FROM (SELECT t.node
                FROM unnest(alive.nodes) AS t(node)
                JOIN edges e ON e.a = t.node
                WHERE list_contains(alive.nodes, e.b)
                GROUP BY t.node
                HAVING COUNT(*) >= {_KCORE_K}) q)
  FROM alive
  WHERE r < {_KCORE_ROUNDS}
),
core AS (
  SELECT unnest(nodes) AS node FROM alive WHERE r = {_KCORE_ROUNDS}
)
SELECT c.node AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS core_degree
FROM core c
JOIN edges e ON e.a = c.node
JOIN core c2 ON c2.node = e.b
GROUP BY c.node
ORDER BY doc_id
"""


@register(
    "neardup_kcore",
    _KCORE_SQL,
    doc=f"The {_KCORE_K}-core of the minhash-LSH near-dup graph via "
    f"iterative peeling ({_KCORE_ROUNDS} fixed rounds in BOTH "
    "engines): repeatedly remove nodes with fewer than "
    f"{_KCORE_K} surviving neighbors; what remains is the "
    "densely-duplicated nucleus (mirror farms, template families) "
    "with every pendant one-off duplicate stripped, reported with "
    "each survivor's core-internal degree. Spark peels with two "
    "broadcast-friendly semi-joins per round over the bounded pair "
    "table (edges keep only both-endpoints-alive) and parquet-stages "
    "the frontier each round to keep the lineage flat; because "
    "peeling is monotone (nodes only leave), Spark may stop as soon "
    "as a round removes nothing — provably output-equal to the "
    "oracle's full fixed budget — and fixpoint well inside the "
    "budget is pinned in pytest.",
)
def neardup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    run_dir = scratch_run("kcore")
    pairs = write_read_back(
        dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b"),
        f"{run_dir}/pairs",
    )
    edges = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).unionAll(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
    alive = edges.select(F.col("a").alias("node")).distinct()
    prev = None
    for _r in range(_KCORE_ROUNDS):
        live_edges = edges.join(
            alive, edges["a"] == alive["node"], "left_semi"
        ).join(
            alive.select(F.col("node").alias("nb")),
            edges["b"] == F.col("nb"),
            "left_semi",
        )
        alive = write_read_back(  # bounded (<= node count); cuts lineage
            live_edges.groupBy("a")
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") >= _KCORE_K)
            .select(F.col("a").alias("node")),
            f"{run_dir}/alive_r{_r}",
        )
        # peeling only removes nodes, so an unchanged COUNT means an
        # unchanged SET — every remaining round is the identity and
        # skipping them is output-equal to the oracle's full budget
        n = alive.count()
        if n == prev:
            break
        prev = n
    core_edges = edges.join(
        alive, edges["a"] == alive["node"], "left_semi"
    ).join(
        alive.select(F.col("node").alias("nb")),
        edges["b"] == F.col("nb"),
        "left_semi",
    )
    return ordered(
        core_edges.groupBy(F.col("a").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree")),
        "doc_id",
    )
