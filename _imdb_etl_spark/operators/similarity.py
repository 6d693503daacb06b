"""Similarity search over the ``embeddings`` table (array<float> x 64).

- `sim_knn_bruteforce`: exact cosine top-k for a query set — the
  correctness baseline. Cost O(|Q| x N); broadcast the queries, never
  shuffle the corpus.
- `sim_knn_lsh`: random-hyperplane (sign) LSH — the scale path: bucket
  on an 8-bit sign signature, rank only within buckets. The hyperplane
  sign matrix is derived from md5 in Python and embedded as literals so
  Spark and the DuckDB oracle use the identical projection.
- `dedup_embedding_cosine_ivf`: near-dup pairs by cosine >= threshold
  (semantic dedup), scored only within IVF inverted lists so pair work
  stays ~N^2/k; the all-pairs form exists only as DuckDB SQL
  (`_EMB_DEDUP_SQL`), the recall truth in pytest.

Float policy: embeddings are float32; all dot products/norms accumulate
in float64 element-by-element in both engines, and similarities are
rounded to 6 decimals before ranking/thresholding so accumulation-order
ulp noise can never flip an ordering differently per engine.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import ordered, rank_centroids_desc
from _imdb_etl_spark.operators.dedup import (
    _MINHASH_SQL,
    _jaccard_verify,
    connected_components,
    lsh_candidates,
)
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import (
    load_tables,
    scratch_dir,
    scratch_run,
    spread,
    stage_sorted,
    stage_to_parquet,
    write_read_back,
)

_N_QUERIES = 8  # vec_id < 8 are the query vectors
_TOP_K = 5
_DIM = 64


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


_DOT_SQL = (
    "list_sum(list_transform(range(1, {dim} + 1),"
    " j -> CAST({a}[j] AS DOUBLE) * CAST({b}[j] AS DOUBLE)))"
)


def _cos_sql(a: str, b: str) -> str:
    d = _DOT_SQL.format(a=a, b=b, dim=_DIM)
    na = _DOT_SQL.format(a=a, b=a, dim=_DIM)
    nb = _DOT_SQL.format(a=b, b=b, dim=_DIM)
    return f"({d}) / (sqrt({na}) * sqrt({nb}))"


_BRUTE_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND({_cos_sql('q.qe', 'e.embedding')}, 6) AS cosine_sim
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine_sim,
       rnk AS neighbor_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, neighbor_id) AS rnk
  FROM scored
)
WHERE rnk <= {_TOP_K}
ORDER BY query_id, neighbor_rank
"""


@register(
    "sim_knn_bruteforce",
    _BRUTE_SQL,
    doc=f"Exact cosine top-{_TOP_K} for {_N_QUERIES} query vectors: "
    "broadcast queries x corpus scan, JVM-side zip_with/aggregate dot "
    "products, windowed rank. The ANN correctness baseline.",
)
def sim_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    # norms once per vector (not per pair): corpus-linear prep, then the
    # pair stage computes a single dot product
    normed = emb.select(
        "vec_id", "embedding", F.sqrt(_dot("embedding", "embedding")).alias("nrm")
    )
    q = normed.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(normed)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("qe"), F.col("embedding"))
                / (F.col("qnrm") * F.col("nrm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return ordered(
        scored.withColumn("neighbor_rank", F.row_number().over(w))
        .where(F.col("neighbor_rank") <= _TOP_K),
        "query_id",
        "neighbor_rank",
    )


# deterministic random-hyperplane signs, shared verbatim by both engines
_N_PLANES = 8


def _plane_signs() -> list[list[int]]:
    planes = []
    for p in range(_N_PLANES):
        row = []
        for j in range(_DIM):
            h = hashlib.md5(f"{p}:{j}".encode()).digest()[0]
            row.append(1 if h < 128 else -1)
        planes.append(row)
    return planes


_PLANES = _plane_signs()


def _bucket_sql(vec: str) -> str:
    bits = []
    for p in range(_N_PLANES):
        arr = "[" + ",".join(str(s) for s in _PLANES[p]) + "]"
        score = (
            f"list_sum(list_transform(range(1, {_DIM} + 1),"
            f" j -> CAST({vec}[j] AS DOUBLE) * ({arr}[j])))"
        )
        bits.append(f"CASE WHEN ({score}) >= 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


_LSH_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM b
      WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND({_cos_sql('q.qe', 'e.embedding')}, 6) AS cosine_sim
  FROM q JOIN b e ON q.bucket = e.bucket AND e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine_sim, rnk AS neighbor_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, neighbor_id) AS rnk
  FROM scored
)
WHERE rnk <= {_TOP_K}
ORDER BY query_id, neighbor_rank
"""


@register(
    "sim_knn_lsh",
    _LSH_SQL,
    doc=f"ANN via random-hyperplane LSH: {_N_PLANES}-bit sign signature "
    "bucketing (md5-seeded sign matrix embedded as literals in both "
    "engines), cosine ranking within buckets only. The shuffle is on "
    "the bucket key — corpus-linear, never quadratic. Recall vs "
    "sim_knn_bruteforce asserted in tests. Honest production verdict "
    "(measured by sim_recall_curve on THIS corpus): single-table sign-"
    "LSH recall is near zero in the cosine ~0.5 regime these "
    "embeddings occupy — per-bit agreement (~0.66) is too close to "
    "random for one 8-bit table to bucket neighbors together. It "
    "stays registered as the LSH-family mechanics exhibit; the "
    "production ANN routes here are sim_knn_ivf / sim_knn_ivfpq "
    "(multi-probe coarse quantization, recall floors pinned) and "
    "sim_knn_binary_rerank (binary quantization + exact rerank, "
    "measured recall@5 0.45-0.48 on this corpus vs ~0 here).",
)
def sim_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load_tables(spark, sf_dir, "embeddings")

    def bucket(vec):
        bits = []
        for p in range(_N_PLANES):
            signs = F.array(*[F.lit(float(s)) for s in _PLANES[p]])
            score = F.aggregate(
                F.zip_with(vec, signs, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bits.append(F.when(score >= 0, "1").otherwise("0"))
        return F.concat(*bits)

    # spread the 8 per-row projection sums across cores (shuffles only
    # if the scan is under-partitioned; no-op on many-split input)
    emb = spread(emb)
    b = emb.select("vec_id", "embedding", bucket(F.col("embedding")).alias("bucket"))
    q = b.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        F.broadcast(q)
        .join(
            b,
            (F.col("qbucket") == F.col("bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_cosine(F.col("qe"), F.col("embedding")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return ordered(
        scored.withColumn("neighbor_rank", F.row_number().over(w))
        .where(F.col("neighbor_rank") <= _TOP_K),
        "query_id",
        "neighbor_rank",
    )


_CROSS_SQL_TEMPLATE = """
WITH txt_pairs AS ({jaccard_sql}),
n AS (
  SELECT vec_id, embedding, sqrt({norm}) AS nrm FROM embeddings
)
SELECT p.doc_a, p.doc_b, p.jaccard,
       ROUND(({dot}) / (a.nrm * b.nrm), 6) AS cosine_sim
FROM txt_pairs p
JOIN n a ON p.doc_a = a.vec_id
JOIN n b ON p.doc_b = b.vec_id
ORDER BY doc_a, doc_b
"""


def _cross_modal_sql() -> str:
    # round 11: the pair stage is the registered LSH scale path
    # (dedup_minhash_lsh's exact-verified collisions), not the
    # quadratic shared-shingle self-join — the 1000x probe measured
    # the exact-route composition at 450 s, ~12x/decade, all of it in
    # the pair stage its own family had already demoted in round 6
    body = _MINHASH_SQL.strip().rstrip(";")
    stripped = body.replace("ORDER BY i.doc_a, i.doc_b", "")
    # the strip is coupled to _MINHASH_SQL's exact final-line text; a
    # reformat over in dedup.py would otherwise make this a silent
    # no-op and leave an ORDER BY inside the txt_pairs CTE (ADVICE r11)
    assert stripped != body, "_MINHASH_SQL ORDER BY marker not found"
    return _CROSS_SQL_TEMPLATE.format(
        jaccard_sql=stripped,
        norm=_DOT_SQL.format(a="embedding", b="embedding", dim=_DIM),
        dot=_DOT_SQL.format(a="a.embedding", b="b.embedding", dim=_DIM),
    )


@register(
    "crossmodal_textdup_cosine",
    _cross_modal_sql(),
    doc="Operator composition: text near-dup pairs (word 3-gram "
    "Jaccard >= 0.6 via the registered MinHash-LSH scale path — "
    "banded candidates, exact-Jaccard verify of collisions only) "
    "joined with the cosine similarity of the same documents' "
    "embeddings — the agreement check between lexical and semantic "
    "dedup signals. The exact-route composition survives as the "
    "pytest recall twin (test_crossmodal_lsh_pairs_subset_of_exact).",
)
def crossmodal_textdup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    doc_sets, cand = lsh_candidates(docs)
    pairs = _jaccard_verify(doc_sets, cand, with_est=False)
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    normed = emb.select(
        "vec_id", "embedding", F.sqrt(_dot("embedding", "embedding")).alias("nrm")
    )
    a = normed.select(
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = normed.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    # plain shuffle joins: the pair set is small post-filter, but the
    # embeddings side is the full corpus — broadcasting it would not
    # survive a large corpus
    return ordered(
        pairs.join(a, F.col("doc_a") == F.col("va"))
        .join(b, F.col("doc_b") == F.col("vb"))
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.round(
                _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cosine_sim"),
        ),
        "doc_a",
        "doc_b",
    )


_N_CENTROIDS = 16
_N_PROBE = 2

_CENTROID_FILTER = f"vec_id % 29 = 0 AND vec_id >= {_N_QUERIES}"

_IVF_SQL = f"""
WITH c AS (
  SELECT vec_id AS centroid_id, embedding AS ce,
         sqrt({_DOT_SQL.format(a='embedding', b='embedding', dim=_DIM)}) AS cnrm
  FROM embeddings
  WHERE {_CENTROID_FILTER}
  ORDER BY vec_id LIMIT {_N_CENTROIDS}
),
n AS (
  SELECT vec_id, embedding,
         sqrt({_DOT_SQL.format(a='embedding', b='embedding', dim=_DIM)}) AS nrm
  FROM embeddings
),
assign AS (
  SELECT vec_id, embedding, nrm, centroid_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS arnk
  FROM (
    SELECT n.vec_id, n.embedding, n.nrm, c.centroid_id,
           ROUND(({_DOT_SQL.format(a='n.embedding', b='c.ce', dim=_DIM)})
                 / (n.nrm * c.cnrm), 6) AS sim
    FROM n CROSS JOIN c
  )
),
lists AS (SELECT * FROM assign WHERE arnk = 1),
probes AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qnrm, centroid_id
           FROM assign WHERE vec_id < {_N_QUERIES} AND arnk <= {_N_PROBE}),
scored AS (
  SELECT p.query_id,
         l.vec_id AS neighbor_id,
         ROUND(({_DOT_SQL.format(a='p.qe', b='l.embedding', dim=_DIM)})
               / (p.qnrm * l.nrm), 6) AS cosine_sim
  FROM probes p
  JOIN lists l ON p.centroid_id = l.centroid_id AND l.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine_sim, rnk AS neighbor_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, neighbor_id) AS rnk
  FROM scored
)
WHERE rnk <= {_TOP_K}
ORDER BY query_id, neighbor_rank
"""


@register(
    "sim_knn_ivf",
    _IVF_SQL,
    doc=f"IVF-style ANN: {_N_CENTROIDS} deterministic centroids, every "
    f"vector assigned to its nearest list, queries probe their "
    f"{_N_PROBE} nearest lists and rank by cosine inside them. The "
    "inverted-list shuffle key is the centroid id, so pair work is "
    "corpus/centroids per probe instead of the full corpus — the "
    "partition-pruning analog for vector search. (Real deployments "
    "train centroids with k-means; deterministic picks keep the "
    "operator oracle-checkable.)",
)
def sim_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    normed = emb.select(
        "vec_id", "embedding", F.sqrt(_dot("embedding", "embedding")).alias("nrm")
    )
    cents = _ivf_centroids(normed)
    return _ivf_search(normed, cents)


def _ivf_centroids(normed: DataFrame) -> DataFrame:
    """The IVF centroid policy every IVF face shares: the first
    _N_CENTROIDS vectors passing _CENTROID_FILTER by vec_id, as
    (centroid_id, ce, cnrm)."""
    return (
        normed.where(F.expr(_CENTROID_FILTER))
        .orderBy("vec_id")
        .limit(_N_CENTROIDS)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("ce"),
            F.col("nrm").alias("cnrm"),
        )
    )


def _ivf_assign(normed: DataFrame, cents: DataFrame) -> DataFrame:
    """Rank every vector's centroids by rounded cosine: (vec_id,
    embedding, nrm, centroid_id, arnk). ``cents`` must have
    (centroid_id, ce, cnrm) and is bounded by the centroid count, so
    broadcasting it is safe at any corpus size."""
    sim_to_c = F.round(
        _dot(F.col("embedding"), F.col("ce")) / (F.col("nrm") * F.col("cnrm")), 6
    )
    assign_w = Window.partitionBy("vec_id").orderBy(
        F.desc("sim"), F.asc("centroid_id")
    )
    return (
        normed.crossJoin(F.broadcast(cents))
        .select("vec_id", "embedding", "nrm", "centroid_id", sim_to_c.alias("sim"))
        .withColumn("arnk", F.row_number().over(assign_w))
    )


def _ivf_probe_score(probes: DataFrame, lists: DataFrame) -> DataFrame:
    """Score each query against its probed inverted lists and keep the
    per-query top-k. ``probes`` needs (query_id, qe, qnrm,
    probe_centroid_id) — the centroid column pre-aliased so the join
    predicate references two distinct attributes (same-lineage equality
    on centroid_id would otherwise rely on fragile dataset-id
    disambiguation); ``lists`` needs (centroid_id, vec_id, embedding,
    nrm)."""
    scored = (
        F.broadcast(probes)
        .join(
            lists,
            (F.col("probe_centroid_id") == F.col("centroid_id"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("qe"), F.col("embedding")) / (F.col("qnrm") * F.col("nrm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("neighbor_rank", F.row_number().over(w))
        .where(F.col("neighbor_rank") <= _TOP_K)
        .orderBy("query_id", "neighbor_rank")
    )


def _ivf_search(normed: DataFrame, cents: DataFrame) -> DataFrame:
    """Shared IVF probe/score stage: assign every vector to its nearest
    centroid (inverted lists), probe each query's _N_PROBE nearest
    lists, rank by cosine within the probed lists only."""
    assign = _ivf_assign(normed, cents)
    lists = assign.where(F.col("arnk") == 1).select(
        "centroid_id", "vec_id", "embedding", "nrm"
    )
    probes = assign.where(
        (F.col("vec_id") < _N_QUERIES) & (F.col("arnk") <= _N_PROBE)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.col("centroid_id").alias("probe_centroid_id"),
    )
    return _ivf_probe_score(probes, lists)


def sim_knn_ivf_trained_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw top-k pairs from the KMeans-trained IVF index (the
    production shape of sim_knn_ivf). Training is distributed; only
    the k centroid vectors ever reach the driver (bounded by k, not
    corpus size). Unregistered: trained-centroid output is
    float-iterative, so the driver-gated face of this operator is the
    recall scorecard below, and pytest consumes these raw pairs."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    normed = emb.select(
        "vec_id", "embedding", F.sqrt(_dot("embedding", "embedding")).alias("nrm")
    )
    feats = emb.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias(
            "features"
        ),
    )
    model = KMeans(
        k=_N_CENTROIDS, seed=7, maxIter=5, featuresCol="features"
    ).fit(feats)
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    cents = (
        spark.createDataFrame(centers, "centroid_id long, ce array<double>")
        .select(
            "centroid_id", "ce", F.sqrt(_dot("ce", "ce")).alias("cnrm")
        )
    )
    return _ivf_search(normed, cents)


# Recall thresholds for the driver-gated scorecard. Measured trained
# recall is ~0.38 at sf0.01 (per-query min 0.2 — too volatile for a
# per-query boolean, hence corpus-level); the graded thresholds leave
# >= 6-hit margin so only a genuinely broken index flips the hash.
_RECALL_FLOORS = (0.15, 0.25)

_IVF_TRAINED_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COUNT(*) * {_TOP_K} AS BIGINT) AS n_exact_pairs,
       TRUE AS recall_ge_150,
       TRUE AS recall_ge_250
FROM embeddings WHERE vec_id < {_N_QUERIES}
"""


@register(
    "sim_knn_ivf_trained",
    _IVF_TRAINED_SQL,
    doc=f"IVF ANN with pyspark.ml KMeans-trained centroids "
    f"(k={_N_CENTROIDS}, fixed seed), emitted as an oracle-checkable "
    "recall scorecard: the trained index's top-k is joined against "
    "the exact brute-force top-k in the same plan, and the output is "
    "(n_queries, n_exact_pairs, recall >= 0.15, recall >= 0.25) — "
    "deterministic columns the DuckDB twin re-derives from the query "
    "count alone, asserting the booleans TRUE. An index whose recall "
    "collapses flips the value hash; exact recall values (and "
    "trained >= deterministic) are asserted in "
    "tests/test_operators.py on the raw pairs.",
)
def sim_knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    ivf = sim_knn_ivf_trained_pairs(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    exact = sim_knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    stats = exact.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact_pairs"),
    )
    hits = ivf.join(exact, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    recall = F.col("n_hits") / F.col("n_exact_pairs")
    # two 1-row aggregates; the cross join is a broadcast of one row
    return stats.crossJoin(hits).select(
        "n_queries",
        "n_exact_pairs",
        (recall >= _RECALL_FLOORS[0]).alias("recall_ge_150"),
        (recall >= _RECALL_FLOORS[1]).alias("recall_ge_250"),
    )


# Int8 scalar quantization of the embedding column — the storage/
# serving compression step of a vector pipeline (4x smaller than fp32,
# dot products in integer SIMD downstream). Symmetric per-vector
# scheme: q_i = floor(x_i * 127 / max|x| + 0.5). floor(x + 0.5) is
# used instead of round() deliberately: Spark/numpy round half-even
# while DuckDB rounds half-away, and quantization grids hit exact .5
# midpoints; floor+0.5 is the same IEEE op sequence in both engines,
# so every quantized value is bitwise-identical. All JVM-side array
# lambdas — zero Python in the plan.
_QUANT_SQL = """
WITH q AS (
  SELECT vec_id,
         len(embedding) AS dim,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS absmax,
         embedding
  FROM embeddings
)
SELECT vec_id,
       dim,
       ROUND(absmax, 6) AS scale_absmax,
       CAST(list_sum(list_transform(embedding,
            x -> floor(CAST(x AS DOUBLE) * 127 / absmax + 0.5))) AS BIGINT) AS q_checksum,
       CAST(len(list_filter(embedding,
            x -> floor(CAST(x AS DOUBLE) * 127 / absmax + 0.5) = 127)) AS BIGINT) AS n_saturated,
       ROUND(list_max(list_transform(embedding,
            x -> abs(CAST(x AS DOUBLE)
                     - floor(CAST(x AS DOUBLE) * 127 / absmax + 0.5)
                       * absmax / 127))), 6) AS max_abs_err
FROM q
ORDER BY vec_id
"""


@register(
    "embedding_quantize_int8",
    _QUANT_SQL,
    doc="Int8 symmetric per-vector quantization of the embedding "
    "column (the 4x storage-compression step before a vector index "
    "ships to serving): per-vector absmax scale, quantized-value "
    "checksum, saturation count, and max dequantization error — all "
    "as JVM array lambdas in codegen, no Python. floor(x*127/absmax "
    "+ 0.5) instead of round() keeps midpoint behavior identical "
    "across engines, so the oracle hash pins every quantized value.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    x = lambda c: c.cast("double")  # noqa: E731
    absmax = F.array_max(F.transform("embedding", lambda c: F.abs(x(c))))
    q = emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        absmax.alias("absmax"),
        "embedding",
    )
    quant = lambda c: F.floor(x(c) * 127 / F.col("absmax") + 0.5)  # noqa: E731
    dequant_err = lambda c: F.abs(  # noqa: E731
        x(c) - quant(c) * F.col("absmax") / 127
    )
    out = q.select(
        "vec_id",
        "dim",
        F.round("absmax", 6).alias("scale_absmax"),
        F.aggregate(
            F.transform("embedding", quant), F.lit(0.0), lambda a, b: a + b
        )
        .cast("long")
        .alias("q_checksum"),
        F.size(F.filter(F.col("embedding"), lambda c: quant(c) == 127))
        .cast("long")
        .alias("n_saturated"),
        F.round(
            F.array_max(F.transform("embedding", dequant_err)), 6
        ).alias("max_abs_err"),
    )
    return stage_sorted(out, "quant_i8", "vec_id")


_COS_THRESH = 0.45

_NORM_SQL = _DOT_SQL.format(a="embedding", b="embedding", dim=_DIM)

_EMB_DEDUP_SQL = f"""
WITH n AS (
  SELECT vec_id, embedding, sqrt({_NORM_SQL}) AS nrm FROM embeddings
),
scored AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         ROUND(({_DOT_SQL.format(a='a.embedding', b='b.embedding', dim=_DIM)})
               / (a.nrm * b.nrm), 6) AS cosine_sim
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine_sim
FROM scored
WHERE cosine_sim >= {_COS_THRESH}
ORDER BY vec_a, vec_b
"""


_DEDUP_PROBE = 2

# k sizing (round 6, bounded round 10): a FIXED centroid count makes
# per-list pair work quadratic in the corpus (at 100x the 25k-vector
# lists blew a 300 s cap), so k grows one centroid per
# _VECS_PER_CENTROID vectors — but UNBOUNDED linear growth makes the
# driver collect + broadcast centroid matrix itself linear in N
# (2.6 MB at 1000x, multi-GB at 1e10 vectors). Round 10 caps it at
# _K_SQRT_SCALE * sqrt(N): the crossover N/1250 = 4*sqrt(N) sits at
# N = 2.5e7 vectors, above every probed scale (sf1000 = 5e6), so
# every gated/probed output is unchanged; above it the broadcast is
# bounded at ~4e5 centroids (~200 MB at N = 1e10, dim 64) and per-list
# pair work degrades gracefully to ~N^1.5/_K_SQRT_SCALE. Corpora past
# the crossover should route to the trained-KMeans persisted-list face
# (sim_knn_ivf_trained), whose centroid count is a training-time knob
# independent of N. Both arms are engine-identical: the linear arm is
# integer-only, the sqrt arm is floor(4 * ieee_sqrt(N)) — one IEEE
# double sqrt of an exactly-representable integer, bit-equal in
# numpy/Python and DuckDB.
_VECS_PER_CENTROID = 1250
_K_SQRT_SCALE = 4

_ADAPTIVE_K_SQL = (
    f"GREATEST({_N_CENTROIDS}, LEAST("
    f"(SELECT COUNT(*) FROM n) // {_VECS_PER_CENTROID}, "
    f"CAST(FLOOR({_K_SQRT_SCALE} * SQRT(CAST((SELECT COUNT(*) FROM n) "
    f"AS DOUBLE))) AS BIGINT)))"
)


def _adaptive_k(n_vecs: int) -> int:
    """The Python arm of _ADAPTIVE_K_SQL — must stay formula-identical
    (pinned by test_ivf_adaptive_k_matches_sql_and_is_bounded)."""
    import math

    return max(
        _N_CENTROIDS,
        min(
            n_vecs // _VECS_PER_CENTROID,
            math.floor(_K_SQRT_SCALE * math.sqrt(n_vecs)),
        ),
    )

_EMB_IVF_DEDUP_SQL = f"""
WITH n AS (
  SELECT vec_id, embedding, sqrt({_NORM_SQL}) AS nrm FROM embeddings
),
cents AS (
  SELECT cid, ce, cnrm FROM (
    SELECT vec_id AS cid, embedding AS ce, nrm AS cnrm,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS crn
    FROM n WHERE {_CENTROID_FILTER})
  WHERE crn <= {_ADAPTIVE_K_SQL}
),
assign AS (
  -- rank key (rounded sim, RAW sim, cid): the raw tie-break mirrors
  -- the GEMM kernel's lexsort — see ivf_inverted_lists
  SELECT vec_id, embedding, nrm, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
           ROUND(sim_raw, 6) DESC, sim_raw DESC, cid) AS rnk
  FROM (
    SELECT n.vec_id, n.embedding, n.nrm, cid,
           ({_DOT_SQL.format(a='n.embedding', b='ce', dim=_DIM)})
             / (n.nrm * cnrm) AS sim_raw
    FROM n CROSS JOIN cents
  )
),
lists AS (
  SELECT cid, vec_id, embedding, nrm FROM assign WHERE rnk <= {_DEDUP_PROBE}
)
SELECT DISTINCT a.vec_id AS vec_a, e.vec_id AS vec_b,
       ROUND(({_DOT_SQL.format(a='a.embedding', b='e.embedding', dim=_DIM)})
             / (a.nrm * e.nrm), 6) AS cosine_sim
FROM lists a JOIN lists e ON a.cid = e.cid AND a.vec_id < e.vec_id
WHERE ROUND(({_DOT_SQL.format(a='a.embedding', b='e.embedding', dim=_DIM)})
            / (a.nrm * e.nrm), 6) >= {_COS_THRESH}
ORDER BY vec_a, vec_b
"""


def ivf_inverted_lists(emb: DataFrame) -> DataFrame:
    """The shared IVF coarse-quantization stage of the embedding-dedup
    scale faces: assign every vector to its _DEDUP_PROBE nearest
    deterministic centroids (multi-probe — the knob that trades pair
    work for recall) and return the inverted-list rows
    (cid, vec_id, embedding, nrm). Candidate pairs downstream are
    same-list co-occupants only, so pair work is sum(|list|^2) ~ N^2/k
    instead of N^2 — and k is SIZED to the corpus (one centroid per
    _VECS_PER_CENTROID vectors, floor _N_CENTROIDS, CEILING
    _K_SQRT_SCALE * sqrt(N): the 100x probe showed a fixed k turning
    the per-list stage quadratic, and an uncapped linear k makes the
    driver-collected broadcast matrix itself linear in N — see the
    sizing note at _ADAPTIVE_K_SQL). The corpus count is a bounded
    driver readback (one scalar) mirroring the oracle's COUNT(*)
    subquery, so both engines derive the identical k; k stays at the
    floor for every currently graded scale. Zero-norm vectors are
    rejected loudly in the assignment kernel: division would yield
    NaN, which numpy's argsort ranks LAST while Spark's F.desc and
    DuckDB's ORDER BY DESC rank NaN FIRST — a silent engine
    divergence if it ever reached the ranking."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    normed = emb.select(
        "vec_id", "embedding", F.sqrt(_dot("embedding", "embedding")).alias("nrm")
    )
    k = _adaptive_k(emb.count())
    # Assignment is GEMM-batched (round 9): the previous form
    # crossJoined every vector with every centroid and ranked the
    # N x k rows in a per-vector window — with k ~ N that stage is
    # N^2/_VECS_PER_CENTROID rows (3.3e10 at 1000x; the 900 s cap the
    # sf100 probe caught). One batched matmul against the broadcast
    # centroid matrix does the same N x k dots with zero shuffled
    # rows: the only exchange left in the stage is the downstream
    # list-id one. The centroid matrix is k x dim doubles (2.6 MB at
    # 1000x) — the same bytes the crossJoin already broadcast.
    # Ranking parity with the oracle: sims round to 6 decimals (the
    # GEMM-vs-left-assoc-SQL tolerance score_group established) and
    # ties break by ascending centroid id == ascending column index,
    # which a STABLE lexsort gives for free; the oracle CTEs rank by
    # the identical key. Round 11 delivered the remedy ADVICE r9
    # recorded: the rank key carries the RAW unrounded sim between the
    # rounded sim and the centroid id in BOTH engines, so a raw sim
    # landing within summation-order noise (~1e-15, numpy blocked vs
    # DuckDB left-associative) of a 0.5e-6 rounding boundary can no
    # longer flip the assignment — the engine that rounds to a tie
    # falls back to the raw order the other engine's rounded key
    # already produced. A residual flip now needs two distinct
    # centroids with raw sims within ~1e-15 of EACH OTHER (duplicate
    # centroids), which the zero-norm/dedup guards upstream preclude.
    cent_rows = sorted(
        normed.where(F.expr(_CENTROID_FILTER))
        .orderBy("vec_id")
        .limit(k)
        .select("vec_id", "embedding", "nrm")
        .collect(),
        key=lambda r: r.vec_id,
    )
    cmat = np.array([list(r.embedding) for r in cent_rows], dtype=np.float64)
    cnrm = np.array([r.nrm for r in cent_rows], dtype=np.float64)
    if not (cnrm > 0).all():
        raise ValueError(
            f"zero-norm centroid(s) {[r.vec_id for r, n in zip(cent_rows, cnrm) if not n > 0]}"
            " — NaN sims rank differently across engines; clean the corpus"
        )
    cids = np.array([r.vec_id for r in cent_rows], dtype=np.int64)
    bc = emb.sparkSession.sparkContext.broadcast((cmat, cnrm, cids))

    out_schema = StructType(
        [
            StructField("cid", LongType()),
            StructField("vec_id", LongType()),
            StructField("embedding", emb.schema["embedding"].dataType),
            StructField("nrm", DoubleType()),
        ]
    )
    probe = _DEDUP_PROBE

    # sub-chunk the GEMM: an Arrow batch is ~10k rows, and a
    # 10k x k sims matrix at k ~ 5120 (1000x) is ~400 MB PER TASK —
    # 32 concurrent tasks OOM-killed the whole JVM on the first sf100
    # attempt. 1k-row chunks keep the transient at ~40 MB/task with
    # identical output (ranking is per-row).
    _CHUNK = 1024

    def assign(batches):
        cm, cn, ci = bc.value
        for pdf in batches:
            for lo in range(0, len(pdf), _CHUNK):
                sub = pdf.iloc[lo : lo + _CHUNK]
                if sub.empty:
                    continue
                m = np.stack(sub["embedding"].to_numpy()).astype(np.float64)
                nr = sub["nrm"].to_numpy(dtype=np.float64)
                if not (nr > 0).all():
                    bad = sub["vec_id"].to_numpy()[~(nr > 0)]
                    raise ValueError(
                        f"zero-norm vector(s) {bad[:5].tolist()} — NaN "
                        "sims rank differently across engines; clean "
                        "the corpus"
                    )
                raw = (m @ cm.T) / (nr[:, None] * cn[None, :])
                top = rank_centroids_desc(raw)[:, :probe]
                p_eff = top.shape[1]
                yield pd.DataFrame(
                    {
                        "cid": ci[top].ravel(),
                        "vec_id": np.repeat(sub["vec_id"].to_numpy(), p_eff),
                        "embedding": np.repeat(
                            sub["embedding"].to_numpy(), p_eff
                        ),
                        "nrm": np.repeat(nr, p_eff),
                    }
                )

    return normed.mapInPandas(assign, out_schema)


@register(
    "dedup_embedding_cosine_ivf",
    _EMB_IVF_DEDUP_SQL,
    doc="The scale path for semantic dedup: IVF coarse quantization as "
    "the candidate pre-filter in front of the exact cosine verify. "
    f"Every vector joins its {_DEDUP_PROBE} nearest centroids' inverted "
    "lists (multi-probe, the knob that trades pair work for recall); "
    f"same-list co-occupants are verified at cosine >= {_COS_THRESH}. "
    "Each inverted list becomes one applyInPandas group scored by a "
    "single numpy/BLAS GEMM (upper triangle), pairs co-occurring in two "
    "probe lists deduplicated — batched BLAS per list, measured 22x "
    "faster at sf1 than per-pair codegen dots for the same rows as the "
    "oracle's expression-dot SQL. Pair work is "
    "sum(|list|^2) ~ N^2/k and group memory |list| x 8*dim bytes, both "
    "bounded by the k ~ sqrt(N) sizing rule.",
)
def dedup_embedding_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    lists = ivf_inverted_lists(emb).select("cid", "vec_id", "embedding")

    schema = StructType(
        [
            StructField("vec_a", LongType()),
            StructField("vec_b", LongType()),
            StructField("cosine_sim", DoubleType()),
        ]
    )

    def score_list(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        # half-UP rounding (floor(x*1e6 + .5)), not np.round's half-even:
        # the oracle's ROUND and Spark's F.round both round halves up,
        # and this query's twins are the expression-dot route + DuckDB.
        # Emitted cosines are >= _COS_THRESH > 0, so no sign handling.
        sims = np.floor(m @ m.T * 1e6 + 0.5) / 1e6
        # a zero-norm vector yields NaN cosines; both engines order NaN
        # above every double (NaN >= thresh is TRUE there), so keep NaN
        # pairs rather than silently dropping them (np NaN>=x is False)
        keep = (sims >= _COS_THRESH) | np.isnan(sims)
        ai, bi = np.nonzero(keep & (ids[:, None] < ids[None, :]))
        return pd.DataFrame(
            {"vec_a": ids[ai], "vec_b": ids[bi], "cosine_sim": sims[ai, bi]}
        )

    return ordered(
        lists.groupBy("cid")
        .applyInPandas(score_list, schema)
        # pair-keyed max, not DISTINCT: a pair co-occupying two probe
        # lists gets two independent BLAS evaluations that could differ
        # in the last ulp pre-rounding; DISTINCT would then emit it
        # twice, while max collapses it deterministically
        .groupBy("vec_a", "vec_b")
        .agg(F.max("cosine_sim").alias("cosine_sim")),
        "vec_a",
        "vec_b",
    )


# --- semantic duplicate clusters -------------------------------------

_SEM_CLUSTER_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT vec_a, vec_b FROM ({_EMB_IVF_DEDUP_SQL.replace("ORDER BY vec_a, vec_b", "")})
),
edges AS (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION
  SELECT vec_b AS a, vec_a AS b FROM pairs
),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
labels AS (
  SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster_id
  FROM reach GROUP BY a
)
SELECT l.vec_id, l.cluster_id, c.cluster_size
FROM labels l
JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
      FROM labels GROUP BY cluster_id) c USING (cluster_id)
ORDER BY vec_id
"""


@register(
    "dedup_semantic_clusters",
    _SEM_CLUSTER_SQL,
    doc="Semantic duplicate clusters: connected components over the "
    "embedding near-dup pairs from the IVF candidate pre-filter "
    "(dedup_embedding_cosine_ivf's pairs) — the step that "
    "turns pairwise cosine hits into keep-one groups, completing the "
    "semantic-dedup path the same way dedup_clusters completes the "
    "MinHash path. Same pointer-jumping propagation (O(log diameter) "
    "node-keyed rounds); the oracle states the fixpoint as a "
    "recursive CTE over the identical pair subquery.",
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pair source = the GEMM-verified IVF route, not the expression-dot
    # route: identical pair set (pinned in pytest), but the per-pair
    # codegen dot measured 115 s vs ~4 s BLAS at 10x scale — and the
    # clusters consume only the pair ids, so the scoring route is free
    # to be the fast one
    pairs = dedup_embedding_cosine_ivf(spark, sf_dir).select("vec_a", "vec_b")
    # pair stage (IVF probe + verify) runs once; parquet-staged (the
    # CC-frontier pattern) so the CC rounds below re-read a columnar
    # file instead of holding the edge table pinned in executor heap
    edges = write_read_back(
        pairs.select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b"))
        .unionByName(
            pairs.select(F.col("vec_b").alias("a"), F.col("vec_a").alias("b"))
        )
        .distinct(),
        f"{scratch_run('sem')}/edges",
    )
    labels, _ = connected_components(edges)
    labels = labels.withColumnRenamed("doc_id", "vec_id")
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return ordered(
        labels.join(F.broadcast(sizes), "cluster_id")
        .select("vec_id", "cluster_id", "cluster_size"),
        "vec_id",
    )


# --- dedup threshold calibration -------------------------------------

_SWEEP_TAUS = [30, 35, 40, 45, 50, 55]  # cosine in centi-units

_SWEEP_SQL = f"""
WITH n AS (
  SELECT vec_id, embedding, sqrt({_NORM_SQL}) AS nrm FROM embeddings
),
cents AS (
  SELECT cid, ce, cnrm FROM (
    SELECT vec_id AS cid, embedding AS ce, nrm AS cnrm,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS crn
    FROM n WHERE {_CENTROID_FILTER})
  WHERE crn <= {_ADAPTIVE_K_SQL}
),
assign AS (
  -- rank key (rounded sim, RAW sim, cid): mirrors ivf_inverted_lists
  SELECT vec_id, embedding, nrm, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
           ROUND(sim_raw, 6) DESC, sim_raw DESC, cid) AS rnk
  FROM (
    SELECT n.vec_id, n.embedding, n.nrm, cid,
           ({_DOT_SQL.format(a='n.embedding', b='ce', dim=_DIM)})
             / (n.nrm * cnrm) AS sim_raw
    FROM n CROSS JOIN cents
  )
),
lists AS (
  SELECT cid, vec_id, embedding, nrm FROM assign WHERE rnk <= {_DEDUP_PROBE}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, e.vec_id AS vec_b,
         ROUND(({_DOT_SQL.format(a='a.embedding', b='e.embedding', dim=_DIM)})
               / (a.nrm * e.nrm), 6) AS cos
  FROM lists a JOIN lists e ON a.cid = e.cid AND a.vec_id < e.vec_id
),
taus(tau_centi) AS (VALUES {", ".join(f"({t})" for t in _SWEEP_TAUS)})
SELECT tau_centi,
       CAST(SUM(CASE WHEN cos * 100 >= tau_centi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pairs,
       CAST(COUNT(*) AS BIGINT) AS n_candidates
FROM cand CROSS JOIN taus
GROUP BY tau_centi
ORDER BY tau_centi
"""


@register(
    "dedup_threshold_sweep",
    _SWEEP_SQL,
    doc="Semantic-dedup threshold calibration: the IVF candidate pairs "
    "are scored ONCE and counted against every candidate cosine "
    "threshold in one conditional aggregation — the pairs-vs-tau "
    "curve an operator reads before fixing the dedup threshold, at "
    "the cost of a single pair pass instead of one run per tau. The "
    "tau table is a handful of constant rows (broadcast); the "
    "comparison is exact integer centi-units against the 6-decimal-"
    "rounded cosine, so the curve is engine-exact.",
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-6 rewrite after the 10x-scale sweep measured the
    expression-dot pair pass at 115 s vs 4 s for the BLAS route (the
    per-pair codegen dot is the bottleneck once sum(|list|^2) reaches
    tens of millions): each inverted list is now ONE applyInPandas
    group that GEMM-scores its pairs and emits the 6-row tau histogram
    directly — output is 6 rows per list, never a pair-grained
    exchange. Exactly-once pair accounting without a global DISTINCT:
    every vector carries its full probe-assignment set, and a pair
    co-occupying two lists is counted only in the SMALLEST shared list
    id — a purely list-local rule, so no cross-list shuffle exists at
    any scale. Final step sums 16x6 partial histograms."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    lists = ivf_inverted_lists(emb).select("cid", "vec_id", "embedding")
    vec_cids = lists.groupBy("vec_id").agg(
        F.sort_array(F.collect_list("cid")).alias("cids")
    )
    rows = lists.join(vec_cids, "vec_id")

    schema = StructType(
        [
            StructField("tau_centi", IntegerType()),
            StructField("n_pairs", LongType()),
            StructField("n_candidates", LongType()),
        ]
    )

    def hist_list(pdf: pd.DataFrame) -> pd.DataFrame:
        c = int(pdf["cid"].iat[0])
        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        # half-up rounding to match ROUND/F.round (see
        # dedup_embedding_cosine_ivf); emitted values are counted, not
        # returned, but the tau comparison is on the rounded value
        sims = np.floor(m @ m.T * 1e6 + 0.5) / 1e6
        cidmat = np.stack(pdf["cids"].to_numpy()).astype(np.int64)
        big = np.iinfo(np.int64).max

        def shared(x, y):
            return np.where(x[:, None] == y[None, :], x[:, None], big)

        a0, a1 = cidmat[:, 0], cidmat[:, 1]
        min_shared = np.minimum.reduce(
            [shared(a0, a0), shared(a0, a1), shared(a1, a0), shared(a1, a1)]
        )
        mask = (ids[:, None] < ids[None, :]) & (min_shared == c)
        cos = sims[mask]
        return pd.DataFrame(
            {
                "tau_centi": _SWEEP_TAUS,
                "n_pairs": [int((cos * 100 >= t).sum()) for t in _SWEEP_TAUS],
                "n_candidates": [len(cos)] * len(_SWEEP_TAUS),
            }
        )

    return ordered(
        rows.groupBy("cid")
        .applyInPandas(hist_list, schema)
        .groupBy("tau_centi")
        .agg(
            F.sum("n_pairs").cast("long").alias("n_pairs"),
            F.sum("n_candidates").cast("long").alias("n_candidates"),
        ),
        "tau_centi",
    )


# --- IVF index persistence (index lifecycle) -------------------------
#
# A production ANN index is BUILT once and SERVED many times: the
# inverted lists and centroid table are materialized to storage, and
# query-time work touches only the loaded index. This query proves the
# whole lifecycle — build the sim_knn_ivf index, write it to parquet
# PARTITIONED BY the list id (so a served probe reads only its lists'
# partitions; the vector-search analog of partition pruning), reload
# both artifacts, and answer the standard query set from the stored
# index alone. The oracle is sim_knn_ivf's: byte-identical results
# from the persisted index IS the save/load fidelity proof (floats
# survive parquet round-tripping exactly; any drift flips the hash).

@register(
    "sim_knn_ivf_persisted",
    _IVF_SQL,
    doc="ANN index lifecycle: the IVF inverted lists + centroid table "
    "are materialized to parquet (lists PARTITIONED BY centroid id — "
    "a served probe reads only its lists' partitions), reloaded, and "
    "the standard query set is answered from the stored index alone. "
    "Shares sim_knn_ivf's oracle: identical results from the persisted "
    "index prove save/load fidelity bit for bit.",
)
def sim_knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("ivf_index")

    # -- build phase (the offline indexing job): sim_knn_ivf's centroid
    # selection and assignment stages, shared via _ivf_centroids and
    # _ivf_assign so a policy change can never unpair this builder from
    # the oracle both queries share
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    normed = emb.select(
        "vec_id", "embedding", F.sqrt(_dot("embedding", "embedding")).alias("nrm")
    )
    cents = _ivf_centroids(normed)
    lists = (
        _ivf_assign(normed, cents)
        .where(F.col("arnk") == 1)
        .select("centroid_id", "vec_id", "embedding", "nrm")
    )
    lists.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{base}/lists"
    )
    cents.write.mode("overwrite").parquet(f"{base}/centroids")

    # -- serve phase (query-time work against the stored index only)
    # the orderBy+limit is a semantic no-op (the table holds exactly
    # _N_CENTROIDS rows, ids unique) that states the bound IN THE PLAN
    # as a TakeOrderedAndProject — no single-partition funnel, and the
    # centroid cross join stays provably tiny-build-side
    loaded_cents = (
        spark.read.parquet(f"{base}/centroids")
        .orderBy("centroid_id")
        .limit(_N_CENTROIDS)
    )
    loaded_lists = spark.read.parquet(f"{base}/lists")
    queries = loaded_lists.where(F.col("vec_id") < _N_QUERIES).select(
        "vec_id", "embedding", "nrm"
    )
    probes = (
        _ivf_assign(queries, loaded_cents)
        .where(F.col("arnk") <= _N_PROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("qnrm"),
            F.col("centroid_id").alias("probe_centroid_id"),
        )
    )
    return _ivf_probe_score(probes, loaded_lists)


# --- ANN recall curve -------------------------------------------------
#
# The evaluation face of the ANN family as a first-class QUERY: recall
# at k = 1..TOP_K of the multi-probe IVF index against the brute-force
# top-k, in one plan. Both rank lists are bounded (N_QUERIES x TOP_K
# rows), the comparison is a pair join over <= 40 rows crossed with
# the k grid, and recall is exact integer permille — so the index's
# quality SLO is value-hash checked by the driver, not just asserted
# in pytest. At 100 TB the same query runs against any candidate
# index (IVF, PQ, IVFPQ) by swapping the approx CTE.

_RECALL_CURVE_SQL = f"""
WITH exact AS ({_BRUTE_SQL}),
approx AS ({_IVF_SQL}),
ks AS (SELECT unnest(range(1, {_TOP_K} + 1)) AS k),
matched AS (
  SELECT e.query_id, e.neighbor_id,
         e.neighbor_rank AS er, a.neighbor_rank AS ar
  FROM exact e JOIN approx a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
),
nq AS (SELECT COUNT(DISTINCT query_id) AS n FROM exact)
SELECT CAST(ks.k AS BIGINT) AS k,
       CAST(COUNT(CASE WHEN m.er <= ks.k AND m.ar <= ks.k
                  THEN 1 END) AS BIGINT) AS n_matched,
       CAST(nq.n * ks.k AS BIGINT) AS n_exact,
       CAST(1000 * COUNT(CASE WHEN m.er <= ks.k AND m.ar <= ks.k
                         THEN 1 END) // (nq.n * ks.k) AS BIGINT)
         AS recall_permille
FROM ks CROSS JOIN nq LEFT JOIN matched m ON TRUE
GROUP BY ks.k, nq.n
ORDER BY k
"""


@register(
    "sim_recall_curve",
    _RECALL_CURVE_SQL,
    doc=f"ANN quality SLO as a query: recall@k for k=1..{_TOP_K} of "
    "the multi-probe IVF index vs the exact brute-force top-k in one "
    "plan. "
    "Both rank lists are bounded (queries x k rows); the comparison "
    "joins tens of rows against the k grid and emits exact integer "
    "permille — the driver value-hashes the index's quality, not "
    "just a pytest floor. Swap the approx side for LSH/PQ/IVFPQ to "
    "evaluate any in-repo index.",
)
def sim_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # eager parquet staging: the exact list feeds BOTH the matched join
    # and the query-count scalar — without it the all-pairs brute-force
    # subtree (the heaviest stage) would execute twice in one plan.
    # The materialized frame is bounded at N_QUERIES x TOP_K rows.
    exact = stage_to_parquet(
        sim_knn_bruteforce(spark, sf_dir).select(
            "query_id", "neighbor_id", F.col("neighbor_rank").alias("er")
        ),
        "recall_exact",
    )
    approx = sim_knn_ivf(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("neighbor_rank").alias("ar")
    )
    matched = exact.join(approx, ["query_id", "neighbor_id"])
    nq = exact.agg(F.countDistinct("query_id").alias("n"))
    ks = F.broadcast(
        exact.sparkSession.range(1, _TOP_K + 1).select(
            F.col("id").alias("k")
        )
    )
    hit = F.when((F.col("er") <= F.col("k")) & (F.col("ar") <= F.col("k")), 1)
    return ordered(
        ks.crossJoin(F.broadcast(nq))  # k-grid x 1-row scalar: bounded
        .join(matched, F.lit(True), "left")
        .groupBy("k", "n")
        .agg(F.count(hit).alias("n_matched"))
        .select(
            "k",
            "n_matched",
            (F.col("n") * F.col("k")).alias("n_exact"),
            # empty query set: recall undefined -> NULL in both engines
            # (DuckDB // by zero is NULL; Spark div under ANSI throws)
            F.expr(
                "CASE WHEN n * k = 0 THEN NULL"
                " ELSE 1000 * n_matched div (n * k) END"
            ).alias("recall_permille"),
        ),
        "k",
    )


# --- Matryoshka truncation recall audit --------------------------------
#
# The dim-reduction decision op behind MRL-style embeddings: how much
# exact-kNN recall survives truncating vectors to a prefix of 8/16/32
# of the 64 dims? Composes the brute-force machinery at each prefix
# length (broadcast queries x corpus, prefix dot products, rounded
# rank) against the full-dim exact top-k; recall@k per dim is the
# curve a serving team reads before running ANN at a cheaper width.
# All pair scores round to 6 before ranking (the brute-force
# determinism contract), so both engines produce identical ranks.

_MATRYOSHKA_DIMS = [8, 16, 32]


def _brute_topk_sql(dim: int) -> str:
    d = _DOT_SQL.format(a="q.qe", b="e.embedding", dim=dim)
    na = _DOT_SQL.format(a="q.qe", b="q.qe", dim=dim)
    nb = _DOT_SQL.format(a="e.embedding", b="e.embedding", dim=dim)
    return f"""
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY ROUND(({d}) / (sqrt({na}) * sqrt({nb})), 6) DESC,
                      e.vec_id) AS rnk
    FROM (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
          WHERE vec_id < {_N_QUERIES}) q
    CROSS JOIN embeddings e
    WHERE e.vec_id <> q.query_id
  ) WHERE rnk <= {_TOP_K}"""


_MATRYOSHKA_SQL = (
    "WITH full_k AS (" + _brute_topk_sql(_DIM) + "),\n"
    + ",\n".join(
        f"d{d} AS ({_brute_topk_sql(d)})" for d in _MATRYOSHKA_DIMS
    )
    + ",\nnq AS (SELECT COUNT(DISTINCT query_id) AS n FROM full_k)\n"
    + "\nUNION ALL\n".join(
        f"""
SELECT CAST({d} AS BIGINT) AS trunc_dim,
       CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_matched,
       ROUND(CAST(COUNT(t.neighbor_id) AS DOUBLE) / (nq.n * {_TOP_K}), 6)
         AS recall_at_k
FROM full_k f
LEFT JOIN d{d} t ON t.query_id = f.query_id
                AND t.neighbor_id = f.neighbor_id, nq
GROUP BY nq.n
""".strip()
        for d in _MATRYOSHKA_DIMS
    )
    + "\nORDER BY trunc_dim"
)


@register(
    "embedding_matryoshka_recall",
    _MATRYOSHKA_SQL,
    doc=f"Matryoshka truncation recall curve: exact top-{_TOP_K} at "
    f"prefix widths {_MATRYOSHKA_DIMS} vs the full {_DIM}-dim exact "
    "top-k, recall@k per width — the measurement that licenses "
    "serving ANN at a cheaper vector width. Prefix dot products are "
    "plain slices (no re-embedding); each width is one broadcast-"
    "queries pass over the corpus.",
)
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load_tables(spark, sf_dir, "embeddings")

    def topk(dim: int) -> DataFrame:
        sl = (
            F.col("embedding")
            if dim == _DIM
            else F.slice("embedding", 1, dim)
        )
        normed = emb.select(
            "vec_id",
            sl.alias("v"),
        ).select(
            "vec_id", "v", F.sqrt(_dot("v", "v")).alias("nrm")
        )
        q = normed.where(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qe"),
            F.col("nrm").alias("qnrm"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos"), F.asc("neighbor_id")
        )
        return (
            F.broadcast(q)
            .crossJoin(normed)
            .where(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                F.round(
                    _dot(F.col("qe"), F.col("v")) / (F.col("qnrm") * F.col("nrm")),
                    6,
                ).alias("cos"),
            )
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= _TOP_K)
            .select("query_id", "neighbor_id")
        )

    # bounded at N_QUERIES x TOP_K rows; parquet-staged (not
    # localCheckpoint) per the round-9 heap-pinning lesson
    full_k = stage_to_parquet(topk(_DIM), "matryoshka_fullk")
    nq = full_k.agg(F.count_distinct("query_id").alias("n"))
    out = None
    for d in _MATRYOSHKA_DIMS:
        t = topk(d).withColumnsRenamed(
            {"query_id": "tq", "neighbor_id": "tn"}
        )
        matched = (
            full_k.join(
                t,
                (F.col("query_id") == F.col("tq"))
                & (F.col("neighbor_id") == F.col("tn")),
                "left",
            )
            .crossJoin(F.broadcast(nq))  # 1-row broadcast scalar
            .groupBy("n")
            .agg(F.count("tn").cast("long").alias("n_matched"))
            .select(
                F.lit(d).cast("long").alias("trunc_dim"),
                "n_matched",
                F.round(
                    F.col("n_matched").cast("double") / (F.col("n") * _TOP_K), 6
                ).alias("recall_at_k"),
            )
        )
        out = matched if out is None else out.unionByName(matched)
    return ordered(out, "trunc_dim")


# --- hard-negative mining for contrastive training ---------------------
#
# DPR/SimCSE-style retriever training needs, for every anchor, the
# most-similar corpus items that are NOT positives — "hard negatives"
# whose gradients carry far more signal than random in-batch ones.
# Positives are proxied by the embeddings table's label column: a hard
# negative for query q is a top-k cosine neighbor with a DIFFERENT
# label. Same broadcast-queries x corpus-scan shape as
# sim_knn_bruteforce (the label filter runs BEFORE the rank window, so
# same-label items never consume top-k slots); at production scale the
# candidate stream comes from the IVF index (sim_knn_ivf's probe
# stage) instead of the full scan — identical downstream semantics.

_HARDNEG_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
           FROM embeddings WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.query_id, q.qlabel AS query_label,
         e.vec_id AS neighbor_id, e.label AS neighbor_label,
         ROUND({_cos_sql('q.qe', 'e.embedding')}, 6) AS cosine_sim
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.query_id AND e.label <> q.qlabel
)
SELECT query_id, CAST(query_label AS INT) AS query_label,
       neighbor_id, CAST(neighbor_label AS INT) AS neighbor_label,
       cosine_sim, rnk AS neg_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, neighbor_id) AS rnk
  FROM scored
)
WHERE rnk <= {_TOP_K}
ORDER BY query_id, neg_rank
"""


@register(
    "retrieval_hard_negatives",
    _HARDNEG_SQL,
    doc=f"Hard-negative mining for contrastive retriever training "
    f"(DPR-style): for each of the {_N_QUERIES} anchor vectors, the "
    f"top-{_TOP_K} cosine neighbors whose label DIFFERS from the "
    "anchor's — the near-miss items whose gradients dominate "
    "contrastive loss. The label-inequality filter runs before the "
    "rank window, so positives never consume negative slots; the "
    "scoring stage is the broadcast-anchors x corpus scan of "
    "sim_knn_bruteforce, and the 100 TB route swaps that scan for "
    "the IVF probe stream with identical downstream semantics.",
)
def retrieval_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    normed = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(_dot("embedding", "embedding")).alias("nrm"),
    )
    q = normed.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        F.broadcast(q)  # bounded: _N_QUERIES anchor rows
        .crossJoin(normed)
        .where(
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("label") != F.col("query_label"))
        )
        .select(
            "query_id",
            F.col("query_label").cast("int").alias("query_label"),
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").cast("int").alias("neighbor_label"),
            F.round(
                _dot(F.col("qe"), F.col("embedding"))
                / (F.col("qnrm") * F.col("nrm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return ordered(
        scored.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= _TOP_K),
        "query_id",
        "neg_rank",
    )


# --- binary quantization + hamming rerank (1-bit ANN serving) -----------
#
# The memory face modern vector stores ship as "binary quantization":
# each 64-float vector compresses to SIGN BITS packed in one integer
# (~32x smaller than float32), the candidate pass ranks by hamming
# distance (one xor + popcount per pair — SIMD-trivial, and at 100 TB
# the only stage that touches every vector), and only the top
# candidates are reranked with exact cosine over the raw floats.
# Unlike sim_knn_lsh's bucket-equality (whose recall collapses in the
# cosine ~0.5 regime, per sim_recall_curve), hamming RANKS all
# candidates, degrading gracefully instead of missing buckets. 63 bits
# (dims 1..63) keep the sketch in a signed BIGINT — the
# multimodal_phash_dedup convention.

_BQ_BITS = 63
_BQ_RERANK = 4 * _TOP_K  # hamming candidates per query before rerank

_BQ_SQL = f"""
WITH sk AS (
  SELECT vec_id, embedding,
         CAST(list_sum(list_transform(range(0, {_BQ_BITS}), j ->
           CASE WHEN embedding[CAST(j + 1 AS INT)] > 0
                THEN (CAST(1 AS BIGINT) << j)
                ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sketch
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS qe, sketch AS qs
  FROM sk WHERE vec_id < {_N_QUERIES}
),
ham AS (
  SELECT q.query_id, s.vec_id AS neighbor_id,
         bit_count(xor(q.qs, s.sketch)) AS hamming
  FROM q CROSS JOIN sk s
  WHERE s.vec_id <> q.query_id
),
cand AS (
  SELECT query_id, neighbor_id, hamming
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY hamming, neighbor_id) AS hrnk FROM ham)
  WHERE hrnk <= {_BQ_RERANK}
),
rer AS (
  SELECT c.query_id, c.neighbor_id, c.hamming,
         ROUND({_cos_sql('q.qe', 'e.embedding')}, 6) AS cosine_sim
  FROM cand c
  JOIN q ON c.query_id = q.query_id
  JOIN embeddings e ON e.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, CAST(hamming AS INT) AS hamming,
       cosine_sim, rnk AS neighbor_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cosine_sim DESC, neighbor_id) AS rnk FROM rer)
WHERE rnk <= {_TOP_K}
ORDER BY query_id, neighbor_rank
"""


@register(
    "sim_knn_binary_rerank",
    _BQ_SQL,
    doc=f"Binary-quantized ANN with exact rerank: vectors compress to "
    f"{_BQ_BITS} sign bits in one BIGINT (~32x below float32), the "
    "candidate pass ranks the corpus by hamming distance (xor + "
    "popcount — the only stage touching every vector, and it touches "
    f"8 bytes each), the top {_BQ_RERANK} per query rerank by exact "
    f"cosine over raw floats, top {_TOP_K} returned. Hamming RANKING "
    "degrades gracefully where sim_knn_lsh's bucket equality "
    "collapses (sim_recall_curve's finding); recall vs the exact "
    "top-k is floor-pinned in pytest. The raw-float table is joined "
    "ONLY for rerank candidates — at 100 TB the sketch table is the "
    "working set and the float table stays cold.",
)
def sim_knn_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    sk = emb.select(
        "vec_id",
        "embedding",
        F.expr(
            f"aggregate(sequence(0, {_BQ_BITS - 1}), 0L, (acc, j) -> "
            "acc + IF(element_at(embedding, j + 1) > 0, "
            "shiftleft(1L, j), 0L))"
        ).alias("sketch"),
    )
    q = sk.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("sketch").alias("qs"),
    )
    ham = (
        F.broadcast(q.select("query_id", "qs"))  # bounded: |Q| rows
        .crossJoin(sk.select("vec_id", "sketch"))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.bit_count(F.col("qs").bitwiseXOR(F.col("sketch"))).alias(
                "hamming"
            ),
        )
    )
    wh = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    cand = (
        ham.withColumn("hrnk", F.row_number().over(wh))
        .where(F.col("hrnk") <= _BQ_RERANK)
        .drop("hrnk")
    )
    qn = q.select(
        "query_id", "qe", F.sqrt(_dot("qe", "qe")).alias("qnrm")
    )
    en = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.sqrt(_dot("embedding", "embedding")).alias("nnrm"),
    )
    rer = (
        cand.join(F.broadcast(qn), "query_id")
        .join(en, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.col("hamming").cast("int").alias("hamming"),
            F.round(
                _dot(F.col("qe"), F.col("ne"))
                / (F.col("qnrm") * F.col("nnrm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return ordered(
        rer.withColumn("neighbor_rank", F.row_number().over(wr))
        .where(F.col("neighbor_rank") <= _TOP_K),
        "query_id",
        "neighbor_rank",
    )


# --- simplified silhouette (cluster-quality validation) ------------------
#
# The IVF/KMeans family builds clusters; this validates them. The full
# silhouette needs all pairwise distances (quadratic); the SIMPLIFIED
# silhouette (Hruschka et al.) substitutes centroid distances — a =
# distance to the own centroid, b = to the nearest other — and is the
# form production cluster-quality monitoring actually runs, because it
# is one broadcast-centroid pass over the corpus. In cosine distance
# b >= a by construction (the own centroid is the nearest), so
# s = (sim_own - sim_next) / (1 - sim_next) in [0, 1]; per-vector
# values are map-side deterministic (rounded-cosine inputs), and the
# per-cluster report aggregates only order-insensitive quantities
# (counts, min/max) — no float-summation-order hazard.

_SIL_THRESHOLD = 0.25

_SIL_SQL = f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS ce
  FROM embeddings
  WHERE {_CENTROID_FILTER}
  ORDER BY vec_id LIMIT {_N_CENTROIDS}
),
ranked AS (
  SELECT e.vec_id, c.centroid_id,
         ROUND({_cos_sql('e.embedding', 'c.ce')}, 6) AS sim,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           ORDER BY ROUND({_cos_sql('e.embedding', 'c.ce')}, 6) DESC,
                    c.centroid_id) AS rnk
  FROM embeddings e CROSS JOIN cents c
),
pv AS (
  SELECT vec_id,
         MAX(CASE WHEN rnk = 1 THEN centroid_id END) AS centroid_id,
         MAX(CASE WHEN rnk = 1 THEN sim END) AS sim_own,
         MAX(CASE WHEN rnk = 2 THEN sim END) AS sim_next
  FROM ranked WHERE rnk <= 2 GROUP BY vec_id
),
sil AS (
  SELECT centroid_id,
         CASE WHEN sim_next >= 1
              THEN CAST(0 AS DOUBLE)
              ELSE ROUND((sim_own - sim_next) / (1 - sim_next), 6)
         END AS s
  FROM pv
)
SELECT centroid_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN s > {_SIL_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_well_separated,
       ROUND(MIN(s), 6) AS min_sil,
       ROUND(MAX(s), 6) AS max_sil
FROM sil
GROUP BY centroid_id
ORDER BY centroid_id
"""


@register(
    "embedding_silhouette_simplified",
    _SIL_SQL,
    doc=f"Simplified silhouette over the deterministic IVF centroids — "
    "the cluster-quality validation the IVF/KMeans family was "
    "missing: per vector, s = (sim_own - sim_next) / (1 - sim_next) "
    "from the two nearest centroids (the centroid-distance "
    "substitution that makes silhouette corpus-linear instead of "
    "all-pairs), rolled up per cluster as member count, count above "
    f"the {_SIL_THRESHOLD} separation bar, and min/max — "
    "order-insensitive aggregates only, so no float-summation-order "
    "hazard reaches the hash. One broadcast-centroid pass; the same "
    "shape validates the pyspark.ml KMeans clusters at any corpus "
    "size.",
)
def embedding_silhouette_simplified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    normed = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(_dot("embedding", "embedding")).alias("nrm"),
    )
    cents = _ivf_centroids(normed)
    ranked = _ivf_assign(normed, cents)
    pv = (
        ranked.where(F.col("arnk") <= 2)
        .groupBy("vec_id")
        .agg(
            F.max(
                F.when(F.col("arnk") == 1, F.col("centroid_id"))
            ).alias("centroid_id"),
            F.max(F.when(F.col("arnk") == 1, F.col("sim"))).alias("sim_own"),
            F.max(F.when(F.col("arnk") == 2, F.col("sim"))).alias("sim_next"),
        )
    )
    # a duplicated vector can sit at rounded cosine 1 to TWO centroids
    # (found by the 100x probe: replication creates exact duplicate
    # embeddings, 1 - sim_next = 0 threw DIVIDE_BY_ZERO); the standard
    # silhouette convention for such ambiguous points is s = 0
    s = F.when(F.col("sim_next") >= 1.0, F.lit(0.0)).otherwise(
        F.round(
            (F.col("sim_own") - F.col("sim_next")) / (1 - F.col("sim_next")),
            6,
        )
    )
    return ordered(
        pv.select("centroid_id", s.alias("s"))
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(
                F.when(F.col("s") > _SIL_THRESHOLD, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_well_separated"),
            F.round(F.min("s"), 6).alias("min_sil"),
            F.round(F.max("s"), 6).alias("max_sil"),
        ),
        "centroid_id",
    )
