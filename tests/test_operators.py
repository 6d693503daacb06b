"""Property tests for the non-oracle operators (SimHash, LSH recall,
multimodal stubs) plus streaming-builder sanity. The oracle-checked
operators are covered by tools/check.py and the driver gate."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from _imdb_etl_spark.operators import multimodal
from _imdb_etl_spark.plans import REGISTRY
from _imdb_etl_spark.sources import load_tables, scratch_dir
from _imdb_etl_spark.streaming import read_events_stream, streaming_hourly_rollup


@pytest.fixture(scope="module")
def exact_pairs(spark, sf_dir):
    # the demoted quadratic form IS the recall oracle for every
    # LSH-composed registered face (round 6: verifier role, not a
    # registered query)
    from _imdb_etl_spark.operators.dedup import dedup_ngram_jaccard

    rows = dedup_ngram_jaccard(spark, sf_dir).collect()
    return {(r.doc_a, r.doc_b): r.jaccard for r in rows}


def test_minhash_lsh_recall(spark, sf_dir, exact_pairs):
    got = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["dedup_minhash_lsh"].spark(spark, sf_dir).collect()
    }
    high = {p for p, j in exact_pairs.items() if j >= 0.9}
    assert high, "fixture should contain strong near-dups"
    recall = len(high & got) / len(high)
    assert recall >= 0.6, f"minhash recall {recall} on jaccard>=0.9 pairs"
    # LSH+verify never invents pairs below the verify threshold
    assert all(p in exact_pairs for p in got)


def test_jaccard_lsh_face_subset_of_exact(spark, sf_dir, exact_pairs):
    """The registered scale face returns exactly the LSH-candidate
    subset of the exact quadratic pairs, with identical jaccard values
    — LSH never invents a pair and never mis-scores one."""
    rows = REGISTRY["dedup_jaccard_lsh"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert (r.doc_a, r.doc_b) in exact_pairs
        assert r.jaccard == exact_pairs[(r.doc_a, r.doc_b)]
        # the MinHash estimate is a [0,1] signature-agreement fraction
        assert 0.0 <= r.jaccard_est <= 1.0
    # and it matches dedup_minhash_lsh's pair set (same candidates,
    # same verify threshold — the estimate column is the only addition)
    mh = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["dedup_minhash_lsh"].spark(spark, sf_dir).collect()
    }
    assert {(r.doc_a, r.doc_b) for r in rows} == mh


def test_lsh_recall_audit_reconciles_with_truth_and_lsh(
    spark, sf_dir, exact_pairs
):
    """The recall audit's bands must reconcile exactly with independent
    recomputation: per permille-band, n_true = the exact-pair fixture's
    band counts, n_found sums to the dedup_minhash_lsh pair count (a
    truth pair is 'found' iff it band-collides, and every verified LSH
    pair is a truth pair), recall = round(n_found/n_true, 6), and no
    band reports found > true."""
    import math

    rows = (
        REGISTRY["dedup_lsh_recall_audit"].spark(spark, sf_dir).collect()
    )
    assert rows

    def band(j: float) -> int:
        return int(math.floor(math.floor(j * 1000 + 0.5) / 100))

    want_true: dict[int, int] = {}
    for j in exact_pairs.values():
        want_true[band(j)] = want_true.get(band(j), 0) + 1
    got_true = {r.jacc_band: r.n_true for r in rows}
    assert got_true == want_true
    mh = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["dedup_minhash_lsh"].spark(spark, sf_dir).collect()
    }
    assert sum(r.n_found for r in rows) == len(mh)
    for r in rows:
        assert 0 <= r.n_found <= r.n_true
        assert r.recall == round(r.n_found / r.n_true, 6)


def test_containment_lsh_face_subset_of_exact(spark, sf_dir):
    """Registered containment face = exact containment restricted to
    LSH candidates: a subset with identical ratios, and the dominant
    near-equal-size containment pairs are retained."""
    from _imdb_etl_spark.operators.dedup import dedup_containment

    exact = {
        (r.doc_id, r.container_id): r.containment
        for r in dedup_containment(spark, sf_dir).collect()
    }
    rows = REGISTRY["dedup_containment_lsh"].spark(spark, sf_dir).collect()
    assert rows, "LSH candidates should retain containment pairs"
    for r in rows:
        assert (r.doc_id, r.container_id) in exact
        assert r.containment == exact[(r.doc_id, r.container_id)]
    # symmetric full-dup pairs (containment in both directions) are the
    # strongest near-dups — banding must keep at least one
    got = {(r.doc_id, r.container_id) for r in rows}
    assert any((b, a) in got for a, b in got)


def test_ivf_adaptive_k_matches_sql_and_is_bounded():
    """Round-10 pin for the IVF centroid-count formula (verdict task
    4): (a) the Python arm _adaptive_k and the oracle's
    _ADAPTIVE_K_SQL arm produce the IDENTICAL k for corpus sizes
    spanning the floor, the linear regime, the documented crossover
    at N = (_VECS_PER_CENTROID * _K_SQRT_SCALE)^2 = 2.5e7, and the
    sqrt-capped regime; (b) the ceiling holds — k never exceeds
    _K_SQRT_SCALE * sqrt(N), so the driver-collected broadcast
    centroid matrix stays ~200 MB even at 1e10 vectors instead of
    growing linearly without bound; (c) every currently probed scale
    (<= 5e6 vectors at sf1000) sits below the crossover, so gated
    outputs are unchanged by the cap."""
    import math

    import duckdb

    from _imdb_etl_spark.operators.similarity import (
        _ADAPTIVE_K_SQL,
        _K_SQRT_SCALE,
        _N_CENTROIDS,
        _VECS_PER_CENTROID,
        _adaptive_k,
    )

    crossover = (_VECS_PER_CENTROID * _K_SQRT_SCALE) ** 2
    assert crossover == 25_000_000
    con = duckdb.connect()
    for n in [
        1, 100, 20_000, 1_250_000, 5_000_000,
        crossover - 1, crossover, crossover + 1,
        10**8, 10**10, 10**12,
    ]:
        expr = _ADAPTIVE_K_SQL.replace("(SELECT COUNT(*) FROM n)", str(n))
        (sql_k,) = con.sql(f"SELECT {expr}").fetchone()
        py_k = _adaptive_k(n)
        assert py_k == sql_k, (n, py_k, sql_k)
        assert py_k >= _N_CENTROIDS
        assert py_k <= max(_N_CENTROIDS, _K_SQRT_SCALE * math.sqrt(n))
    con.close()
    # below the crossover the cap is inactive (probed scales unchanged)
    for n in [20_000, 2_000_000, 5_000_000]:
        assert _adaptive_k(n) == max(_N_CENTROIDS, n // _VECS_PER_CENTROID)
    # the ceiling in bytes: dim-64 float64 centroid matrix at 1e10
    assert _adaptive_k(10**10) * 64 * 8 < 256 * 1024 * 1024


def test_embedding_cosine_ivf_matches_expression_route(spark, sf_dir):
    """The GEMM-verified IVF face and the expression-dot IVF face share
    candidates and threshold, so their outputs must be identical.
    (Round 8: the expression face is demoted to this library verifier
    — 434 s vs 19.7 s at sf1 for identical output — so this pin IS its
    correctness evidence now.)"""
    from _imdb_etl_spark.operators.similarity import dedup_embedding_ivf

    expr_rows = {
        (r.vec_a, r.vec_b): r.cosine_sim
        for r in dedup_embedding_ivf(spark, sf_dir).collect()
    }
    gemm_rows = {
        (r.vec_a, r.vec_b): r.cosine_sim
        for r in REGISTRY["dedup_embedding_cosine_ivf"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert gemm_rows == expr_rows


def test_corpus_charset_safe_for_delimiters_and_collation(spark, sf_dir):
    """Two engine-parity preconditions pinned against the actual
    testdata (re-verified every round in case the driver regenerates
    it): (1) documents.text contains no chr(31) — the BPE stream
    delimiter must never alias with data, or BOTH twins produce
    identically-wrong merge tables while the hash gate stays green;
    (2) all characters are ASCII [32, 126] — Spark compares strings by
    UTF-16 code unit and DuckDB by UTF-8 byte, orderings that agree on
    ASCII but can diverge beyond it (tie-breaks in every ORDER BY
    pair rely on this)."""
    (docs,) = load_tables(spark, sf_dir, "documents")
    lo, hi = (
        docs.select(
            F.expr(
                "array_min(transform(filter(split(text, ''), c -> c <> ''),"
                " c -> ascii(c)))"
            ).alias("lo"),
            F.expr(
                "array_max(transform(filter(split(text, ''), c -> c <> ''),"
                " c -> ascii(c)))"
            ).alias("hi"),
        )
        .agg(F.min("lo"), F.max("hi"))
        .collect()[0]
    )
    assert lo >= 32, f"control char (code {lo}) in documents.text"
    assert hi <= 126, f"non-ASCII char (code {hi}) in documents.text"


def test_lsh_banding_bounded_under_hot_shingle_skew(spark):
    """Empirical justification for registering the LSH faces over the
    quadratic forms (round-5 verdict task 8): on a boilerplate-heavy
    corpus — one hot 3-gram in 30% of docs — the shared-shingle
    self-join's pair stage is quadratic in the hot-doc count, while
    LSH banding stays bounded because a band key is ALL 4 signature
    mins: one shared shingle alone almost never aligns a whole band."""
    import random

    from _imdb_etl_spark.operators.dedup import _shingles, lsh_candidates

    rng = random.Random(7)
    words = [f"w{i}" for i in range(5000)]
    rows = []
    for d in range(200):
        toks = rng.sample(words, 12)
        if d % 10 < 3:  # 30% carry the hot boilerplate phrase
            toks[4:4] = ["click", "here", "now"]
        rows.append((d, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sh = _shingles(docs)
    a, b = sh.alias("a"), sh.alias("b")
    exact_pair_stage = a.join(
        b,
        (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).count()
    # 60 hot docs share the boilerplate shingle: >= C(60,2) = 1770 rows
    # enter the exact pair stage before any grouping can shrink them
    assert exact_pair_stage >= 1770, exact_pair_stage

    _, cand = lsh_candidates(docs)
    n_cand = cand.count()
    # the unique remainder text keeps signatures distinct — candidates
    # stay near zero instead of exploding with the hot shingle
    assert n_cand <= 20, f"LSH candidates exploded under skew: {n_cand}"


def test_simhash_blocking_finds_strong_neardups(spark, sf_dir, exact_pairs):
    got = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["dedup_simhash"].spark(spark, sf_dir).collect()
    }
    high = {p for p, j in exact_pairs.items() if j >= 0.95}
    if high:
        recall = len(high & got) / len(high)
        assert recall >= 0.5, f"simhash recall {recall} on jaccard>=0.95 pairs"
    assert got, "simhash should find candidate pairs on this corpus"


def test_simhash_kernel_vectorized(spark, sf_dir):
    """Pin the round-12 vectorized SimHash kernel bit-for-bit against
    the definitional row-at-a-time computation (per-token md5 top 8
    bytes, strict acc > 0 majority vote, (t or '').split(' ') token
    semantics), including the NULL/empty/multi-space edges."""
    import hashlib

    def reference_sig(t):
        acc = [0] * 64
        for tok in (t or "").split(" "):
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            for b in range(64):
                acc[b] += 1 if (h >> b) & 1 else -1
        sig = sum(1 << b for b in range(64) if acc[b] > 0)
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    rows = [
        (0, None),
        (1, ""),
        (2, " "),
        (3, "a"),
        (4, "a a b"),
        (5, "a  b"),
        (6, "héllo wörld héllo"),
        (7, " ".join(f"tok{i % 7}" for i in range(500))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from _imdb_etl_spark.operators import dedup as dedup_mod

    sigs = {
        r.doc_id: r.sig
        for r in dedup_mod.simhash_signatures(docs).collect()
    }
    for doc_id, text in rows:
        assert sigs[doc_id] == reference_sig(text), (doc_id, text)


def test_simhash_fallback_slab_paths(spark):
    """Pin the big-vocab reduceat fallback bit-for-bit (ADVICE r12:
    the slab/gather path was unreachable by any test). The corpus is
    sized from the module constants so ONE Arrow batch provably takes
    the fallback (n_docs * n_distinct > _SIMHASH_GEMM_MAX), crosses
    several slab boundaries (total tokens > slab capacity), and one
    oversized doc exceeds the preallocated buffer outright (the
    k > buf branch). Every signature must equal the definitional
    row-at-a-time kernel, including multi-space/empty-token edges."""
    import hashlib

    from _imdb_etl_spark.operators import dedup as dedup_mod

    def reference_sig(t):
        acc = [0] * 64
        for tok in (t or "").split(" "):
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            for b in range(64):
                acc[b] += 1 if (h >> b) & 1 else -1
        sig = sum(1 << b for b in range(64) if acc[b] > 0)
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    slab_cap = dedup_mod._SIMHASH_SLAB_TOKENS + 4096
    rows = [
        # disjoint per-doc vocabularies push batch-wide n * distinct
        # past the GEMM ceiling; repeated + empty tokens keep the
        # majority vote non-trivial
        (i, " ".join(f"t{i}_{j % 1100}" for j in range(1200)) + "  x")
        for i in range(64)
    ]
    # one doc longer than the whole gather buffer: k > buf.shape[0]
    rows.append((64, " ".join(f"big_{j}" for j in range(slab_cap + 500))))
    n = len(rows)
    n_distinct = 64 * 1101 + (slab_cap + 500) + 1
    assert n * n_distinct > dedup_mod._SIMHASH_GEMM_MAX, "corpus too small"
    assert 64 * 1202 > dedup_mod._SIMHASH_SLAB_TOKENS, "needs > 1 slab"

    docs = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    sigs = {
        r.doc_id: r.sig
        for r in dedup_mod.simhash_signatures(docs).collect()
    }
    assert len(sigs) == n
    for doc_id, text in rows:
        assert sigs[doc_id] == reference_sig(text), doc_id


def test_simhash_chunk_pair_banding_exact():
    """Pin the round-12 chunk-pair banding equivalence without Spark:
    over random-ish 64-bit signatures, {pairs sharing >= 1 of 28
    (i<j) 16-bit chunk-pair keys} ∩ {hamming <= 6} must equal the full
    {hamming <= 6} pair set — i.e. banding loses no true pair, which
    is the pigeonhole guarantee (6 dirty bits leave >= 2 clean
    chunks) the registered face's plan relies on."""
    import itertools
    import random

    rng = random.Random(7)
    sigs = [rng.getrandbits(64) for _ in range(40)]
    # inject strong near-dups: flip k <= 7 random bits of sig 0
    for k in (0, 1, 3, 6, 7):
        s = sigs[0]
        for b in rng.sample(range(64), k):
            s ^= 1 << b
        sigs.append(s)

    def chunk(s, c):
        return (s >> (8 * c)) & 0xFF

    truth, banded = set(), set()
    for x, y in itertools.combinations(range(len(sigs)), 2):
        ham = bin(sigs[x] ^ sigs[y]).count("1")
        if ham <= 6:
            truth.add((x, y))
        shared = any(
            chunk(sigs[x], i) == chunk(sigs[y], i)
            and chunk(sigs[x], j) == chunk(sigs[y], j)
            for i in range(8)
            for j in range(i + 1, 8)
        )
        if shared and ham <= 6:
            banded.add((x, y))
    assert banded == truth


def test_knn_lsh_consistent_with_bruteforce(spark, sf_dir):
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_tables(spark, sf_dir, "embeddings")[0].collect()
    }
    for r in REGISTRY["sim_knn_lsh"].spark(spark, sf_dir).collect():
        a, b = emb[r.query_id], emb[r.neighbor_id]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(cos - r.cosine_sim) < 1e-5


def test_ivf_trained_recall_vs_bruteforce(spark, sf_dir):
    from _imdb_etl_spark.operators import similarity

    exact = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["sim_knn_bruteforce"].spark(spark, sf_dir).collect()
    }

    def recall(rows) -> float:
        got = {(r.query_id, r.neighbor_id) for r in rows}
        return len(exact & got) / len(exact)

    r_det = recall(REGISTRY["sim_knn_ivf"].spark(spark, sf_dir).collect())
    r_trained = recall(
        similarity.sim_knn_ivf_trained_pairs(spark, sf_dir).collect()
    )
    # trained centroids should partition the space at least as well as
    # the deterministic picks the oracle-checkable variant uses
    assert r_trained >= r_det, f"trained {r_trained} < deterministic {r_det}"
    assert r_trained >= 0.3, f"trained IVF recall {r_trained} too low"
    # the driver-gated scorecard must agree with the raw pairs
    card = REGISTRY["sim_knn_ivf_trained"].spark(spark, sf_dir).collect()
    assert len(card) == 1
    assert card[0].n_exact_pairs == len(exact)
    assert card[0].recall_ge_150 and card[0].recall_ge_250


def test_scaleup_preserves_relational_shape(spark, sf_dir, tmp_path):
    from _imdb_etl_spark.sources import load_tables
    from _imdb_etl_spark.sources.scaleup import ensure_scaled

    dst = str(tmp_path / "sf_x2")
    assert ensure_scaled(spark, sf_dir, dst, factor=2) is not None
    assert ensure_scaled(spark, sf_dir, dst, factor=2) is None  # idempotent

    for name, mult in (("orders", 2), ("lineitem", 2), ("nation", 1)):
        (src,) = load_tables(spark, sf_dir, name)
        (got,) = load_tables(spark, dst, name)
        assert got.count() == src.count() * mult, name

    # intra-replica join consistency: no orphaned foreign keys
    orders, customer = load_tables(spark, dst, "orders", "customer")
    orphans = orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"], "left_anti"
    )
    assert orphans.count() == 0

    # replica salting: scaled docs must contain no cross-replica exact
    # duplicates beyond the source corpus's own duplicate rate
    (sdocs,) = load_tables(spark, sf_dir, "documents")
    (ddocs,) = load_tables(spark, dst, "documents")
    src_dups = sdocs.count() - sdocs.select("text").distinct().count()
    dst_dups = ddocs.count() - ddocs.select("text").distinct().count()
    assert dst_dups == 2 * src_dups, (src_dups, dst_dups)


def test_connected_components_long_chain(spark):
    """Pointer jumping must collapse a 64-node path graph in O(log n)
    rounds — plain one-hop label propagation would need 63 rounds and
    return WRONG components under any smaller round cap."""
    from _imdb_etl_spark.operators.dedup import connected_components

    n = 64
    path = [(i, i + 1) for i in range(n - 1)]
    sym = path + [(b, a) for a, b in path]
    edges = spark.createDataFrame(sym, "a long, b long")
    labels, rounds = connected_components(edges)
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 12, f"path-64 took {rounds} rounds (expected O(log n))"

    # two components + an isolated edge: labels are each component's min
    two = [(10, 11), (11, 12), (20, 21)]
    sym2 = two + [(b, a) for a, b in two]
    labels2, _ = connected_components(spark.createDataFrame(sym2, "a long, b long"))
    got2 = {r.doc_id: r.cluster_id for r in labels2.collect()}
    assert got2 == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_multimodal_frame_fanout(spark, sf_dir):
    frames = REGISTRY["multimodal_frame_sample"].spark(spark, sf_dir)
    per_asset = frames.groupBy("asset_id").count().collect()
    assert per_asset and all(r["count"] == 4 for r in per_asset)
    assert frames.where(~F.col("frame_no").isin(0, 1, 2, 3)).count() == 0
    # deterministic across runs
    h1 = {(r.asset_id, r.frame_no): r.frame_hash for r in frames.collect()}
    h2 = {
        (r.asset_id, r.frame_no): r.frame_hash
        for r in REGISTRY["multimodal_frame_sample"].spark(spark, sf_dir).collect()
    }
    assert h1 == h2


def _sample_pixels(n: int, seed: int = 1) -> bytes:
    # deterministic pseudo-random bytes without random module state
    import hashlib as _h

    out = bytearray()
    i = 0
    while len(out) < n:
        out += _h.md5(f"{seed}:{i}".encode()).digest()
        i += 1
    return bytes(out[:n])


def test_png_codec_roundtrip_all_filters():
    from _imdb_etl_spark.operators.png_codec import decode_png, encode_png

    for channels, mode in ((1, "L"), (3, "RGB"), (4, "RGBA")):
        for w, h in ((1, 1), (3, 5), (16, 4)):
            for ftype in range(5):
                pix = _sample_pixels(w * h * channels, seed=ftype)
                data = encode_png(pix, w, h, channels, filter_type=ftype)
                assert data[:8] == b"\x89PNG\r\n\x1a\n"
                ww, hh, m, got = decode_png(data)
                assert (ww, hh, m) == (w, h, mode), (channels, w, h, ftype)
                assert got == pix, f"pixel mismatch ch={channels} f={ftype}"


def test_png_codec_rejects_corruption():
    from _imdb_etl_spark.operators.png_codec import decode_png, encode_png

    data = bytearray(encode_png(_sample_pixels(4 * 4 * 3), 4, 4, 3))
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"GIF89a" + bytes(data))
    corrupt = bytearray(data)
    corrupt[50] ^= 0xFF  # inside IHDR/IDAT body -> CRC must catch it
    with pytest.raises(ValueError):
        decode_png(bytes(corrupt))


def test_decode_image_batch_real_codec():
    import pandas as pd

    from _imdb_etl_spark.operators.png_codec import encode_png

    payloads = pd.Series(
        [
            encode_png(_sample_pixels(8 * 2 * 3), 8, 2, 3),
            encode_png(_sample_pixels(5 * 7 * 1), 5, 7, 1),
            encode_png(_sample_pixels(6 * 3 * 4), 6, 3, 4, filter_type=4),
        ]
    )
    out = multimodal.decode_image_batch(payloads, use_real_codec=True)
    assert list(out["width"]) == [8, 5, 6]
    assert list(out["height"]) == [2, 7, 3]
    assert list(out["mode"]) == ["RGB", "L", "RGBA"]


@pytest.mark.skipif(not multimodal._HAVE_PIL, reason="PIL not installed")
def test_png_codec_cross_checks_pil():
    import io

    from PIL import Image

    from _imdb_etl_spark.operators.png_codec import decode_png, encode_png

    # our encoder's output must be readable by PIL, pixel-exact
    pix = _sample_pixels(9 * 4 * 3)
    with Image.open(io.BytesIO(encode_png(pix, 9, 4, 3, filter_type=2))) as im:
        assert (im.width, im.height, im.mode) == (9, 4, "RGB")
        assert im.tobytes() == pix
    # and PIL's own PNG output must be readable by our decoder
    buf = io.BytesIO()
    Image.frombytes("RGB", (9, 4), pix).save(buf, format="PNG")
    w, h, mode, got = decode_png(buf.getvalue())
    assert (w, h, mode, got) == (9, 4, "RGB", pix)


def test_wav_roundtrip_geometry():
    import pandas as pd

    from _imdb_etl_spark.operators.multimodal import (
        _decode_wavs,
        _encode_wavs,
        _wav_geom,
    )

    src = pd.DataFrame({"asset_id": [0, 1, 2, 3, 7]})
    (enc,) = list(_encode_wavs(iter([src])))
    assert all(bytes(p[:4]) == b"RIFF" for p in enc["payload"])
    (dec,) = list(_decode_wavs(iter([enc])))
    for _, r in dec.iterrows():
        ch, nf = _wav_geom(int(r.asset_id))
        assert (r.n_channels, r.n_frames) == (ch, nf)
        assert r.sample_rate == 8000 and r.sample_width == 2


def test_decode_image_stub_deterministic():
    import pandas as pd

    payloads = pd.Series([b"abc", b"xyz", b"abc"])
    out = multimodal.decode_image_batch(payloads)
    assert list(out.columns) == ["width", "height", "mode"]
    assert out.loc[0, "width"] == out.loc[2, "width"]
    assert (out["width"] >= 16).all() and (out["height"] >= 16).all()


def test_decimal_sums_partition_invariant(spark, sf_dir):
    """The engine's decimal-sum policy must be bitwise-stable across
    partitionings — this is what the oracle hash gate relies on."""
    from _imdb_etl_spark.functions import disc_price, dsum

    (li,) = load_tables(spark, sf_dir, "lineitem")

    def total(n: int) -> float:
        return li.repartition(n).agg(dsum(disc_price(), "r")).collect()[0].r

    assert total(2) == total(31) == total(7)


def test_approx_distinct_within_bound(spark, sf_dir):
    rows = REGISTRY["approx_distinct_users"].spark(spark, sf_dir).collect()
    assert rows and all(r.within_bound for r in rows)
    (events,) = load_tables(spark, sf_dir, "events")
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    # the emitted exact column really is the exact count, and the raw
    # sketch (recomputed here) is tighter than the gated 3*rsd bound
    approx = {
        r.event_type: r.a
        for r in events.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("a"))
        .collect()
    }
    for r in rows:
        assert r.exact_users == exact[r.event_type]
        n = exact[r.event_type]
        assert abs(approx[r.event_type] - n) / n < 0.1, (r.event_type, n)


def test_rate_source_drives_streaming_topology(spark):
    """The rate source plugs into the same windowed-agg graph as the
    events file source — the source line is the only seam."""
    from pyspark.sql import functions as FF

    from _imdb_etl_spark.streaming.sources import StreamSource, read_stream

    rate = read_stream(spark, StreamSource("rate", {"rowsPerSecond": "100"}))
    agg = (
        rate.withWatermark("timestamp", "1 second")
        .groupBy(FF.window("timestamp", "1 second"))
        .agg(FF.count(FF.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("update")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        import time

        # Generous deadline: the loop exits on the first emitted row, so
        # this only costs time when the box is under external load (the
        # co-tenant spikes documented in bench.py) — 15 s flaked there.
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT sum(n) FROM rate_smoke").collect()[0][0]:
                break
            time.sleep(0.5)
        total = spark.sql("SELECT sum(n) FROM rate_smoke").collect()[0][0]
    finally:
        q.stop()
    assert total and total > 0


def test_streaming_builder_is_streaming(spark, sf_dir):
    events = read_events_stream(spark, sf_dir)
    agg = streaming_hourly_rollup(events)
    assert events.isStreaming and agg.isStreaming
    assert "approx_users" in agg.columns


def test_repetition_scores_invariants(spark, sf_dir):
    rows = REGISTRY["text_repetition_scores"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # fractions live in (0, 1]; dup fraction in [0, 1)
        assert 0 < r.top_unigram_frac <= 1
        assert 0 < r.top_bigram_frac <= 1
        assert 0 <= r.dup_trigram_frac < 1
        assert r.repetition_ok in (0, 1)


def test_repetition_flags_degenerate_doc(spark):
    df = spark.createDataFrame(
        [(1, "spam " * 49 + "spam"), (2, "a b c d e f g h i j")],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("documents_tmp")
    from _imdb_etl_spark.operators.text import text_repetition_scores

    # route the builder at a temp dir by monkey-loading: simplest is to
    # reuse the expression path on the in-memory frame via the same ops
    import _imdb_etl_spark.operators.text as textmod

    orig = textmod.load_tables
    try:
        textmod.load_tables = lambda s, d, *t: (df,)
        out = {r.doc_id: r for r in text_repetition_scores(spark, "unused").collect()}
    finally:
        textmod.load_tables = orig
    assert out[1].repetition_ok == 0 and out[1].top_unigram_frac == 1.0
    assert out[2].repetition_ok == 1 and out[2].dup_trigram_frac == 0.0


def test_pack_shards_respects_budget_and_order(spark, sf_dir):
    from _imdb_etl_spark.operators.pipeline import _PACK_BUDGET

    rows = REGISTRY["corpus_pack_shards"].spark(spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        assert [r.doc_id for r in rs] == sorted(r.doc_id for r in rs)
        cum = 0
        for r in rs:
            assert r.shard_id == cum // _PACK_BUDGET
            cum += r.n_tokens
            assert r.cum_tokens == cum


def test_streaming_dedup_drops_redelivered_events(spark, sf_dir):
    out = {
        r.event_type: r.n_events
        for r in REGISTRY["streaming_dedup_events"].spark(spark, sf_dir).collect()
    }
    batch = {
        r.event_type: r.n
        for r in load_tables(spark, sf_dir, "events")[0]
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert out == batch  # doubled delivery, zero surviving duplicates


def test_approx_quantiles_close_to_exact(spark, sf_dir):
    exact = {
        r.flag: (r.p50_price, r.p90_price)
        for r in REGISTRY["quantiles_price_by_flag"].spark(spark, sf_dir).collect()
    }
    rows = REGISTRY["approx_quantiles_price"].spark(spark, sf_dir).collect()
    assert {r.flag for r in rows} == set(exact)
    # the emitted values are the exact quantiles; the sketch's rank-band
    # booleans must hold; and the raw sketch (recomputed here) stays
    # within 5% relative error of exact
    (li,) = load_tables(spark, sf_dir, "lineitem")
    sketch = {
        r.flag: (r.a50, r.a90)
        for r in li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 1000).alias("a50"),
            F.percentile_approx("l_extendedprice", 0.9, 1000).alias("a90"),
        )
        .collect()
    }
    for r in rows:
        assert (r.p50_price, r.p90_price) == exact[r.flag]
        assert r.p50_within and r.p90_within
        for e, a in zip(exact[r.flag], sketch[r.flag]):
            assert abs(a - e) / e < 0.05, (r.flag, e, a)


def test_cume_dist_quantile_route_matches_percentile_disc(spark):
    """The spillable distribution route inside approx_quantiles_price
    (value-count aggregate + CUME_DIST window + 'first value whose
    cumulative distribution >= q') must select the IDENTICAL value
    percentile_disc selects, for every q the face uses, on adversarial
    data: heavy ties, singleton groups, and group sizes that put q*n
    exactly on a value boundary (the 100x probe OOMed the
    percentile_disc buffer form; this pins the replacement to it at
    test scale)."""
    import random

    from pyspark.sql import Window

    rnd = random.Random(8)
    rows = []
    for flag, n in (("A", 200), ("B", 1), ("C", 50), ("D", 100)):
        for _ in range(n):
            rows.append((flag, float(rnd.choice(range(1, 12))) / 4))
    df = spark.createDataFrame(rows, "flag string, price double")
    qs = [0.48, 0.5, 0.52, 0.88, 0.9, 0.92]
    want = {
        r.flag: tuple(r[1:])
        for r in df.groupBy("flag")
        .agg(
            *[
                F.expr(
                    f"percentile_disc({q}) WITHIN GROUP (ORDER BY price)"
                ).alias(f"q{i}")
                for i, q in enumerate(qs)
            ]
        )
        .collect()
    }
    dist = df.groupBy("flag", "price").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy("flag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cume = dist.select(
        "flag",
        "price",
        (
            F.sum("cnt").over(wcum)
            / F.sum("cnt").over(Window.partitionBy("flag"))
        ).alias("cd"),
    )
    got = {
        r.flag: tuple(r[1:])
        for r in cume.groupBy("flag")
        .agg(
            *[
                F.min(F.when(F.col("cd") >= q, F.col("price"))).alias(f"q{i}")
                for i, q in enumerate(qs)
            ]
        )
        .collect()
    }
    assert got == want


def test_pii_redact_counts_and_cleanliness(spark, sf_dir):
    rows = REGISTRY["text_pii_redact"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # the enrichment injects exactly doc_id%3 emails and doc_id%2 IPs
        assert r.n_emails == r.doc_id % 3
        assert r.n_ips == r.doc_id % 2


def test_split_fractions_and_totals(spark, sf_dir):
    rows = REGISTRY["split_train_val_test"].spark(spark, sf_dir).collect()
    by_split: dict[str, int] = {}
    for r in rows:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
    total = sum(by_split.values())
    (docs,) = load_tables(spark, sf_dir, "documents")
    assert total == docs.count()  # partition of the corpus, no loss
    # 12/16 hex buckets => expect ~75% train; allow sampling noise
    assert 0.6 < by_split["train"] / total < 0.9
    assert set(by_split) == {"train", "val", "test"}


def test_boilerplate_ratio_bounds(spark, sf_dir):
    rows = REGISTRY["boilerplate_ngram_filter"].spark(spark, sf_dir).collect()
    assert rows
    assert any(r.n_boiler > 0 for r in rows), "corpus should have boilerplate"
    for r in rows:
        assert 0 <= r.n_boiler <= r.n_ngrams
        assert 0.0 <= r.boiler_ratio <= 1.0


def test_unigram_logprob_is_negative_and_bounded(spark, sf_dir):
    rows = REGISTRY["unigram_logprob_quality"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # every token probability is < 1, so the mean log-prob is < 0,
        # and no rarer than 1 occurrence out of the corpus total
        assert r.avg_logprob < 0
        assert r.avg_logprob > -25


def test_observe_profile_matches_direct_agg(spark, sf_dir):
    from _imdb_etl_spark.operators.quality import observe_profile

    (orders,) = load_tables(spark, sf_dir, "orders")
    inst, obs = observe_profile(orders, "orders_dq", "o_totalprice")
    # the observation rides the SAME action; no second scan happens
    n_out = inst.where(F.col("o_orderpriority") == "1-URGENT").count()
    got = obs.get
    direct = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").isNull().cast("long")).alias("z"),
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
    ).collect()[0]
    # observe sees pre-filter rows: metrics cover the full scan even
    # though the action counted only a filtered subset
    assert n_out < got["n_rows"] == direct.n
    assert got["o_totalprice_nulls"] == direct.z
    assert got["o_totalprice_min"] == direct.mn
    assert got["o_totalprice_max"] == direct.mx


def test_domain_cap_bounds_and_windowgrouplimit(spark, sf_dir):
    from _imdb_etl_spark.operators.webcorpus import _DOMAIN_CAP

    df = REGISTRY["corpus_domain_cap"].spark(spark, sf_dir)
    rows = df.collect()
    assert rows and all(r.n_kept <= _DOMAIN_CAP for r in rows)
    assert all(r.n_kept <= r.n_docs for r in rows)
    # every domain keeps min(n_docs, cap) — the cap never drops below it
    assert all(r.n_kept == min(r.n_docs, _DOMAIN_CAP) for r in rows)


def test_incremental_batch_novel_bounded(spark, sf_dir):
    rows = REGISTRY["dedup_incremental_batch"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_novel <= r.n_incoming


def test_jsonl_roundtrip_preserves_rowcount(spark, sf_dir):
    (docs,) = load_tables(spark, sf_dir, "documents")
    out = REGISTRY["jsonl_roundtrip_source"].spark(spark, sf_dir)
    assert out.agg(F.sum("n_docs")).collect()[0][0] == docs.count()


def test_embedding_ivf_dedup_recall(spark, sf_dir):
    from _imdb_etl_spark.operators.similarity import (
        dedup_embedding_cosine,
        dedup_embedding_ivf,
    )

    exact = {
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_cosine(spark, sf_dir).collect()
    }
    got = {
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_ivf(spark, sf_dir).collect()
    }
    assert exact, "fixture should contain near-dup pairs"
    # candidate pre-filter never invents pairs; exact verify bounds them
    assert got <= exact
    # the synthetic near-dups sit at cosine 0.45-0.51 — the hardest
    # regime for any candidate pre-filter (production dups at >= 0.8
    # probe-collide with near certainty); probe-2 recall here is ~0.55-0.8
    recall = len(got) / len(exact)
    assert recall >= 0.5, f"IVF probe-2 candidate recall {recall}"


def test_pq_recall_vs_bruteforce(spark, sf_dir):
    exact = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["sim_knn_bruteforce"].spark(spark, sf_dir).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["sim_knn_pq"].spark(spark, sf_dir).collect()
    }
    recall = len(exact & pq) / len(exact)
    # measured 0.55 at sf0.01 (16 subspaces x 64 codes); deterministic,
    # floor leaves margin for testdata regeneration between rounds
    assert recall >= 0.3, f"PQ recall {recall} vs brute-force top-5"


def test_phash_invariants():
    from _imdb_etl_spark.operators.multimodal import (
        _phash_bits,
        _png_dims,
        _png_pixels,
    )

    h = {}
    for d in range(20):
        w, ht = _png_dims(d)
        p = _png_pixels(d)
        h[d] = _phash_bits(p, w, ht)
        assert 0 <= h[d] < 1 << 63
        # identical pixels -> identical hash (exact-dup recovery)
        assert _phash_bits(p, w, ht) == h[d]
        # one-byte corruption moves the hash by at most a few bits
        buf = bytearray(p)
        buf[0] = (buf[0] + 16) % 256
        ham = bin(h[d] ^ _phash_bits(bytes(buf), w, ht)).count("1")
        assert ham <= 16, f"perturbed hamming {ham} for doc {d}"
    # distinct images stay far apart (measured min cross-hamming 14)
    import itertools

    for a, b in itertools.combinations(h.values(), 2):
        assert bin(a ^ b).count("1") >= 4


def test_containment_asymmetry_and_bounds(spark, sf_dir):
    from _imdb_etl_spark.operators.dedup import dedup_containment

    rows = dedup_containment(spark, sf_dir).collect()
    assert rows, "corpus should contain containment pairs"
    for r in rows:
        assert 0.8 <= r.containment <= 1.0
    # directional: (a contained-in b) does not force (b contained-in a)
    # when sizes differ, but every planted full-dup pair appears in both
    # directions — assert at least one symmetric pair exists
    pairs = {(r.doc_id, r.container_id) for r in rows}
    assert any((b, a) in pairs for a, b in pairs)


def test_cohesion_matches_numpy(spark, sf_dir):
    import numpy as np

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    by_label: dict[int, list[np.ndarray]] = {}
    for r in emb.collect():
        by_label.setdefault(r.label, []).append(np.array(r.embedding, np.float64))
    got = {
        r.label: (r.n_vecs, r.mean_cohesion)
        for r in REGISTRY["embedding_centroid_cohesion"].spark(spark, sf_dir).collect()
    }
    for label, vecs in by_label.items():
        cent = np.round(np.mean(vecs, axis=0), 6)
        cos = [
            round(float(v @ cent / (np.linalg.norm(v) * np.linalg.norm(cent))), 6)
            for v in vecs
        ]
        n, mean_c = got[label]
        assert n == len(vecs)
        assert abs(mean_c - np.mean(cos)) < 1e-5


def test_funnel_is_monotone(spark, sf_dir):
    r = REGISTRY["events_funnel_analysis"].spark(spark, sf_dir).collect()[0]
    assert r.n_users >= r.n_view >= r.n_click_after_view >= r.n_purchase_after_click
    assert r.n_purchase_after_click > 0, "corpus should convert somewhere"


def test_duplicate_spans_flag_planted_neardups(spark, sf_dir, exact_pairs):
    rows = REGISTRY["text_duplicate_spans"].spark(spark, sf_dir).collect()
    by_doc = {r.doc_id: r for r in rows}
    for r in rows:
        assert 0 <= r.n_dup_positions <= r.n_positions
        assert 0 <= r.dup_permille <= 1000
    # docs in a strong near-dup pair share long token runs -> their
    # exact-substring duplication must be substantial
    strong = {d for p, j in exact_pairs.items() if j >= 0.9 for d in p}
    assert strong
    for d in strong:
        assert by_doc[d].dup_permille >= 500, (d, by_doc[d])


def test_pretrain_mix_funnel_monotone(spark, sf_dir):
    rows = REGISTRY["pipeline_pretrain_mix"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_raw >= r.n_quality >= r.n_dedup >= r.n_clean >= r.n_sampled
        assert 0 <= r.keep_permille <= 1000
    # the temperature quota must bite somewhere (not a pass-through)
    assert any(r.n_sampled < r.n_clean for r in rows)


def test_transform_with_state_matches_batch(spark, sf_dir):
    from _imdb_etl_spark.streaming import stateful

    if not stateful._have_protobuf():
        pytest.skip("protobuf (transformWithState wire format) not installed")
    got = {
        r.user_id: (r.n_events, r.max_value, r.min_value)
        for r in stateful.streaming_tws_query(spark, sf_dir).collect()
    }
    exact = {
        r.user_id: (r.n, float(r.mx), float(r.mn))
        for r in load_tables(spark, sf_dir, "events")[0]
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.col("value").cast("decimal(12,2)")).alias("mx"),
            F.min(F.col("value").cast("decimal(12,2)")).alias("mn"),
        )
        .collect()
    }
    assert got == exact


def test_ivfpq_recall_and_candidate_bound(spark, sf_dir):
    exact = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["sim_knn_bruteforce"].spark(spark, sf_dir).collect()
    }
    ivfpq = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["sim_knn_ivfpq"].spark(spark, sf_dir).collect()
    }
    recall = len(exact & ivfpq) / len(exact)
    # measured 0.225 at sf0.01 (bounded above by the IVF probe's 0.325
    # candidate recall, then PQ-ranked); deterministic, margin for
    # testdata regeneration
    assert recall >= 0.1, f"IVF+PQ recall {recall}"
    # IVFPQ neighbors must come from the IVF candidate lists: every
    # returned pair must be probeable (sanity on the composition)
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["sim_knn_ivf"].spark(spark, sf_dir).collect()
    }
    assert ivfpq, "composed index returned no pairs"
    assert len(ivf & ivfpq) > 0


def test_pca_power_iteration_matches_numpy(spark, sf_dir):
    import numpy as np

    from _imdb_etl_spark.operators.semantic import _pca_top_component

    v, eig, n, _trace = _pca_top_component(spark, sf_dir)
    X = np.array(
        [
            r.e
            for r in load_tables(spark, sf_dir, "embeddings")[0]
            .select(F.col("embedding").cast("array<double>").alias("e"))
            .collect()
        ]
    )
    Xc = X - X.mean(axis=0)
    cov = Xc.T @ Xc / len(X)
    vals, vecs = np.linalg.eigh(cov)
    top_val, top_vec = vals[-1], vecs[:, -1]
    # direction agreement up to sign; the 500 local rounds on the
    # driver-side dim x dim matrix converge past this corpus's 0.987
    # eigengap ratio
    cos = abs(float(np.dot(v, top_vec)))
    assert cos > 0.95, f"PCA direction cosine {cos}"
    assert abs(eig - top_val) / top_val < 0.02, (eig, top_val)


def test_bloom_decontamination_has_no_false_negatives(spark, sf_dir):
    exact = {
        r.doc_id
        for r in REGISTRY["decontaminate_vs_eval"].spark(spark, sf_dir).collect()
    }
    bloom_rows = REGISTRY["decontaminate_bloom"].spark(spark, sf_dir).collect()
    bloom = {r.doc_id for r in bloom_rows}
    assert exact, "corpus should contain contaminated docs"
    # a bloom filter may over-flag, never under-flag
    assert exact <= bloom, exact - bloom
    for r in bloom_rows:
        assert r.n_bloom_hits >= r.n_exact_shared
        assert r.bloom_only == (r.n_exact_shared < 3)


def test_markov_rows_normalize(spark, sf_dir):
    rows = REGISTRY["events_markov_transitions"].spark(spark, sf_dir).collect()
    by_prev: dict[str, int] = {}
    for r in rows:
        by_prev[r.prev_type] = by_prev.get(r.prev_type, 0) + r.prob_permille
    # integer floor division loses < |cells| permille per row
    for prev, total in by_prev.items():
        assert 995 <= total <= 1000, (prev, total)


def test_pagerank_mass_conserved(spark, sf_dir):
    rows = REGISTRY["neardup_pagerank"].spark(spark, sf_dir).collect()
    assert rows and rows[0].rank_order == 1
    # ranks are a probability-like mass over the graph: every rank in
    # (0, 1), ordered consistently with rank_order
    ordered = sorted(rows, key=lambda r: r.rank_order)
    for a, b in zip(ordered, ordered[1:]):
        assert a.pagerank >= b.pagerank
        assert 0 < b.pagerank < 1


def test_semantic_clusters_consistent_with_pairs(spark, sf_dir):
    from _imdb_etl_spark.operators.similarity import dedup_embedding_ivf

    pairs = [
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_ivf(spark, sf_dir).collect()
    ]
    labels = {
        r.vec_id: r.cluster_id
        for r in REGISTRY["dedup_semantic_clusters"].spark(spark, sf_dir).collect()
    }
    assert pairs and labels
    # every near-dup pair lands in one cluster; every labeled vector
    # appears in some pair; cluster ids are member minima
    for a, b in pairs:
        assert labels[a] == labels[b]
    members: dict[int, list[int]] = {}
    for v, c in labels.items():
        members.setdefault(c, []).append(v)
    for c, vs in members.items():
        assert c == min(vs)
        assert len(vs) >= 2


def test_ann_index_cardinalities_hold(spark, sf_dir):
    """The deterministic seed filters must keep yielding full codebooks
    and centroid sets if the testdata is ever regenerated — a silent
    shortfall would degrade PQ/IVF recall without failing any oracle
    (both engines would agree on the smaller index)."""
    from _imdb_etl_spark.operators import semantic, similarity

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    n_seeds = emb.where(F.expr(semantic._SEED_FILTER)).count()
    assert n_seeds >= semantic._N_CODES, (n_seeds, semantic._N_CODES)
    n_cents = emb.where(F.expr(similarity._CENTROID_FILTER)).count()
    assert n_cents >= similarity._N_CENTROIDS, (n_cents, similarity._N_CENTROIDS)


def test_tws_registration_matches_protobuf_presence(spark):
    from _imdb_etl_spark.streaming import stateful

    registered = "streaming_transform_with_state" in REGISTRY
    assert registered == stateful._have_protobuf()
    if not registered:
        # the skip must be genuine import-absence, not a broken install
        # or a code break masquerading as one (round-5 verdict task 6)
        with pytest.raises(ModuleNotFoundError):
            import google.protobuf  # noqa: F401


def test_bm25_ranks_term_dense_docs(spark, sf_dir):
    """BM25 invariants: scores positive, sorted desc, and the top doc
    carries a higher query-term density than the corpus median."""
    rows = REGISTRY["text_bm25_search"].spark(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    scores = [r.bm25 for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    (docs,) = load_tables(spark, sf_dir, "documents")
    dens = docs.select(
        F.col("doc_id"),
        (
            F.size(
                F.filter(
                    F.split("text", " "),
                    lambda w: w.isin("vector", "merge", "scan"),
                )
            )
            / F.size(F.split("text", " "))
        ).alias("density"),
    )
    top_density = dens.where(F.col("doc_id") == rows[0].doc_id).first().density
    med = dens.agg(F.expr("percentile(density, 0.5)").alias("m")).first().m
    assert top_density > med


def test_bigram_lm_scores_bounded_and_total(spark, sf_dir):
    """Every doc is scored; mean log-prob is negative and above the
    uniform-vocabulary floor ln(k/(max_c1+k*V))."""
    out = REGISTRY["text_bigram_lm_score"].spark(spark, sf_dir)
    (docs,) = load_tables(spark, sf_dir, "documents")
    assert out.count() == docs.count()
    r = out.agg(
        F.max("avg_bigram_logprob").alias("mx"),
        F.min("avg_bigram_logprob").alias("mn"),
    ).first()
    assert r.mx < 0
    toks = docs.select(F.explode(F.split("text", " ")).alias("w"))
    v = toks.select("w").distinct().count()
    max_c1 = (
        toks.groupBy("w").count().agg(F.max("count").alias("m")).first().m
    )
    floor = float(np.log(0.5 / (max_c1 + 0.5 * v)))
    assert r.mn >= floor


def test_keep_best_one_canonical_per_cluster(spark, sf_dir):
    """Exactly one keep per cluster; the kept doc has the cluster-max
    n_chars (ties to smallest doc_id)."""
    rows = REGISTRY["dedup_keep_best"].spark(spark, sf_dir).collect()
    assert rows, "near-dup clusters exist in the fixture corpus"
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        keeps = [r for r in members if r.keep]
        assert len(keeps) == 1, f"cluster {cid} kept {len(keeps)}"
        assert len(members) == members[0].cluster_size
        best = max(members, key=lambda r: (r.n_chars, -r.doc_id))
        assert keeps[0].doc_id == best.doc_id


def test_cms_estimates_dominate_exact(spark, sf_dir):
    """CMS never undercounts (hard guarantee), and with the configured
    eps the top-user estimates stay within the additive bound."""
    rows = REGISTRY["sketch_heavy_users_cms"].spark(spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r.within_bound for r in rows)
    counts = [r.exact_cnt for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_mad_anomaly_counts_bounded(spark, sf_dir):
    out = REGISTRY["events_anomaly_mad"].spark(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r.mad_hourly >= 0
        assert 0 <= r.n_anomalies <= r.n_hours


def test_orc_roundtrip_preserves_rowcount(spark, sf_dir):
    (docs,) = load_tables(spark, sf_dir, "documents")
    out = REGISTRY["orc_roundtrip_source"].spark(spark, sf_dir)
    assert out.agg(F.sum("n_docs")).first()[0] == docs.count()


def test_pipe_syntax_matches_ansi(spark, sf_dir):
    """The pipe-syntax plan and the ANSI twin return identical rows."""
    from _imdb_etl_spark.plans.scale import _PIPE_SQL

    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    lineitem.createOrReplaceTempView("lineitem")
    ansi = spark.sql(_PIPE_SQL).collect()
    piped = REGISTRY["sql_pipe_revenue"].spark(spark, sf_dir).collect()
    assert piped == ansi


def test_cdc_chunks_resynchronize_after_insertion(spark):
    """The CDC property fixed segments lack: inserting one word at the
    front of a long document leaves most chunk hashes shared."""
    from _imdb_etl_spark.operators.webcorpus import cdc_chunk_table

    base = " ".join(f"tok{i % 97}x{i % 13}" for i in range(400))
    docs = spark.createDataFrame(
        [(1, base, "en"), (2, "INSERTED " + base, "en")],
        "doc_id bigint, text string, lang string",
    )
    chunks = cdc_chunk_table(docs).collect()
    h1 = {r.h for r in chunks if r.doc_id == 1}
    h2 = {r.h for r in chunks if r.doc_id == 2}
    assert len(h1) > 10
    shared = len(h1 & h2) / len(h1)
    assert shared >= 0.8, f"CDC re-sync too weak: {shared}"


def test_tfidf_ranks_contiguous_and_sorted(spark, sf_dir):
    rows = REGISTRY["text_tfidf_keywords"].spark(spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc
    for doc_id, rs in by_doc.items():
        ranks = [r.term_rank for r in rs]
        assert ranks == list(range(1, len(rs) + 1))
        scores = [r.tfidf for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_regression_matches_numpy(spark, sf_dir):
    rows = (
        REGISTRY["corpus_chars_tokens_regression"]
        .spark(spark, sf_dir)
        .collect()
    )
    (docs,) = load_tables(spark, sf_dir, "documents")
    pdf = docs.select(
        "lang",
        F.col("n_chars").alias("x"),
        F.size(F.split("text", " ")).alias("y"),
    ).toPandas()
    for r in rows:
        sub = pdf[pdf.lang == r.lang]
        slope, intercept = np.polyfit(sub.x, sub.y, 1)
        assert abs(r.slope - slope) < 1e-4
        assert abs(r.intercept - intercept) < 1e-2
        assert 0 < r.r2 <= 1


def test_ivf_persisted_matches_in_memory_index(spark, sf_dir):
    """Serving from the stored index returns exactly the in-memory
    IVF results, and the lists land partitioned by centroid id."""
    import os

    mem = REGISTRY["sim_knn_ivf"].spark(spark, sf_dir).collect()
    stored = REGISTRY["sim_knn_ivf_persisted"].spark(spark, sf_dir).collect()
    assert stored == mem
    parts = os.listdir(f"{scratch_dir('ivf_index')}/lists")
    assert any(p.startswith("centroid_id=") for p in parts)


def test_incremental_rollup_merges_delta(spark, sf_dir):
    """The merged incremental rollup covers every event exactly once."""
    (events,) = load_tables(spark, sf_dir, "events")
    out = REGISTRY["events_rollup_incremental"].spark(spark, sf_dir)
    assert out.agg(F.sum("n_events")).first()[0] == events.count()
    n_days = out.select("day_bucket").distinct().count()
    assert n_days >= 2, "fixture should span multiple days"


def test_sliding_hll_bounds_and_monotone_vs_daily(spark, sf_dir):
    """Every window passes the HLL contract, and a 7-day window never
    has fewer distinct users than its own single day."""
    rows = (
        REGISTRY["events_sliding_distinct_hll"].spark(spark, sf_dir).collect()
    )
    assert rows and all(r.within_bound for r in rows)
    (events,) = load_tables(spark, sf_dir, "events")
    daily = {
        r.day_bucket: r.n
        for r in events.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day_bucket"
            )
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in rows:
        assert r.exact_users_7d >= daily[r.day_bucket]


def test_welch_ttest_matches_scipy_formula(spark, sf_dir):
    """t statistic and Welch df agree with a numpy recomputation."""
    rows = REGISTRY["events_welch_ttest"].spark(spark, sf_dir).collect()
    (events,) = load_tables(spark, sf_dir, "events")
    pdf = events.select("event_type", "value").toPandas()
    for r in rows:
        a = pdf[pdf.event_type == r.event_type].value.to_numpy()
        b = pdf[pdf.event_type != r.event_type].value.to_numpy()
        v1, v0 = a.var(ddof=1), b.var(ddof=1)
        se2 = v1 / len(a) + v0 / len(b)
        t = (a.mean() - b.mean()) / np.sqrt(se2)
        df_w = se2**2 / (
            (v1 / len(a)) ** 2 / (len(a) - 1)
            + (v0 / len(b)) ** 2 / (len(b) - 1)
        )
        assert abs(r.t_stat - t) < 1e-4
        assert abs(r.welch_df - df_w) < 0.5


def test_cms_decode_matches_jvm(spark, sf_dir):
    """The Connect-safe pure-Python CountMinSketch reader is
    bit-identical to the JVM estimateCount (classic mode only)."""
    from _imdb_etl_spark.plans.advanced import (
        _CMS_CONF,
        _CMS_EPS,
        _CMS_SEED,
        cms_decode,
    )

    (events,) = load_tables(spark, sf_dir, "events")
    raw = bytes(
        events.agg(
            F.expr(
                f"count_min_sketch(user_id, {_CMS_EPS}d, {_CMS_CONF}d,"
                f" {_CMS_SEED})"
            ).alias("s")
        ).first()["s"]
    )
    total, estimate = cms_decode(raw)
    assert total == events.count()
    jvm = spark.sparkContext._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(raw)
    )
    users = [r.user_id for r in events.select("user_id").distinct().collect()]
    assert all(estimate(u) == cms.estimateCount(u) for u in users)


def test_novelty_first_introducer_is_novel(spark, sf_dir):
    """A trigram's introducing document never counts it as seen-before,
    and permille stays in [0, 1000]."""
    rows = REGISTRY["corpus_ngram_novelty"].spark(spark, sf_dir).collect()
    assert rows
    assert all(0 <= r.repeated_permille <= 1000 for r in rows)
    assert all(r.n_seen_before <= r.n_grams for r in rows)
    first = min(rows, key=lambda r: r.doc_id)
    assert first.n_seen_before == 0  # nothing precedes the first doc


def test_entropy_bounded_by_log_distinct(spark, sf_dir):
    """0 <= H <= ln(n_distinct) for every document."""
    rows = REGISTRY["corpus_entropy_profile"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r.entropy_nats <= float(np.log(r.n_distinct)) + 1e-6


def test_cusum_peak_localizes_planted_shift(spark):
    """CUSUM arg-max lands on (or next to) a planted level shift."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for h in range(48):
        val = 10.0 if h < 24 else 50.0  # shift at hour 24
        rows.append((h, base + dt.timedelta(hours=h), 1, "a", val, None))
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        out = (
            REGISTRY["events_cusum_changepoint"].spark(spark, d).collect()
        )
    assert len(out) == 1
    # |CUSUM| is maximal at the last pre-shift hour (23:00)
    assert out[0].changepoint_hour == "2024-01-01 23:00:00"


def test_bpe_checkpoint_namespace_isolated_across_invocations(
    spark, monkeypatch
):
    """Round-7 advisory: successive trainer invocations in one process
    must not overwrite each other's still-referenced checkpoint
    parquet. Run trainer 1, let trainer 2 checkpoint afterwards, then
    force trainer 1's post-checkpoint stream to RE-EXECUTE its plan
    (unpersist first — the cache would mask a clobbered file): the
    re-read must reproduce the original stream."""
    from _imdb_etl_spark.operators import corpus

    monkeypatch.setattr(corpus, "_BPE_CKPT_EVERY", 2)
    docs1 = spark.createDataFrame([("aa ab aa ab",)], "text string")
    docs2 = spark.createDataFrame([("zz zy zz zy zz",)], "text string")
    _t1, s1 = corpus._bpe_train(spark, docs1, 3)  # ckpt fires at k=2
    before = sorted(tuple(r) for r in s1.collect())
    _t2, s2 = corpus._bpe_train(spark, docs2, 3)  # would clobber gen_2
    s1.unpersist()
    after = sorted(tuple(r) for r in s1.collect())
    s2.unpersist()
    assert after == before


def test_bpe_checkpoint_path_matches_unpatched_faces(spark, sf_dir, monkeypatch):
    """With a checkpoint every 2 merges, both trainers (the strict one
    behind tokenizer_bpe_train_n / tokenizer_bpe_encode and the
    batched one) go through _bpe_ckpt_stream and return exactly the
    unpatched merge tables and encoded output; the shared scratch
    retention leaves at most _STAGE_RETAIN checkpoint runs."""
    import glob

    from _imdb_etl_spark.operators import corpus
    from _imdb_etl_spark.sources.catalog import _STAGE_RETAIN

    faces = (
        "tokenizer_bpe_train_n",
        "tokenizer_bpe_train_batched",
        "tokenizer_bpe_encode",
    )

    def run():
        return {
            q: sorted(tuple(r) for r in REGISTRY[q].spark(spark, sf_dir).collect())
            for q in faces
        }

    want = run()
    calls = []
    real_ckpt = corpus._bpe_ckpt_stream

    def spy_ckpt(spark, df, gen, run_dir):
        calls.append(run_dir)
        return real_ckpt(spark, df, gen, run_dir)

    monkeypatch.setattr(corpus, "_BPE_CKPT_EVERY", 2)
    monkeypatch.setattr(corpus, "_bpe_ckpt_stream", spy_ckpt)
    assert run() == want
    assert len(set(calls)) == len(faces), calls
    runs = glob.glob(f"{scratch_dir('bpe_ckpt')}_run*")
    assert 1 <= len(runs) <= _STAGE_RETAIN, runs


def test_bpe_merges_count_positions_exactly(spark, sf_dir):
    """Total pair mass equals sum(len(w)-1) over all tokens, and the
    top merge beats every other returned pair."""
    rows = (
        REGISTRY["tokenizer_bpe_first_merges"].spark(spark, sf_dir).collect()
    )
    assert [r.merge_rank for r in rows] == list(range(1, len(rows) + 1))
    counts = [r.cnt for r in rows]
    assert counts == sorted(counts, reverse=True)
    (docs,) = load_tables(spark, sf_dir, "documents")
    total_positions = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") >= 2)
        .agg(F.sum(F.length("w") - 1))
        .first()[0]
    )
    # top-20 mass can never exceed the full pair mass
    assert sum(counts) <= total_positions


def test_embed_inference_matches_local_encoder(spark, sf_dir):
    """The iterator-UDF path reproduces a driver-local recomputation of
    the md5 encoder exactly (Arrow transfer is lossless)."""
    import hashlib

    rows = (
        REGISTRY["text_embed_batch_inference"].spark(spark, sf_dir).collect()
    )
    (docs,) = load_tables(spark, sf_dir, "documents")
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    assert len(rows) == len(texts)
    for r in rows[:25]:
        e = [
            int(hashlib.md5(f"{texts[r.doc_id]}_{j}".encode()).hexdigest()[:4], 16)
            / 65535
            - 0.5
            for j in range(8)
        ]
        assert abs(r.e0 - round(e[0], 6)) < 1e-9
        assert abs(r.emb_norm - round(float(np.sqrt(sum(x * x for x in e))), 6)) < 1e-6


def test_conversion_latency_invariants(spark, sf_dir):
    r = REGISTRY["events_conversion_latency"].spark(spark, sf_dir).first()
    assert 0 < r.n_converted <= r.n_viewers
    assert 0 <= r.conversion_permille <= 1000
    assert 0 <= r.p50_minutes <= r.p90_minutes


def test_logreg_scorecard_floors_and_raw_accuracy(spark, sf_dir):
    """Scorecard booleans hold, and the raw held-out accuracy is
    genuinely high (the gate is feature-determined)."""
    r = REGISTRY["quality_logreg_scorecard"].spark(spark, sf_dir).first()
    assert r.acc_ge_750 and r.neg_recall_ge_250
    assert r.n_train > r.n_test > 0


def test_auc_matches_bruteforce_pairs(spark, sf_dir):
    """The windowed Mann-Whitney AUC equals the O(n^2) pair count
    computed independently in numpy on the collected (score, label)
    pairs — ties counted as half."""
    from _imdb_etl_spark.operators.evaluation import _score_groups

    r = REGISTRY["quality_score_auc"].spark(spark, sf_dir).first()
    assert r.n_pos > 0 and r.n_neg > 0
    g = _score_groups(spark, sf_dir).collect()
    scores = np.repeat(
        [row.score for row in g], [row.np + row.nn for row in g]
    )
    labels = np.concatenate(
        [[1] * row.np + [0] * row.nn for row in g]
    ).astype(int)
    pos, neg = scores[labels == 1], scores[labels == 0]
    wins = (pos[:, None] > neg[None, :]).sum()
    ties = (pos[:, None] == neg[None, :]).sum()
    auc = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert abs(r.auc - auc) < 1e-6
    # stopword permille is half the gate definition, so it must beat
    # a random ranking with margin
    assert r.auc > 0.6


def test_pr_curve_monotone_and_anchored(spark, sf_dir):
    rows = (
        REGISTRY["quality_pr_curve"].spark(spark, sf_dir).collect()
    )  # ordered by threshold asc
    assert rows, "no thresholds"
    # lowest threshold predicts everything positive: full recall
    assert rows[0].recall_permille == 1000
    for a, b in zip(rows, rows[1:]):
        assert a.threshold < b.threshold
        # raising the threshold can only shrink the predicted set
        assert a.n_pred_pos >= b.n_pred_pos
        assert a.tp >= b.tp
        assert a.recall_permille >= b.recall_permille
        assert 0 <= a.precision_permille <= 1000


def test_rrf_fusion_consistent_with_ranks(spark, sf_dir):
    from _imdb_etl_spark.operators.retrieval import _RRF_K, _RRF_TOP

    rows = REGISTRY["retrieval_hybrid_rrf"].spark(spark, sf_dir).collect()
    assert [r.fused_rank for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) == _RRF_TOP
    prev = None
    for r in rows:
        assert r.lex_rank is not None or r.sem_rank is not None
        want = 0.0
        if r.lex_rank is not None:
            want += 1.0 / (_RRF_K + r.lex_rank)
        if r.sem_rank is not None:
            want += 1.0 / (_RRF_K + r.sem_rank)
        assert abs(r.rrf_score - round(want, 6)) < 1e-9
        if prev is not None:
            assert r.rrf_score <= prev  # fused order is by score
        prev = r.rrf_score


def test_skew_profile_mass_conserved(spark, sf_dir):
    from _imdb_etl_spark.plans.scale import _SKEW_BUCKETS

    rows = REGISTRY["shuffle_skew_profile"].spark(spark, sf_dir).collect()
    (events,) = load_tables(spark, sf_dir, "events")
    total = events.count()
    n_users = events.select("user_id").distinct().count()
    assert sum(r.n_rows for r in rows) == total
    assert sum(r.n_keys for r in rows) == n_users
    assert len(rows) <= _SKEW_BUCKETS
    for r in rows:
        assert 0 <= r.bucket < _SKEW_BUCKETS
        assert r.max_key_rows <= r.n_rows
        assert r.load_permille == 1000 * r.n_rows // total


def test_upsample_realizes_plan_within_rounding(spark, sf_dir):
    """Realized epochs track the plan: exact for whole epochs, and the
    fractional md5 subset lands within hash-uniformity noise."""
    rows = (
        REGISTRY["corpus_upsample_epochs"].spark(spark, sf_dir).collect()
    )
    assert rows
    for r in rows:
        whole = r.planned_epochs_permille // 1000
        assert r.n_copies_out >= whole * r.n_docs
        assert r.n_copies_out <= (whole + 1) * r.n_docs
        # permille realization within hash noise of the plan
        assert abs(r.realized_epochs_permille - r.planned_epochs_permille) \
            <= 200


def test_epoch_shuffle_partitions_all_docs_reproducibly(spark, sf_dir):
    from _imdb_etl_spark.operators.webcorpus import _N_SHARDS

    q = REGISTRY["corpus_epoch_shuffle"].spark
    a = {r.shard: r for r in q(spark, sf_dir).collect()}
    (docs,) = load_tables(spark, sf_dir, "documents")
    assert sum(r.n_docs for r in a.values()) == docs.count()
    assert set(a) <= set(range(_N_SHARDS))
    for r in a.values():
        assert r.max_position == r.n_docs  # positions are contiguous 1..n
    # a rebuilt plan reproduces the identical manifest (checksums and all)
    b = {r.shard: r for r in q(spark, sf_dir).collect()}
    assert {k: tuple(v) for k, v in a.items()} == {
        k: tuple(v) for k, v in b.items()
    }


def test_temporal_embargo_partitions_and_orders(spark, sf_dir):
    r = REGISTRY["split_temporal_embargo"].spark(spark, sf_dir).first()
    (events,) = load_tables(spark, sf_dir, "events")
    assert r.n_train + r.n_embargo + r.n_test == events.count()
    # 75th percentile boundary: train holds >= 75% of events
    assert r.n_train >= 3 * (r.n_embargo + r.n_test)
    assert r.overlap_users <= min(r.train_users, r.test_users)
    assert r.n_test >= r.test_users > 0


def test_bpe_apply_consistent_with_merge_table(spark, sf_dir):
    """Applying the rank-1 merge removes exactly as many pair
    occurrences as GREEDY matching finds, and compression follows."""
    merges = (
        REGISTRY["tokenizer_bpe_first_merges"].spark(spark, sf_dir).first()
    )
    rows = (
        REGISTRY["tokenizer_bpe_apply_merge"].spark(spark, sf_dir).collect()
    )
    total_merged = sum(r.n_merged for r in rows)
    # greedy non-overlapping count can be below the positional count
    # (overlaps like 'aaa' for pair 'aa'), never above
    assert 0 < total_merged <= merges.cnt
    for r in rows:
        assert r.symbols_after == r.symbols_before - r.n_merged
        assert 0 < r.compression_permille <= 1000


def test_basket_affinity_bounds_and_symmetric_support(spark, sf_dir):
    rows = (
        REGISTRY["basket_part_affinity"].spark(spark, sf_dir).collect()
    )
    assert rows
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    for r in rows[:5]:
        # support recomputed directly: orders containing BOTH parts
        both = (
            lineitem.where(
                F.col("l_partkey").isin(r.part_a, r.part_b)
            )
            .groupBy("l_orderkey")
            .agg(F.countDistinct("l_partkey").alias("k"))
            .where(F.col("k") == 2)
            .count()
        )
        assert r.support == both
        assert r.part_a < r.part_b
        assert 0 < r.conf_a_to_b_permille <= 1000
        assert r.lift_permille > 0


def test_time_bound_funnel_monotone_and_single_exchange(spark, sf_dir):
    df = REGISTRY["events_funnel_time_bound"].spark(spark, sf_dir)
    r = df.first()
    assert r.n_users >= r.n_viewed >= r.n_clicked_1h >= r.n_purchased_1h
    assert r.n_viewed > 0 and r.n_clicked_1h > 0
    assert r.click_conv_permille <= 1000
    # the three chained stage windows and the per-user rollup all ride
    # ONE user-keyed exchange (stacked WindowExecs preserve partitioning)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_user_exchanges = plan.count("Exchange hashpartitioning(user_id")
    assert n_user_exchanges == 1, plan[:2000]


def test_recall_curve_consistent_with_recall_test(spark, sf_dir):
    rows = REGISTRY["sim_recall_curve"].spark(spark, sf_dir).collect()
    assert [r.k for r in rows] == [1, 2, 3, 4, 5]
    prev_matched = 0
    for r in rows:
        assert 0 <= r.n_matched <= r.n_exact
        assert r.recall_permille == 1000 * r.n_matched // r.n_exact
        # widening k can only add matched pairs
        assert r.n_matched >= prev_matched
        prev_matched = r.n_matched
    # the multi-probe IVF index finds a real share of the true top-k
    assert rows[-1].recall_permille >= 100


def test_heldout_lm_scores_only_test_docs_with_oov(spark, sf_dir):
    rows = (
        REGISTRY["text_lm_heldout_perplexity"].spark(spark, sf_dir).collect()
    )
    assert rows
    in_corpus = {
        r.doc_id: r
        for r in REGISTRY["text_bigram_lm_score"].spark(spark, sf_dir).collect()
    }
    held = {r.doc_id for r in rows}
    # held-out set is the ~25% md5 split, never the whole corpus
    assert 0 < len(held) < len(in_corpus)
    for r in rows:
        assert 0 <= r.n_unseen <= r.n_bigrams
        assert r.unseen_permille == 1000 * r.n_unseen // r.n_bigrams
        assert r.avg_heldout_logprob < 0
        # scoring against a model that never saw the doc cannot beat
        # the in-corpus score that memorized it... except via the
        # smoothing mass on tiny docs; assert the corpus-level order
    n = len(rows)
    worse = sum(
        1
        for r in rows
        if r.avg_heldout_logprob <= in_corpus[r.doc_id].avg_bigram_logprob
    )
    assert worse >= n * 2 // 3


def test_except_all_multiplicity_matches_counts(spark, sf_dir):
    """Bag semantics: leftover multiplicity equals views - purchases
    wherever positive, recomputed directly from per-user counts."""
    rows = {
        r.user_id: r.unconverted_views
        for r in REGISTRY["setop_except_all_views"].spark(spark, sf_dir).collect()
    }
    (events,) = load_tables(spark, sf_dir, "events")
    counts = {
        r.user_id: (r.v, r.p)
        for r in events.groupBy("user_id")
        .agg(
            F.sum((F.col("event_type") == "view").cast("long")).alias("v"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("p"),
        )
        .collect()
    }
    want = {u: v - p for u, (v, p) in counts.items() if v - p > 0}
    assert rows == want


def test_intersect_all_multiplicity_is_min_of_counts(spark, sf_dir):
    rows = {
        r.user_id: r.converted_views
        for r in REGISTRY["setop_intersect_all_views"]
        .spark(spark, sf_dir)
        .collect()
    }
    (events,) = load_tables(spark, sf_dir, "events")
    counts = {
        r.user_id: (r.v, r.p)
        for r in events.groupBy("user_id")
        .agg(
            F.sum((F.col("event_type") == "view").cast("long")).alias("v"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("p"),
        )
        .collect()
    }
    want = {u: min(v, p) for u, (v, p) in counts.items() if min(v, p) > 0}
    assert rows == want


def test_bench_run_capped_watchdog(spark):
    """bench._run_capped must time a fast query, kill a pathological
    one at the cap (job-group cancellation -> exception, not a hang),
    and leave the session usable afterwards."""
    import bench

    t = bench._run_capped(
        spark, lambda: spark.range(1000).selectExpr("id * 2 AS x"), 60.0
    )
    assert 0 <= t < 60

    def quadratic():
        a = spark.range(300_000).withColumnRenamed("id", "a")
        b = spark.range(300_000).withColumnRenamed("id", "b")
        return a.crossJoin(b).selectExpr("sum(a * b) AS s")

    with pytest.raises(Exception):
        bench._run_capped(spark, quadratic, 2.0)
    # session survives the cancellation
    assert spark.range(10).count() == 10


def test_bpe_encode_token_total_matches_trainer(spark, sf_dir):
    """Lifecycle consistency: the encoder's FULL token histogram (not
    just the registered top-20) must total exactly the trainer's final
    symbols_after — one training run, two readouts of its stream."""
    from _imdb_etl_spark.operators.corpus import (
        _BPE_SEP,
        _BPE_TRAIN_ROUNDS,
        _bpe_train,
    )

    (docs,) = load_tables(spark, sf_dir, "documents")
    merge_table, stream = _bpe_train(spark, docs, _BPE_TRAIN_ROUNDS)
    expected = merge_table[-1][4]  # final round's symbols_after
    ss = _BPE_SEP + _BPE_SEP
    total = (
        stream.select(F.explode(F.split("s", ss)).alias("sym"), "freq")
        .where(F.col("sym") != "")
        .agg(F.sum("freq"))
        .collect()[0][0]
    )
    stream.unpersist()
    assert total == expected


def test_bpe_batched_conflict_skip_and_exhaustion(spark):
    """Two deterministic pins on the batched trainer. (1) Conflict
    skip: on a corpus whose top pairs share symbols, a round must skip
    the conflicting runner-up and select the best DISJOINT pair —
    'xy' * counts make (x,y) rank 1 and (y,z) rank 2; (y,z) shares y,
    so slot 2 goes to (p,q). (2) Exhaustion: a corpus that runs out of
    pairs mid-schedule emits only the merges that happened, on both
    the Spark face and the DuckDB oracle (the LEFT-JOIN pass-through
    guard)."""
    import duckdb

    from _imdb_etl_spark.operators.corpus import (
        _bpe_batched_sql,
        bpe_train_batched_rounds,
    )

    # (1) conflict skip: x y appears 5x, y z 4x, p q 3x
    texts = ["xy " * 5 + "yz " * 4 + "pq " * 3]
    docs = spark.createDataFrame(
        [(0, texts[0].strip())], "doc_id long, text string"
    )
    rows = [
        (r.merge_rank, r.sym_a, r.sym_b, r.pair_cnt)
        for r in bpe_train_batched_rounds(spark, docs, 1, k=2).collect()
    ]
    assert rows == [(1, "x", "y", 5), (2, "p", "q", 3)]

    # (2) exhaustion, both twins: 'ab ab' has one merge in it
    docs2 = spark.createDataFrame(
        [(0, "ab ab")], "doc_id long, text string"
    )
    got = [
        (r.merge_rank, r.sym_a, r.sym_b, r.pair_cnt, r.symbols_after)
        for r in bpe_train_batched_rounds(spark, docs2, 2, k=2).collect()
    ]
    assert got == [(1, "a", "b", 2, 2)]
    con = duckdb.connect()
    con.sql("CREATE TABLE documents AS SELECT 0 AS doc_id, 'ab ab' AS text")
    assert con.sql(_bpe_batched_sql(2, 2, 64)).fetchall() == [
        (1, "a", "b", 2, 2)
    ]
    con.close()


def test_interval_coalesce_matches_pure_python(spark, sf_dir):
    """Third-implementation check (the BPE lesson): the registered
    interval-union query vs an independent pure-Python sweep-line merge
    over the same parquet — catches a shared-window-semantics bug the
    DuckDB twin would mirror."""
    import pandas as pd

    got = {
        r.user_id: (r.n_events, r.n_islands, r.covered_ms)
        for r in REGISTRY["events_interval_coalesce"].spark(spark, sf_dir).collect()
    }

    pdf = pd.read_parquet(f"{sf_dir}/events.parquet")[
        ["user_id", "ts", "event_id"]
    ]
    ttl = 300_000
    want = {}
    for uid, grp in pdf.groupby("user_id"):
        ivs = sorted(
            (int(t.value // 1_000_000), eid)
            for t, eid in zip(grp["ts"], grp["event_id"])
        )
        islands = []
        for start, _ in ivs:
            end = start + ttl
            if islands and start <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], end)
            else:
                islands.append([start, end])
        want[int(uid)] = (
            len(ivs),
            len(islands),
            sum(e - s for s, e in islands),
        )
    assert got == want


def test_incremental_minhash_counts_cross_boundary_neardups(
    spark, tmp_path
):
    """Synthetic corpus with a KNOWN cross-boundary near-dup structure:
    batch doc 4 is an exact copy of corpus doc 0 (signatures equal =>
    guaranteed band collision, Jaccard 1.0), batch doc 9 is unique, and
    corpus docs 14-copy... batch doc 14 near-copies corpus doc 1 with
    one token changed (high-overlap shingles). Exact-copy must count as
    near-dup; unique doc must count novel."""
    import random

    rng = random.Random(11)
    words = [f"t{i}" for i in range(2000)]

    def text(n):
        return " ".join(rng.sample(words, n))

    base0 = text(20)
    base1 = text(30)
    rows = []
    # corpus docs (doc_id % 5 != 4)
    rows.append((0, base0, "en", "s0", len(base0)))
    rows.append((1, base1, "en", "s0", len(base1)))
    for d in (2, 3, 5, 6, 7, 8, 10, 11):
        t = text(15)
        rows.append((d, t, "en", "s0", len(t)))
    # batch docs (doc_id % 5 == 4)
    rows.append((4, base0, "en", "s0", len(base0)))  # exact copy of 0
    toks = base1.split()
    toks[15] = "changed"
    near = " ".join(toks)
    rows.append((14, near, "en", "s0", len(near)))  # near-copy of 1
    u = text(25)
    rows.append((9, u, "en", "s0", len(u)))  # unique
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "inc_mh")
    docs.coalesce(1).write.parquet(f"{d}/documents.parquet")

    out = REGISTRY["dedup_incremental_minhash"].spark(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r.lang == "en" and r.n_incoming == 3
    # the exact copy is always caught; the one-token near-copy's band
    # collision is deterministic for these fixed strings — pin whichever
    # the md5 banding yields, but never fewer than the exact copy
    assert r.n_near_dup >= 1
    assert r.n_novel == r.n_incoming - r.n_near_dup
    assert r.n_novel >= 1  # the unique doc can never be matched


def test_sequence_pattern_matches_pure_python_re(spark, sf_dir):
    """Third implementation: Python's re module replays the funnel
    count and error-run scan over pandas-built sequences — pins the
    non-overlapping greedy semantics independently of both engines."""
    import re

    import pandas as pd

    got = {
        r.user_id: (r.n_events, r.n_funnels, r.longest_error_run)
        for r in REGISTRY["events_sequence_pattern"].spark(spark, sf_dir).collect()
    }
    pdf = pd.read_parquet(f"{sf_dir}/events.parquet")[
        ["user_id", "ts", "event_id", "event_type"]
    ].sort_values(["user_id", "ts", "event_id"])
    want = {}
    for uid, grp in pdf.groupby("user_id"):
        seq = "".join(t[0] for t in grp["event_type"])
        runs = re.findall(r"e+", seq)
        want[int(uid)] = (
            len(seq),
            len(re.findall(r"vc*p", seq)),
            max((len(r) for r in runs), default=0),
        )
    assert got == want


def test_audio_segments_match_pure_python_runlength(spark, sf_dir):
    """Third implementation: decode the chained-md5 WAVs in plain
    Python (no numpy reshape, no SQL) and run a scalar run-length scan
    — pins frame slicing, threshold strictness, and island semantics
    independently of both engine twins."""
    import io
    import wave

    from _imdb_etl_spark.operators.multimodal import (
        _SEG_FRAME,
        _SEG_TH,
        _wav_geom,
        _wav_pcm_chained,
    )

    got = {
        r.asset_id: (r.n_frames, r.n_active, r.n_segments, r.longest_segment)
        for r in REGISTRY["multimodal_audio_segments"]
        .spark(spark, sf_dir)
        .collect()
    }
    import pandas as pd

    doc_ids = pd.read_parquet(f"{sf_dir}/documents.parquet")["doc_id"]
    for doc_id in doc_ids:
        doc_id = int(doc_id)
        ch, _ = _wav_geom(doc_id)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(ch)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(_wav_pcm_chained(doc_id))
        with wave.open(io.BytesIO(buf.getvalue())) as w:
            raw = w.readframes(w.getnframes())
        vals = [
            raw[2 * i] + 256 * raw[2 * i + 1] for i in range(len(raw) // 2)
        ]
        nfr = len(vals) // _SEG_FRAME
        active = [
            sum(vals[f * _SEG_FRAME : (f + 1) * _SEG_FRAME]) > _SEG_TH
            for f in range(nfr)
        ]
        segs, run = [], 0
        for a in active:
            if a:
                run += 1
            elif run:
                segs.append(run)
                run = 0
        if run:
            segs.append(run)
        assert got[doc_id] == (
            nfr,
            sum(segs),
            len(segs),
            max(segs, default=0),
        ), doc_id


def test_remove_duplicate_spans_matches_pure_python(spark, sf_dir):
    """Third implementation of the span-removal rewrite: a scalar
    global-first scan over the same parquet — pins the keep-first
    ordering (doc_id, position), within-doc repeats, and overlapping
    span coverage independently of both engine twins. Also asserts the
    corpus actually loses tokens (a no-op rewrite would pass parity
    trivially)."""
    import hashlib

    import pandas as pd

    from _imdb_etl_spark.operators.text import _SPAN_K

    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.kept_md5)
        for r in REGISTRY["text_remove_duplicate_spans"]
        .spark(spark, sf_dir)
        .collect()
    }

    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet")[
        ["doc_id", "text"]
    ].sort_values("doc_id")
    docs = [(int(d), ("" if t is None else t).split(" ")) for d, t in
            zip(pdf["doc_id"], pdf["text"])]
    seen: set[str] = set()
    covered: dict[int, set] = {}
    for doc_id, t in docs:  # doc_id ascending = global (doc_id, i) order
        cov = covered.setdefault(doc_id, set())
        for i in range(len(t) - _SPAN_K + 1):
            gram = " ".join(t[i : i + _SPAN_K])
            if gram in seen:
                cov.update(range(i, i + _SPAN_K))
            else:
                seen.add(gram)
    total_removed = 0
    for doc_id, t in docs:
        keep = [tok for p, tok in enumerate(t) if p not in covered[doc_id]]
        md5 = hashlib.md5(" ".join(keep).encode()).hexdigest()
        assert got[doc_id] == (len(t), len(t) - len(keep), md5), doc_id
        total_removed += len(t) - len(keep)
    assert total_removed > 0


def test_ivfpq_refined_recall_dominates_adc(spark, sf_dir):
    """The exact re-rank face must never lose to the ADC-only face:
    the shortlist is a superset of the ADC top-k, and any true-top-k
    member inside the shortlist has (by definition) one of the
    shortlist's highest exact cosines — so refined recall >= ADC
    recall, measured against a numpy brute-force exact top-k."""
    import numpy as np

    from _imdb_etl_spark.operators.semantic import _IVFPQ_TOP_K, _N_QUERIES

    adc = REGISTRY["sim_knn_ivfpq"].spark(spark, sf_dir).collect()
    ref = REGISTRY["sim_knn_ivfpq_refined"].spark(spark, sf_dir).collect()

    import pandas as pd

    pdf = pd.read_parquet(f"{sf_dir}/embeddings.parquet").sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat[: _N_QUERIES] @ mat.T
    truth = {}
    for qi in range(_N_QUERIES):
        row = sims[qi].copy()
        row[qi] = -np.inf  # exclude self
        top = np.argpartition(-row, _IVFPQ_TOP_K)[:_IVFPQ_TOP_K]
        truth[ids[qi]] = {int(ids[j]) for j in top}

    def recall(rows):
        hits = tot = 0
        for q, t in truth.items():
            got = {r.neighbor_id for r in rows if r.query_id == q}
            hits += len(got & t)
            tot += len(t)
        return hits / tot

    r_adc, r_ref = recall(adc), recall(ref)
    assert r_ref >= r_adc, (r_ref, r_adc)
    assert r_ref > 0
    # within each query the refined output is exact-cos descending
    for q in truth:
        ranked = sorted(
            (r for r in ref if r.query_id == q), key=lambda r: r.neighbor_rank
        )
        cos = [r.exact_cos for r in ranked]
        assert cos == sorted(cos, reverse=True)


def test_kmv_setops_matches_pure_python(spark, sf_dir):
    """Third implementation (shared-twin-bug guard): replay the KMV
    bottom-k sketch, merge, and rho-scaled intersection in plain
    Python over pandas and require row-identical output, then sanity-
    check the saturated estimates against exact cardinalities within
    the analytic 3*rsd KMV bound."""
    import hashlib
    import math

    import pandas as pd

    from _imdb_etl_spark.plans.advanced import _KMV_HEX, _KMV_K, _KMV_SPACE

    got = {
        r.set_name: (r.n_sketch, r.kth_hash, r.kmv_est, r.exact_users)
        for r in REGISTRY["sketch_distinct_kmv_setops"].spark(spark, sf_dir).collect()
    }

    pdf = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "user_id"])

    def h64(u):
        return int(hashlib.md5(str(u).encode()).hexdigest()[:_KMV_HEX], 16)

    sketches, exacts = {}, {}
    for et, grp in pdf.groupby("event_type"):
        users = set(grp["user_id"])
        exacts[et] = len(users)
        sketches[et] = sorted({h64(u) for u in users})[:_KMV_K]

    def est(sk):
        if len(sk) < _KMV_K:
            return float(len(sk))
        return float(_KMV_K - 1) / (float(sk[-1]) / _KMV_SPACE)

    for et, sk in sketches.items():
        assert got[et] == (len(sk), sk[-1], round(est(sk), 4), exacts[et]), et

    merged = sorted(set().union(*sketches.values()))[:_KMV_K]
    assert got["union:all"] == (
        len(merged),
        merged[-1],
        round(est(merged), 4),
        len(set(pdf["user_id"])),
    )

    av, bv = set(sketches["view"]), set(sketches["purchase"])
    pair = sorted(av | bv)[:_KMV_K]
    rho = sum(1 for x in pair if x in av and x in bv) / len(pair)
    exact_inter = len(
        set(pdf[pdf.event_type == "view"]["user_id"])
        & set(pdf[pdf.event_type == "purchase"]["user_id"])
    )
    assert got["intersect:view*purchase"] == (
        len(pair),
        pair[-1],
        round(rho * est(pair), 4),
        exact_inter,
    )

    # analytic accuracy: saturated sketches within 3/sqrt(k-2) of exact
    bound = 3.0 / math.sqrt(_KMV_K - 2)
    for name, (n, _, e, exact) in got.items():
        if n == _KMV_K and exact > 0:
            assert abs(e - exact) <= bound * exact, (name, e, exact)


def test_bitmap_distinct_equals_count_distinct(spark, sf_dir):
    """The bitmap popcount path must be EXACT: every per-type row and
    the merged union row equal the straightforward COUNT(DISTINCT)."""
    rows = {
        r.set_name: r.distinct_users
        for r in REGISTRY["distinct_users_bitmap_exact"].spark(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    expect = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    expect["union:all"] = ev.select("user_id").distinct().count()
    assert rows == expect


def test_linear_attribution_conserves_credit(spark, sf_dir):
    """Every purchase carries exactly 1e6 micro-credits: attributed
    groups lose at most (n_touch - 1) micro-units each to the floor,
    unattributed purchases carry theirs whole — so the grand total is
    within #groups of 1e6 * purchases, and never above."""
    rows = REGISTRY["events_attribution_linear"].spark(spark, sf_dir).collect()
    total_credit = sum(r.credit_micro for r in rows)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_purch = ev.where(F.col("event_type") == "purchase").count()
    n_groups = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .distinct()
        .count()
    )
    assert total_credit <= n_purch * 1_000_000
    assert total_credit >= n_purch * 1_000_000 - n_groups * 1_000_000
    # every touch type present appears with positive credit
    for r in rows:
        if r.touch_type != "none":
            assert r.credit_micro > 0 and r.touches > 0


def test_prefix_filter_matches_exact_jaccard(spark, sf_dir):
    """Losslessness pin for dedup_jaccard_prefix: the prefix-filtered
    join must return EXACTLY the quadratic all-pairs result (prefix
    filtering prunes candidates, never results)."""
    from _imdb_etl_spark.operators.dedup import (
        dedup_jaccard_prefix,
        dedup_ngram_jaccard,
    )

    exact = {tuple(r) for r in dedup_ngram_jaccard(spark, sf_dir).collect()}
    pref = {tuple(r) for r in dedup_jaccard_prefix(spark, sf_dir).collect()}
    assert pref == exact


def test_prefix_persisted_matches_lazy_and_gids_injective(spark, sf_dir):
    """The persisted PPJoin face must return EXACTLY the lazy face's
    result through the parquet round-trip (which test_prefix_filter_
    matches_exact_jaccard pins to the quadratic truth), and the gid
    dictionary must be injective with sizes preserved: every doc's
    stored int array has exactly n_sh distinct gids, and the global
    gid space has one id per distinct shingle string."""
    from _imdb_etl_spark.operators.dedup import (
        _prefix_doc_sets,
        _shingles,
        dedup_jaccard_prefix,
        dedup_jaccard_prefix_persisted,
    )

    lazy = {tuple(r) for r in dedup_jaccard_prefix(spark, sf_dir).collect()}
    pers = {
        tuple(r)
        for r in dedup_jaccard_prefix_persisted(spark, sf_dir).collect()
    }
    assert pers == lazy

    docs = load_tables(spark, sf_dir, "documents")[0]
    ds = _prefix_doc_sets(docs).collect()
    n_gids = len({g for r in ds for g in r.shs})
    n_shingles = _shingles(docs).select("sh").distinct().count()
    assert n_gids == n_shingles  # injective AND surjective onto vocab
    for r in ds:
        assert len(set(r.shs)) == r.n_sh == len(r.shs)
        assert r.shs == sorted(r.shs)  # rarity order = ascending gid


def test_prefix_incremental_lossless_and_unknown_shingles(
    spark, sf_dir, tmp_path
):
    """dedup_jaccard_prefix_incremental must equal the exact all-pairs
    result restricted to cross-boundary pairs (losslessness under the
    asymmetric dictionary), and a planted batch doc whose text mixes
    UNKNOWN shingles (absent from the index corpus) with a qualifying
    near-dup of an index doc must still be caught — the unknown-
    shingle position-shift path exercised deterministically."""
    from _imdb_etl_spark.operators.dedup import (
        dedup_jaccard_prefix_incremental,
        dedup_ngram_jaccard,
    )

    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
        if (r.doc_a % 5 == 4) != (r.doc_b % 5 == 4)
    }
    inc = {
        tuple(r)
        for r in dedup_jaccard_prefix_incremental(spark, sf_dir).collect()
    }
    assert inc == exact

    # planted corpus: index doc 10 and batch doc 14 share most tokens;
    # doc 14 carries extra tokens seen nowhere in the index corpus
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (10, base),  # index (10 % 5 != 4)
        (11, "lorem ipsum dolor sit amet consectetur adipiscing"),
        (14, base + " zzunknown1 zzunknown2"),  # batch (14 % 5 == 4)
    ]
    d = str(tmp_path / "inc")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup_jaccard_prefix_incremental(spark, d).collect()
    }
    # trigram sets: |A|=8, |B|=10 (2 unknown-bearing extras), overlap 8
    # -> jaccard 0.8 >= 0.6: must be found despite the unknowns
    assert (10, 14) in got


def test_prefix_filter_antiskew_under_hot_shingle(spark):
    """The prefix join's anti-skew claim, empirically: a boilerplate
    shingle shared by 30% of docs has maximal doc-frequency, so the
    rarity ordering pushes it out of every doc's prefix — the prefix
    pair stage stays bounded where the naive shared-shingle stage is
    quadratic in the hot-doc count (same corpus as the LSH skew test)."""
    import random

    from _imdb_etl_spark.operators.dedup import _PREFIX_TAU, _shingles

    rng = random.Random(7)
    words = [f"w{i}" for i in range(5000)]
    rows = []
    for d in range(200):
        toks = rng.sample(words, 12)
        if d % 10 < 3:
            toks[4:4] = ["click", "here", "now"]
        rows.append((d, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sh = _shingles(docs)
    df_t = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    doc_sets = (
        sh.join(df_t, "sh")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "sh"))).alias("ord"))
        .select("doc_id", F.col("ord.sh").alias("shs"), F.size("ord").alias("n_sh"))
        .withColumn(
            "p_len",
            F.col("n_sh")
            - F.ceil(F.lit(_PREFIX_TAU) * F.col("n_sh")).cast("int")
            + 1,
        )
    )
    pre = doc_sets.select(
        "doc_id", F.explode(F.slice("shs", F.lit(1), F.col("p_len"))).alias("ptok")
    )
    a, b = pre.alias("a"), pre.alias("b")
    prefix_pair_stage = a.join(
        b,
        (F.col("a.ptok") == F.col("b.ptok"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).count()
    # naive stage is >= C(60,2) = 1770 on this corpus (pinned by the
    # LSH skew test); the prefix stage must stay an order smaller
    assert prefix_pair_stage <= 177, prefix_pair_stage


def test_gapfill_interpolate_brackets_and_observed(spark, sf_dir):
    """Interpolated fills lie within [min(prev,next), max(prev,next)]
    and observed hours reproduce the hourly mean exactly."""
    from _imdb_etl_spark.plans import REGISTRY

    rows = REGISTRY["events_gapfill_interpolate"].spark(spark, sf_dir).collect()
    by_series = {}
    for r in rows:
        by_series.setdefault(r["event_type"], []).append(r)
    n_gap = 0
    for series in by_series.values():
        series.sort(key=lambda r: r["hour_bucket"])
        obs_idx = [i for i, r in enumerate(series) if r["is_observed"]]
        for i, r in enumerate(series):
            if r["is_observed"]:
                continue
            n_gap += 1
            prev = max((j for j in obs_idx if j < i), default=None)
            nxt = min((j for j in obs_idx if j > i), default=None)
            vals = [
                series[j]["v_interp"] for j in (prev, nxt) if j is not None
            ]
            assert vals, "gap with no observed neighbor at all"
            assert min(vals) - 1e-6 <= r["v_interp"] <= max(vals) + 1e-6, r
    # the sf0.001+ event stream must actually exercise gaps
    assert n_gap > 0


def test_weighted_reservoir_prefers_heavy_docs(spark, tmp_path):
    """A-ES property pin: with 10x weight separation, the per-source
    top-k is dominated by heavy docs (P[light doc beats heavy doc] is
    tiny at this weight ratio), and counts are exactly min(k, n)."""
    from _imdb_etl_spark.operators.webcorpus import (
        _WRES_K,
        corpus_weighted_reservoir,
    )

    rows = [
        # 40 light docs (w=20) vs 20 heavy docs (w=2000) in one source
        (i, "x" * 5, "en", "s0", 20 if i < 40 else 2000)
        for i in range(60)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "wres")
    docs.coalesce(1).write.parquet(f"{d}/documents.parquet")

    out = corpus_weighted_reservoir(spark, d).collect()
    assert len(out) == _WRES_K
    n_heavy = sum(1 for r in out if r["n_chars"] == 2000)
    # E[heavy share] ~ w_h/(w_h+w_l) per slot; with 100:1 weights the
    # top-10 being mostly heavy is overwhelming, allow 2 light outliers
    assert n_heavy >= _WRES_K - 2, [r["n_chars"] for r in out]


def test_mannwhitney_matches_scipy_formula(spark, sf_dir):
    """Cross-check the distributed rank computation against a direct
    in-memory computation of the same tie-corrected U/z statistics."""
    import pandas as pd

    from _imdb_etl_spark.plans import REGISTRY

    row = REGISTRY["events_mannwhitney_u"].spark(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev.event_type.isin(["purchase", "view"])]
    ranks = ev["value"].rank(method="average")
    a = ev.event_type == "purchase"
    n1, n2 = int(a.sum()), int((~a).sum())
    r1 = float(ranks[a].sum())
    u1 = r1 - n1 * (n1 + 1) / 2.0
    assert row["n1"] == n1 and row["n2"] == n2
    assert abs(row["u_stat"] - u1) < 1e-9, (row["u_stat"], u1)
    n = n1 + n2
    t = ev.groupby("value").size()
    tie = float((t**3 - t).sum())
    var = n1 * n2 / 12.0 * ((n + 1) - tie / (n * (n - 1)))
    z = (u1 - n1 * n2 / 2.0) / var**0.5
    assert abs(row["z_stat"] - round(z, 6)) <= 1e-6


def test_gini_matches_direct_computation(spark, sf_dir):
    """Cross-check the distributed two-stage-ranked Gini against the
    direct sorted-array formula in pandas."""
    import pandas as pd

    from _imdb_etl_spark.plans import REGISTRY

    row = REGISTRY["customers_gini_spend"].spark(spark, sf_dir).collect()[0]
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cents = (
        orders.assign(c=(orders.o_totalprice * 100).round().astype("int64"))
        .groupby("o_custkey")["c"]
        .sum()
        .sort_values()
        .to_numpy()
    )
    n = len(cents)
    ranks = range(1, n + 1)
    num = sum((2 * r - n - 1) * int(x) for r, x in zip(ranks, cents))
    gini = num / (n * int(cents.sum()))
    assert row["n_customers"] == n
    assert abs(row["gini"] - round(gini, 6)) <= 1e-6
    top = int(cents[int(n * 0.9):].sum()) / int(cents.sum())
    assert abs(row["top_decile_share"] - round(top, 6)) <= 2e-6


def test_spearman_matches_pandas(spark, sf_dir):
    """Cross-check distributed tie-correct Spearman against pandas'
    rank-then-Pearson on the same per-order table."""
    import pandas as pd

    from _imdb_etl_spark.plans import REGISTRY

    row = (
        REGISTRY["orders_spearman_price_items"].spark(spark, sf_dir).collect()[0]
    )
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    items = li.groupby("l_orderkey").size().rename("n_items")
    base = orders.set_index("o_orderkey").join(items, how="inner")
    rho = (
        base["o_totalprice"].rank(method="average")
        .corr(base["n_items"].rank(method="average"))
    )
    assert row["n_orders"] == len(base)
    assert abs(row["spearman_rho"] - round(rho, 6)) <= 1e-5, (
        row["spearman_rho"],
        rho,
    )


def test_js_divergence_properties(spark, sf_dir):
    """JSD invariants: symmetric by construction (a<b canonical),
    bounded in [0, ln 2], and self-JSD of identical distributions is
    0 — checked by scipy-free direct computation for one pair."""
    import math

    import pandas as pd

    from _imdb_etl_spark.plans import REGISTRY

    rows = REGISTRY["corpus_js_divergence"].spark(spark, sf_dir).collect()
    assert rows, "no source pairs"
    ln2 = math.log(2)
    for r in rows:
        assert 0.0 <= r["jsd_nats"] <= ln2 + 1e-9, r
    # direct check for the first pair
    r0 = rows[0]
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")

    def dist(src):
        toks = docs[docs.source == src].text.str.split(" ").explode()
        c = toks.value_counts()
        return c / c.sum()

    p, q = dist(r0["source_a"]), dist(r0["source_b"])
    m = p.add(q, fill_value=0.0) / 2
    kl = lambda d: float((d * (d / m[d.index]).apply(math.log)).sum())  # noqa: E731
    jsd = 0.5 * kl(p) + 0.5 * kl(q)
    assert abs(r0["jsd_nats"] - round(jsd, 6)) <= 1e-5, (r0["jsd_nats"], jsd)


def test_abc_classification_invariants(spark, sf_dir):
    """ABC pins: classes partition all parts, shares sum to 1, class A
    has the fewest parts but the largest share (Pareto shape), and the
    boundary matches a direct sorted cumulative computation."""
    import pandas as pd

    from _imdb_etl_spark.plans import REGISTRY

    rows = {
        r["abc_class"]: r
        for r in REGISTRY["parts_abc_classification"].spark(spark, sf_dir).collect()
    }
    import decimal

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    # decimal-exact, matching the query: price and discount are 2-dp
    # values, so DECIMAL(18,6) products and the final truncation are
    # exact; float round() could drift a cent on a boundary part
    D = decimal.Decimal
    per_part = {}
    for pk, price, disc in zip(li.l_partkey, li.l_extendedprice, li.l_discount):
        v = D(f"{price:.2f}") * (1 - D(f"{disc:.2f}")) * 100
        per_part[pk] = per_part.get(pk, D(0)) + v
    cents = pd.Series(
        {k: int(v) for k, v in per_part.items()}
    ).sort_values(ascending=False)
    assert sum(r["n_parts"] for r in rows.values()) == len(cents)
    assert abs(sum(r["revenue_share"] for r in rows.values()) - 1.0) <= 3e-6
    cum = cents.cumsum()
    total = int(cents.sum())
    n_a = int((cum * 10 <= total * 7).sum())
    assert rows["A"]["n_parts"] == n_a
    assert rows["A"]["revenue_share"] > rows["C"]["revenue_share"] or len(cents) < 50


def test_ks_two_sample_matches_scipy_formula(spark, sf_dir):
    """Cross-check the distributed ECDF max-gap against a direct
    in-memory KS computation on the same two samples."""
    import pandas as pd

    from _imdb_etl_spark.plans import REGISTRY

    row = REGISTRY["events_ks_two_sample"].spark(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    a = ev[ev.event_type == "purchase"]["value"].sort_values().to_numpy()
    b = ev[ev.event_type == "view"]["value"].sort_values().to_numpy()
    import bisect

    support = sorted(set(a) | set(b))
    d = max(
        abs(
            bisect.bisect_right(list(a), v) / len(a)
            - bisect.bisect_right(list(b), v) / len(b)
        )
        for v in support
    )
    assert row["n1"] == len(a) and row["n2"] == len(b)
    assert abs(row["ks_d"] - round(d, 6)) <= 1e-6, (row["ks_d"], d)


def test_time_decay_attribution_conservation(spark, sf_dir):
    """Credit conservation: total time-decay credit_micro is within
    floor-loss of 1e6 per attributed conversion, and every conversion
    that linear attribution credits is also credited here (same
    journey definition, different split)."""
    from _imdb_etl_spark.plans import REGISTRY

    td = REGISTRY["events_attribution_time_decay"].spark(spark, sf_dir).collect()
    lin = {
        r["touch_type"]: r
        for r in REGISTRY["events_attribution_linear"].spark(spark, sf_dir).collect()
    }
    attributed_conversions = sum(
        r["conversions"] for t, r in lin.items() if t != "none"
    )
    # linear counts each conversion once per touch; recover the true
    # per-conversion count from credit conservation instead
    total_credit = sum(r["credit_micro"] for r in td)
    total_touches = sum(r["touches"] for r in td)
    assert total_touches == sum(
        r["touches"] for t, r in lin.items() if t != "none"
    )
    # floor loses < 1 micro-unit per touch
    n_conv_upper = total_credit / 1e6
    assert total_credit <= attributed_conversions * 1e6 or attributed_conversions == 0
    assert total_credit >= (n_conv_upper * 1e6) - total_touches


def test_matryoshka_recall_monotone(spark, sf_dir):
    """Recall@k must be nondecreasing in prefix width (more dims can
    only refine the ranking toward the full-dim truth)."""
    from _imdb_etl_spark.plans import REGISTRY

    rows = sorted(
        REGISTRY["embedding_matryoshka_recall"].spark(spark, sf_dir).collect(),
        key=lambda r: r["trunc_dim"],
    )
    recalls = [r["recall_at_k"] for r in rows]
    assert all(0.0 <= r <= 1.0 for r in recalls)
    assert recalls == sorted(recalls), recalls


def test_dau_wau_mau_ladder_invariants(spark, sf_dir):
    """DAU <= WAU <= MAU per day, stickiness in (0, 1]."""
    from _imdb_etl_spark.plans import REGISTRY

    for r in REGISTRY["events_dau_wau_mau"].spark(spark, sf_dir).collect():
        assert r["dau"] <= r["wau"] <= r["mau"], r
        assert 0.0 < r["stickiness"] <= 1.0, r


def test_rfm_scores_partition_customers(spark, sf_dir):
    """Every RFM score is a quintile in 1..5 and segment sizes sum to
    the customer count."""
    import pandas as pd

    from _imdb_etl_spark.plans import REGISTRY

    rows = REGISTRY["customers_rfm_segments"].spark(spark, sf_dir).collect()
    n_cust = pd.read_parquet(f"{sf_dir}/orders.parquet")["o_custkey"].nunique()
    assert sum(r["n_customers"] for r in rows) == n_cust
    for r in rows:
        for c in ("r_score", "f_score", "m_score"):
            assert 1 <= r[c] <= 5, r


def test_dp_noisy_counts_mechanism_invariants(spark, sf_dir):
    """Released counts are nonnegative, reproduce across runs (seeded
    noise), and equal round(true + noise) clamped at zero."""
    from _imdb_etl_spark.plans import REGISTRY

    q = REGISTRY["privacy_dp_noisy_counts"].spark
    a = {r["event_type"]: r for r in q(spark, sf_dir).collect()}
    b = {r["event_type"]: r for r in q(spark, sf_dir).collect()}
    assert a.keys() == b.keys()
    for t in a:
        assert tuple(a[t]) == tuple(b[t])
        assert a[t]["released_count"] >= 0
        # the emitted noise column is rounded to 6dp while the release
        # derives from the unrounded draw — allow the 1-count slack a
        # .5-boundary could introduce across data regenerations
        assert (
            abs(
                a[t]["released_count"]
                - max(0, round(a[t]["true_count"] + a[t]["noise"]))
            )
            <= 1
        )


def test_km_survival_matches_lifelines_formula(spark, sf_dir):
    """Cross-check the distributed KM estimator against a direct
    in-memory Kaplan-Meier computation (sorted event loop), and pin
    the survival-monotonicity invariant."""
    import pandas as pd

    from _imdb_etl_spark.plans import REGISTRY

    rows = sorted(
        REGISTRY["events_survival_km"].spark(spark, sf_dir).collect(),
        key=lambda r: r["dur_hr"],
    )
    surv = [r["km_survival"] for r in rows]
    assert surv == sorted(surv, reverse=True), "KM must be nonincreasing"

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    h = ev.ts.max()
    fv = ev[ev.event_type == "view"].groupby("user_id")["ts"].min()
    p = ev[ev.event_type == "purchase"].merge(
        fv.rename("first_view"), on="user_id"
    )
    fp = p[p.ts > p.first_view].groupby("user_id")["ts"].min()
    obs = []
    for u, t0 in fv.items():
        if u in fp.index:
            obs.append(((fp[u] - t0).total_seconds() // 3600, 1))
        else:
            obs.append(((h - t0).total_seconds() // 3600, 0))
    from collections import Counter

    d = Counter(t for t, e in obs if e)
    leave = Counter(t for t, e in obs)
    n = len(obs)
    s = 1.0
    expect = {}
    for t in sorted(leave):
        if d.get(t):
            s *= 1 - d[t] / n
            expect[t] = s
        n -= leave[t]
    for r in rows:
        assert abs(r["km_survival"] - round(expect[r["dur_hr"]], 6)) <= 2e-6, r


def test_clustering_coefficient_pure_python(spark, sf_dir):
    """Third implementation for neardup_clustering_coefficient: an
    adjacency-set scan over the registered pair list must reproduce
    per-node degree, triangle count, and the integer-permille lcc
    exactly, and the corner total must be 3x neardup_graph_stats'
    global triangle count (each triangle has three corners)."""
    pairs = [
        (r.doc_a, r.doc_b)
        for r in REGISTRY["dedup_minhash_lsh"]
        .spark(spark, sf_dir)
        .select("doc_a", "doc_b")
        .collect()
    ]
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    got = (
        REGISTRY["neardup_clustering_coefficient"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert {r.doc_id for r in got} == set(adj)
    tri_total = 0
    for r in got:
        nb = adj[r.doc_id]
        assert r.degree == len(nb)
        t = sum(len(adj[v] & nb) for v in nb) // 2
        assert r.tri_count == t, (r.doc_id, r.tri_count, t)
        want_lcc = (
            (2000 * t) // (len(nb) * (len(nb) - 1)) if len(nb) >= 2 else 0
        )
        assert r.lcc_permille == want_lcc
        tri_total += t
    stats = (
        REGISTRY["neardup_graph_stats"].spark(spark, sf_dir).collect()[0]
    )
    assert tri_total == 3 * stats.n_triangles


def test_audio_pitch_known_period_and_pure_python(spark, sf_dir):
    """(a) A synthetic period-8 sawtooth must be detected at lag 8 —
    the detector detects actual periodicity, not an artifact of the
    fixture stream; (b) third implementation: the registered output
    replayed in pure Python from the same chained-md5 PCM bytes."""
    import io
    import struct
    import wave

    import pandas as pd

    from _imdb_etl_spark.operators.multimodal import (
        _PITCH_N,
        _PITCH_TAU_HI,
        _PITCH_TAU_LO,
        _WAV_RATE,
        _audio_pitch,
        _wav_geom,
        _wav_pcm_chained,
    )

    samples = [(k % 8) * 1000 for k in range(_PITCH_N)]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(_WAV_RATE)
        w.writeframes(struct.pack("<%dh" % len(samples), *samples))
    out = next(
        _audio_pitch(
            iter([pd.DataFrame({"asset_id": [1], "payload": [buf.getvalue()]})])
        )
    )
    assert int(out["dominant_period"][0]) == 8
    assert int(out["est_freq_hz"][0]) == _WAV_RATE // 8

    got = {
        r.asset_id: r
        for r in REGISTRY["multimodal_audio_pitch"]
        .spark(spark, sf_dir)
        .collect()
    }
    for doc_id in sorted(got)[:10]:
        ch, _ = _wav_geom(doc_id)
        pcm = _wav_pcm_chained(doc_id)
        xs = [pcm[2 * i * ch] + 256 * pcm[2 * i * ch + 1] for i in range(_PITCH_N)]
        s = sum(xs)
        y = [_PITCH_N * v - s for v in xs]
        rs = [
            sum(y[k] * y[k + t] for k in range(_PITCH_N - t))
            for t in range(_PITCH_TAU_LO, _PITCH_TAU_HI + 1)
        ]
        best = max(range(len(rs)), key=lambda i: rs[i])  # first max on ties
        r = got[doc_id]
        assert r.dominant_period == _PITCH_TAU_LO + best
        assert r.est_freq_hz == _WAV_RATE // (_PITCH_TAU_LO + best)
        assert r.peak_r == rs[best]
        assert r.r0 == sum(v * v for v in y)


def test_ewma_burst_pure_python(spark, sf_dir):
    """Third implementation for events_ewma_burst: replay the dyadic
    16-lag EWMA per series from the raw hourly counts (dense spine,
    zero-filled gaps) and compare the scaled baseline, residual, and
    burst flag row-for-row."""
    from collections import defaultdict
    from datetime import timedelta

    from _imdb_etl_spark.plans.events import (
        _EWMA_LAGS,
        _EWMA_SCALE,
        _ewma_weight,
    )

    (events,) = load_tables(spark, sf_dir, "events")
    hourly = (
        events.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    series: dict = defaultdict(dict)
    for r in hourly:
        series[r.event_type][r.hr] = r.n
    want = {}
    for et, obs in series.items():
        lo, hi = min(obs), max(obs)
        hrs = []
        h = lo
        while h <= hi:
            hrs.append(h)
            h += timedelta(hours=1)
        ns = [obs.get(h, 0) for h in hrs]
        for i, h in enumerate(hrs):
            if i < _EWMA_LAGS:
                continue
            ew = sum(
                ns[i - k] * _ewma_weight(k)
                for k in range(1, _EWMA_LAGS + 1)
            )
            want[(et, h.strftime("%Y-%m-%d %H:00:00"))] = (
                ns[i],
                ew,
                ns[i] * _EWMA_SCALE - ew,
                1 if ns[i] * _EWMA_SCALE > 2 * ew + 3 * _EWMA_SCALE else 0,
            )
    got = REGISTRY["events_ewma_burst"].spark(spark, sf_dir).collect()
    assert len(got) == len(want) and len(got) > 0
    for r in got:
        assert (
            r.n_events,
            r.ewma_x32768,
            r.resid_x32768,
            r.is_burst,
        ) == want[(r.event_type, r.hour_bucket)], (r.event_type, r.hour_bucket)


def test_ccnet_buckets_invariants(spark, sf_dir):
    """CCNet bucketing invariants: per language, the three buckets
    partition the language's documents, bucket sizes are within one
    tie-group of a tercile split, and the score ranges are ordered
    head > middle > tail with no overlap (boundary comparison is
    strict in both engines, so ranges can touch only at a boundary)."""
    rows = (
        REGISTRY["corpus_ccnet_buckets"].spark(spark, sf_dir).collect()
    )
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.bucket] = r
    (docs,) = load_tables(spark, sf_dir, "documents")
    lang_counts = {
        r.lang: r.n for r in docs.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    for lang, buckets in by_lang.items():
        assert set(buckets) <= {"head", "middle", "tail"}
        assert sum(b.n_docs for b in buckets.values()) == lang_counts[lang]
        if {"head", "middle", "tail"} <= set(buckets):
            h, m, t = buckets["head"], buckets["middle"], buckets["tail"]
            assert h.min_score >= m.max_score
            assert m.min_score >= t.max_score
            assert h.max_score > t.min_score


def test_hard_negatives_numpy_replay(spark, sf_dir):
    """Third implementation for retrieval_hard_negatives: a numpy scan
    over the collected embeddings must reproduce each anchor's top-k
    wrong-label neighbor list (ids, ranks, labels), and no returned
    negative may share its anchor's label."""
    from _imdb_etl_spark.operators.similarity import _N_QUERIES, _TOP_K

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    rows = emb.collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    labels = {r.vec_id: r.label for r in rows}
    got = (
        REGISTRY["retrieval_hard_negatives"].spark(spark, sf_dir).collect()
    )
    by_q: dict = {}
    for r in got:
        assert r.neighbor_label != r.query_label
        assert r.query_label == labels[r.query_id]
        assert r.neighbor_label == labels[r.neighbor_id]
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {q for q in vecs if q < _N_QUERIES}
    for qid, lst in by_q.items():
        lst.sort(key=lambda r: r.neg_rank)
        assert [r.neg_rank for r in lst] == list(range(1, len(lst) + 1))
        assert len(lst) == min(
            _TOP_K,
            sum(1 for v in labels.values() if v != labels[qid]),
        )
        qv = vecs[qid]
        qn = np.sqrt(qv @ qv)
        cands = [
            (round(float((qv @ v) / (qn * np.sqrt(v @ v))), 6), vid)
            for vid, v in vecs.items()
            if vid != qid and labels[vid] != labels[qid]
        ]
        cands.sort(key=lambda t: (-t[0], t[1]))
        want = cands[: len(lst)]
        for r, (sim, vid) in zip(lst, want):
            assert r.neighbor_id == vid, (qid, r.neg_rank)
            assert abs(r.cosine_sim - sim) < 2e-6


def test_kcore_pure_python_and_fixpoint(spark, sf_dir):
    """Third implementation for neardup_kcore: a pure-Python peel to
    fixpoint must reproduce the surviving node set and each survivor's
    core-internal degree exactly — and the fixpoint must arrive well
    inside the fixed round budget both engines run, which is what
    makes the budget a parity device rather than a truncation."""
    from _imdb_etl_spark.operators.dedup import _KCORE_K, _KCORE_ROUNDS

    pairs = [
        (r.doc_a, r.doc_b)
        for r in REGISTRY["dedup_minhash_lsh"]
        .spark(spark, sf_dir)
        .select("doc_a", "doc_b")
        .collect()
    ]
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    rounds = 0
    while True:
        nxt = {v for v in alive if len(adj[v] & alive) >= _KCORE_K}
        rounds += 1
        if nxt == alive:
            break
        alive = nxt
    assert rounds <= _KCORE_ROUNDS // 2, (
        f"fixpoint took {rounds} rounds; budget {_KCORE_ROUNDS} is "
        "no longer comfortably above it"
    )
    got = {
        r.doc_id: r.core_degree
        for r in REGISTRY["neardup_kcore"].spark(spark, sf_dir).collect()
    }
    assert got == {v: len(adj[v] & alive) for v in alive}


def test_binary_rerank_recall_and_sketch(spark, sf_dir):
    """Binary-quantization quality pin: hamming-prefilter + exact
    rerank must recover a healthy share of the exact top-k (measured
    0.45-0.48 recall@5 on the driver corpora — graceful degradation,
    vs sign-LSH bucket equality's near-zero there), and every returned
    pair must also appear in the exact scoring (rerank never invents
    similarity values)."""
    exact_rows = (
        REGISTRY["sim_knn_bruteforce"].spark(spark, sf_dir).collect()
    )
    exact = {(r.query_id, r.neighbor_id): r.cosine_sim for r in exact_rows}
    bq_rows = (
        REGISTRY["sim_knn_binary_rerank"].spark(spark, sf_dir).collect()
    )
    assert bq_rows, "binary rerank returned nothing"
    hit = sum(1 for r in bq_rows if (r.query_id, r.neighbor_id) in exact)
    recall = hit / len(exact)
    assert recall >= 0.3, f"binary-rerank recall@k collapsed: {recall}"
    for r in bq_rows:
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert abs(r.cosine_sim - exact[key]) < 2e-6, key
        assert 0 <= r.hamming <= 63


def test_span_corruption_pure_python(spark, sf_dir):
    """Third implementation for corpus_span_corruption: replay the
    md5-driven span plan in pure Python for a sample of docs — start
    positions, mask union, fingerprint of the ordered masked list —
    and sanity-check the corpus-level corruption rate sits in the
    designed ~10-20% band."""
    import hashlib

    from _imdb_etl_spark.operators.corpus import _SPAN_LEN, _SPAN_MOD

    (docs,) = load_tables(spark, sf_dir, "documents")
    texts = {r.doc_id: r.text for r in docs.limit(2000).collect()}
    got = {
        r.doc_id: r
        for r in REGISTRY["corpus_span_corruption"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert set(texts) <= set(got)
    tot_tokens = tot_masked = 0
    for doc_id in sorted(texts)[:25]:
        n = len(texts[doc_id].split(" "))
        starts = [
            i
            for i in range(1, n + 1)
            if int(
                hashlib.md5(f"{doc_id}:{i}".encode()).hexdigest()[:4], 16
            )
            % _SPAN_MOD
            == 0
        ]
        masked = sorted(
            {
                j
                for s in starts
                for j in range(s, min(s + _SPAN_LEN, n + 1))
            }
        )
        fp = hashlib.md5(",".join(str(i) for i in masked).encode()).hexdigest()
        r = got[doc_id]
        assert r.n_tokens == n
        assert r.n_spans == len(starts)
        assert r.n_masked == len(masked)
        assert r.mask_md5 == fp, doc_id
        tot_tokens += n
        tot_masked += len(masked)
    assert 0.08 <= tot_masked / tot_tokens <= 0.22


def test_observe_metrics_match_direct_aggregation(spark, sf_dir):
    """The Observation-API counters must equal the same aggregates
    computed directly — a dropped or double-counted observe metric is
    exactly the failure mode this operator exists to prevent."""
    (docs,) = load_tables(spark, sf_dir, "documents")
    direct = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("text").isNull() | (F.col("text") == ""), 1)
            .otherwise(0)
        ).alias("n_empty_text"),
        F.sum(
            F.when(~F.col("lang").isin("en", "de", "fr", "es", "it"), 1)
            .otherwise(0)
        ).alias("n_bad_lang"),
        F.sum(F.when(F.col("n_chars") >= 200, 1).otherwise(0)).alias(
            "n_pass_gate"
        ),
        F.sum("n_chars").alias("total_chars"),
    ).collect()[0]
    got = REGISTRY["dq_observe_metrics"].spark(spark, sf_dir).collect()[0]
    assert tuple(got) == tuple(direct)


def test_new_vs_returning_invariants(spark, sf_dir):
    """Growth-accounting invariants: new + returning = active each
    day, day-1 actives are all new, cum_users is nondecreasing and
    ends at the total distinct user count, and daily new sums to the
    same total."""
    rows = (
        REGISTRY["events_new_vs_returning"].spark(spark, sf_dir).collect()
    )
    assert rows == sorted(rows, key=lambda r: r.day)
    (events,) = load_tables(spark, sf_dir, "events")
    total_users = events.select("user_id").distinct().count()
    prev_cum = 0
    for i, r in enumerate(rows):
        assert r.n_new + r.n_returning == r.n_active
        if i == 0:
            assert r.n_returning == 0
        assert r.cum_users == prev_cum + r.n_new
        prev_cum = r.cum_users
    assert prev_cum == total_users
    assert sum(r.n_new for r in rows) == total_users


def test_batch_padding_sorted_beats_arrival(spark, sf_dir):
    """The operator's reason to exist, pinned: length-sorted batching
    must waste no more padded tokens than arrival order (strictly less
    on any corpus with length variance), both strategies conserve the
    real token count, and a pure-Python batching replay reproduces
    both bills exactly."""
    from _imdb_etl_spark.operators.corpus import _BATCH_SIZE

    rows = {
        r.strategy: r
        for r in REGISTRY["corpus_batch_padding_plan"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert set(rows) == {"arrival", "sorted"}
    arr, srt = rows["arrival"], rows["sorted"]
    assert arr.total_tokens == srt.total_tokens
    assert srt.padded_tokens <= arr.padded_tokens
    assert srt.waste_permille <= arr.waste_permille

    (docs,) = load_tables(spark, sf_dir, "documents")
    lens = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(F.split("text", " ")).alias("n")
        ).collect()
    }

    def bill(order):
        padded = 0
        for i in range(0, len(order), _BATCH_SIZE):
            chunk = [lens[d] for d in order[i : i + _BATCH_SIZE]]
            padded += max(chunk) * len(chunk)
        return padded

    assert arr.padded_tokens == bill(sorted(lens))
    assert srt.padded_tokens == bill(
        sorted(lens, key=lambda d: (lens[d], d))
    )


def test_hashing_vectorizer_pure_python(spark, sf_dir):
    """Third implementation for text_hashing_vectorizer: replay the
    md5 feature hashing in pure Python for a sample of docs and
    compare counts, nnz, exact L2^2, and the full-vector fingerprint."""
    import hashlib

    from _imdb_etl_spark.operators.text import _HASH_DIMS

    (docs,) = load_tables(spark, sf_dir, "documents")
    texts = {r.doc_id: r.text for r in docs.limit(2000).collect()}
    got = {
        r.doc_id: r
        for r in REGISTRY["text_hashing_vectorizer"]
        .spark(spark, sf_dir)
        .collect()
    }
    for doc_id in sorted(texts)[:20]:
        cells: dict = {}
        toks = texts[doc_id].split(" ")
        for w in toks:
            d = int(hashlib.md5(w.encode()).hexdigest()[:4], 16) % _HASH_DIMS
            cells[d] = cells.get(d, 0) + 1
        fp = hashlib.md5(
            ",".join(f"{d}:{cells[d]}" for d in sorted(cells)).encode()
        ).hexdigest()
        r = got[doc_id]
        assert r.n_tokens == len(toks)
        assert r.nnz == len(cells)
        assert r.l2sq == sum(c * c for c in cells.values())
        assert r.vec_md5 == fp, doc_id


def test_vocab_coverage_ladder_invariants(spark, sf_dir):
    """Coverage must be monotone in vocabulary size, hit 1000 permille
    when V >= the type count, and match a pandas-free pure-Python
    frequency ranking exactly."""
    from collections import Counter

    (docs,) = load_tables(spark, sf_dir, "documents")
    cnt: Counter = Counter()
    for r in docs.select("text").collect():
        cnt.update(r.text.split(" "))
    total = sum(cnt.values())
    order = sorted(cnt.items(), key=lambda kv: (-kv[1], [-ord(c) for c in kv[0]]))
    rows = (
        REGISTRY["tokenizer_vocab_coverage_ladder"]
        .spark(spark, sf_dir)
        .collect()
    )
    prev = -1
    for r in rows:
        covered = sum(f for _, f in order[: r.vocab_size])
        assert r.covered_tokens == covered, r.vocab_size
        assert r.total_tokens == total
        assert r.coverage_permille == (1000 * covered) // total
        assert r.oov_types == max(len(cnt) - r.vocab_size, 0)
        assert r.coverage_permille >= prev
        prev = r.coverage_permille
    if rows[-1].vocab_size >= len(cnt):
        assert rows[-1].coverage_permille == 1000


def test_minhash_index_persisted_serves_from_index(spark, sf_dir):
    """Lifecycle pins for dedup_minhash_index_persisted: (a) its
    per-language rollup equals the in-plan probe
    (dedup_incremental_minhash) exactly — the lifecycle moves where
    signatures come from, never what matches; (b) the served plan
    scans the persisted index files and reads the documents table
    exactly once (the increment) — corpus signatures genuinely come
    from storage."""
    got = (
        REGISTRY["dedup_minhash_index_persisted"].spark(spark, sf_dir)
    )
    rows = got.collect()
    want = (
        REGISTRY["dedup_incremental_minhash"].spark(spark, sf_dir).collect()
    )
    assert [tuple(r) for r in rows] == [tuple(r) for r in want]
    plan = got._jdf.queryExecution().executedPlan().toString()
    # presence: search the WHOLE string — AQE's final-plan section
    # prints completed query stages by reference, so a scan that ran
    # early (e.g. behind the staged batch signatures) may appear only
    # in the Initial Plan echo of the same tree
    all_scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    index = scratch_dir("mh_index")
    assert any(f"{index}/bands" in ln for ln in all_scans), plan
    assert any(f"{index}/sets" in ln for ln in all_scans), plan
    # count: restrict to the final section (the Initial Plan echo
    # would double-count)
    final = plan.split("== Initial Plan ==")[0]
    scans = [ln for ln in final.splitlines() if "FileScan" in ln]
    doc_scans = [ln for ln in scans if "documents.parquet" in ln]
    assert len(doc_scans) == 1, doc_scans


def test_pseudonymize_preserves_histogram_and_hides_ids(spark, sf_dir):
    """Pseudonymization contract: the pseudonym-keyed engagement
    histogram equals the raw-id-keyed one, the audit columns certify
    zero collisions, and no output column carries a raw user id."""
    (events,) = load_tables(spark, sf_dir, "events")
    raw = {
        r.n_events: r.n_users
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .groupBy("n_events")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .collect()
    }
    n_users = events.select("user_id").distinct().count()
    rows = (
        REGISTRY["privacy_pseudonymize_users"].spark(spark, sf_dir).collect()
    )
    assert {r.events_per_user: r.n_users for r in rows} == raw
    for r in rows:
        assert r.total_users == n_users
        assert r.total_pseudonyms == n_users  # no collisions, no merges
    assert "user_id" not in rows[0].asDict()


def test_features_user_daily_pure_python(spark, sf_dir):
    """Third implementation for features_user_daily: per-user replay
    from the raw events with exact-cents arithmetic — trailing RANGE
    windows must weigh calendar gaps (not row counts), recency and
    cumulative counts must match, and the label must equal next-day
    presence and nothing else (leak-freedom)."""
    from collections import defaultdict
    from decimal import Decimal

    (events,) = load_tables(spark, sf_dir, "events")
    raw = events.select("user_id", F.col("ts").cast("date").alias("day"), "value").collect()
    base = defaultdict(lambda: defaultdict(lambda: [0, Decimal(0)]))
    epoch = None
    import datetime

    epoch = datetime.date(2024, 1, 1)
    for r in raw:
        cell = base[r.user_id][(r.day - epoch).days]
        cell[0] += 1
        cell[1] += Decimal(str(r.value)).quantize(Decimal("0.01"))
    got = (
        REGISTRY["features_user_daily"].spark(spark, sf_dir).collect()
    )
    by_key = {(r.user_id, r.day): r for r in got}
    n_rows = 0
    for uid, days in base.items():
        ds = sorted(days)
        for i, d in enumerate(ds):
            day_str = (epoch + datetime.timedelta(days=d)).strftime(
                "%Y-%m-%d"
            )
            r = by_key[(uid, day_str)]
            n_rows += 1
            n, v = days[d]
            assert r.n_events_day == n
            assert abs(r.value_day - float(v)) < 1e-9
            assert r.ev_7d == sum(
                days[x][0] for x in ds if d - 6 <= x <= d
            )
            assert (
                abs(
                    r.val_30d
                    - float(sum(days[x][1] for x in ds if d - 29 <= x <= d))
                )
                < 1e-9
            )
            assert r.days_since_prev == (d - ds[i - 1] if i else -1)
            assert r.cum_events == sum(days[x][0] for x in ds[: i + 1])
            assert r.label_active_next_day == (1 if (d + 1) in days else 0)
    assert n_rows == len(got)


def test_negative_sampling_never_mislabels(spark, sf_dir):
    """The one unforgivable failure of negative sampling is a positive
    labeled negative: every emitted (custkey, partkey) must be absent
    from the positives, ranks contiguous from 1, draws reproducible
    (pure-Python md5 replay), and every purchasing customer present."""
    import hashlib

    from _imdb_etl_spark.operators.corpus import _NEG_DRAWS, _NEG_K

    orders, lineitem, part = load_tables(
        spark, sf_dir, "orders", "lineitem", "part"
    )
    pos = {
        (r.custkey, r.partkey)
        for r in orders.join(
            lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .distinct()
        .collect()
    }
    n_parts = part.count()
    rows = (
        REGISTRY["reco_negative_sampling"].spark(spark, sf_dir).collect()
    )
    by_c: dict = {}
    for r in rows:
        assert (r.custkey, r.partkey) not in pos, "positive mislabeled"
        by_c.setdefault(r.custkey, []).append(r)
    assert set(by_c) == {c for c, _ in pos}
    for c, lst in by_c.items():
        lst.sort(key=lambda r: r.neg_rank)
        assert [r.neg_rank for r in lst] == list(range(1, len(lst) + 1))
        seen: dict = {}
        for i in range(_NEG_DRAWS):
            # 1 + (h % p): draws live on the 1-based part key space
            # [1, p] (matches the operator's round-7 advisory fix)
            pk = (
                1
                + int(hashlib.md5(f"{c}:{i}".encode()).hexdigest()[:4], 16)
                % n_parts
            )
            seen.setdefault(pk, i)
        want = [
            pk
            for pk, _ in sorted(seen.items(), key=lambda kv: kv[1])
            if (c, pk) not in pos
        ][:_NEG_K]
        assert [r.partkey for r in lst] == want, c


def test_target_encoding_self_exclusion(spark, sf_dir):
    """The leakage contract: a row's own label must be outside its LOO
    encoding — flipping y_i changes naive_enc but the LOO encoding of
    OTHER rows only; verified by exact recomputation from category
    sums, plus the smoothing shrinks encodings toward the global prior
    (strictly between the LOO rate and the prior for every non-trivial
    category)."""
    from _imdb_etl_spark.plans.events import _TENC_M

    rows = (
        REGISTRY["features_target_encoding"].spark(spark, sf_dir).collect()
    )
    by_p: dict = {}
    for r in rows:
        by_p.setdefault(r.priority, []).append(r)
    sg = sum(r.y for r in rows)
    ng = len(rows)
    for p, lst in by_p.items():
        s = sum(r.y for r in lst)
        n = len(lst)
        for r in lst:
            assert r.naive_enc_permille == (1000 * s) // n
            assert r.loo_enc_permille == (1000 * (s - r.y)) // (n - 1)
            want = (1000 * ((s - r.y) * ng + _TENC_M * sg)) // (
                (n - 1 + _TENC_M) * ng
            )
            assert r.smoothed_enc_permille == want
            lo = min(r.loo_enc_permille, (1000 * sg) // ng)
            hi = max(r.loo_enc_permille, (1000 * sg) // ng)
            assert lo - 1 <= r.smoothed_enc_permille <= hi + 1


def test_psi_drift_invariants(spark, sf_dir):
    """PSI invariants: ten buckets keyed by the REFERENCE deciles (so
    reference counts are near-uniform across buckets), every smoothed
    term nonnegative — (p2-p1) and ln(p2/p1) always share sign — the
    total equal to the term sum and constant across rows, and a
    pure-Python recomputation of every term from the exact counts."""
    import math

    rows = REGISTRY["features_psi_drift"].spark(spark, sf_dir).collect()
    assert [r.bucket_id for r in rows] == list(range(10))
    tr = sum(r.n_ref for r in rows)
    tc = sum(r.n_cur for r in rows)
    total = 0.0
    for r in rows:
        p1 = (r.n_ref + 1) / (tr + 10)
        p2 = (r.n_cur + 1) / (tc + 10)
        term = (p2 - p1) * math.log(p2 / p1)
        assert term >= 0
        assert abs(r.psi_term - term) < 2e-6
        total += term
    assert abs(rows[0].psi_total - total) < 2e-5
    assert all(r.psi_total == rows[0].psi_total for r in rows)
    # reference deciles: each bucket holds ~10% of the reference
    for r in rows:
        assert abs(r.n_ref - tr / 10) <= max(3, 0.02 * tr)


def test_silhouette_numpy_replay(spark, sf_dir):
    """Third implementation for embedding_silhouette_simplified: numpy
    recomputation of every vector's two nearest centroids and its
    simplified silhouette, aggregated per cluster — plus the range
    invariant s in [0, 1] that holds because the own centroid is by
    definition the nearest."""
    from _imdb_etl_spark.operators.similarity import (
        _N_CENTROIDS,
        _N_QUERIES,
        _SIL_THRESHOLD,
    )

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    rows = emb.collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    cents = [
        (vid, vecs[vid])
        for vid in sorted(vecs)
        if vid % 29 == 0 and vid >= _N_QUERIES
    ][:_N_CENTROIDS]
    agg: dict = {}
    for vid, v in vecs.items():
        nv = np.sqrt(v @ v)
        sims = sorted(
            (
                (-round(float((v @ c) / (nv * np.sqrt(c @ c))), 6), cid)
                for cid, c in cents
            )
        )
        (s1, c1), (s2, _) = sims[0], sims[1]
        s = round((-s1 - -s2) / (1 - -s2), 6)
        assert 0 <= s <= 1
        cell = agg.setdefault(c1, [0, 0, 1.0, 0.0])
        cell[0] += 1
        cell[1] += 1 if s > _SIL_THRESHOLD else 0
        cell[2] = min(cell[2], s)
        cell[3] = max(cell[3], s)
    got = (
        REGISTRY["embedding_silhouette_simplified"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert {r.centroid_id for r in got} == set(agg)
    for r in got:
        n, w, lo, hi = agg[r.centroid_id]
        assert r.n_members == n
        assert r.n_well_separated == w
        assert abs(r.min_sil - lo) < 2e-6
        assert abs(r.max_sil - hi) < 2e-6


def test_forecast_backtest_pure_python(spark, sf_dir):
    """Third implementation for events_forecast_backtest: replay both
    baselines from the dense hourly series per type and compare every
    exact error sum and the integer-permille MASE."""
    from collections import defaultdict
    from datetime import timedelta

    from _imdb_etl_spark.plans.events import _BACKTEST_PERIOD

    (events,) = load_tables(spark, sf_dir, "events")
    hourly = (
        events.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    series: dict = defaultdict(dict)
    for r in hourly:
        series[r.event_type][r.hr] = r.n
    got = {
        r.event_type: r
        for r in REGISTRY["events_forecast_backtest"]
        .spark(spark, sf_dir)
        .collect()
    }
    for et, obs in series.items():
        lo, hi = min(obs), max(obs)
        ns, h = [], lo
        while h <= hi:
            ns.append(obs.get(h, 0))
            h += timedelta(hours=1)
        sae_n = sum(
            abs(ns[i] - ns[i - 1])
            for i in range(_BACKTEST_PERIOD, len(ns))
        )
        sae_s = sum(
            abs(ns[i] - ns[i - _BACKTEST_PERIOD])
            for i in range(_BACKTEST_PERIOD, len(ns))
        )
        r = got[et]
        assert r.n_eval == len(ns) - _BACKTEST_PERIOD
        assert r.sae_naive == sae_n
        assert r.sae_seasonal == sae_s
        want_mase = None if sae_n == 0 else (1000 * sae_s) // sae_n
        assert r.mase_permille == want_mase


def test_winnowing_guarantee_and_replay(spark, sf_dir):
    """Winnowing's defining property, pinned: two documents sharing a
    substring of length >= w + k - 1 must share at least one selected
    fingerprint VALUE. Plus a pure-Python replay of the selection
    (rightmost-min ties included) on real docs, and the too-short edge
    (len < k) returning empty rather than Spark's descending-sequence
    artifact."""
    import hashlib

    from _imdb_etl_spark.operators.text import _WIN_K, _WIN_W

    def winnow(text):
        n = len(text)
        if n < _WIN_K:
            return [], []
        hs = [
            hashlib.md5(text[i : i + _WIN_K].encode()).hexdigest()
            for i in range(n - _WIN_K + 1)
        ]
        if len(hs) < _WIN_W:
            return hs, []
        sel = set()
        for j in range(len(hs) - _WIN_W + 1):
            win = hs[j : j + _WIN_W]
            mn = min(win)
            # rightmost occurrence of the min
            p = j + max(i for i, v in enumerate(win) if v == mn)
            sel.add(p)
        return hs, sorted(sel)

    shared = "the quick brown fox jumps over it"  # len >= w + k - 1
    da = "xxxx " + shared + " yyyy padding tail words here"
    db = "completely different head " + shared + " zz"
    ha, sa = winnow(da)
    hb, sb = winnow(db)
    assert {ha[p] for p in sa} & {hb[p] for p in sb}, (
        "shared substring produced no common fingerprint"
    )

    (docs,) = load_tables(spark, sf_dir, "documents")
    texts = {r.doc_id: r.text for r in docs.limit(2000).collect()}
    got = {
        r.doc_id: r
        for r in REGISTRY["text_winnowing_fingerprints"]
        .spark(spark, sf_dir)
        .collect()
    }
    for doc_id in sorted(texts)[:15]:
        hs, sel = winnow(texts[doc_id])
        r = got[doc_id]
        assert r.n_kgrams == len(hs)
        assert r.n_fingerprints == len(sel)
        fp = hashlib.md5(
            ",".join(hs[p] for p in sel).encode()
        ).hexdigest()
        assert r.fp_md5 == fp, doc_id
        if len(hs) >= 10 * _WIN_W:
            assert 80 <= r.density_permille <= 500  # ~2/(w+1) = 222

    # the too-short edge: pure-Python agrees it is empty, and the
    # builder's explicit empty-array guard (not Spark's descending
    # sequence(1, 0)) is what makes the engines match there
    assert winnow("tiny") == ([], [])


def test_winnow_pairs_replay_and_recall(spark, sf_dir):
    """dedup_winnow_pairs pins: (a) a pure-Python recomputation of
    shared rare-fingerprint counts confirms every emitted pair and its
    overlap score; (b) strong near-duplicates (exact Jaccard >= 0.9)
    are recovered — the local-match guarantee at work."""
    import hashlib

    from _imdb_etl_spark.operators.dedup import dedup_ngram_jaccard
    from _imdb_etl_spark.operators.text import (
        _WIN_DF_FLOOR,
        _WIN_DF_PERMILLE,
        _WIN_K,
        _WIN_MIN_SHARED,
        _WIN_W,
        dedup_winnow_pairs,
    )

    def fps(text):
        n = len(text)
        if n < _WIN_K:
            return set()
        hs = [
            hashlib.md5(text[i : i + _WIN_K].encode()).hexdigest()
            for i in range(n - _WIN_K + 1)
        ]
        if len(hs) < _WIN_W:
            return set()
        sel = set()
        for j in range(len(hs) - _WIN_W + 1):
            win = hs[j : j + _WIN_W]
            mn = min(win)
            sel.add(j + max(i for i, v in enumerate(win) if v == mn))
        return {hs[p] for p in sel}

    (docs,) = load_tables(spark, sf_dir, "documents")
    texts = {r.doc_id: r.text for r in docs.collect()}
    sets = {d: fps(t) for d, t in texts.items()}
    df_cnt: dict = {}
    for s in sets.values():
        for v in s:
            df_cnt[v] = df_cnt.get(v, 0) + 1
    cap = max(_WIN_DF_FLOOR, -(-_WIN_DF_PERMILLE * len(texts) // 1000))
    rare = {v for v, c in df_cnt.items() if c <= cap}
    got = {
        (r.doc_a, r.doc_b): r
        for r in dedup_winnow_pairs(spark, sf_dir).collect()
    }
    # (a) exact replay of every emitted pair
    for (a, b), r in got.items():
        shared = len(sets[a] & sets[b] & rare)
        assert shared == r.n_shared and shared >= _WIN_MIN_SHARED
        assert r.overlap_permille == (1000 * shared) // min(
            len(sets[a]), len(sets[b])
        )
    # completeness of the replay: no qualifying pair missed
    import itertools

    docs_with = [d for d, s in sets.items() if s & rare]
    for a, b in itertools.combinations(sorted(docs_with), 2):
        if len(sets[a] & sets[b] & rare) >= _WIN_MIN_SHARED:
            assert (a, b) in got, (a, b)
    # (b) strong exact near-dups are recovered
    strong = [
        (r.doc_a, r.doc_b)
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
        if r.jaccard >= 0.9
    ]
    assert strong
    hit = sum(1 for p in strong if p in got)
    assert hit / len(strong) >= 0.8, f"winnow recall {hit}/{len(strong)}"


def test_winnow_pairs_matches_duckdb_oracle(spark, sf_dir):
    """Demotion verifier (round 10): dedup_winnow_pairs left the
    registry — its pair OUTPUT is quadratic in duplicate-cluster size
    by definition (29.1M true pairs at the 100x probe) and its own
    docstring routed volume work to the registered bounded sibling
    dedup_winnow_clusters — so the driver's oracle pairing moves
    here: replay _WINNOW_PAIRS_SQL via DuckDB on the same parquet and
    compare the full row set exactly, at the bounded test scale where
    the pair expansion is small."""
    import duckdb

    from _imdb_etl_spark.operators.text import (
        _WINNOW_PAIRS_SQL,
        dedup_winnow_pairs,
    )

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = con.sql(_WINNOW_PAIRS_SQL).fetchall()
    con.close()
    got = [
        (r.doc_a, r.doc_b, r.n_shared, r.overlap_permille)
        for r in dedup_winnow_pairs(spark, sf_dir).collect()
    ]
    assert got == [tuple(w) for w in want]
    assert len(got) > 0


def test_winnow_clusters_reconcile_with_pair_face(spark, sf_dir):
    """dedup_winnow_clusters (the linear-output production face) must
    state exactly the connected components of dedup_winnow_pairs's
    edge set: a pure-Python union-find over the pair face's output —
    a third implementation beside the Spark pointer-jumping CC and
    the DuckDB recursive CTE — reproduces every (cluster_id,
    cluster_size) row, with cluster_id = the component's min doc_id
    and no singleton rows."""
    from _imdb_etl_spark.operators.text import dedup_winnow_pairs

    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup_winnow_pairs(spark, sf_dir).collect()
    ]
    assert pairs
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict = {}
    for node in parent:
        comps.setdefault(find(node), set()).add(node)
    want = sorted((mn, len(members)) for mn, members in comps.items())
    got = [
        (r.cluster_id, r.cluster_size)
        for r in REGISTRY["dedup_winnow_clusters"]
        .spark(spark, sf_dir)
        .collect()
    ]
    assert got == want
    assert all(sz >= 2 for _cid, sz in got)  # no singleton rows


def test_winnow_clusters_vid_is_retry_deterministic(spark, sf_dir):
    """The fingerprint-value dictionary encoding inside
    dedup_winnow_clusters must be a pure function of the value
    (xxhash64), never a positional id: monotonically_increasing_id
    after a shuffled distinct can assign the same value different ids
    across task retries / speculative re-execution, silently breaking
    the identical-rare-set contraction. Pin the analyzed plan free of
    positional-id expressions, and pin injectivity of the hash over
    this corpus's fingerprint universe (a collision would merge two
    values)."""
    plan = (
        REGISTRY["dedup_winnow_clusters"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "monotonically_increasing_id" not in plan
    from _imdb_etl_spark.operators.text import _winnow_rare_postings

    _fp, rp = _winnow_rare_postings(spark, sf_dir)
    counts = rp.agg(
        F.countDistinct("v").alias("nv"),
        F.countDistinct(F.xxhash64("v")).alias("nh"),
    ).collect()[0]
    assert counts.nv == counts.nh


def test_canary_scan_finds_sources_and_plants(spark, sf_dir):
    """Canary-scan contract: every canary finds at least its own
    source document, counts match a pure-Python substring scan, and a
    deliberately planted duplicate is reported as leaked."""
    from _imdb_etl_spark.operators.corpus import (
        _CANARY_LEN,
        _CANARY_MAX_ID,
        _CANARY_OFF,
        _CANARY_STEP,
    )

    (docs,) = load_tables(spark, sf_dir, "documents")
    texts = {r.doc_id: r.text for r in docs.collect()}
    needles = {
        d: t[_CANARY_OFF - 1 : _CANARY_OFF - 1 + _CANARY_LEN]
        for d, t in texts.items()
        if d % _CANARY_STEP == 0
        and d < _CANARY_MAX_ID
        and len(t) >= _CANARY_OFF + _CANARY_LEN
    }
    got = {
        r.canary_id: r
        for r in REGISTRY["corpus_canary_scan"].spark(spark, sf_dir).collect()
    }
    assert set(got) == set(needles)
    for cid, needle in needles.items():
        hits = [d for d, t in texts.items() if needle in t]
        r = got[cid]
        assert cid in hits, "canary must find its source"
        assert r.n_docs_containing == len(hits)
        assert r.leaked == (1 if len(hits) > 1 else 0)
        assert r.first_doc == min(hits) and r.last_doc == max(hits)


def test_canary_scan_many_matches_naive_and_handles_overlaps(
    spark, sf_dir, tmp_path
):
    """Aho-Corasick face contract: (a) on the driver corpus its rows
    match a pure-Python `needle in text` scan over its own needle
    universe; (b) on a planted corpus with OVERLAPPING needles
    (one a substring of another, shared prefixes, a needle spanning a
    fail-link transition) the automaton still reports exactly the
    naive truth — the classic AC edge cases a broken fail/output-link
    construction gets wrong."""
    from _imdb_etl_spark.operators.corpus import (
        _CANARY_LEN,
        _CANARY_MANY_MAX_ID,
        _CANARY_MANY_STEP,
        _CANARY_OFF,
        _aho_corasick,
    )

    (docs,) = load_tables(spark, sf_dir, "documents")
    texts = {r.doc_id: r.text for r in docs.collect()}
    needles = {
        d: t[_CANARY_OFF - 1 : _CANARY_OFF - 1 + _CANARY_LEN]
        for d, t in texts.items()
        if d % _CANARY_MANY_STEP == 0
        and d < _CANARY_MANY_MAX_ID
        and len(t) >= _CANARY_OFF + _CANARY_LEN
    }
    got = {
        r.canary_id: r
        for r in REGISTRY["corpus_canary_scan_many"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert set(got) == set(needles)
    for cid, needle in needles.items():
        hits = [d for d, t in texts.items() if needle in t]
        r = got[cid]
        assert r.n_docs_containing == len(hits)
        assert r.first_doc == min(hits) and r.last_doc == max(hits)
        assert r.leaked == (1 if len(hits) > 1 else 0)

    # direct automaton check on adversarial needle sets: nested
    # ("abcde" contains "bcd"), shared-prefix ("abx"/"aby"), and a
    # match that only an intact fail link finds ("baba" in "ababa")
    cases = [("abcde", "bcd", "ab", "baba"), ("aaa", "aa", "a", "ba")]
    for pats in cases:
        npats = list(enumerate(pats))
        goto, fail, out = _aho_corasick(npats)
        for text in ("xabcdex", "ababa", "aaaa", "bcd", "zzz", "aabxaby"):
            s, found = 0, set()
            for ch in text:
                while s and ch not in goto[s]:
                    s = fail[s]
                s = goto[s].get(ch, 0)
                found.update(out[s])
            want = {i for i, p in npats if p in text}
            assert found == want, (pats, text, found, want)


def test_datasheet_consistency_with_constituents(spark, sf_dir):
    """The datasheet can never drift from the operators it documents:
    its totals must reconcile with the raw corpus, its dup membership
    with dedup_exact's groups, and its PII incidence with the
    text_pii_redact enrichment — all recomputed directly."""
    import hashlib
    import re

    from _imdb_etl_spark.operators.corpus import _EMAIL_RE, _IPV4_RE

    (docs,) = load_tables(spark, sf_dir, "documents")
    raw = docs.collect()
    by_hash: dict = {}
    for r in raw:
        by_hash.setdefault(
            hashlib.md5(r.text.encode()).hexdigest(), []
        ).append(r.doc_id)
    dup_ids = {d for ids in by_hash.values() if len(ids) > 1 for d in ids}
    em, ip = re.compile(_EMAIL_RE), re.compile(_IPV4_RE)
    want: dict = {}
    for r in raw:
        body = (
            r.text
            + f" user{r.doc_id}@example.com" * (r.doc_id % 3)
            + f" 10.{r.doc_id % 256}.0.{r.doc_id % 100}" * (r.doc_id % 2)
        )
        k = (r.lang, r.source)
        c = want.setdefault(k, [0, 0, 0, 0])
        c[0] += 1
        c[1] += len(r.text.split(" "))
        c[2] += 1 if r.doc_id in dup_ids else 0
        c[3] += 1 if (em.search(body) or ip.search(body)) else 0
    rows = REGISTRY["corpus_datasheet"].spark(spark, sf_dir).collect()
    assert len(rows) == len(want)
    for r in rows:
        n, toks, dups_, pii = want[(r.lang, r.source)]
        assert r.n_docs == n
        assert r.total_tokens == toks
        assert r.n_dup_docs == dups_
        assert r.n_pii_docs == pii
        assert r.dup_permille == (1000 * dups_) // n
        assert r.pii_permille == (1000 * pii) // n


def test_pq_encode_gemm_matches_expression_route(spark, sf_dir):
    """The registered GEMM PQ encode and the windowed-rank expression
    encode share the codebook, distance, rounding, and rank key, so
    their (vec_id, s) -> code_id maps must be identical. (Round 11:
    the expression route is demoted to this library verifier — its
    N x _N_SUB x _N_CODES window stage dominated the PQ family at
    1000x — so this pin IS its correctness evidence now, the
    dedup_embedding_ivf precedent.)"""
    from _imdb_etl_spark.operators.semantic import (
        _pq_encode_expression,
        _pq_encode_gemm,
    )
    from _imdb_etl_spark.sources import load_tables

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    expr_codes = {
        (r.vec_id, r.s): r.code_id for r in _pq_encode_expression(emb).collect()
    }
    gemm_codes = {
        (r.vec_id, r.s): r.code_id for r in _pq_encode_gemm(emb).collect()
    }
    assert gemm_codes == expr_codes


def test_centroid_rank_raw_tiebreak_straddles_boundary():
    """The centroid rank key is (rounded sim DESC, RAW sim DESC, cid
    ASC) in both engines — the round-11 remedy for the rounding-
    boundary flip ADVICE r9 recorded. Simulate the flip: engine A and
    engine B compute raw sims differing by summation-order noise
    (~1e-15) around a 0.5e-6 rounding boundary, so their ROUNDED keys
    disagree; the raw tie-break must still produce the same ranking
    in both engines."""
    import numpy as np

    from _imdb_etl_spark.operators.similarity import _rank_centroids_desc

    # centroid 0 sits a hair below the .5e-6 boundary in engine A and
    # a hair above it in engine B; centroid 1 is exactly the value
    # centroid 0's round-up would collide with
    boundary = 0.1234565
    raw_a = np.array([[boundary - 1e-15, 0.123457, 0.5]])
    raw_b = np.array([[boundary + 1e-15, 0.123457, 0.5]])
    # engine B rounds centroid 0 UP to 0.123457 == centroid 1's key: a
    # rounded-only ranking would then flip on the cid tie-break, while
    # engine A (no tie) keeps centroid 1 ahead. The raw tie-break
    # resolves B's tie by raw sim, matching A.
    def r6(x):  # the engines' half-away-from-zero ROUND mechanism
        return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5), x) / 1e6

    assert r6(raw_a)[0, 0] != r6(raw_b)[0, 0]
    order_a = _rank_centroids_desc(raw_a)
    order_b = _rank_centroids_desc(raw_b)
    assert order_a.tolist() == order_b.tolist() == [[2, 1, 0]]
    # exact rounded-and-raw ties still break by ascending centroid id
    ties = np.array([[0.25, 0.25, 0.125]])
    assert _rank_centroids_desc(ties).tolist() == [[0, 1, 2]]
    # the inlined closure copies (similarity.ivf_inverted_lists,
    # semantic._ivf_assign_gemm) must stay identical to the helper
    rng = np.random.default_rng(7)
    raw = rng.random((32, 16))
    inline = np.lexsort((-raw, -r6(raw)), axis=-1)
    assert (_rank_centroids_desc(raw) == inline).all()


def test_try_suite_add_val_domain_holds(spark, sf_dir):
    """The scalar_try_suite add_val equivalence between Spark's
    try_add saturation and the oracle's guarded CASE arms is proved
    on the domain pk = p_partkey >= 0: the pk > 0 arm is the
    overflow-to-NULL case, the pk >= 0 arm covers pk = 0 (max_long +
    0 does NOT overflow, so both engines emit max_long — the fixture
    DOES contain pk = 0). Only a NEGATIVE multiple of 1024 falls
    outside the proved domain (Spark would yield max_long + pk, the
    guarded oracle falls through to pk). Pin the domain itself so a
    testdata regeneration that ever emits negative part keys fails
    HERE with the reason, not in a hash mismatch."""
    from _imdb_etl_spark.sources import load_tables

    (part,) = load_tables(spark, sf_dir, "part")
    import pyspark.sql.functions as F

    min_pk = part.agg(F.min("p_partkey").alias("m")).collect()[0].m
    assert min_pk >= 0, f"add_val domain pin violated: min p_partkey {min_pk}"


def test_pq_adc_gemm_matches_join_route(spark, sf_dir):
    """The fused encode+ADC+prune kernel and the broadcast-LUT join
    route share the codebook, LUT rounding, and exclusion rule, so
    the top-k they feed the ranking window must be identical. (Round
    11: the join route is demoted to this library verifier — its
    N x _N_SUB x _N_QUERIES pre-agg fan-out was sim_knn_pq's dominant
    stage once the encode went GEMM.)"""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from _imdb_etl_spark.operators.semantic import (
        _PQ_TOP_K,
        _pq_adc_topk_gemm,
        _pq_scored_join_route,
    )
    from _imdb_etl_spark.sources import load_tables

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    rank_w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_dot"), F.asc("neighbor_id")
    )

    def topk(scored):
        return {
            (r.query_id, r.neighbor_id, r.approx_dot, r.rnk)
            for r in scored.withColumn("rnk", F.row_number().over(rank_w))
            .where(F.col("rnk") <= _PQ_TOP_K)
            .collect()
        }

    assert topk(_pq_adc_topk_gemm(emb)) == topk(_pq_scored_join_route(emb))


def test_crossmodal_lsh_pairs_subset_of_exact(spark, sf_dir):
    """crossmodal_textdup_cosine now composes the registered LSH pair
    stage (round 11; the exact shared-shingle self-join composition
    measured 450 s / ~12x-per-decade at 1000x). LSH never invents a
    pair — its exact-verify keeps only true >= 0.6 Jaccard collisions
    — so the face's rows must be a subset of the exact-route
    composition, identical in every shared (jaccard, cosine_sim), and
    the recall floor mirrors the pair family's own pin."""
    from _imdb_etl_spark.operators.dedup import dedup_ngram_jaccard
    from _imdb_etl_spark.operators.similarity import (
        _dot,
        crossmodal_textdup_cosine,
    )
    from _imdb_etl_spark.sources import load_tables

    got = {
        (r.doc_a, r.doc_b): (r.jaccard, r.cosine_sim)
        for r in crossmodal_textdup_cosine(spark, sf_dir).collect()
    }
    exact_pairs = dedup_ngram_jaccard(spark, sf_dir)
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
    exact = {
        (r.doc_a, r.doc_b): (r.jaccard, r.cosine_sim)
        for r in exact_pairs.join(a, F.col("doc_a") == F.col("va"))
        .join(b, F.col("doc_b") == F.col("vb"))
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.round(
                _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cosine_sim"),
        )
        .collect()
    }
    assert exact, "fixture should contain cross-modal near-dup pairs"
    assert set(got) <= set(exact)
    for k, v in got.items():
        assert exact[k] == v
    recall = len(got) / len(exact)
    assert recall >= 0.9, f"LSH pair recall {recall} vs exact route"


def test_winnow_cap_formula_parity_and_regimes(spark, sf_dir):
    """The winnow rarity cap is one formula in two engines —
    max(FLOOR, min(CEIL, ceil(permille of docs))) — and round 12's
    re-baseline added the absolute ceiling (see _WIN_DF_CEIL). Pin
    Python/SQL parity across all three regimes (floor-bound,
    permille-bound, ceiling-bound) and that the ceiling binds only
    above 500k docs, which is what keeps every below-1000x evidence
    row bit-identical."""
    import duckdb

    from _imdb_etl_spark.operators.text import (
        _WIN_DF_CEIL,
        _WIN_DF_FLOOR,
        _WIN_DF_PERMILLE,
    )

    def py_cap(n_docs: int) -> int:
        return max(
            _WIN_DF_FLOOR,
            min(_WIN_DF_CEIL, -(-_WIN_DF_PERMILLE * n_docs // 1000)),
        )

    con = duckdb.connect()

    def sql_cap(n_docs: int) -> int:
        return int(
            con.sql(
                f"SELECT GREATEST({_WIN_DF_FLOOR}, "
                f"LEAST({_WIN_DF_CEIL}, "
                f"CEIL({_WIN_DF_PERMILLE} * 0.001 * {n_docs})))"
            ).fetchone()[0]
        )

    for n in (1, 500, 5_000, 9_999, 10_001, 50_000, 499_999,
              500_000, 500_001, 5_000_000, 10**10):
        assert py_cap(n) == sql_cap(n), n
    # regimes: floor below 10k docs, permille between, ceiling above
    assert py_cap(5_000) == _WIN_DF_FLOOR
    assert py_cap(50_000) == 50
    assert py_cap(500_000) == _WIN_DF_CEIL  # seamless crossover
    assert py_cap(5_000_000) == _WIN_DF_CEIL
    assert py_cap(10**10) == _WIN_DF_CEIL  # bounded at 100 TB scale
    con.close()
