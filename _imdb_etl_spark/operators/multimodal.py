"""Multimodal column plumbing: images/audio/video as opaque ``binary``
payloads with typed metadata, processed by Arrow-batched mapInPandas.

Decoding needs no codec library: PNG payloads go through the
pure-stdlib codec in operators/png_codec.py and WAV through ``wave``.
Everything Spark-side is real and tested: the asset schema, the binary
payloads, the mapInPandas batch iteration, the output schema contract,
and the fan-out shape for frame sampling.

Scale notes: payload bytes ride Arrow buffers into pandas with no
per-row pickling; mapInPandas streams batches so a 100 TB asset table
never materializes per-executor; partition count follows the source
files. Feature extraction is the canonical "keep it off the driver"
workload.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from _imdb_etl_spark.functions import ordered
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables, stage_sorted, stage_to_parquet

_MODALITIES = ["image", "audio", "video"]


def make_assets(docs: DataFrame) -> DataFrame:
    """Derive a synthetic asset table from ``documents``: the text bytes
    stand in for an encoded media payload; modality cycles by doc_id."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(
            F.array(*[F.lit(m) for m in _MODALITIES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.col("text").cast("binary").alias("payload"),
        F.col("source").alias("origin"),
    )


_FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("content_hash", StringType()),
    ]
)


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-batch feature extraction: byte length + md5 content hash.
    Stands where image decode / audio fingerprint would run; the
    deterministic outputs keep the whole UDF path oracle-checkable."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "asset_id": pdf["asset_id"],
                "modality": pdf["modality"],
                "n_bytes": pdf["payload"].map(len).astype("int32"),
                "content_hash": pdf["payload"].map(
                    lambda b: hashlib.md5(bytes(b)).hexdigest()
                ),
            }
        )


_FEATURES_SQL = """
SELECT doc_id AS asset_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                       ELSE 'video' END AS modality,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_hash
FROM documents
ORDER BY asset_id
"""


@register(
    "multimodal_features",
    _FEATURES_SQL,
    doc="Binary-payload feature extraction through mapInPandas (Arrow "
    "batches of opaque bytes -> typed feature rows). The UDF outputs are "
    "deterministic (length + md5), so the oracle checks the full Python "
    "worker round-trip, not just the plumbing.",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    assets = make_assets(docs)
    return stage_sorted(
        assets.mapInPandas(_extract_features, _FEATURE_SCHEMA),
        "mm_features",
        "asset_id",
    )


_FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_no", IntegerType()),
        StructField("frame_hash", StringType()),
    ]
)

_N_FRAMES = 4


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Frame-sampling fan-out: each video asset emits N deterministic
    'frames' (hashes of payload slices) — the 1->N batch shape of a real
    video frame sampler, without a codec."""
    for pdf in batches:
        rows: dict[str, list] = {"asset_id": [], "frame_no": [], "frame_hash": []}
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            payload = bytes(payload)
            step = max(len(payload) // _N_FRAMES, 1)
            for f in range(_N_FRAMES):
                rows["asset_id"].append(asset_id)
                rows["frame_no"].append(f)
                rows["frame_hash"].append(
                    hashlib.md5(payload[f * step : (f + 1) * step]).hexdigest()
                )
        yield pd.DataFrame(rows)


def sample_frames(assets: DataFrame) -> DataFrame:
    return assets.where(F.col("modality") == "video").mapInPandas(
        _sample_frames, _FRAME_SCHEMA
    )


# SQL twin of the frame sampler: the synthetic payload is the document
# text (ASCII by construction, so character slices == the UDF's byte
# slices) and frames are md5 of fixed-stride slices; substr clamps past
# the end exactly like a Python slice, and an out-of-range start yields
# '' -> md5('') on both sides.
_FRAME_SQL = f"""
WITH v AS (
  SELECT doc_id AS asset_id, text,
         GREATEST(length(text) // {_N_FRAMES}, 1) AS step
  FROM documents WHERE doc_id % 3 = 2
)
SELECT asset_id, CAST(frame_no AS INT) AS frame_no,
       md5(substr(text, CAST(frame_no * step AS INT) + 1, CAST(step AS INT))) AS frame_hash
FROM v CROSS JOIN (SELECT unnest(range({_N_FRAMES})) AS frame_no)
ORDER BY asset_id, frame_no
"""


@register(
    "multimodal_frame_sample",
    _FRAME_SQL,
    doc=f"Video frame sampling stub: 1 asset -> {_N_FRAMES} frame rows "
    "via mapInPandas fan-out. Fully oracle-checked: the DuckDB twin "
    "recomputes every frame hash from the same deterministic payload "
    "slices; invariants additionally asserted in "
    "tests/test_operators.py.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    return stage_sorted(
        sample_frames(make_assets(docs)), "mm_frames", "asset_id", "frame_no"
    )


# Real-PNG decode round trip. Pixel source bytes are ASCII (an md5-hex
# chain truncated to w*h*3), so the DuckDB twin can rebuild the exact
# byte string with repeat/substr and hash it — proving the Spark side
# encoded those bytes into a genuine PNG container and decoded them
# back bit-perfectly through zlib + scanline unfiltering. filter_type
# cycles doc_id % 5, so every PNG filter (none/sub/up/average/paeth)
# is exercised by the gate, not just the trivial one.
_PNG_DECODE_SQL = """
SELECT doc_id AS asset_id,
       CAST(8 + doc_id % 5 AS INT) AS width,
       CAST(8 + doc_id % 3 AS INT) AS height,
       'RGB' AS mode,
       md5(substr(repeat(md5(CAST(doc_id AS VARCHAR)),
                         CAST((8 + doc_id % 5) * (8 + doc_id % 3) * 3 // 32 + 1 AS INT)),
                  1,
                  CAST((8 + doc_id % 5) * (8 + doc_id % 3) * 3 AS INT))) AS pixel_md5
FROM documents
ORDER BY asset_id
"""

# (asset_id, payload) — the schema of every encode pass (PNG and WAV
# alike); the name reflects the shape, not a specific codec
_PAYLOAD_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)

_PNG_DECODE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mode", StringType()),
        StructField("pixel_md5", StringType()),
    ]
)


def _png_dims(doc_id: int) -> tuple[int, int]:
    return 8 + doc_id % 5, 8 + doc_id % 3


def _png_pixels(doc_id: int) -> bytes:
    w, h = _png_dims(doc_id)
    n = w * h * 3
    hexs = hashlib.md5(str(doc_id).encode()).hexdigest()
    return (hexs * (n // 32 + 1))[:n].encode("ascii")


def _encode_pngs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from _imdb_etl_spark.operators.png_codec import encode_png

    for pdf in batches:
        payloads = []
        for doc_id in pdf["asset_id"]:
            doc_id = int(doc_id)
            w, h = _png_dims(doc_id)
            payloads.append(
                encode_png(_png_pixels(doc_id), w, h, 3, filter_type=doc_id % 5)
            )
        yield pd.DataFrame({"asset_id": pdf["asset_id"], "payload": payloads})


def _decode_pngs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from _imdb_etl_spark.operators.png_codec import decode_png

    for pdf in batches:
        rows: dict[str, list] = {
            "asset_id": [],
            "width": [],
            "height": [],
            "mode": [],
            "pixel_md5": [],
        }
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            w, h, mode, pixels = decode_png(bytes(payload))
            rows["asset_id"].append(asset_id)
            rows["width"].append(w)
            rows["height"].append(h)
            rows["mode"].append(mode)
            rows["pixel_md5"].append(hashlib.md5(pixels).hexdigest())
        yield pd.DataFrame(rows)


@register(
    "multimodal_decode_png",
    _PNG_DECODE_SQL,
    doc="REAL image decode through the multimodal plumbing: a binary "
    "column of genuine PNG files (pure-stdlib encoder, one fixed "
    "filter type per asset cycling all five) decoded back by the "
    "pure-stdlib parser in operators/png_codec.py — signature, chunk "
    "CRCs, zlib inflate, per-scanline unfiltering. The oracle "
    "recomputes the expected dimensions and the md5 of the decoded "
    "pixel bytes from the same deterministic ASCII source, so any "
    "codec bit-error flips the hash. PIL, when installed, is "
    "cross-checked against this codec in tests/test_operators.py.",
)
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    assets = docs.select(F.col("doc_id").alias("asset_id"))
    payloads = assets.mapInPandas(_encode_pngs, _PAYLOAD_SCHEMA)
    return stage_sorted(
        payloads.mapInPandas(_decode_pngs, _PNG_DECODE_SCHEMA),
        "mm_png",
        "asset_id",
    )


# Real WAV (RIFF) decode round trip via the stdlib ``wave`` codec —
# the audio sibling of multimodal_decode_png. PCM payload bytes are the
# same ASCII md5-chain trick, so the DuckDB twin rebuilds the exact
# frame bytes with repeat/substr and hashes them; channel count and
# frame count vary per asset so the header parsing is exercised across
# geometries, not one fixed shape.
_WAV_RATE = 8000
_WAV_WIDTH = 2  # bytes per sample


def _wav_geom(doc_id: int) -> tuple[int, int]:
    """(n_channels, n_frames) for an asset id."""
    return 1 + doc_id % 2, 800 + (doc_id % 5) * 160


def _wav_pcm(doc_id: int) -> bytes:
    ch, nf = _wav_geom(doc_id)
    n = nf * ch * _WAV_WIDTH
    hexs = hashlib.md5(str(doc_id).encode()).hexdigest()
    return (hexs * (n // 32 + 1))[:n].encode("ascii")


_WAV_DECODE_SQL = f"""
SELECT doc_id AS asset_id,
       CAST(1 + doc_id % 2 AS INT) AS n_channels,
       CAST({_WAV_WIDTH} AS INT) AS sample_width,
       CAST({_WAV_RATE} AS INT) AS sample_rate,
       CAST(800 + (doc_id % 5) * 160 AS BIGINT) AS n_frames,
       CAST((800 + (doc_id % 5) * 160) * 1000 // {_WAV_RATE} AS BIGINT) AS duration_ms,
       md5(substr(repeat(md5(CAST(doc_id AS VARCHAR)),
                         CAST((800 + (doc_id % 5) * 160) * (1 + doc_id % 2) * {_WAV_WIDTH} // 32 + 1 AS INT)),
                  1,
                  CAST((800 + (doc_id % 5) * 160) * (1 + doc_id % 2) * {_WAV_WIDTH} AS INT))) AS pcm_md5
FROM documents
ORDER BY asset_id
"""

_WAV_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)

_WAV_DECODE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("n_channels", IntegerType()),
        StructField("sample_width", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("duration_ms", LongType()),
        StructField("pcm_md5", StringType()),
    ]
)


def _encode_wavs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import io
    import wave

    for pdf in batches:
        payloads = []
        for doc_id in pdf["asset_id"]:
            doc_id = int(doc_id)
            ch, _ = _wav_geom(doc_id)
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(ch)
                w.setsampwidth(_WAV_WIDTH)
                w.setframerate(_WAV_RATE)
                w.writeframes(_wav_pcm(doc_id))
            payloads.append(buf.getvalue())
        yield pd.DataFrame({"asset_id": pdf["asset_id"], "payload": payloads})


def _decode_wavs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import io
    import wave

    for pdf in batches:
        rows: dict[str, list] = {k.name: [] for k in _WAV_DECODE_SCHEMA}
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            with wave.open(io.BytesIO(bytes(payload))) as w:
                nf = w.getnframes()
                rows["asset_id"].append(asset_id)
                rows["n_channels"].append(w.getnchannels())
                rows["sample_width"].append(w.getsampwidth())
                rows["sample_rate"].append(w.getframerate())
                rows["n_frames"].append(nf)
                rows["duration_ms"].append(nf * 1000 // w.getframerate())
                rows["pcm_md5"].append(
                    hashlib.md5(w.readframes(nf)).hexdigest()
                )
        yield pd.DataFrame(rows)


@register(
    "multimodal_decode_wav",
    _WAV_DECODE_SQL,
    doc="REAL audio decode through the multimodal plumbing: a binary "
    "column of genuine WAV files (stdlib wave codec — RIFF chunk "
    "framing, fmt header, PCM frames) decoded back to header fields "
    "and frame bytes in mapInPandas. Channel count and frame count "
    "vary per asset; the oracle recomputes every header field and the "
    "md5 of the PCM bytes from the same deterministic ASCII source, "
    "so a parsing or framing error flips the hash. Completes the "
    "image(PNG)+audio(WAV) real-codec pair.",
)
def multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    assets = docs.select(F.col("doc_id").alias("asset_id"))
    payloads = assets.mapInPandas(_encode_wavs, _WAV_SCHEMA)
    return stage_sorted(
        payloads.mapInPandas(_decode_wavs, _WAV_DECODE_SCHEMA),
        "mm_wav",
        "asset_id",
    )


_RESIZE_STRIDE = 4

_RESIZE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("orig_bytes", IntegerType()),
        StructField("resized_bytes", IntegerType()),
        StructField("resized_hash", StringType()),
    ]
)


def _resize_assets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Resize/downsample stub: keep every STRIDE-th payload byte — the
    1:N byte-geometry shape of a real thumbnailer (which would decode,
    scale, re-encode), with deterministic output the oracle can verify."""
    for pdf in batches:
        rows: dict[str, list] = {
            "asset_id": [],
            "orig_bytes": [],
            "resized_bytes": [],
            "resized_hash": [],
        }
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            payload = bytes(payload)
            small = payload[::_RESIZE_STRIDE]
            rows["asset_id"].append(asset_id)
            rows["orig_bytes"].append(len(payload))
            rows["resized_bytes"].append(len(small))
            rows["resized_hash"].append(hashlib.md5(small).hexdigest())
        yield pd.DataFrame(rows)


# SQL twin: the synthetic payload is ASCII text, so the byte stride is
# a character stride — chars at 1-based positions 1, 1+k, 1+2k, ...
_RESIZE_SQL = f"""
WITH img AS (
  SELECT doc_id AS asset_id, text, length(text) AS n
  FROM documents WHERE doc_id % 3 = 0
)
SELECT asset_id,
       CAST(n AS INT) AS orig_bytes,
       CAST((n - 1) // {_RESIZE_STRIDE} + 1 AS INT) AS resized_bytes,
       md5(array_to_string(
         list_transform(range(0, (n - 1) // {_RESIZE_STRIDE} + 1),
                        i -> substr(text, CAST(i * {_RESIZE_STRIDE} AS INT) + 1, 1)),
         '')) AS resized_hash
FROM img
ORDER BY asset_id
"""


@register(
    "multimodal_resize",
    _RESIZE_SQL,
    doc=f"Image resize stub: every {_RESIZE_STRIDE}-th payload byte via "
    "mapInPandas — completes the decode / feature-extract / resize / "
    "frame-sample multimodal quartet. Fully oracle-checked (the "
    "payload is ASCII text, so the DuckDB twin replays the byte stride "
    "as a character stride and must match the md5 of the downsampled "
    "payload exactly).",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    assets = make_assets(docs).where(F.col("modality") == "image")
    return stage_sorted(
        assets.mapInPandas(_resize_assets, _RESIZE_SCHEMA),
        "mm_resize",
        "asset_id",
    )


# --- perceptual-hash image dedup -------------------------------------
#
# The image-side analog of dedup_simhash: a 64-bit DCT perceptual hash
# (the classic pHash recipe: grayscale -> 32x32 resample -> 2D DCT ->
# top-left 8x8 low-frequency block -> median-threshold bits) computed
# per decoded PNG in one Arrow-batched mapInPandas pass, then duplicate
# discovery by 4x16-bit band blocking over the hash — the same
# pigeonhole scheme dedup_simhash uses for text. The DCT cannot be
# replayed in DuckDB, so the driver-gated face is a scorecard of
# oracle-derivable counts plus margin booleans (the sim_knn_ivf_trained
# convention); exact hash values and the band-blocking recall are
# pinned in tests/test_operators.py.

_N_COPIES = 20  # doc_id < 20 get an exact copy and a perturbed copy
_COPY_BASE = 1_000_000
_PERTURB_BASE = 2_000_000
_PHASH_HAMMING_MARGIN = 16

_PHASH_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("src_id", LongType()),
        StructField("kind", StringType()),
        StructField("phash", LongType()),
    ]
)


def _phash_bits(pixels: bytes, w: int, h: int) -> int:
    """63-bit DCT perceptual hash (DC coefficient dropped; the result
    fits a signed 64-bit column). Pure numpy float64 — deterministic."""
    import numpy as np

    rgb = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, 3)
    gray = rgb.astype(np.float64).mean(axis=2)
    # nearest-neighbor resample to 32x32 (inputs are small synthetic
    # thumbnails; at production scale the decoded image is already in
    # memory and the resample stays O(1024) per asset)
    yi = (np.arange(32) * h) // 32
    xi = (np.arange(32) * w) // 32
    a = gray[np.ix_(yi, xi)]
    j = np.arange(32)
    c = np.sqrt(2.0 / 32) * np.cos(np.pi * (2 * j[None, :] + 1) * j[:, None] / 64)
    c[0, :] = np.sqrt(1.0 / 32)
    d = c @ a @ c.T
    block = d[:8, :8].flatten()[1:]  # drop DC
    med = float(np.median(block))
    bits = 0
    for i, v in enumerate(block):
        if v > med:
            bits |= 1 << i
    return bits


def _phash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from _imdb_etl_spark.operators.png_codec import decode_png

    for pdf in batches:
        out: dict[str, list] = {"asset_id": [], "src_id": [], "kind": [], "phash": []}
        for asset_id, src_id, kind, payload in zip(
            pdf["asset_id"], pdf["src_id"], pdf["kind"], pdf["payload"]
        ):
            w, h, _mode, pixels = decode_png(bytes(payload))
            if kind == "perturbed":
                # corrupt one byte — a tiny pixel change a perceptual
                # hash must shrug off (unlike the content md5)
                buf = bytearray(pixels)
                buf[0] = (buf[0] + 16) % 256
                pixels = bytes(buf)
            out["asset_id"].append(asset_id)
            out["src_id"].append(src_id)
            out["kind"].append(kind)
            out["phash"].append(_phash_bits(pixels, w, h))
        yield pd.DataFrame(out)


_PHASH_SQL = f"""
SELECT CAST(COUNT(*) + 2 * LEAST({_N_COPIES}, COUNT(*)) AS BIGINT) AS n_assets,
       CAST(COUNT(*) AS BIGINT) AS n_originals,
       CAST(LEAST({_N_COPIES}, COUNT(*)) AS BIGINT) AS n_copy_pairs_expected,
       CAST(LEAST({_N_COPIES}, COUNT(*)) AS BIGINT) AS n_copy_pairs_hash_equal,
       CAST(LEAST({_N_COPIES}, COUNT(*)) AS BIGINT) AS n_copy_pairs_band_blocked,
       TRUE AS perturbed_within_margin
FROM documents
"""


@register(
    "multimodal_phash_dedup",
    _PHASH_SQL,
    doc="Perceptual-hash image dedup over REAL decoded PNGs: 63-bit "
    "DCT pHash per asset in one mapInPandas pass, exact-duplicate "
    "recovery by hash equality, candidate blocking by 4x16-bit bands "
    "(the simhash pigeonhole scheme on the image side: hamming-close "
    "hashes must collide in >= 1 band). The corpus is originals plus "
    f"{_N_COPIES} byte-identical copies and {_N_COPIES} one-byte-"
    "perturbed copies; the scorecard asserts every copy pair is "
    "recovered by hash equality AND by band blocking, and every "
    f"perturbed pair stays within hamming {_PHASH_HAMMING_MARGIN} — "
    "counts the DuckDB twin derives from the documents table alone. "
    "Exact hash values are pinned in tests/test_operators.py. At "
    "100 TB: hashing is map-side, blocking keys the only shuffle "
    "(4 bands x corpus), verify touches band collisions only.",
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    base = docs.select(F.col("doc_id").alias("src_id"))
    orig = base.select(
        F.col("src_id").alias("asset_id"), "src_id", F.lit("orig").alias("kind")
    )
    dup_src = base.where(F.col("src_id") < _N_COPIES)
    copies = dup_src.select(
        (F.col("src_id") + _COPY_BASE).alias("asset_id"),
        "src_id",
        F.lit("copy").alias("kind"),
    )
    perturbed = dup_src.select(
        (F.col("src_id") + _PERTURB_BASE).alias("asset_id"),
        "src_id",
        F.lit("perturbed").alias("kind"),
    )
    assets = orig.unionByName(copies).unionByName(perturbed)

    # payload = the genuine PNG encoding of the source doc's pixels
    # (copies re-encode the same pixels -> byte-identical payloads);
    # the payload column is created inside the pandas batch — the
    # mapInPandas output is schema-driven, so no placeholder column
    # needs to ride through Arrow
    def encode_and_hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from _imdb_etl_spark.operators.png_codec import encode_png

        def add_payload(pdf: pd.DataFrame) -> pd.DataFrame:
            payloads = []
            for src in pdf["src_id"]:
                src = int(src)
                w, h = _png_dims(src)
                payloads.append(
                    encode_png(_png_pixels(src), w, h, 3, filter_type=src % 5)
                )
            pdf = pdf.copy()
            pdf["payload"] = payloads
            return pdf

        yield from _phash_batch(add_payload(p) for p in batches)

    # the scorecard fans out into six aggregate branches below; without
    # truncation each branch would re-run the PNG encode + DCT pHash of
    # every asset, so materialize the hash table exactly once (parquet
    # staging, not localCheckpoint — the round-9 heap-pinning lesson)
    hashed = stage_to_parquet(
        assets.mapInPandas(encode_and_hash, _PHASH_SCHEMA), "phash_table"
    )
    o = hashed.where(F.col("kind") == "orig").select(
        F.col("src_id").alias("o_src"), F.col("phash").alias("o_hash")
    )
    c = hashed.where(F.col("kind") == "copy").select(
        F.col("src_id").alias("c_src"), F.col("phash").alias("c_hash")
    )
    p = hashed.where(F.col("kind") == "perturbed").select(
        F.col("src_id").alias("p_src"), F.col("phash").alias("p_hash")
    )
    copy_pairs = o.join(c, F.col("o_src") == F.col("c_src"))
    perturb_pairs = o.join(p, F.col("o_src") == F.col("p_src")).select(
        F.bit_count(F.expr("o_hash ^ p_hash")).alias("hamming")
    )
    # band blocking: orig x copy pairs sharing >= 1 of 4 16-bit bands
    bands = F.array(
        *[
            F.shiftrightunsigned(F.col("phash"), 16 * b).bitwiseAND(F.lit(0xFFFF))
            for b in range(4)
        ]
    )
    ob = (
        hashed.where(F.col("kind") == "orig")
        .select(F.col("src_id").alias("b_src"), F.posexplode(bands).alias("band", "key"))
    )
    cb = (
        hashed.where(F.col("kind") == "copy")
        .select(F.col("src_id").alias("b_src"), F.posexplode(bands).alias("band", "key"))
    )
    blocked = (
        ob.alias("x")
        .join(
            cb.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.b_src") == F.col("y.b_src")),
        )
        .select(F.col("x.b_src").alias("src"))
        .distinct()
    )
    stats = hashed.agg(F.count(F.lit(1)).alias("n_assets"))
    n_orig = o.agg(F.count(F.lit(1)).alias("n_originals"))
    n_expected = c.agg(F.count(F.lit(1)).alias("n_copy_pairs_expected"))
    n_equal = copy_pairs.where(F.col("o_hash") == F.col("c_hash")).agg(
        F.count(F.lit(1)).alias("n_copy_pairs_hash_equal")
    )
    n_blocked = blocked.agg(F.count(F.lit(1)).alias("n_copy_pairs_band_blocked"))
    margin = perturb_pairs.agg(
        (F.max("hamming") <= _PHASH_HAMMING_MARGIN).alias("perturbed_within_margin")
    )
    # six 1-row aggregates; every cross join broadcasts one row
    return (
        stats.crossJoin(n_orig)
        .crossJoin(n_expected)
        .crossJoin(n_equal)
        .crossJoin(n_blocked)
        .crossJoin(margin)
    )


# --- audio feature extraction (loudness / energy) --------------------
#
# The audio sibling of multimodal_features: REAL RIFF/WAV parsing
# (stdlib wave) then int16 sample statistics — the loudness/energy
# screen an audio-corpus pipeline runs before transcription. The PCM
# payload is the deterministic ASCII chain, and every sample is a
# little-endian pair of ASCII bytes, so the DuckDB twin rebuilds the
# exact sample values with substr/ascii arithmetic and the stats are
# value-hashed, not just shape-checked. All stats are integers (peak,
# amplitude sum, energy = sum of squares) — no float policy needed.

_AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("peak", LongType()),
        StructField("sum_amp", LongType()),
        StructField("energy", LongType()),
    ]
)


def _audio_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import io
    import wave

    import numpy as np

    for pdf in batches:
        rows: dict[str, list] = {k.name: [] for k in _AUDIO_STATS_SCHEMA}
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            with wave.open(io.BytesIO(bytes(payload))) as w:
                frames = w.readframes(w.getnframes())
            v = np.frombuffer(frames, dtype="<i2").astype(np.int64)
            rows["asset_id"].append(asset_id)
            rows["n_samples"].append(len(v))
            rows["peak"].append(int(np.abs(v).max()))
            rows["sum_amp"].append(int(np.abs(v).sum()))
            rows["energy"].append(int((v * v).sum()))
        yield pd.DataFrame(rows)


_AUDIO_STATS_SQL = """
WITH geom AS (
  SELECT doc_id AS asset_id,
         1 + doc_id % 2 AS ch,
         800 + (doc_id % 5) * 160 AS nf
  FROM documents
),
pcm AS (
  SELECT asset_id, ch, nf,
         substr(repeat(md5(CAST(asset_id AS VARCHAR)),
                       CAST((nf * ch * 2) // 32 + 1 AS INT)),
                1, CAST(nf * ch * 2 AS INT)) AS s
  FROM geom
),
samp AS (
  SELECT asset_id, ch, nf,
         list_transform(range(0, nf * ch),
           i -> ascii(substr(s, CAST(2 * i + 1 AS INT), 1))
                + 256 * ascii(substr(s, CAST(2 * i + 2 AS INT), 1))) AS v
  FROM pcm
)
SELECT asset_id,
       CAST(nf * ch AS BIGINT) AS n_samples,
       CAST(list_max(v) AS BIGINT) AS peak,
       CAST(list_sum(v) AS BIGINT) AS sum_amp,
       CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS energy
FROM samp
ORDER BY asset_id
"""


@register(
    "multimodal_audio_stats",
    _AUDIO_STATS_SQL,
    doc="Audio loudness/energy screen over REAL WAV payloads: stdlib "
    "RIFF parse, little-endian int16 samples, per-asset peak / "
    "amplitude sum / energy as exact integers. The ASCII PCM chain "
    "lets the DuckDB twin recompute every sample value, so a "
    "byte-order or width bug in the decode path flips the hash. "
    "(Synthetic samples are positive by construction — ASCII hex "
    "bytes < 128 — so abs() on the Spark side is the identity here "
    "while staying correct for real signed audio.) One mapInPandas "
    "pass, stats ride out as integers; map-side only.",
)
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    assets = docs.select(F.col("doc_id").alias("asset_id"))
    payloads = assets.mapInPandas(_encode_wavs, _PAYLOAD_SCHEMA)
    return stage_sorted(
        payloads.mapInPandas(_audio_stats, _AUDIO_STATS_SCHEMA),
        "mm_astats",
        "asset_id",
    )


# --- shot-boundary detection (video analysis) ------------------------
#
# The analysis stage after frame sampling: consecutive-frame byte
# difference with a relative threshold — the standard hard-cut
# detector shape (per-frame work is a histogram/SSIM in production;
# byte hamming here, the payload being deterministic ASCII so the
# DuckDB twin recomputes every per-position comparison exactly).

_SHOT_THRESH_PERMILLE = 500


def _shot_boundaries(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        rows: dict[str, list] = {
            "asset_id": [],
            "n_transitions": [],
            "n_boundaries": [],
            "max_diff": [],
            "sum_diff": [],
        }
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            payload = bytes(payload)
            step = max(len(payload) // _N_FRAMES, 1)
            frames = [
                payload[f * step : (f + 1) * step] for f in range(_N_FRAMES)
            ]
            diffs = []
            bounds = 0
            for cur, nxt in zip(frames, frames[1:]):
                k = min(len(cur), len(nxt))
                a = np.frombuffer(cur[:k], dtype=np.uint8)
                b = np.frombuffer(nxt[:k], dtype=np.uint8)
                diff = int((a != b).sum()) + abs(len(cur) - len(nxt))
                span = max(len(cur), len(nxt))
                diffs.append(diff)
                if diff * 1000 > span * _SHOT_THRESH_PERMILLE:
                    bounds += 1
            rows["asset_id"].append(asset_id)
            rows["n_transitions"].append(len(diffs))
            rows["n_boundaries"].append(bounds)
            rows["max_diff"].append(max(diffs))
            rows["sum_diff"].append(sum(diffs))
        yield pd.DataFrame(rows)


_SHOT_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("n_transitions", LongType()),
        StructField("n_boundaries", LongType()),
        StructField("max_diff", LongType()),
        StructField("sum_diff", LongType()),
    ]
)

_SHOT_SQL = f"""
WITH v AS (
  SELECT doc_id AS asset_id, text,
         GREATEST(length(text) // {_N_FRAMES}, 1) AS step
  FROM documents WHERE doc_id % 3 = 2
),
fr AS (
  SELECT asset_id, f,
         substr(text, CAST(f * step AS INT) + 1, CAST(step AS INT)) AS cur,
         substr(text, CAST((f + 1) * step AS INT) + 1, CAST(step AS INT)) AS nxt
  FROM v CROSS JOIN (SELECT unnest(range({_N_FRAMES} - 1)) AS f)
),
d AS (
  SELECT asset_id, f,
         len(list_filter(range(1, LEAST(length(cur), length(nxt)) + 1),
             i -> substr(cur, CAST(i AS INT), 1) <> substr(nxt, CAST(i AS INT), 1)))
           + abs(length(cur) - length(nxt)) AS diff,
         GREATEST(length(cur), length(nxt)) AS span
  FROM fr
)
SELECT asset_id,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(SUM(CASE WHEN diff * 1000 > span * {_SHOT_THRESH_PERMILLE}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_boundaries,
       CAST(MAX(diff) AS BIGINT) AS max_diff,
       CAST(SUM(diff) AS BIGINT) AS sum_diff
FROM d
GROUP BY asset_id
ORDER BY asset_id
"""


@register(
    "multimodal_shot_boundaries",
    _SHOT_SQL,
    doc="Shot-boundary (hard-cut) detection over the sampled frames: "
    "consecutive-frame byte hamming plus length penalty, boundary "
    f"when the difference exceeds {_SHOT_THRESH_PERMILLE} permille of "
    "the frame span. One mapInPandas pass per asset (frames never "
    "leave the batch); the DuckDB twin recomputes every per-position "
    "byte comparison from the deterministic ASCII payload, so the "
    "stats are value-exact. Completes the video pipeline: sample "
    "(multimodal_frame_sample) -> analyze (this) -> dedup "
    "(multimodal_phash_dedup on the image side).",
)
def multimodal_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    assets = make_assets(docs).where(F.col("modality") == "video")
    return stage_sorted(
        assets.select("asset_id", "payload").mapInPandas(
            _shot_boundaries, _SHOT_SCHEMA
        ),
        "mm_shots",
        "asset_id",
    )


# --- audio activity segmentation (VAD-style run-length islands) -------

_SEG_FRAME = 160  # samples per analysis frame (20 ms at 8 kHz)
_SEG_TH = 2_883_600  # frame-sum activity threshold (~expected mean)


def _wav_pcm_chained(doc_id: int) -> bytes:
    """Aperiodic PCM for the segmentation assets: CHAINED md5 blocks
    (md5(id:block) per 32-hex-char block) instead of _wav_pcm's single
    repeated digest — the repeat has period 16 samples, which divides
    the 160-sample frame and would make every frame sum identical."""
    ch, nf = _wav_geom(doc_id)
    n = nf * ch * _WAV_WIDTH
    s = "".join(
        hashlib.md5(f"{doc_id}:{b}".encode()).hexdigest()
        for b in range(n // 32 + 1)
    )
    return s[:n].encode("ascii")


def _encode_wavs_chained(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import io
    import wave

    for pdf in batches:
        payloads = []
        for doc_id in pdf["asset_id"]:
            doc_id = int(doc_id)
            ch, _ = _wav_geom(doc_id)
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(ch)
                w.setsampwidth(_WAV_WIDTH)
                w.setframerate(_WAV_RATE)
                w.writeframes(_wav_pcm_chained(doc_id))
            payloads.append(buf.getvalue())
        yield pd.DataFrame({"asset_id": pdf["asset_id"], "payload": payloads})


_AUDIO_SEG_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_id", IntegerType()),
        StructField("frame_sum", LongType()),
    ]
)


def _audio_frame_sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import io
    import wave

    import numpy as np

    for pdf in batches:
        rows: dict[str, list] = {k.name: [] for k in _AUDIO_SEG_SCHEMA}
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            with wave.open(io.BytesIO(bytes(payload))) as w:
                frames = w.readframes(w.getnframes())
            v = np.frombuffer(frames, dtype="<i2").astype(np.int64)
            nfr = len(v) // _SEG_FRAME
            sums = v[: nfr * _SEG_FRAME].reshape(nfr, _SEG_FRAME).sum(axis=1)
            rows["asset_id"].extend([asset_id] * nfr)
            rows["frame_id"].extend(range(nfr))
            rows["frame_sum"].extend(int(x) for x in sums)
        yield pd.DataFrame(rows)


_AUDIO_SEG_SQL = f"""
WITH geom AS (
  SELECT doc_id AS asset_id,
         1 + doc_id % 2 AS ch,
         800 + (doc_id % 5) * 160 AS nf
  FROM documents
),
pcm AS (
  SELECT asset_id, ch, nf,
         substr(string_agg(md5(CAST(asset_id AS VARCHAR) || ':' ||
                               CAST(b AS VARCHAR)), '' ORDER BY b),
                1, CAST(nf * ch * 2 AS INT)) AS s
  FROM geom, unnest(range(0, (nf * ch * 2) // 32 + 1)) AS t(b)
  GROUP BY asset_id, ch, nf
),
samp AS (
  SELECT asset_id, ch, nf,
         list_transform(range(0, nf * ch),
           i -> ascii(substr(s, CAST(2 * i + 1 AS INT), 1))
                + 256 * ascii(substr(s, CAST(2 * i + 2 AS INT), 1))) AS v
  FROM pcm
),
frames AS (
  SELECT asset_id, f AS frame_id,
         list_sum(list_slice(v, CAST(f * {_SEG_FRAME} + 1 AS INT),
                             CAST((f + 1) * {_SEG_FRAME} AS INT))) AS e
  FROM samp, unnest(range(0, (nf * ch) // {_SEG_FRAME})) AS t(f)
),
act AS (
  SELECT asset_id,
         frame_id - ROW_NUMBER() OVER (PARTITION BY asset_id
                                       ORDER BY frame_id) AS grp
  FROM frames WHERE e > {_SEG_TH}
),
seg AS (
  SELECT asset_id, grp, COUNT(*) AS len FROM act GROUP BY asset_id, grp
),
pa AS (
  SELECT asset_id, COUNT(*) AS n_segments, MAX(len) AS longest_segment,
         SUM(len) AS n_active
  FROM seg GROUP BY asset_id
),
tot AS (SELECT asset_id, COUNT(*) AS n_frames FROM frames GROUP BY asset_id)
SELECT t.asset_id,
       CAST(t.n_frames AS BIGINT) AS n_frames,
       CAST(COALESCE(p.n_active, 0) AS BIGINT) AS n_active,
       CAST(COALESCE(p.n_segments, 0) AS BIGINT) AS n_segments,
       CAST(COALESCE(p.longest_segment, 0) AS BIGINT) AS longest_segment
FROM tot t LEFT JOIN pa p ON t.asset_id = p.asset_id
ORDER BY t.asset_id
"""


@register(
    "multimodal_audio_segments",
    _AUDIO_SEG_SQL,
    doc=f"VAD-style activity segmentation over REAL WAV payloads: "
    f"stdlib wave decode, {_SEG_FRAME}-sample (20 ms) frame sums via "
    "one vectorized numpy pass per asset, then frames above the "
    "activity threshold coalesce into run-length islands with the "
    "frame_id - row_number gaps-and-islands key — per-asset segment "
    "count, active-frame total, and longest segment, the speech/"
    "silence structure readout a captioning pipeline batches on. PCM "
    "is chained md5 blocks (aperiodic — a repeated digest's period "
    "divides the frame and degenerates every frame sum to one value), "
    "so the DuckDB twin recomputes every sample, frame sum, and "
    "island byte-exactly. mapInPandas is Arrow-batched; the island "
    "window keys on asset_id — parallelism is asset cardinality.",
)
def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (docs,) = load_tables(spark, sf_dir, "documents")
    assets = docs.select(F.col("doc_id").alias("asset_id"))
    payloads = assets.mapInPandas(_encode_wavs_chained, _PAYLOAD_SCHEMA)
    frames = payloads.mapInPandas(_audio_frame_sums, _AUDIO_SEG_SCHEMA)
    w = Window.partitionBy("asset_id").orderBy("frame_id")
    act = frames.where(F.col("frame_sum") > _SEG_TH).select(
        "asset_id",
        (F.col("frame_id") - F.row_number().over(w)).alias("grp"),
    )
    seg = act.groupBy("asset_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    pa = seg.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.max("len").alias("longest_segment"),
        F.sum("len").alias("n_active"),
    )
    tot = frames.groupBy("asset_id").agg(F.count(F.lit(1)).alias("n_frames"))
    return ordered(
        tot.join(pa, "asset_id", "left")
        .select(
            "asset_id",
            "n_frames",
            F.coalesce("n_active", F.lit(0)).cast("long").alias("n_active"),
            F.coalesce("n_segments", F.lit(0))
            .cast("long")
            .alias("n_segments"),
            F.coalesce("longest_segment", F.lit(0))
            .cast("long")
            .alias("longest_segment"),
        ),
        "asset_id",
    )


# --- autocorrelation pitch/periodicity over REAL WAV payloads ----------
#
# The dominant-period readout an audio curation pipeline uses to split
# tonal from noise-like clips (speech/music has a strong short-lag
# autocorrelation peak; hiss does not). Deliberately NOT a DFT: spectral
# bins need cos/sin, whose last-ulp values differ between libm and
# java.lang.Math, so a hash gate over trig outputs would be flaky by
# construction. Lag-domain autocorrelation over int16 PCM is pure
# integer arithmetic — exact, engine-portable, and the classic pitch
# detector. DC is removed in scaled-integer form (y_k = N*x_k - S with
# S the window sum), so no fractions appear anywhere.

_PITCH_N = 64  # analysis window: first 64 channel-0 samples (8 ms @ 8 kHz)
_PITCH_TAU_LO = 2
_PITCH_TAU_HI = 20

_PITCH_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("dominant_period", IntegerType()),
        StructField("est_freq_hz", IntegerType()),
        StructField("peak_r", LongType()),
        StructField("r0", LongType()),
    ]
)


def _audio_pitch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import io
    import wave

    import numpy as np

    for pdf in batches:
        rows: dict[str, list] = {k.name: [] for k in _PITCH_SCHEMA}
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            with wave.open(io.BytesIO(bytes(payload))) as w:
                nch = w.getnchannels()
                frames = w.readframes(w.getnframes())
            v = np.frombuffer(frames, dtype="<i2").astype(np.int64)
            x = v[::nch][:_PITCH_N]  # channel 0
            y = _PITCH_N * x - x.sum()  # scaled DC removal, exact ints
            rs = [
                int(np.dot(y[: _PITCH_N - t], y[t:]))
                for t in range(_PITCH_TAU_LO, _PITCH_TAU_HI + 1)
            ]
            k = int(np.argmax(rs))  # first max <=> smallest tau on ties
            rows["asset_id"].append(asset_id)
            rows["dominant_period"].append(_PITCH_TAU_LO + k)
            rows["est_freq_hz"].append(_WAV_RATE // (_PITCH_TAU_LO + k))
            rows["peak_r"].append(rs[k])
            rows["r0"].append(int(np.dot(y, y)))
        yield pd.DataFrame(rows)


_PITCH_SQL = f"""
WITH geom AS (
  SELECT doc_id AS asset_id, 1 + doc_id % 2 AS ch FROM documents
),
pcm AS (
  SELECT asset_id, ch,
         substr(string_agg(md5(CAST(asset_id AS VARCHAR) || ':' ||
                               CAST(b AS VARCHAR)), '' ORDER BY b),
                1, CAST({_PITCH_N} * ch * 2 AS INT)) AS s
  FROM geom, unnest(range(0, ({_PITCH_N} * ch * 2) // 32 + 1)) AS t(b)
  GROUP BY asset_id, ch
),
samp AS (
  SELECT asset_id,
         list_transform(range(0, {_PITCH_N}), i ->
           CAST(ascii(substr(s, CAST(2 * i * ch + 1 AS INT), 1))
              + 256 * ascii(substr(s, CAST(2 * i * ch + 2 AS INT), 1))
             AS BIGINT)) AS x
  FROM pcm
),
cent AS (
  SELECT asset_id, list_transform(x, v -> {_PITCH_N} * v - sx) AS y
  FROM (SELECT asset_id, x, list_sum(x) AS sx FROM samp) q
),
ac AS (
  SELECT asset_id, tau,
         list_sum(list_transform(range(1, {_PITCH_N} + 1 - tau),
                                 k -> y[CAST(k AS INT)]
                                      * y[CAST(k + tau AS INT)])) AS rv
  FROM cent, unnest(range({_PITCH_TAU_LO}, {_PITCH_TAU_HI} + 1)) AS t(tau)
),
rz AS (
  SELECT asset_id, list_sum(list_transform(y, v -> v * v)) AS r0 FROM cent
),
best AS (
  SELECT asset_id, tau, rv,
         ROW_NUMBER() OVER (PARTITION BY asset_id
                            ORDER BY rv DESC, tau) AS rn
  FROM ac
)
SELECT b.asset_id,
       CAST(b.tau AS INT) AS dominant_period,
       CAST({_WAV_RATE} // b.tau AS INT) AS est_freq_hz,
       CAST(b.rv AS BIGINT) AS peak_r,
       CAST(rz.r0 AS BIGINT) AS r0
FROM best b JOIN rz ON b.asset_id = rz.asset_id
WHERE rn = 1
ORDER BY b.asset_id
"""


@register(
    "multimodal_audio_pitch",
    _PITCH_SQL,
    doc=f"Autocorrelation pitch/periodicity detection over REAL WAV "
    f"payloads: stdlib wave decode, first {_PITCH_N} channel-0 int16 "
    f"samples, scaled-integer DC removal (y = N*x - sum(x)), then the "
    f"lag-domain autocorrelation R(tau) for tau in "
    f"[{_PITCH_TAU_LO}, {_PITCH_TAU_HI}] — dominant period = argmax "
    "(smallest lag on ties), est_freq_hz = rate // period. Exact "
    "integer arithmetic end to end: a DFT would hash-diverge on "
    "libm-vs-Java trig ulps, while the autocorrelation peak carries "
    "the same tonal-vs-noise signal bit-identically in both engines. "
    "The oracle rebuilds every PCM sample from the chained-md5 ASCII "
    "source and replays the identical integer pipeline; mapInPandas "
    "is Arrow-batched, per-asset work is O(N * n_lags) map-side with "
    "no shuffle before the final 1-row-per-asset sort.",
)
def multimodal_audio_pitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    assets = docs.select(F.col("doc_id").alias("asset_id"))
    payloads = assets.mapInPandas(_encode_wavs_chained, _PAYLOAD_SCHEMA)
    return stage_sorted(
        payloads.mapInPandas(_audio_pitch, _PITCH_SCHEMA),
        "mm_pitch",
        "asset_id",
    )
