"""Hypothesis property tests: CSV dialect parity with DuckDB under
adversarial field content, and exactness of the decimal-sum policy."""

from __future__ import annotations

import csv
import decimal
import os

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from _imdb_etl_spark.functions import dec, dsum
from _imdb_etl_spark.sources.csv_source import read_staging_csv

# unicode minus newlines/carriage returns (the engine reads CSV with
# multiLine=False — splittable files at scale; the reference data has no
# embedded newlines) and minus NUL: Spark's univocity parser drops
# \x00 inside quoted fields where DuckDB preserves it — a known
# cross-engine divergence for content no real CSV corpus contains.
_FIELD = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",), blacklist_characters="\n\r\x00"
    ),
    max_size=40,
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(-10**6, 10**6) | st.none(), _FIELD),
        min_size=1,
        max_size=30,
    )
)
def test_csv_dialect_parity_with_duckdb(spark, tmp_path_factory, rows):
    d = tmp_path_factory.mktemp("csvprop")
    path = os.path.join(str(d), "t.csv")
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, quoting=csv.QUOTE_ALL, doublequote=True)
        w.writerow(["a", "b"])
        for a, b in rows:
            w.writerow(["NULL" if a is None else a, b])

    schema = StructType(
        [StructField("a", IntegerType()), StructField("b", StringType())]
    )
    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs
    before = persistent().size()
    df = read_staging_csv(spark, path, schema)
    got = sorted(((r.a, r.b) for r in df.collect()), key=repr)
    df.unpersist()
    assert persistent().size() == before
    con = duckdb.connect()
    want = sorted(
        con.sql(
            f"SELECT * FROM read_csv('{path}', header=true, nullstr='NULL', "
            "quote='\"', escape='\"', "
            "columns={'a':'INTEGER','b':'VARCHAR'})"
        ).fetchall(),
        key=repr,
    )
    con.close()
    # quoted "NULL" is still the null sentinel in both engines; empty
    # strings survive as empty strings in both
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cents=st.lists(st.integers(-10**7, 10**7), min_size=1, max_size=200),
    n_parts=st.integers(1, 13),
)
def test_decimal_sum_policy_exact(spark, cents, n_parts):
    values = [c / 100 for c in cents]
    df = spark.createDataFrame([(v,) for v in values], ["v"]).repartition(n_parts)
    got = df.agg(dsum(dec("v"), "s")).collect()[0].s
    want = float(sum(decimal.Decimal(c) for c in cents) / 100)
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    snaps=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),  # key
            st.sampled_from(["A", "B", "C"]),  # attr value
        ),
        min_size=1,
        max_size=24,
    )
)
def test_scd2_history_invariants(spark, snaps):
    """SCD2 output laws for any snapshot history: per key, exactly one
    open (is_current) row, validity ranges chain without gaps or
    overlaps, and consecutive history rows always change the attr."""
    from collections import defaultdict

    from _imdb_etl_spark.plans.scale import scd2_history

    per_key = defaultdict(list)
    for k, v in snaps:
        per_key[k].append(v)
    rows = [
        (k, v, i + 1, f"2024-{i + 1:02d}-01")
        for k, vals in per_key.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "k long, attr string, snap_ver int, snap_date string"
    )
    hist = defaultdict(list)
    for r in scd2_history(df, "k", "attr").collect():
        hist[r["k"]].append(r)
    assert set(hist) == set(per_key)
    for k, h in hist.items():
        h.sort(key=lambda r: r["valid_from"])
        assert sum(r["is_current"] for r in h) == 1
        assert h[-1]["is_current"] and h[-1]["valid_to"] is None
        assert h[0]["valid_from"] == "2024-01-01"
        for prev, nxt in zip(h, h[1:]):
            assert prev["valid_to"] == nxt["valid_from"]  # no gap/overlap
            assert prev["attr"] != nxt["attr"]  # rows only on change
        # replaying the snapshots through the history gives the attrs back
        for i, v in enumerate(per_key[k]):
            d = f"2024-{i + 1:02d}-01"
            (match,) = [
                r
                for r in h
                if r["valid_from"] <= d and (r["valid_to"] is None or d < r["valid_to"])
            ]
            assert match["attr"] == v


_VAL = st.one_of(
    st.none(),
    st.integers(min_value=-(2**62), max_value=2**62),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=12),
)


@settings(max_examples=50, deadline=None)
@given(
    rows=st.lists(st.tuples(_VAL, _VAL, _VAL), min_size=1, max_size=12),
    data=st.data(),
)
def test_canon_hash_invariant_under_row_and_column_order(rows, data):
    """The gate's comparison contract: the canonical hash must not
    depend on row order or on the order columns are presented in —
    only on the (column-name -> value) multiset."""
    import random

    from _imdb_etl_spark.testing import canon_rows

    cols = ["b_col", "a_col", "c_col"]
    _, h0 = canon_rows(cols, rows)

    shuffled_rows = list(rows)
    random.Random(data.draw(st.integers(0, 10**6))).shuffle(shuffled_rows)
    _, h1 = canon_rows(cols, shuffled_rows)
    assert h1 == h0

    perm = data.draw(st.permutations(range(3)))
    pcols = [cols[i] for i in perm]
    prows = [tuple(r[i] for i in perm) for r in rows]
    _, h2 = canon_rows(pcols, prows)
    assert h2 == h0


# --- PNG codec: random geometry x channels x filter type must round-trip
# pixel-exactly; the decoder must reject a flipped byte (CRC) ---

_png_case = st.tuples(
    st.integers(min_value=1, max_value=24),  # width
    st.integers(min_value=1, max_value=12),  # height
    st.sampled_from([1, 3, 4]),              # channels
    st.integers(min_value=0, max_value=4),   # filter type
    st.randoms(use_true_random=False),
)


@settings(max_examples=40, deadline=None)
@given(case=_png_case)
def test_png_codec_roundtrip_property(case):
    from _imdb_etl_spark.operators.png_codec import decode_png, encode_png

    w, h, channels, ftype, rng = case
    pix = bytes(rng.randrange(256) for _ in range(w * h * channels))
    data = encode_png(pix, w, h, channels, filter_type=ftype)
    ww, hh, _mode, got = decode_png(data)
    assert (ww, hh) == (w, h)
    assert got == pix

    # corrupting any single payload byte must raise (chunk CRC check)
    i = rng.randrange(8, len(data) - 4)
    corrupt = bytearray(data)
    corrupt[i] ^= 0xFF
    if bytes(corrupt) != data:
        with pytest.raises(ValueError):
            decode_png(bytes(corrupt))


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",),
                blacklist_characters="\\\x00",
            ),
            min_size=0,
            max_size=30,
        ),
        min_size=1,
        max_size=8,
        unique=True,
    ),
    n=st.integers(min_value=1, max_value=8),
)
def test_md5_prefix_int_cross_engine_parity(spark, texts, n):
    """The shared md5-hex-prefix helpers (every content-stable bucket,
    LSH position, shard split, and checksum derives from them) agree
    between the DuckDB SQL generator and the Spark expression for
    arbitrary strings and prefix widths."""
    from _imdb_etl_spark.functions import hex_prefix_int, md5_prefix_int_sql

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = {
        r.t: r.v
        for r in df.select(
            "t", hex_prefix_int(F.md5(F.col("t")), n).alias("v")
        ).collect()
    }
    con = duckdb.connect()
    sql = md5_prefix_int_sql("t", n)
    for t in texts:
        esc = t.replace("'", "''")
        want = con.execute(
            f"SELECT {sql} FROM (SELECT '{esc}' AS t)"
        ).fetchone()[0]
        assert got[t] == want, (t, n)


def _py_bpe_reference(texts: list[str], n_rounds: int):
    """Independent pure-Python BPE: greedy left-to-right non-overlapping
    merge, rule = (count DESC, pair ASC). A third implementation so a
    bug shared by the Spark face and its DuckDB twin can't hide."""
    from collections import Counter

    streams = [list(w) for t in texts for w in t.split(" ") if w]
    table = []
    for k in range(1, n_rounds + 1):
        counts: Counter = Counter()
        for s in streams:
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += 1
        if not counts:
            break
        # tie key = the chr(31)-joined pair string — EXACTLY the key
        # both engines rank (corpus.py's `k` column); plain (a, b)
        # tuple order agrees only while every symbol char > chr(31)
        (a, b), cnt = min(
            counts.items(),
            key=lambda kv: (-kv[1], kv[0][0] + chr(31) + kv[0][1]),
        )
        merged = a + b
        nxt = []
        for s in streams:
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            nxt.append(out)
        streams = nxt
        table.append((k, a, b, cnt, sum(len(s) for s in streams)))
    return table


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_bpe_train_rounds_match_pure_python(spark, data):
    """The distributed BPE loop (string-replace re-segmentation over
    the chr(31)-delimited stream) must equal the symbol-list reference
    for any corpus: same rules, same counts, same per-round sizes.
    Tiny alphabets force heavy ties, exercising the (count DESC, pair
    ASC) tiebreak; repeated letters exercise the non-overlapping
    greedy-merge edge ("aaa" + (a,a) -> [aa, a])."""
    from _imdb_etl_spark.operators.corpus import bpe_train_rounds

    texts = data.draw(
        st.lists(
            st.text(alphabet="aab c", min_size=0, max_size=12),
            min_size=1,
            max_size=6,
        )
    )
    n_rounds = data.draw(st.integers(min_value=1, max_value=3))
    expected = _py_bpe_reference(texts, n_rounds)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r.merge_rank, r.sym_a, r.sym_b, r.pair_cnt, r.symbols_after)
        for r in bpe_train_rounds(spark, docs, n_rounds).collect()
    ]
    assert got == expected


def _py_levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_fuzzy_name_pairs_complete_vs_bruteforce(spark, data):
    """FastSS candidate COMPLETENESS: the deletion-neighborhood
    signature join must find EVERY name pair with a shared first token
    and Levenshtein distance <= 1 — verified against a brute-force
    O(n^2) scalar Levenshtein over arbitrary name tables. Tiny
    alphabets force dense ED<=1 collisions (substitution, insertion,
    deletion, and the ED=0 diagonal); the gate's fixed corpus cannot
    distinguish completeness from luck, this can."""
    import itertools

    from _imdb_etl_spark.plans.advanced import _fuzzy_name_pairs

    names = data.draw(
        st.lists(
            st.tuples(
                st.text(alphabet="ab", min_size=1, max_size=3),
                st.text(alphabet="xy", min_size=0, max_size=3),
            ).map(lambda t: (t[0] + " " + t[1]).strip()),
            min_size=1,
            max_size=12,
        )
    )
    df = spark.createDataFrame([(n,) for n in names], "p_name string")
    got = sorted((r.nm_a, r.nm_b) for r in _fuzzy_name_pairs(df).collect())
    uniq = sorted(set(names))
    exp = sorted(
        (a, b)
        for a, b in itertools.combinations_with_replacement(uniq, 2)
        if a.split(" ")[0] == b.split(" ")[0] and _py_levenshtein(a, b) <= 1
    )
    assert got == exp


def _py_bpe_batched_reference(
    texts: list[str], n_rounds: int, k: int, cand: int = 64
):
    """Independent pure-Python replay of the BATCHED trainer: per round,
    rank round-start pair counts (count DESC, pair ASC), greedily take
    up to k pairwise symbol-disjoint merges from the top-`cand` window,
    apply them SEQUENTIALLY in selection order (each merge sees the
    stream left by the previous one — the engines chain replaces the
    same way), then record the post-round symbol total."""
    from collections import Counter

    streams = [list(w) for t in texts for w in t.split(" ") if w]
    table = []
    for r in range(1, n_rounds + 1):
        counts: Counter = Counter()
        for s in streams:
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += 1
        # same chr(31)-joined tie key as the engines (see the strict
        # reference above)
        ranked = sorted(
            counts.items(),
            key=lambda kv: (-kv[1], kv[0][0] + chr(31) + kv[0][1]),
        )[:cand]
        used: set = set()
        sel = []
        for (a, b), cnt in ranked:
            if len(sel) >= k:
                break
            if a in used or b in used:
                continue
            sel.append((a, b, cnt))
            used.update((a, b))
        if not sel:
            break
        for a, b, _cnt in sel:  # selection order, like the chained
            merged = a + b  # F.replace / w{r}x{j} CTE applications
            nxt = []
            for s in streams:
                out, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        out.append(merged)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                nxt.append(out)
            streams = nxt
        after = sum(len(s) for s in streams)
        table.extend(
            ((r - 1) * k + j, a, b, cnt, after)
            for j, (a, b, cnt) in enumerate(sel, 1)
        )
    return table


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_bpe_train_batched_matches_pure_python(spark, data):
    """The training loop must equal the symbol-list batched reference
    for any corpus, any k and any candidate window (cand=1 and 2 make
    windows smaller than k): same greedy symbol-disjoint selection
    from the shared window, same sequential application order, same
    round-start counts and post-round totals. At k=1 (any window;
    k=1, cand=1 is the strict faces' configuration) it is also
    asserted against the strict greedy reference."""
    from _imdb_etl_spark.operators.corpus import bpe_train_rounds

    texts = data.draw(
        st.lists(
            st.text(alphabet="aab c", min_size=0, max_size=12),
            min_size=1,
            max_size=6,
        )
    )
    n_rounds = data.draw(st.integers(min_value=1, max_value=2))
    k = data.draw(st.integers(min_value=1, max_value=3))
    cand = data.draw(st.sampled_from([1, 2, 64]))
    expected = _py_bpe_batched_reference(texts, n_rounds, k, cand)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r.merge_rank, r.sym_a, r.sym_b, r.pair_cnt, r.symbols_after)
        for r in bpe_train_rounds(
            spark, docs, n_rounds, k=k, cand=cand
        ).collect()
    ]
    assert got == expected
    if k == 1:
        assert expected == _py_bpe_reference(texts, n_rounds)


def test_bpe_lineage_checkpoint_is_lossless(spark, monkeypatch):
    """The periodic parquet lineage checkpoint (which bounds Catalyst
    plan depth — without it a 64-round training run OOMs the driver
    JVM on plan-tree growth) must be invisible to the result: with the
    interval forced to 2, the training loop's output through several
    checkpoint crossings equals the pure-Python references, both in
    the strict configuration (k=1, cand=1) and in a batched one (k=2)."""
    from _imdb_etl_spark.operators import corpus as corpus_mod

    monkeypatch.setattr(corpus_mod, "_BPE_CKPT_EVERY", 2)
    texts = ["abracadabra alakazam " * 3 + "banana bandana cabana"] * 2
    docs = spark.createDataFrame(
        [(i, t.strip()) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    got = [
        (r.merge_rank, r.sym_a, r.sym_b, r.pair_cnt, r.symbols_after)
        for r in corpus_mod.bpe_train_rounds(spark, docs, 6).collect()
    ]
    assert got == _py_bpe_reference([t.strip() for t in texts], 6)
    got_b = [
        (r.merge_rank, r.sym_a, r.sym_b, r.pair_cnt, r.symbols_after)
        for r in corpus_mod.bpe_train_rounds(
            spark, docs, 4, k=2, cand=corpus_mod._BPE_BATCH_CAND
        ).collect()
    ]
    assert got_b == _py_bpe_batched_reference(
        [t.strip() for t in texts], 4, 2
    )


def test_bpe_batched_plan_depth_bounded_at_production_k(spark, monkeypatch):
    """The merges-applied checkpoint keying exists precisely so that a
    LARGE per-round batch cannot stack 16*k chained replaces before the
    lineage truncates (the round-7 advisory) — pin it at production
    k=16, not just the k<=4 the other tests exercise. A 20-word corpus
    of disjoint 3-char words yields 16+16+8 merges over 3 rounds, so
    the checkpoint fires twice; at every checkpoint entry (the
    maximum-depth moment: the chain resets to a parquet read right
    after) the analyzed plan's replace-chain must stay <=
    _BPE_CKPT_EVERY + k - 1 (the interval can overshoot by at most one
    round's k-1 before the >= test trips). Output still equals the
    pure-Python batched reference."""
    from _imdb_etl_spark.operators import corpus as corpus_mod

    k = 16
    real_ckpt = corpus_mod._bpe_ckpt_stream
    depths: list[int] = []

    def spy_ckpt(spark_, df, gen, run_id):
        plan = df._jdf.queryExecution().analyzed().toString()
        depths.append(plan.count("replace("))
        return real_ckpt(spark_, df, gen, run_id)

    monkeypatch.setattr(corpus_mod, "_bpe_ckpt_stream", spy_ckpt)
    import string

    alphabet = string.ascii_lowercase + string.ascii_uppercase + string.digits
    words = ["".join(alphabet[3 * i : 3 * i + 3]) for i in range(20)]
    # staggered suffixes give the early words distinct frequencies;
    # remaining ties break by (count DESC, pair ASC) in both twins
    texts = [" ".join(words[i:]) for i in range(8)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r.merge_rank, r.sym_a, r.sym_b, r.pair_cnt, r.symbols_after)
        for r in corpus_mod.bpe_train_rounds(
            spark, docs, 3, k=k, cand=corpus_mod._BPE_BATCH_CAND
        ).collect()
    ]
    assert got == _py_bpe_batched_reference(texts, 3, k)
    assert len(depths) >= 2, depths  # the bound was actually exercised
    bound = corpus_mod._BPE_CKPT_EVERY + k - 1
    assert all(d <= bound for d in depths), (depths, bound)


def test_bpe_encode_oracle_passes_stream_through_when_pairs_exhausted():
    """Regression pin: on a corpus whose pairs run out before the
    configured rounds, the Spark loop breaks and keeps the stream; the
    oracle's per-round CTE must pass the stream through a NULL rule
    (LEFT JOIN ON TRUE) instead of vanishing it via CROSS JOIN with an
    empty rule relation — 'ab ab' exhausts after one merge and must
    still tokenize to [('ab', 2)]."""
    from _imdb_etl_spark.operators.corpus import _BPE_ENCODE_SQL

    con = duckdb.connect()
    con.sql("CREATE TABLE documents AS SELECT 1 AS doc_id, 'ab ab' AS text")
    assert con.sql(_BPE_ENCODE_SQL).fetchall() == [("ab", 2)]
    con.close()


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_interval_coalesce_matches_pure_python(spark, data):
    """Interval-union property: for arbitrary per-user timelines the
    windowed running-MAX(end) islands must equal a scalar sweep-line
    merge — including the exact-touch boundary (start == running end
    coalesces: intervals are half-open [s, s+ttl)) and duplicate
    timestamps (tie-broken by event_id in both implementations)."""
    from _imdb_etl_spark.plans.events import interval_coalesce

    ttl = data.draw(st.integers(min_value=1, max_value=20)) * 1000
    rows = []
    eid = 0
    for uid in range(data.draw(st.integers(min_value=1, max_value=3))):
        offs = data.draw(
            st.lists(
                st.integers(min_value=0, max_value=120),
                min_size=1,
                max_size=12,
            )
        )
        for o in offs:
            # seconds offsets make exact ttl-touch (gap == ttl) common
            rows.append((eid, uid, 1_700_000_000_000 + o * 1000))
            eid += 1
    import datetime as dt

    events = spark.createDataFrame(
        [
            (
                e,
                u,
                dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc).replace(
                    tzinfo=None
                ),
            )
            for e, u, ms in rows
        ],
        "event_id long, user_id long, ts timestamp",
    )
    got = {
        r.user_id: (r.n_events, r.n_islands, r.covered_ms)
        for r in interval_coalesce(events, ttl).collect()
    }

    from collections import defaultdict

    per_user = defaultdict(list)
    for _, u, ms in rows:
        per_user[u].append(ms)
    want = {}
    for u, starts in per_user.items():
        islands = []
        for s in sorted(starts):
            e = s + ttl
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        want[u] = (
            len(starts),
            len(islands),
            sum(e - s for s, e in islands),
        )
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(-(10**6), 10**6), min_size=2, max_size=300
    ),
    bkt_div=st.sampled_from([1, 7, 100, 10**4, 10**7]),
)
def test_two_stage_ranking_matches_global_rank(spark, vals, bkt_div):
    """Property pin for the shared two-stage distributed-ranking
    pattern (events_mannwhitney_u / customers_gini_spend /
    orders_spearman_price_items / parts_abc_classification): bucket
    prefix offsets via the triangular self-join plus per-bucket rank
    windows must reproduce the GLOBAL dense 0-based rank (count of
    strictly-smaller values), for any value distribution and any
    bucket granularity — including one-bucket (pure window) and
    one-value-per-bucket (pure offsets) extremes."""
    from pyspark.sql import Window

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id long, v long")
    vc = df.groupBy(
        "v", F.floor(F.col("v") / bkt_div).cast("long").alias("bkt")
    ).agg(F.count(F.lit(1)).cast("long").alias("t"))
    bt = vc.groupBy("bkt").agg(F.sum("t").cast("long").alias("nb"))
    off = (
        bt.alias("a")
        .join(
            F.broadcast(bt.select(F.col("bkt").alias("b2"), F.col("nb").alias("nb2"))),
            F.col("b2") < F.col("a.bkt"),
            "left",
        )
        .groupBy(F.col("a.bkt").alias("bkt"))
        .agg(F.coalesce(F.sum("nb2"), F.lit(0)).cast("long").alias("bkt_off"))
    )
    w = (
        Window.partitionBy("bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    got = {
        r["v"]: r["rank0"]
        for r in vc.join(off, "bkt")
        .withColumn(
            "rank0",
            F.col("bkt_off") + F.coalesce(F.sum("t").over(w), F.lit(0)).cast("long"),
        )
        .collect()
    }
    svals = sorted(vals)
    import bisect

    for v in set(vals):
        assert got[v] == bisect.bisect_left(svals, v), (v, got[v])


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(-(10**4), 10**4),
            st.integers(1, 50),
        ),
        min_size=1,
        max_size=200,
    ),
)
def test_weighted_median_machinery_matches_direct(spark, rows):
    """The grouped two-stage cumulative-weight median (the
    lineitem_weighted_median_price shape) equals the direct
    definition: smallest value whose cumulative weight reaches half
    the group total."""
    from pyspark.sql import Window

    df = spark.createDataFrame(rows, "g string, v long, w long")
    vc = df.groupBy(
        "g", F.floor(F.col("v") / 100).cast("long").alias("bkt"), "v"
    ).agg(F.sum("w").cast("long").alias("w"))
    bt = vc.groupBy("g", "bkt").agg(F.sum("w").cast("long").alias("nb"))
    off = (
        bt.alias("a")
        .join(
            F.broadcast(
                bt.select(
                    F.col("g").alias("gb"),
                    F.col("bkt").alias("bkt_b"),
                    F.col("nb").alias("nb_b"),
                )
            ),
            (F.col("gb") == F.col("a.g")) & (F.col("bkt_b") < F.col("a.bkt")),
            "left",
        )
        .groupBy(F.col("a.g").alias("g"), F.col("a.bkt").alias("bkt"))
        .agg(F.coalesce(F.sum("nb_b"), F.lit(0)).cast("long").alias("bkt_off"))
    )
    w = (
        Window.partitionBy("g", "bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vc.join(off, ["g", "bkt"]).withColumn(
        "cw", F.col("bkt_off") + F.sum("w").over(w).cast("long")
    )
    tot = vc.groupBy(F.col("g").alias("tg")).agg(
        F.sum("w").cast("long").alias("tw")
    )
    got = {
        r["g"]: r["med"]
        for r in cum.join(F.broadcast(tot), F.col("g") == F.col("tg"))
        .groupBy("g")
        .agg(
            F.min(
                F.when(2 * F.col("cw") >= F.col("tw"), F.col("v"))
            ).alias("med")
        )
        .collect()
    }
    from collections import defaultdict

    by_g = defaultdict(list)
    for g, v, wgt in rows:
        by_g[g].append((v, wgt))
    for g, items in by_g.items():
        items.sort()
        total = sum(w for _, w in items)
        c = 0
        for v, wgt in items:
            c += wgt
            if 2 * c >= total:
                assert got[g] == v, (g, got[g], v)
                break


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_prefix_filter_lossless_on_random_corpora(
    spark, duck, tmp_path_factory, data
):
    """Prefix filtering must return EXACTLY the all-pairs Jaccard
    result (the oracle SQL, run by DuckDB on the same parquet) on
    randomly generated corpora with planted near-dups — the hypothesis
    generalization of the fixed-corpus equality pin."""
    import random

    import _imdb_etl_spark.plans  # noqa: F401  (ordered operator imports)
    from _imdb_etl_spark.operators.dedup import (
        _JACCARD_SQL,
        dedup_jaccard_prefix,
        dedup_jaccard_prefix_incremental,
    )
    from _imdb_etl_spark.testing import canon_rows

    seed = data.draw(st.integers(0, 2**32 - 1))
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(data.draw(st.integers(30, 300)))]
    docs = []
    n_docs = data.draw(st.integers(8, 40))
    for i in range(n_docs):
        toks = [rng.choice(vocab) for _ in range(rng.randint(4, 30))]
        docs.append((i, " ".join(toks)))
        if rng.random() < 0.4:  # plant a near-dup: mutate a few tokens
            mut = list(toks)
            for _ in range(rng.randint(0, 2)):
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            docs.append((1000 + i, " ".join(mut)))
    d = str(tmp_path_factory.mktemp("pfx") / "c")
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(
        1
    ).write.parquet(f"{d}/documents.parquet")

    cols, exact = duck(d, _JACCARD_SQL)

    def canon(df):
        return canon_rows(df.columns, [tuple(r) for r in df.collect()])

    pref = canon(dedup_jaccard_prefix(spark, d))
    assert pref == canon_rows(cols, exact), (seed, len(pref[0]), len(exact))

    # the incremental face must equal exact's cross-boundary slice on
    # the same random corpus (planted mutants land on both sides of
    # the %5 split, and mutated trigram contexts produce shingles the
    # index dictionary has never seen — the asymmetric-dictionary path)
    inc = canon(dedup_jaccard_prefix_incremental(spark, d))
    want = [r for r in exact if (r[0] % 5 == 4) != (r[1] % 5 == 4)]
    assert inc == canon_rows(cols, want), (seed, len(inc[0]), len(want))


# --- round-6 continuation ops under random inputs -------------------------
#
# The continuation ops each carry a pure-Python replay pinned on the
# driver corpus; these properties re-run the SAME comparisons on
# hypothesis-generated inputs, where gaps, ties, empty strings, and
# degenerate lengths occur far more often than in the fixture data.
# Each example writes a synthetic parquet table shaped like the driver
# schema and runs the REGISTERED builder against it — the production
# entry point, not a private helper.

_tmp_counter = [0]


def _mk_dir(tmp_path_factory, spark, name, pdf):
    import pandas as pd

    _tmp_counter[0] += 1
    d = tmp_path_factory.mktemp(f"prop_{name}_{_tmp_counter[0]}")
    spark.createDataFrame(pd.DataFrame(pdf)).write.mode("overwrite").parquet(
        os.path.join(str(d), f"{name}.parquet")
    )
    return str(d)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    counts=st.lists(
        st.tuples(st.integers(0, 120), st.integers(1, 5)),  # (hour, n)
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    )
)
def test_ewma_burst_property_gappy_series(spark, tmp_path_factory, counts):
    """events_ewma_burst on a random GAPPY hourly series: the dyadic
    baseline, residual, and burst flag must match the dense pure-Python
    recursion for any gap pattern (the spine is the part fixture data
    barely exercises: driver events rarely skip hours at sf0.1)."""
    import datetime

    from _imdb_etl_spark.plans.events import (
        _EWMA_LAGS,
        _EWMA_SCALE,
        _ewma_weight,
    )
    from _imdb_etl_spark.plans import REGISTRY

    base = datetime.datetime(2024, 3, 1)
    rows = {"event_id": [], "ts": [], "user_id": [], "event_type": [], "value": [], "props": []}
    eid = 0
    for hour, n in counts:
        for k in range(n):
            rows["event_id"].append(eid)
            rows["ts"].append(base + datetime.timedelta(hours=hour, minutes=k))
            rows["user_id"].append(1)
            rows["event_type"].append("view")
            rows["value"].append(1.0)
            rows["props"].append("{}")
            eid += 1
    d = _mk_dir(tmp_path_factory, spark, "events", rows)
    got = REGISTRY["events_ewma_burst"].spark(spark, d).collect()

    hours = sorted(h for h, _ in counts)
    lo, hi = hours[0], hours[-1]
    ns = {h: n for h, n in counts}
    dense = [ns.get(h, 0) for h in range(lo, hi + 1)]
    want = []
    for i in range(_EWMA_LAGS, len(dense)):
        ew = sum(
            dense[i - k] * _ewma_weight(k) for k in range(1, _EWMA_LAGS + 1)
        )
        want.append(
            (
                dense[i],
                ew,
                dense[i] * _EWMA_SCALE - ew,
                1 if dense[i] * _EWMA_SCALE > 2 * ew + 3 * _EWMA_SCALE else 0,
            )
        )
    assert [
        (r.n_events, r.ewma_x32768, r.resid_x32768, r.is_burst) for r in got
    ] == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=60),
        min_size=1,
        max_size=12,
    )
)
def test_winnowing_property_random_texts(spark, tmp_path_factory, texts):
    """text_winnowing_fingerprints on random texts over a 3-symbol
    alphabet (maximizing hash TIES, the rightmost-min rule's hard
    case) plus lengths straddling both short-input edges: counts and
    position-ordered fingerprints must match the pure-Python scan."""
    import hashlib

    from _imdb_etl_spark.operators.text import _WIN_K, _WIN_W
    from _imdb_etl_spark.plans import REGISTRY

    d = _mk_dir(
        tmp_path_factory,
        spark,
        "documents",
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["prop"] * len(texts),
            "n_chars": [len(t) for t in texts],
        },
    )
    got = {
        r.doc_id: r
        for r in REGISTRY["text_winnowing_fingerprints"].spark(spark, d).collect()
    }
    for i, t in enumerate(texts):
        n = len(t)
        hs = (
            [
                hashlib.md5(t[j : j + _WIN_K].encode()).hexdigest()
                for j in range(n - _WIN_K + 1)
            ]
            if n >= _WIN_K
            else []
        )
        sel = set()
        if len(hs) >= _WIN_W:
            for j in range(len(hs) - _WIN_W + 1):
                win = hs[j : j + _WIN_W]
                mn = min(win)
                sel.add(j + max(k for k, v in enumerate(win) if v == mn))
        sel = sorted(sel)
        r = got[i]
        assert r.n_kgrams == len(hs)
        assert r.n_fingerprints == len(sel)
        assert r.fp_md5 == hashlib.md5(
            ",".join(hs[p] for p in sel).encode()
        ).hexdigest()


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="xy ", min_size=0, max_size=50),
        min_size=1,
        max_size=10,
    )
)
def test_span_corruption_property_random_texts(
    spark, tmp_path_factory, texts
):
    """corpus_span_corruption on random texts (empty strings, single
    tokens, runs of separators): the md5-driven span plan must match
    the pure-Python mask union on every document, fingerprints
    included."""
    import hashlib

    from _imdb_etl_spark.operators.corpus import _SPAN_LEN, _SPAN_MOD
    from _imdb_etl_spark.plans import REGISTRY

    d = _mk_dir(
        tmp_path_factory,
        spark,
        "documents",
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["prop"] * len(texts),
            "n_chars": [len(t) for t in texts],
        },
    )
    got = {
        r.doc_id: r
        for r in REGISTRY["corpus_span_corruption"].spark(spark, d).collect()
    }
    for i, t in enumerate(texts):
        n = len(t.split(" "))
        starts = [
            j
            for j in range(1, n + 1)
            if int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:4], 16)
            % _SPAN_MOD
            == 0
        ]
        masked = sorted(
            {k for s in starts for k in range(s, min(s + _SPAN_LEN, n + 1))}
        )
        r = got[i]
        assert r.n_tokens == n
        assert r.n_spans == len(starts)
        assert r.n_masked == len(masked)
        assert r.mask_md5 == hashlib.md5(
            ",".join(str(k) for k in masked).encode()
        ).hexdigest()


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lens=st.lists(st.integers(1, 40), min_size=1, max_size=80),
)
def test_batch_padding_property_dominance(spark, tmp_path_factory, lens):
    """corpus_batch_padding_plan on random length distributions:
    sorted batching never pads more than arrival order, totals are
    conserved, and both bills match the pure-Python batcher."""
    from _imdb_etl_spark.operators.corpus import _BATCH_SIZE
    from _imdb_etl_spark.plans import REGISTRY

    texts = ["w" + " w" * (n - 1) for n in lens]
    d = _mk_dir(
        tmp_path_factory,
        spark,
        "documents",
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["prop"] * len(texts),
            "n_chars": [len(t) for t in texts],
        },
    )
    rows = {
        r.strategy: r
        for r in REGISTRY["corpus_batch_padding_plan"].spark(spark, d).collect()
    }

    def bill(order):
        padded = 0
        for i in range(0, len(order), _BATCH_SIZE):
            chunk = [lens[doc] for doc in order[i : i + _BATCH_SIZE]]
            padded += max(chunk) * len(chunk)
        return padded

    ids = list(range(len(lens)))
    arr, srt = rows["arrival"], rows["sorted"]
    assert arr.total_tokens == srt.total_tokens == sum(lens)
    assert arr.padded_tokens == bill(sorted(ids))
    assert srt.padded_tokens == bill(
        sorted(ids, key=lambda doc: (lens[doc], doc))
    )
    assert srt.padded_tokens <= arr.padded_tokens


@settings(max_examples=20, deadline=None)
@given(
    period=st.integers(2, 20),
    amp=st.integers(200, 3000),
    phase=st.integers(0, 19),
)
def test_audio_pitch_detects_every_period(period, amp, phase):
    """The autocorrelation detector must find ANY period in its lag
    range from a pure square wave, at any amplitude and phase — the
    detector detects structure, not an artifact of one waveform. Pure
    function property (no Spark in the loop): _audio_pitch is the
    registered op's exact kernel."""
    import io
    import struct
    import wave

    import pandas as pd

    from _imdb_etl_spark.operators.multimodal import (
        _PITCH_N,
        _WAV_RATE,
        _audio_pitch,
    )

    # square wave of period `period`: high for ceil(p/2), low for rest
    samples = [
        amp if ((k + phase) % period) < (period + 1) // 2 else -amp
        for k in range(_PITCH_N)
    ]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(_WAV_RATE)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    out = next(
        _audio_pitch(
            iter([pd.DataFrame({"asset_id": [0], "payload": [buf.getvalue()]})])
        )
    )
    got = int(out["dominant_period"][0])
    # the true period always wins or ties with an exact multiple that
    # is also a perfect period of the signal (e.g. 2 -> 4): accept
    # multiples, reject everything else
    assert got % period == 0, (period, got)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_dau_wau_mau_sweep_matches_bruteforce(spark, tmp_path_factory, data):
    """The interval-sweep DAU/WAU/MAU (per-user coverage islands ->
    +1/-1 day-delta prefix sum) must equal the brute-force trailing
    distinct count for arbitrary sparse activity patterns — gaps
    longer than the window (island splits), repeat user-days, windows
    extending past the data, and single-user days. The registered
    oracle cross-checks the fan-out formulation at sf0.001/sf0.01;
    this pins the sweep against a THIRD implementation on adversarial
    shapes the fixture corpus never produces."""
    import datetime

    from _imdb_etl_spark.plans import REGISTRY

    base = datetime.datetime(2024, 3, 1)
    n_users = data.draw(st.integers(min_value=1, max_value=4))
    activity = set()
    for uid in range(n_users):
        days = data.draw(
            st.lists(
                st.integers(min_value=0, max_value=90),
                min_size=1,
                max_size=15,
            )
        )
        for d in days:
            activity.add((uid, d))
    rows = {
        "event_id": [],
        "ts": [],
        "user_id": [],
        "event_type": [],
        "value": [],
        "props": [],
    }
    for eid, (uid, d) in enumerate(sorted(activity)):
        rows["event_id"].append(eid)
        # two events on some user-days: the sweep must dedupe activity
        rows["ts"].append(base + datetime.timedelta(days=d, hours=eid % 24))
        rows["user_id"].append(uid)
        rows["event_type"].append("view")
        rows["value"].append(1.0)
        rows["props"].append("{}")
    d_dir = _mk_dir(tmp_path_factory, spark, "events", rows)
    got = {
        r.day: (r.dau, r.wau, r.mau, r.stickiness)
        for r in REGISTRY["events_dau_wau_mau"].spark(spark, d_dir).collect()
    }

    days_present = sorted({d for _, d in activity})
    want_days = {
        (base + datetime.timedelta(days=d)).strftime("%Y-%m-%d"): d
        for d in days_present
    }
    assert set(got) == set(want_days)
    for day, d in want_days.items():
        dau = sum(1 for u, ad in activity if ad == d)
        wau = len({u for u, ad in activity if d - 6 <= ad <= d})
        mau = len({u for u, ad in activity if d - 29 <= ad <= d})
        g = got[day]
        assert (g[0], g[1], g[2]) == (dau, wau, mau), (day, g, dau, wau, mau)
        assert abs(g[3] - dau / mau) <= 1e-6
