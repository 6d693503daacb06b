"""Seeded generator of the TPC-H-shaped parquet tables the registered
queries read (``region nation customer supplier part orders lineitem
events documents embeddings``, one ``<name>.parquet`` file each).

Schemas, row counts, value domains and distributions follow the
synthetic test tables the query registry is developed against: uniform
keys, five order priorities, three return flags, documents of 10 to 99
words drawn uniformly from a 30-word vocabulary, of which one in twenty
is another document's text plus the token ``dup``, 64-dim unit
embeddings and a 30-day event stream. ``perfbench/README.md`` records
how the output compares with those tables. Row counts scale with ``sf``
(``sf=0.01`` gives 60 000 lineitems). The same ``(sf, seed)`` always
writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def row_counts(sf: float) -> dict[str, int]:
    return {
        "customer": max(int(150_000 * sf), 20),
        "supplier": max(int(10_000 * sf), 10),
        "part": max(int(200_000 * sf), 20),
        "orders": max(int(1_500_000 * sf), 50),
        "lineitem": max(int(6_000_000 * sf), 200),
        "events": max(int(1_000_000 * sf), 200),
        "documents": max(int(50_000 * sf), 500),
        "embeddings": min(max(int(50_000 * sf), 500), 2000),
        "users": max(int(15_000 * sf), 10),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(epoch_us: int, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(epoch_us + offsets_us, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, type=pa.int32()), pa.array(values)
    ).cast(pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(_WORDS, size=int(rng.integers(10, 100))).tolist())
             for _ in range(n)]
    # one document in twenty becomes a near-duplicate of another, the
    # shape the dedup operators target; a copy of a copy makes a chain
    for i in rng.choice(n, size=n // 20, replace=False).tolist():
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), type=pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), type=pa.int64()),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), type=pa.int32()),
        }
    )


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    n_cust, n_supp, n_part, n_ord, n_li = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    )
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), type=pa.int32()),
            "r_name": pa.array(_REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": pa.array([k % 5 for k in range(25)], type=pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    adj = rng.integers(0, len(_ADJ), n_part)
    noun = rng.integers(0, len(_NOUN), n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
            "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
            "p_retailprice": pa.array(_money(rng, 900.0, 999.9, n_part)),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(_EPOCH_1995, rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), type=pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _ts(_EPOCH_1995, rng.integers(1, 2500, n_li) * _DAY_US),
        }
    )
    n_ev = n["events"]
    # a 30-day stream in event-id order: sorted uniform arrival times
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
            "ts": _ts(_EPOCH_2024, offsets),
            "user_id": pa.array(rng.integers(0, n["users"], n_ev), type=pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
