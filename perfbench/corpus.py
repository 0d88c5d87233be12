"""Deterministic synthetic corpus for the benchmark.

Writes the ten tables the engine reads (``region nation customer supplier
part orders lineitem events documents embeddings``), one parquet file each,
with the column names and physical types the engine's loaders and the
DuckDB oracles expect.  Row counts scale with ``sf`` the same way as the
TPC-H-shaped corpus the engine was developed against (lineitem = 6M * sf,
events = 1M * sf, at least 500 documents and embeddings).

The corpus is a pure function of ``(sf, seed)``: the same arguments give
byte-identical values, which is what lets ``expected.json`` pin digests for
ops that have no oracle.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
_EMBED_DIM = 64
_DUP_SHARE = 0.05

_DAY_US = 86_400 * 1_000_000


def _days(start: str, stop: str) -> tuple[int, int]:
    a = np.datetime64(start, "D").astype(np.int64)
    b = np.datetime64(stop, "D").astype(np.int64)
    return int(a), int(b)


def _day_ts(rng: np.random.Generator, n: int, start: str, stop: str) -> pa.Array:
    lo, hi = _days(start, stop)
    days = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out: str, sf: float, seed: int) -> None:
    """Write every table under ``out`` (created if missing)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(_REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })

    n_cust = int(150_000 * sf)
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })

    n_supp = int(10_000 * sf)
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })

    n_part = int(200_000 * sf)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })

    n_ord = int(1_500_000 * sf)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
    })

    n_li = int(6_000_000 * sf)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _day_ts(rng, n_li, "1995-01-02", "2001-11-04"),
    })

    # Events arrive in ts order over 30 days, as an append-only log does.
    n_ev = int(1_000_000 * sf)
    lo, _ = _days("2024-01-01", "2024-01-01")
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + lo * _DAY_US
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), i64),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    # About 5% of documents are an earlier document plus a " dup" marker,
    # the near-duplicate pairs the dedup operators look for.
    n_doc = max(500, int(50_000 * sf))
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.random() < _DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_VOCAB, n_words)))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n_doc, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    n_emb = max(500, int(20_000 * sf))
    vecs = rng.normal(0.0, 0.125, (n_emb, _EMBED_DIM)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), _EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
