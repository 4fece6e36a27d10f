"""Seeded synthetic inputs shaped like the repository's test data.

The tables, columns, types and value distributions follow the
TPC-H-like star schema plus the ``events``, ``documents`` and
``embeddings`` tables that every registered query reads (TESTDATA.md,
FIXTURES.md). Row counts follow the sf0.01 scale. The same seed always
writes the same rows; a different seed draws fresh values from the
same distributions, so plans, key ranges, duplicate rates and skew
stay put while the data changes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
EMB_DIM = 64
DOC_DUP_RATE = 0.05  # share of documents that copy another one + " dup"

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(np.asarray(_VOCAB)[rng.integers(0, len(_VOCAB), k)]) for k in lengths]
    dups = rng.choice(n, int(n * DOC_DUP_RATE), replace=False)
    originals = sorted(set(range(n)) - set(dups.tolist()))
    for d in dups:
        texts[d] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def tables(seed: int) -> dict[str, pa.Table]:
    """Every input table for ``seed``, in memory."""
    rng = np.random.default_rng(seed)
    n = ROWS
    cust = np.arange(n["customer"], dtype=np.int64)
    supp = np.arange(n["supplier"], dtype=np.int64)
    part = np.arange(n["part"], dtype=np.int64)
    orders = np.arange(n["orders"], dtype=np.int64)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out = {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": pa.array(_REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": cust,
                "c_name": pa.array([f"Customer#{i:09d}" for i in cust]),
                "c_nationkey": rng.integers(0, 25, cust.size).astype(np.int32),
                "c_acctbal": _money(rng, -1000, 10000, cust.size),
                "c_mktsegment": _pick(rng, _SEGMENTS, cust.size),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": supp,
                "s_name": pa.array([f"Supplier#{i:09d}" for i in supp]),
                "s_nationkey": rng.integers(0, 25, supp.size).astype(np.int32),
                "s_acctbal": _money(rng, -1000, 10000, supp.size),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": part,
                "p_name": _pick(rng, names, part.size),
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, part.size)]),
                "p_type": _pick(rng, _PTYPES, part.size),
                "p_size": rng.integers(1, 51, part.size).astype(np.int32),
                "p_retailprice": np.round(900 + (part % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": orders,
                "o_custkey": rng.integers(0, cust.size, orders.size),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], orders.size),
                "o_totalprice": _money(rng, 1000, 500000, orders.size),
                "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, orders.size) * _DAY_US),
                "o_orderpriority": _pick(rng, _PRIORITIES, orders.size),
            }
        ),
    }
    k = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, orders.size, k),
            "l_partkey": rng.integers(0, part.size, k),
            "l_suppkey": rng.integers(0, supp.size, k),
            "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
            "l_quantity": rng.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, k),
            "l_discount": rng.integers(0, 11, k) / 100,
            "l_tax": rng.integers(0, 9, k) / 100,
            "l_returnflag": _pick(rng, ["A", "N", "R"], k),
            "l_linestatus": _pick(rng, ["F", "O"], k),
            "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, k)) * _DAY_US),
        }
    )
    e = n["events"]
    out["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, e))),
            "user_id": rng.integers(0, cust.size // 10, e),
            "event_type": _pick(rng, _EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, e)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write(seed: int, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
