"""Synthetic star-schema tables for the benchmark.

Writes the ten tables the query catalog reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one
``<table>.parquet`` file each, with the column names, types and value
domains of the test data in TESTDATA.md and FIXTURES.md section 3:
TPC-H-like keys and price ranges, a 30-day ``events`` stream with naive
microsecond timestamps, documents drawn from a 31-word vocabulary of
which 5% are an earlier document plus the token ``dup``, and unit-norm
64-d embeddings around ten label centres.

Sizes scale with ``sf`` the way the test data does (sf 0.001 gives 150
customers, 1,500 orders, 6,000 line items and 1,000 events); documents
and embeddings are fixed at 500 rows. The same ``seed`` gives the same
bytes.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_ORDER_EPOCH = datetime.datetime(1995, 1, 1)
_SHIP_EPOCH = datetime.datetime(1995, 1, 2)
_EVENT_EPOCH = datetime.datetime(2024, 1, 1)
_DAY_US = 86_400_000_000


def _days(epoch: datetime.datetime, offsets: np.ndarray) -> pa.Array:
    base = int((epoch - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + offsets.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build every table in memory."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, round(150_000 * sf))
    n_supp = max(5, round(10_000 * sf))
    n_part = max(20, round(200_000 * sf))
    n_ord = max(100, round(1_500_000 * sf))
    n_line = max(400, round(6_000_000 * sf))
    n_ev = max(100, round(1_000_000 * sf))
    n_users = max(5, round(15_000 * sf))
    n_docs = n_vecs = 500

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [
        f"{a} {b}"
        for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
    ]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": names,
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + 0.1 * (np.arange(n_part) % 200), 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(_ORDER_EPOCH, rng.integers(0, 2404, n_ord)),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": _days(_SHIP_EPOCH, rng.integers(0, 2498, n_line)),
        }
    )
    base_us = int((_EVENT_EPOCH - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ts = np.sort(base_us + rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]).tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    centres = rng.normal(size=(10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    vecs = rng.normal(size=(n_vecs, 64)) + 1.2 * centres[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> int:
    """Write every table under ``out_dir``; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in make_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
