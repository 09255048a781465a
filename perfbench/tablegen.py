"""Seeded tables for the ``registry`` workload.

Writes the five parquet tables the benchmark's registry slice reads
(``nation customer orders documents embeddings``), one
``<name>.parquet`` file each, with the column names, types and value
domains those queries expect. Row counts follow the repository's test
data at the same scale factor: customer 150k·sf and orders 1.5M·sf, as
TPC-H scales them; documents 50k·sf and embeddings 20k·sf, but never
fewer than 500 each (the test data holds 500 of each at sf 0.01 and
below, 5,000 and 2,000 at sf 0.1).

The same ``(seed, sf)`` always writes the same bytes of data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

TABLES = ("nation", "customer", "orders", "documents", "embeddings")
DIM = 64

EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: np.datetime64, offsets: np.ndarray) -> np.ndarray:
    return start + offsets.astype("int64") * np.timedelta64(1, "D")


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)

    t: dict[str, pa.Table] = {}
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
    order_days = rng.integers(0, 2404, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": pa.array(_days(EPOCH_1995, order_days), pa.timestamp("us")),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    t["documents"] = _documents(rng, max(int(50_000 * sf), 500))
    t["embeddings"] = _embeddings(rng, max(int(20_000 * sf), 500))
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            # a near-duplicate of an earlier document, as crawled corpora have
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" if rng.random() < 0.5 else base)
            continue
        words = int(rng.integers(8, 100))
        texts.append(" ".join(rng.choice(WORDS, words)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n).tolist(),
            "source": [f"src{i % 5}" for i in range(n)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, DIM))
    x = centers[labels] * 0.15 + rng.normal(0, 1, (n, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write every table under ``out_dir`` and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
