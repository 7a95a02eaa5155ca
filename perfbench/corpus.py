"""Deterministic TPC-H-ish corpus for the ``corpus_queries`` workload.

The queries in ``__spark_entry__.queries()`` read their tables from a
directory (``<dir>/<table>.parquet``). This module writes those tables with
the same column names and types, from numpy only (no Spark), so the workload
reads nothing outside the benchmark's own working directory. The content
follows the same recipe as the shared fixtures: random tokens from a small
vocabulary for documents, small gaussian embeddings with integer labels,
uniform event streams, and TPC-H-style orders/lineitem keys.

The generator seed is fixed: the corpus, and therefore every query's golden
row count and hash, does not depend on the benchmark's ``--seed`` (which only
orders the queries).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 20240101

VOCAB = (
    "a the data spark table row column value key hash sort scan filter join "
    "group agg query window stream batch merge order part line vector fast "
    "slow big small customer"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO")
PART_WORDS = ("large", "small", "hot", "blue", "red", "ring", "bolt", "nut")

# rows per table at scale 1.0 (the shared fixtures' sf=0.1 sizes)
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EMBED_DIM = 64
_MS_PER_DAY = 86_400_000


def table_rows(scale: float) -> dict[str, int]:
    return {t: max(10, int(n * scale)) for t, n in BASE_ROWS.items()}


def _ts(ms: np.ndarray) -> pa.Array:
    return pa.array(ms.astype("int64") * 1000, type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 90))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    # a few exact copies so the dedup families have clusters to find
    for i in range(0, n - 1, max(2, n // 8)):
        texts[i + 1] = texts[i]
    lang = [LANGS[j] for j in rng.integers(0, len(LANGS), n)]
    n_src = max(1, n // 250)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % n_src}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 0.1, size=(n, EMBED_DIM)).astype("float32")
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start = 1_704_067_200_000  # 2024-01-01T00:00:00Z
    ms = np.sort(rng.integers(0, 30 * _MS_PER_DAY, n)) + start
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ms),
        "user_id": pa.array(rng.integers(0, max(10, n // 66), n), pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[j] for j in rng.integers(0, 5, n)], pa.string()
        ),
        "value": pa.array(np.round(rng.uniform(0, 200, n), 2), pa.float64()),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
        ),
    })


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    start = 694_224_000_000  # 1992-01-01
    days = rng.integers(0, 3650, n).astype("int64")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(
            [("O", "F", "P")[j] for j in rng.integers(0, 3, n)], pa.string()
        ),
        "o_totalprice": pa.array(
            np.round(rng.uniform(800, 420_000, n), 2), pa.float64()
        ),
        "o_orderdate": _ts(start + days * _MS_PER_DAY),
        "o_orderpriority": pa.array(
            [PRIORITIES[j] for j in rng.integers(0, 5, n)], pa.string()
        ),
    })


def _lineitem(rng, n: int, n_ord: int, n_part: int, n_supp: int) -> pa.Table:
    start = 694_224_000_000
    days = rng.integers(0, 3650, n).astype("int64")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(
            [("A", "N", "R")[j] for j in rng.integers(0, 3, n)], pa.string()
        ),
        "l_linestatus": pa.array(
            [("O", "F")[j] for j in rng.integers(0, 2, n)], pa.string()
        ),
        "l_shipdate": _ts(start + days * _MS_PER_DAY),
    })


def _part(rng: np.random.Generator, n: int) -> pa.Table:
    w = rng.integers(0, len(PART_WORDS), (n, 2))
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array(
            [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w], pa.string()
        ),
        "p_brand": pa.array(
            [f"Brand#{j}" for j in rng.integers(1, 26, n)], pa.string()
        ),
        "p_type": pa.array(
            [PART_TYPES[j] for j in rng.integers(0, 5, n)], pa.string()
        ),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + np.arange(n) * 0.1, 2)),
    })


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
        "c_mktsegment": pa.array(
            [SEGMENTS[j] for j in rng.integers(0, 5, n)], pa.string()
        ),
    })


def _supplier(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
    })


def _nation_region() -> tuple[pa.Table, pa.Table]:
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(
            ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], pa.string()
        ),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION{i:02d}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    return nation, region


def write_corpus(out_dir: str, scale: float) -> dict[str, int]:
    """Write every table to ``out_dir/<table>.parquet``; return row counts."""
    rows = table_rows(scale)
    rng = np.random.default_rng(GEN_SEED)
    tables = {
        "customer": _customer(rng, rows["customer"]),
        "supplier": _supplier(rng, rows["supplier"]),
        "part": _part(rng, rows["part"]),
        "orders": _orders(rng, rows["orders"], rows["customer"]),
        "lineitem": _lineitem(
            rng, rows["lineitem"], rows["orders"], rows["part"], rows["supplier"]
        ),
        "events": _events(rng, rows["events"]),
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }
    tables["nation"], tables["region"] = _nation_region()
    rows["nation"], rows["region"] = 25, 5
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return rows
