"""Seeded parquet fixtures for ``batch_curation``.

The tables follow the schemas and value domains of the repository's
TPC-H-style test fixtures (FIXTURES.md section A) at about their sf0.01
size: the same column names and parquet types, so every registry query
and its DuckDB oracle run unchanged. Documents carry planted near
duplicates and embeddings are clustered by label, so the dedup and
similarity queries have pairs to find.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 1500,
    "orders": 15000,
    "lineitem": 60000,
    "documents": 500,
    "embeddings": 500,
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = (
    "a the data table row column key value part line order customer query "
    "scan join group sort hash merge window batch stream spark agg filter "
    "small big fast slow vector"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
EMBED_DIM = 64
DAY_US = 86_400_000_000
EPOCH_1997_US = 852_076_800_000_000  # 1997-01-01T00:00:00Z


def _days(rng, n: int) -> np.ndarray:
    # 1997-01-01 .. 2001-12-31, day precision
    return EPOCH_1997_US + rng.integers(0, 5 * 365, n) * DAY_US


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_c, n_o, n_l = SIZES["customer"], SIZES["orders"], SIZES["lineitem"]
    ts = pa.timestamp("us")
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_c)],
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 850.0, 500000.0, n_o),
        "o_orderdate": pa.array(_days(rng, n_o), ts),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_o)],
    })
    qty = rng.integers(1, 51, n_l).astype(float)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_l)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_l)],
        "l_shipdate": pa.array(_days(rng, n_l), ts),
    })
    return {
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }


def _documents(rng) -> pa.Table:
    n = SIZES["documents"]
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.06:
            # near duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    n = SIZES["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = (centers[labels] + rng.normal(0.0, 0.6, (n, EMBED_DIM))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_fixtures(out_dir: str, seed: int) -> dict[str, dict]:
    """Write one parquet file per table; return rows, bytes and sha256 per file."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for name, table in _tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        with open(path, "rb") as fh:
            digest = hashlib.sha256(fh.read()).hexdigest()
        manifest[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path),
                          "sha256": digest}
    return manifest
