"""Seeded synthetic tables for the declared-query panel.

Writes the subset of the engine's table contract
(``sources/registry.SCHEMA_CONTRACT``) that the panel reads: region,
nation, customer, orders, lineitem, documents and embeddings, with the
same column types and value domains as the project's test data. The
same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 3_000
N_ORDERS = 30_000
N_LINEITEM = 120_000
N_DOCUMENTS = 3_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = (
    "a the spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row agg key "
    "query scan batch"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = lo_d + rng.integers(0, int((hi_d - lo_d).astype(np.int64)), n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 7])
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, N_CUSTOMER, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
    })
    orders = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, N_ORDERS, 1000.0, 500000.0),
        "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, N_LINEITEM, 900.0, 100000.0),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
        "l_shipdate": _days(rng, N_LINEITEM, "1995-01-02", "2001-11-04"),
    })
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }


def _documents(rng: np.random.Generator) -> pa.Table:
    texts = []
    for _ in range(N_DOCUMENTS):
        words = rng.choice(VOCAB, int(rng.integers(8, 90)))
        texts.append(" ".join(words))
    # exact duplicates up to case and surrounding space, for dedup_exact
    for i in rng.choice(N_DOCUMENTS, N_DOCUMENTS // 50, replace=False):
        j = int(rng.integers(0, N_DOCUMENTS))
        texts[i] = f" {texts[j].upper()} " if rng.random() < 0.5 else texts[j]
    return pa.table({
        "doc_id": pa.array(range(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCUMENTS),
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    labels = rng.integers(0, 10, N_EMBEDDINGS)
    centers = rng.standard_normal((10, EMBED_DIM))
    vecs = (centers[labels] + 0.5 * rng.standard_normal((N_EMBEDDINGS, EMBED_DIM)))
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write(seed: int, out_dir: str) -> dict[str, str]:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables(seed).items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
