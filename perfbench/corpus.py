"""Seeded synthetic corpus in the ten-table layout the engine reads.

The engine's adapters (``nucliadb_spark.sources.tpch``) derive
resources, fields, paragraphs, vectors and relations from ten parquet
tables: a TPC-H-like star (region, nation, customer, supplier, part,
orders, lineitem), an ``events`` stream and the ``documents`` /
``embeddings`` corpus. This module writes those tables with the same
schemas and value domains as the repository's reference test data, at
a size chosen for a benchmark run, so the benchmark builds its inputs
inside its own working directory instead of reading a shared path.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 31-word vocabulary every document is drawn from
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMBED_DIM = 64
N_CLUSTERS = 10

# Row counts per table. The graph fixture keys paragraph provenance on
# l_partkey % 500, so the corpus keeps at least 500 documents.
SIZES = {
    "documents": 1000,
    "embeddings": 1000,
    "part": 2000,
    "supplier": 100,
    "customer": 1500,
    "orders": 10000,
    "lineitem": 30000,
    "events": 8000,
}

CORPUS_SEED = 42

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _ts(start: datetime.datetime, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"))


def tables(seed: int = CORPUS_SEED, sizes: dict[str, int] = SIZES) -> dict[str, pa.Table]:
    """The ten tables as Arrow tables; the same seed gives the same bytes."""
    rng = np.random.default_rng(seed)
    n = sizes
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    npart = n["part"]
    adj = rng.integers(0, len(PART_ADJ), npart)
    noun = rng.integers(0, len(PART_NOUN), npart)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
        }
    )
    no = n["orders"]
    start = datetime.datetime(1995, 1, 1)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": _ts(start, rng.integers(0, 2400, no) * 86400.0),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    partkey = rng.integers(0, npart, nl)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * (900.0 + (partkey % 1000) * 0.1) * rng.uniform(0.9, 1.1, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _ts(start, rng.integers(0, 2400, nl) * 86400.0),
        }
    )
    ne = n["events"]
    gaps = rng.exponential(30 * 86400 / ne, ne)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(datetime.datetime(2024, 1, 1), np.round(np.cumsum(gaps), 6)),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [
        " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k))
        for k in rng.integers(10, 101, nd)
    ]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(len(LANGS), nd, p=LANG_P)],
            "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    centers = rng.normal(size=(N_CLUSTERS, EMBED_DIM))
    label = rng.integers(0, N_CLUSTERS, nv)
    vec = centers[label] + rng.normal(scale=1.5, size=(nv, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    return out


def write(dest: str, seed: int = CORPUS_SEED) -> str:
    """Write the ten tables as ``dest/<table>.parquet``; returns dest."""
    os.makedirs(dest, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
    return dest
