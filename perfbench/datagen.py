"""Deterministic input tables for the benchmark.

Writes the ten tables the engine registers at start-up
(``crate_spark.session.TABLES``), one Parquet file each, with the
schemas of the repository's test fixtures (FIXTURES.md) at roughly
sf0.01 size. The tables are fixed: they come from ``DATA_SEED``, not
from the workload seed, so the pinned operator digests in
``expected.py`` hold for every run. The workload seed only chooses
statement parameters, statement order and the rows a client inserts.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
#: bump when the generated content changes, so a cached copy is rebuilt
DATA_VERSION = "v1"

N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000
N_EVENTS = 10000
N_USERS = 150
N_DOCS = 500
N_VECS = 500
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
#: document vocabulary; MATCH statements search for these words
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]

_EPOCH = dt.datetime(1970, 1, 1)


def _ts_us(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - _EPOCH).total_seconds()) * 1_000_000
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _days(start: dt.datetime, n_days: np.ndarray) -> pa.Array:
    return _ts_us(start, n_days.astype(np.int64) * 86_400 * 1_000_000)


def build_tables() -> dict[str, pa.Table]:
    """All ten tables, built from ``DATA_SEED``."""
    rng = np.random.default_rng(DATA_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2),
    })
    adjectives = ["small", "red", "blue", "hot", "old", "large"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [
            f"{adjectives[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 6, N_PART), rng.integers(0, 6, N_PART))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, N_PART), 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, N_ORDERS), 2),
        "o_orderdate": _days(dt.datetime(1995, 1, 1), rng.integers(0, 2400, N_ORDERS)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
    })
    orderkey = np.sort(rng.integers(0, N_ORDERS, N_LINEITEM))
    linenumber = np.ones(N_LINEITEM, dtype=np.int32)
    for i in range(1, N_LINEITEM):
        if orderkey[i] == orderkey[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    quantity = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900, 2000, N_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _days(dt.datetime(1995, 1, 2), rng.integers(0, 2500, N_LINEITEM)),
    })
    # events: 30 days of activity, sorted by time, ~4 min mean gap per user
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, N_EVENTS))
    t["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": _ts_us(dt.datetime(2024, 1, 1), offsets),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.uniform(0.01, 490.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    texts = []
    for i in range(N_DOCS):
        if i % 20 == 19:
            # near-duplicates of an earlier document, for MinHash LSH
            words = texts[i - 7].split()
            words[-1] = "dup"
            texts.append(" ".join(words))
            continue
        n = int(rng.integers(10, 100))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCS)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    # embeddings: unit vectors around 10 cluster centres, one per label
    centres = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centres[labels] + rng.normal(scale=1.5, size=(N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def ensure_data(root: str) -> str:
    """Write the tables under ``root`` once; return their directory.
    A directory is reused only if a previous call finished it."""
    out = os.path.join(root, f"data-{DATA_VERSION}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write(DATA_VERSION + "\n")
    return out
