"""Deterministic synthetic fixture: the ten tables the engine reads.

Same schemas, key ranges and value domains as the sf0.01 test fixture
(FIXTURES.md): a TPC-H-shaped star schema, an ``events`` stream table and
the two LLM-pipeline tables. The benchmark builds it inside its own work
directory once per checkout, so a run reads nothing outside the checkout.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Fixed data seed: the workload seed varies the manifests and the query
#: order, never the data, so every run of a workload reads the same bytes.
DATA_SEED = 42

#: Row counts at the test fixture's sf0.01 (FIXTURES.md, TESTDATA.md).
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _days(rng: np.random.RandomState, n: int, start: str, span_days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = rng.randint(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, pa.timestamp("us"))


def _money(rng: np.random.RandomState, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables() -> dict[str, pa.Table]:
    """Build every fixture table in memory."""
    rng = np.random.RandomState(DATA_SEED)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.randint(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.randint(0, 5, n)],
    })
    n = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.randint(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })
    n = ROWS["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.randint(0, 7, n), rng.randint(0, 7, n))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, n)],
        "p_type": [PART_TYPES[i] for i in rng.randint(0, 6, n)],
        "p_size": pa.array(rng.randint(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
    })
    n_orders = ROWS["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, ROWS["customer"], n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.randint(0, 3, n_orders)],
        "o_totalprice": _money(rng, n_orders, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_orders, "1995-01-01", 2400),
        "o_orderpriority": [PRIORITIES[i] for i in rng.randint(0, 5, n_orders)],
    })
    n = ROWS["lineitem"]
    orderkey = np.sort(rng.randint(0, n_orders, n))
    linenumber = np.ones(n, dtype=np.int32)
    for i in range(1, n):
        if orderkey[i] == orderkey[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    quantity = rng.randint(1, 51, n).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.randint(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.randint(0, 11, n) / 100.0,
        "l_tax": rng.randint(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.randint(0, 2, n)],
        "l_shipdate": _days(rng, n, "1995-01-02", 2500),
    })
    n = ROWS["events"]
    start = np.datetime64("2024-01-01", "us")
    offsets = np.sort(rng.randint(0, 30 * 86400 * 10**6, n)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offsets, pa.timestamp("us")),
        "user_id": pa.array(rng.randint(0, 150, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.randint(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n)],
    })
    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i >= 50 and rng.rand() < 0.05:
            # near duplicate of an earlier document: the fuzzy-dedup and
            # decontamination ids must find real matches, not only noise
            words = texts[rng.randint(0, i)].split()
            words[rng.randint(0, len(words))] = "dup"
        else:
            words = [VOCAB[w] for w in rng.randint(0, len(VOCAB), rng.randint(10, 100))]
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.randint(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n = ROWS["embeddings"]
    centroids = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.randint(0, 10, n)
    vecs = centroids[labels] + rng.normal(0.0, 0.6, (n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(
            [row.astype(np.float32) for row in vecs], pa.list_(pa.float32())
        ),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def ensure(data_dir: str) -> str:
    """Write the fixture to ``data_dir`` unless a complete copy is there.

    The directory is built beside its final path and renamed into place, so
    an interrupted build never leaves a half-written fixture that a later
    run would trust.
    """
    marker = os.path.join(data_dir, "_COMPLETE")
    if os.path.exists(marker):
        return data_dir
    tmp = f"{data_dir}.building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(data_dir, ignore_errors=True)
    os.replace(tmp, data_dir)
    return data_dir
