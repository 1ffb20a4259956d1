"""Seeded tables for the relational/text/vector query suite.

The queries read ``<sf_dir>/<table>.parquet`` for the ten tables of
``queries.oracle_check.TABLES`` and size some fixtures from the ``sf<x>``
part of the directory name.  These tables have the column names, types and
value domains of the repo's sf0.01 test tables (uniform draws, the sizes
below) and are a pure function of the seed, so the query workload needs no
data from outside the checkout.
"""

from __future__ import annotations

import os
import shutil

SF = "0.01"
SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
DIM = 64  # embedding width
VERSION = "1"  # bump when the tables a seed gives change

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "dark", "fast", "green", "hot", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _tables(seed: int) -> dict:
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng([seed, 0x51])
    n = SIZES

    def pick(values, k):
        return [values[i] for i in rng.integers(0, len(values), k)]

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def days(start, span, k):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, k).astype("timedelta64[D]")

    ts = pa.timestamp("us")
    i32, i64 = pa.int32(), pa.int64()
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
    }
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(k), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), i32),
        "c_acctbal": money(-999.99, 9999.99, k),
        "c_mktsegment": pick(SEGMENTS, k),
    })
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(k), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), i32),
        "s_acctbal": money(-999.99, 9999.99, k),
    })
    k = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(k), i64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(ADJECTIVES, k), pick(NOUNS, k))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
        "p_type": pick(PART_TYPES, k),
        "p_size": pa.array(rng.integers(1, 51, k), i32),
        "p_retailprice": np.round(900 + (np.arange(k) % 1000) * 0.1, 1),
    })
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(k), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), i64),
        "o_orderstatus": pick(["F", "O", "P"], k),
        "o_totalprice": money(1000, 500000, k),
        "o_orderdate": pa.array(days("1995-01-01", 2400, k), ts),
        "o_orderpriority": pick(PRIORITIES, k),
    })
    k = n["lineitem"]
    quantity = rng.integers(1, 51, k).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, k), i32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900, 2100, k), 2),
        "l_discount": rng.integers(0, 11, k) / 100,
        "l_tax": rng.integers(0, 9, k) / 100,
        "l_returnflag": pick(["A", "N", "R"], k),
        "l_linestatus": pick(["F", "O"], k),
        "l_shipdate": pa.array(days("1995-01-02", 2500, k), ts),
    })
    k = n["events"]
    start = np.datetime64("2024-01-01", "us")
    micros = np.sort(rng.choice(30 * 86400 * 10**6, k, replace=False))
    out["events"] = pa.table({
        "event_id": pa.array(range(k), i64),
        "ts": pa.array(start + micros.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, 150, k), i64),
        "event_type": pick(EVENT_TYPES, k),
        "value": np.round(rng.exponential(50, k), 2) + 0.01,
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, k)],
    })
    k = n["documents"]
    texts = [" ".join(pick(WORDS, int(w))) for w in rng.integers(8, 100, k)]
    out["documents"] = pa.table({
        "doc_id": pa.array(range(k), i64),
        "text": texts,
        "lang": pick(LANGS, k),
        "source": [f"src{i}" for i in rng.integers(0, 20, k)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    k = n["embeddings"]
    vec = rng.normal(size=(k, DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(k), i64),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), i32),
    })
    return out


def ensure_query_data(seed: int, cache_root: str) -> str:
    """Write the seed's tables once → the ``sf<x>`` directory holding them."""
    import pyarrow.parquet as pq

    base = os.path.join(cache_root, f"queries-v{VERSION}-s{seed}")
    sf_dir = os.path.join(base, f"sf{SF}")
    if os.path.exists(os.path.join(base, "_READY")):
        return sf_dir
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(sf_dir)
    for name, table in _tables(seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    open(os.path.join(base, "_READY"), "w").close()
    return sf_dir
