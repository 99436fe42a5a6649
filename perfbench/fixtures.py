"""Seeded fixture corpus for the query_mix workload.

Writes the ten catalog tables (``catalog.TABLES``) as parquet with the
column names and types of the engine's fixture corpus (FIXTURES.md) at
the sf0.01 row counts. Every value comes from one ``numpy`` generator
seeded by the benchmark seed, so the same seed gives byte-identical
inputs and the engine only ever sees the generated files.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

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
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (
    ["blue", "red", "hot", "old", "new", "small", "big", "green"],
    ["bolt", "gear", "anvil", "widget", "ring", "rod", "nut", "spring"],
)
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal doubles, as the fixture corpus stores money."""
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = base + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    int32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), int32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], int32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    np_ = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(np_, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_WORDS[0], np_), rng.choice(PART_WORDS[1], np_)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": rng.choice(PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), int32),
            "p_retailprice": 900.0 + (np.arange(np_) % 1000) / 10.0,
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], no, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", 2400, no),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
            "l_partkey": rng.integers(0, np_, nl, dtype=np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], nl, dtype=np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, "1995-01-02", 2500, nl),
        }
    )
    ne = n["events"]
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    ts = np.datetime64(datetime(2024, 1, 1), "us") + offs.astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 150, ne, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": _cents(rng, 0.01, 500.0, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    words = [list(rng.choice(VOCAB, int(w))) for w in rng.integers(10, 100, nd)]
    # one document in ten is a near-copy of an earlier one (one word
    # replaced), so the near-duplicate keys have pairs to find
    for i in range(nd // 2, nd, 10):
        words[i] = list(words[int(rng.integers(0, nd // 2))])
        words[i][int(rng.integers(0, len(words[i])))] = str(rng.choice(VOCAB))
    texts = [" ".join(w) for w in words]
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, nd),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.standard_normal((10, EMBED_DIM))
    v = centers[labels] + 0.5 * rng.standard_normal((nv, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, int32),
        }
    )
    return t


def write_corpus(out_dir: str, seed: int) -> str:
    """Write every table to ``out_dir/<table>.parquet``; return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
