"""Seeded generator for the ten input tables the engine reads.

The tables follow the shapes of the engine's star-schema test data
(TESTDATA.md): TPC-H-like ``region .. lineitem`` plus ``events``,
``documents`` and ``embeddings``.  Row counts scale with ``sf`` the way
the test data does (lineitem = 6M x sf).  Every column is drawn from a
``numpy`` generator seeded by the caller, so one seed always writes the
same bytes.

Timestamps (``events.ts``, ``o_orderdate``, ``l_shipdate``) are written
as ``timestamp[us]``, which is what the test data stores at sf0.001,
sf0.01 and sf0.1.  So ``catalog.read_parquet_table`` finds no
nanosecond columns here, just as on the test data.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "big", "green", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "anvil", "gear", "pipe"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
WORDS = (
    "a the data query table value part row scan join filter group sort "
    "hash agg window key order line customer batch stream spark merge "
    "column vector small big fast slow"
).split()
EMBED_DIM = 64
EMBED_LABELS = 10

_ORDER_START = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = 2404  # through 2001-08-01
_SHIP_START = np.datetime64("1995-01-02", "D")
_SHIP_DAYS = 2498  # through 2001-11-04
EVENTS_START = datetime(2024, 1, 1)
_EVENT_SPAN_US = 30 * 86400 * 1_000_000


def table_sizes(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (documents and embeddings
    keep the test data's 500-row floor)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(int(150_000 * sf), 10),
        "supplier": max(int(10_000 * sf), 5),
        "part": max(int(20_000 * sf), 20),
        "orders": max(int(1_500_000 * sf), 100),
        "lineitem": max(int(6_000_000 * sf), 400),
        "events": max(int(1_000_000 * sf), 200),
        "documents": max(int(50_000 * sf), 500),
        "embeddings": max(int(20_000 * sf), 500),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n) -> pa.Array:
    d = start + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _keys(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def generate_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": _keys(nc),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": _keys(ns),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": _keys(npart),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart)
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10, 2),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": _keys(no),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, _ORDER_START, _ORDER_DAYS, no),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, _SHIP_START, _SHIP_DAYS, nl),
        }
    )
    t["events"] = generate_events(rng, n["events"])
    nd = n["documents"]
    word_counts = rng.integers(8, 90, nd)
    texts = [" ".join(rng.choice(WORDS, k)) for k in word_counts]
    t["documents"] = pa.table(
        {
            "doc_id": _keys(nd),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    ne = n["embeddings"]
    labels = rng.integers(0, EMBED_LABELS, ne).astype(np.int32)
    centers = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    centers *= 0.14 / np.linalg.norm(centers, axis=1, keepdims=True)
    raw = rng.normal(size=(ne, EMBED_DIM))
    raw /= np.linalg.norm(raw, axis=1, keepdims=True)
    vecs = raw + centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": _keys(ne),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels,
        }
    )
    return t


def generate_events(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` events over 30 days, ``event_id`` increasing with ``ts``."""
    offsets = np.sort(rng.integers(0, _EVENT_SPAN_US, n))
    ts = np.datetime64(EVENTS_START, "us") + offsets.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": _keys(n),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 150, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group parquet file per table, as the test data has."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
