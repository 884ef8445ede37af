"""Seeded generator for the relational / datapipe input tables.

Writes the ten tables the query registry reads (``schemas.TESTDATA_TABLES``:
a TPC-H-like star schema, an ``events`` stream, ``documents`` and
``embeddings``) as one parquet file each, with the column names and types
the registry's queries and their DuckDB oracles expect. ``sf`` scales the row
counts the way the TPC-H scale factor does (lineitem ≈ 6M·sf rows).

The same ``(seed, sf)`` always writes the same rows: every column is drawn
from one ``numpy.random.Generator`` in a fixed order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["small", "red", "blue", "green", "large", "ring", "widget", "bolt", "gear", "plate"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = (
    "a the data spark table query join hash sort merge scan filter group agg "
    "window stream batch row column key value part order customer line "
    "vector big small fast slow"
).split()

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(30, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(40, int(200_000 * sf)),
        "orders": max(300, int(1_500_000 * sf)),
        "events": max(500, int(1_000_000 * sf)),
        "users": max(20, int(10_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    n_dup = n // 20
    for _ in range(n - n_dup):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)))
    # near-duplicates: a copy of an earlier document with a marker word
    # appended, sometimes with its last word dropped
    for _ in range(n_dup):
        words = texts[int(rng.integers(0, n - n_dup))].split(" ")
        if rng.random() < 0.5 and len(words) > 10:
            words = words[:-1]
        texts.append(" ".join(words + ["dup"]))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim))
    # a few planted close pairs so the top-k has real neighbours to find
    for i in range(5, n, 37):
        j = int(rng.integers(5, n))
        x[j] = x[i] + 0.6 * rng.standard_normal(dim)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim), pa.int32()),
        pa.array(x.reshape(-1), pa.float32()),
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every input table for one ``(seed, sf)``, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = _sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), pa.float64()),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, nc)], pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), pa.float64()),
    })
    w1 = rng.integers(0, len(PART_WORDS), np_)
    w2 = rng.integers(0, len(PART_WORDS), np_)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": pa.array([f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in zip(w1, w2)], pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, np_)], pa.string()),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, np_)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(np_) % 2000) * 0.1, 2), pa.float64()),
    })
    order_day = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)], pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no), pa.float64()),
        "o_orderdate": _ts(EPOCH_1995 + order_day * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)], pa.string()),
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    l_order = np.repeat(np.arange(no), lines)
    l_number = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship_day = order_day[l_order] + rng.integers(1, 122, nl)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 3000.0, nl), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)], pa.string()),
        "l_shipdate": _ts(EPOCH_1995 + ship_day * DAY_US),
    })
    ne = n["events"]
    # ~3 weeks of events; distinct, increasing microsecond timestamps
    gaps = rng.integers(1, max(2, 2 * 21 * DAY_US // ne), ne)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, ne) + 0.01, 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
