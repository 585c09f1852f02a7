"""Seeded registry tables at the sf0.001 shape.

The registry queries read ten parquet tables (``sources.tpch.TABLES``):
a TPC-H-style star schema plus ``events``, ``documents`` and
``embeddings``. This writes the same columns and Arrow types, with row
counts and value ranges of the sf0.001 set: 1,500 orders of 1–7 lines,
a 30-word document vocabulary in which every twentieth document is
an earlier one plus the word ``dup`` (near-duplicates for the dedup and
similarity-join queries), and unit-norm 64-dimensional embeddings.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["cold", "small", "large", "blue", "red", "green", "hot", "tiny"]
_NOUN = ["widget", "bolt", "rod", "gear", "nut", "valve", "pipe", "spring"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]

N_ORDERS, N_CUSTOMERS, N_SUPPLIERS, N_PARTS = 1500, 150, 10, 200
N_EVENTS, N_DOCS, N_VECS, DIM = 1000, 500, 500, 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: dt.datetime, offsets: np.ndarray) -> pa.Array:
    micros = np.datetime64(base, "us") + offsets.astype("timedelta64[D]")
    return pa.array(micros, pa.timestamp("us"))


def build(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    t["customer"] = pa.table({
        "c_custkey": i64(range(N_CUSTOMERS)),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": i32(rng.integers(0, 25, N_CUSTOMERS)),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMERS),
        "c_mktsegment": rng.choice(_SEGMENTS, N_CUSTOMERS).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": i64(range(N_SUPPLIERS)),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": i32(rng.integers(0, 25, N_SUPPLIERS)),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIERS),
    })
    t["part"] = pa.table({
        "p_partkey": i64(range(N_PARTS)),
        "p_name": [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(N_PARTS)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PARTS)],
        "p_type": rng.choice(_TYPES, N_PARTS).tolist(),
        "p_size": i32(rng.integers(1, 51, N_PARTS)),
        "p_retailprice": np.round(900 + np.arange(N_PARTS) * 0.1, 2),
    })

    order_day = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": i64(range(N_ORDERS)),
        "o_custkey": i64(rng.integers(0, N_CUSTOMERS, N_ORDERS)),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
        "o_orderdate": _days(dt.datetime(1995, 1, 1), order_day),
        "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS).tolist(),
    })

    lines_per_order = rng.integers(1, 8, N_ORDERS)
    n_lines = int(lines_per_order.sum())
    l_order = np.repeat(np.arange(N_ORDERS), lines_per_order)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    t["lineitem"] = pa.table({
        "l_orderkey": i64(l_order),
        "l_partkey": i64(rng.integers(0, N_PARTS, n_lines)),
        "l_suppkey": i64(rng.integers(0, N_SUPPLIERS, n_lines)),
        "l_linenumber": i32(l_number),
        "l_quantity": rng.integers(1, 51, n_lines).astype(float),
        "l_extendedprice": _money(rng, 900, 105000, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_lines).tolist(),
        "l_shipdate": _days(
            dt.datetime(1995, 1, 1), order_day[l_order] + rng.integers(1, 122, n_lines)
        ),
    })

    offsets_us = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    t["events"] = pa.table({
        "event_id": i64(range(N_EVENTS)),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + offsets_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": i64(rng.integers(0, 15, N_EVENTS)),
        "event_type": rng.choice(_EVENTS, N_EVENTS).tolist(),
        "value": _money(rng, 0, 330, N_EVENTS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })

    texts: list[str] = []
    for i in range(N_DOCS):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 95)))))
    t["documents"] = pa.table({
        "doc_id": i64(range(N_DOCS)),
        "text": texts,
        "lang": rng.choice(_LANGS, N_DOCS).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
        "n_chars": i64([len(x) for x in texts]),
    })

    vecs = rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": i64(range(N_VECS)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, N_VECS)),
    })
    return t


def write(seed: int, dest: str) -> str:
    """Write the ten tables as ``dest/<name>.parquet``; returns ``dest``."""
    os.makedirs(dest, exist_ok=True)
    for name, table in build(seed).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
    return dest
