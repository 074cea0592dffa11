"""Deterministic input generator for the benchmark.

Writes the ten engine tables (the schema in FIXTURES.md: a TPC-H-shaped star
schema, an ``events`` stream, ``documents`` and ``embeddings``) as one
parquet file each, from a numpy seed alone, so a run needs nothing outside
its checkout. Value domains follow the fixture tables: 2-dp money, 0.01-step
rates, midnight order/ship dates, a 31-word document vocabulary with planted
near-duplicates (a copy of an earlier document plus the word ``dup``) and
unit-norm 64-dim float embeddings with a 10-value label.

In ``tables(scale)``, ``scale`` multiplies the row counts of the
TPC-H-shaped tables and ``events`` (1.0 is the sizes in ``SIZES``); the
corpus tables keep their size, as in the fixtures.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
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
PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
PART_NOUN = ["bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a the data row column table key value part join hash sort merge scan "
    "filter group agg order line customer query window stream batch spark "
    "vector small big fast slow"
).split()
EMB_DIM = 64
N_USERS = 150

_DAY_MS = np.int64(86_400_000)


def _epoch_ms(d: dt.date) -> np.int64:
    return np.int64((d - dt.date(1970, 1, 1)).days) * _DAY_MS


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _dates(rng, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    days = rng.integers(0, (hi - lo).days + 1, n)
    ms = _epoch_ms(lo) + days.astype(np.int64) * _DAY_MS
    return pa.array(ms, type=pa.timestamp("ms"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def event_batch(rng, first_id: int, start_us: int, n: int) -> pa.Table:
    """``n`` time-ordered events with ids from ``first_id`` and timestamps
    strictly after ``start_us`` (µs since epoch)."""
    gaps = rng.integers(1_000_000, 500_000_000, n)  # 1 s .. ~8 min
    ts_us = start_us + np.cumsum(gaps)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n) + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


EVENTS_START_US = int(_epoch_ms(dt.date(2024, 1, 1))) * 1000


def tables(scale: float = 1.0) -> dict[str, pa.Table]:
    rng = np.random.default_rng([20260817, 0])
    n = {k: v if k in ("documents", "embeddings") else max(1, int(round(v * scale)))
         for k, v in SIZES.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array(_names("Customer", nc)),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array(_names("Supplier", ns)),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": pa.array(rng.choice(PART_TYPES, npart)),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _dates(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
            "l_shipdate": _dates(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
        }
    )
    out["events"] = event_batch(rng, 0, EVENTS_START_US, n["events"])

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(nd)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    ne = n["embeddings"]
    v = rng.normal(0.0, 1.0, (ne, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(ne, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, ne).astype(np.int32)),
        }
    )
    return out


def write_tables(out_dir: str, tbls: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tbls.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
