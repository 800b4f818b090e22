"""Seeded synthetic input tables for the benchmark.

Writes the ten star-schema tables the engine reads (``region`` ...
``embeddings``, one parquet file each, see TESTDATA.md for the layout)
with the same column names, types and value domains as the shipped
test data, drawn from ``numpy.random.default_rng(seed)``. The same seed
and sizes give byte-identical tables; nothing outside the output
directory is read or written.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Sizes:
    customer: int
    supplier: int
    part: int
    orders: int
    lineitem: int
    events: int
    documents: int
    embeddings: int


# Row counts of the sf0.01 test data.
SF001 = Sizes(
    customer=1_500, supplier=100, part=2_000, orders=15_000,
    lineitem=60_000, events=10_000, documents=500, embeddings=500,
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]
WORDS = (
    "a the data spark stream batch window join hash row scan column "
    "customer filter small big slow fast merge order vector line table "
    "agg value key group sort query part"
).split()
EMBED_DIM = 64
_EPOCH_DAY = dt.date(1970, 1, 1)
_DAY_US = 86_400_000_000


def _day_us(d: dt.date) -> int:
    return (d - _EPOCH_DAY).days * _DAY_US


def _dates(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    days = rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(_day_us(lo) + days * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in range(n)]


def tables(seed: int, sizes: Sizes = SF001) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, drawn from one seeded stream."""
    rng = np.random.default_rng(seed)
    s = sizes
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
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(s.customer), pa.int64()),
        "c_name": _keyed_names("Customer", s.customer),
        "c_nationkey": pa.array(rng.integers(0, 25, s.customer), pa.int32()),
        "c_acctbal": _money(rng, s.customer, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, s.customer),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s.supplier), pa.int64()),
        "s_name": _keyed_names("Supplier", s.supplier),
        "s_nationkey": pa.array(rng.integers(0, 25, s.supplier), pa.int32()),
        "s_acctbal": _money(rng, s.supplier, -999.99, 9999.99),
    })
    pkeys = np.arange(s.part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pkeys, pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_ADJ, s.part), rng.choice(PART_NOUN, s.part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.part)],
        "p_type": rng.choice(PART_TYPES, s.part),
        "p_size": pa.array(rng.integers(1, 51, s.part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pkeys % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(s.orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s.customer, s.orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], s.orders),
        "o_totalprice": _money(rng, s.orders, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, s.orders, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, s.orders),
    })
    n = s.lineitem
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, s.orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s.part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s.supplier, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _dates(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    n = s.events
    # user_id is a subset of c_custkey, so the flagship join is
    # non-empty by construction; ts is sorted inside January 2024.
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _day_us(dt.date(2024, 1, 1))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, s.customer // 10), n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = s.documents
    texts = [
        " ".join(rng.choice(WORDS, int(k)))
        for k in rng.integers(10, 100, n)
    ]
    # One document in twenty is a near-duplicate: another document's
    # text plus a trailing " dup" token.
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n = s.embeddings
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = 0.15 * centers[labels] + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_tables(out_dir: str, seed: int, sizes: Sizes = SF001) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sizes).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
