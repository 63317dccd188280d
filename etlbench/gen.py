"""Seeded input generator: the ten ``metoffice_spark.io.TABLES``.

Shapes, value domains and key ranges follow the sf0.01 test tables
(FIXTURES.md part B): every foreign key points at an existing row
(customer/supplier -> nation, orders -> customer, lineitem -> orders,
part, supplier). ``multiple`` scales every table except region and
nation, so ``multiple=1`` is the sf0.01 shape.

The same (seed, multiple) always gives byte-identical parquet files:
one numpy PCG64 stream drawn in a fixed order, and a pinned writer
configuration.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at multiple=1 (the sf0.01 shape).
BASE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
FIXED = ("region", "nation")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000


def row_counts(multiple: float) -> dict[str, int]:
    return {
        t: n if t in FIXED else max(1, round(n * multiple))
        for t, n in BASE_ROWS.items()
    }


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, n: int, first: tuple, last: tuple) -> pa.Array:
    lo, hi = _epoch_us(*first), _epoch_us(*last)
    d = rng.integers(0, (hi - lo) // _US_PER_DAY + 1, n)
    return pa.array(lo + d * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in range(n)]


def tables(seed: int, multiple: float) -> dict[str, pa.Table]:
    rng = np.random.Generator(np.random.PCG64(seed))
    n = row_counts(multiple)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
    })

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })

    npart = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
    })

    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(rng, no, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
    })

    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _days(rng, nl, (1995, 1, 2), (2001, 11, 4)),
    })

    # events: one month of sensor words, time-ordered by event_id.
    ne = n["events"]
    t0 = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, ne)) + t0
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, round(150 * multiple)), ne), i64),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    lens = rng.integers(10, 100, nd)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P).tolist(),
        "source": [f"src{k % 20}" for k in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    nv = n["embeddings"]
    vec = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    })
    return out


def generate(out_dir: str, seed: int, multiple: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``, unless a
    previous run already did. Files go to a sibling staging directory
    that is renamed into place, so a reader never sees a half-written
    input."""
    if os.path.isdir(out_dir):
        return
    stage = out_dir + ".partial"
    os.makedirs(stage, exist_ok=True)
    for name, tbl in tables(seed, multiple).items():
        pq.write_table(tbl, os.path.join(stage, f"{name}.parquet"),
                       compression="snappy", store_schema=False)
    os.rename(stage, out_dir)
