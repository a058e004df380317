"""Seeded synthetic star-schema tables for the registry workloads.

Writes one parquet file per table (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) with the column
names, types and value domains of the fixed test tables the registry
queries are written against (TESTDATA.md) (nanosecond ``events.ts``, JSON ``props``,
unit-norm 64-d float embeddings, a 31-word document vocabulary with a few
near-duplicate documents). Row counts follow a TPC-H-like scale factor;
the same (seed, scale) always gives the same tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FLAGS = [("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
N_DOCS = 500
EMBED_DIM = 64
N_LABELS = 10

_EPOCH = dt.datetime(1970, 1, 1)


def _ms(day: dt.datetime) -> int:
    return int((day - _EPOCH).total_seconds() * 1000)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_star(out_dir: str, seed: int, sf: float) -> str:
    """Write all ten tables under ``out_dir`` at scale ``sf`` (sf=0.001 is
    1,500 orders / ~6,000 line items)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_orders = max(100, int(1_500_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n_part)],
    })

    lo_day, span_days = _ms(dt.datetime(1995, 1, 1)), 2404
    day_ms = 86_400_000
    order_day = rng.integers(0, span_days, n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(STATUSES, n_orders).tolist(),
        "o_totalprice": _money(rng, 1000, 500_000, n_orders),
        "o_orderdate": pa.array(lo_day + order_day * day_ms, pa.timestamp("ms")),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders).tolist(),
    })

    lines = rng.binomial(12, 0.33, n_orders) + 1
    n_lines = int(lines.sum())
    l_order = np.repeat(np.arange(n_orders), lines)
    flags = rng.integers(0, len(FLAGS), n_lines)
    ship_day = np.clip(order_day[l_order] + rng.integers(-60, 120, n_lines), 1, span_days + 90)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": [FLAGS[f][0] for f in flags],
        "l_linestatus": [FLAGS[f][1] for f in flags],
        "l_shipdate": pa.array(lo_day + ship_day * day_ms, pa.timestamp("ms")),
    })

    # events: one increasing clock over 30 days, microsecond precision
    # stored as nanoseconds (the readers' nanos-as-long path)
    t0_us = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1_000_000)
    gaps = rng.exponential(30 * 86_400_000_000 / n_events, n_events).astype(np.int64)
    ts_ns = (t0_us + np.cumsum(gaps)) * 1000
    _write(out_dir, "events", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ts_ns, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events).tolist(),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")  # near duplicate
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 91)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS).tolist(),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    labels = rng.integers(0, N_LABELS, N_DOCS)
    centers = rng.normal(0, 1, (N_LABELS, EMBED_DIM))
    vecs = 0.15 * centers[labels] + rng.normal(0, 1, (N_DOCS, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(N_DOCS), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out_dir
