"""Deterministic synthetic corpus for the benchmark.

Writes the ten tables the query registry reads (``io.TABLES``) as one
Parquet file each, with the schemas and value domains of the engine's
fixture corpus (FIXTURES.md), at a tenth of the rows of sf0.1 — the
sf0.01 row counts, with 1,000 documents and 1,000 embeddings. The
same seed always writes the same bytes' worth of values; a different
seed draws a different corpus of the same shape and size.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 1_000,
    "embeddings": 1_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "fr", "es", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH = datetime(1970, 1, 1)


def _micros(d: datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _days(rng, n, lo: datetime, hi: datetime) -> pa.Array:
    """Midnight timestamps drawn uniformly from [lo, hi]."""
    day = 86_400 * 1_000_000
    first, last = _micros(lo) // day, _micros(hi) // day
    return pa.array(rng.integers(first, last + 1, n) * day, pa.timestamp("us"))


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    """Word-soup texts with planted near-duplicates (an earlier text
    plus ``dup`` tokens) and a few exact duplicates, so the dedup
    queries find real clusters."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        elif i > 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def tables(seed: int) -> dict[str, pa.Table]:
    """Every table of the corpus for ``seed``, in memory."""
    rng = np.random.default_rng(seed)
    r = ROWS
    n_part, n_orders, n_li, n_ev = r["part"], r["orders"], r["lineitem"], r["events"]
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    ev_start = _micros(datetime(2024, 1, 1))
    ev_span = _micros(datetime(2024, 1, 31)) - ev_start
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(r["customer"]), pa.int64()),
            "c_name": _names("Customer", r["customer"]),
            "c_nationkey": pa.array(rng.integers(0, 25, r["customer"]), pa.int32()),
            "c_acctbal": _money(rng, r["customer"], -999.99, 9999.99),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, r["customer"])),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(r["supplier"]), pa.int64()),
            "s_name": _names("Supplier", r["supplier"]),
            "s_nationkey": pa.array(rng.integers(0, 25, r["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, r["supplier"], -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(rng.choice(part_names, n_part)),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, r["customer"], n_orders), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
            "o_totalprice": _money(rng, n_orders, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_orders, datetime(1995, 1, 1), datetime(2001, 8, 1)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, r["supplier"], n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
            "l_shipdate": _days(rng, n_li, datetime(1995, 1, 2), datetime(2001, 11, 4)),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.sort(ev_start + rng.integers(0, ev_span, n_ev)),
                           pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, r["documents"]),
        "embeddings": _embeddings(rng, r["embeddings"]),
    }


def write(seed: int, out_dir: str) -> None:
    """Write the corpus for ``seed`` as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
