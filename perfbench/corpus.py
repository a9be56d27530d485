"""Seeded generator for the ten corpus tables the engine queries.

The tables follow the column names, arrow types and value shapes of the
engine's corpus contract (``micmac_li3ds_spark/tables.py``): a TPC-H-like
star schema at scale factor ``sf``, an ``events`` stream table, a
``documents`` table with 25 planted near-duplicate pairs, and 64-d unit
``embeddings``. The same ``(seed, sf)`` always writes the same bytes.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "plate", "rod", "gizmo", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "de", "fr", "es"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big customer "
    "query filter vector group stream"
).split()

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH = datetime(1970, 1, 1)


def _days_since_epoch(y: int, m: int, d: int) -> int:
    return (datetime(y, m, d) - _EPOCH).days


def _ts_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table in memory; sizes scale with ``sf`` like the
    corpus of TESTDATA.md (sf0.01: 15,000 orders, 60,000 lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_evt = max(10, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = 500 if sf <= 0.01 else int(50_000 * sf)
    n_vec = 500 if sf <= 0.01 else int(20_000 * sf)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    d0 = _days_since_epoch(1995, 1, 1)
    d1 = _days_since_epoch(2001, 8, 1)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts_days(rng.integers(d0, d1 + 1, n_ord)),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": _ts_days(rng.integers(d0 + 1, d1 + 96, n_line)),
        }
    )
    start_us = (datetime(2024, 1, 1) - _EPOCH).days * _US_PER_DAY
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_evt)) + start_us
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_evt).tolist(),
            "value": np.round(np.minimum(rng.exponential(50.0, n_evt), 490.0) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts = [
        " ".join(rng.choice(WORDS, int(n)))
        for n in rng.integers(10, 100, n_docs)
    ]
    # near-duplicate pairs: a later document repeats an earlier one with
    # one extra token (Jaccard ~0.95-0.99 against a background < 0.1)
    picks = rng.choice(n_docs, size=(25, 2), replace=False)
    for a, b in picks:
        lo, hi = sorted((int(a), int(b)))
        texts[hi] = texts[lo] + " dup"
    lang_p = [0.44, 0.14, 0.14, 0.14, 0.14]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=lang_p).tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    return out


def write(out_dir: str, seed: int, sf: float) -> dict[str, pa.Table]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns them."""
    os.makedirs(out_dir, exist_ok=True)
    built = tables(seed, sf)
    for name, tbl in built.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return built
