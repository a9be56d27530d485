"""What the preparing and the measuring process share: paths, the
workload definitions and the result fingerprint."""

from __future__ import annotations

import hashlib
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = 0.01

# One registered query per operator module, in registry module order, so
# the loop reaches every module while each pass stays a few seconds.
# All have DuckDB oracles; substring-dup also exercises functions.cache_scope.
MODULE_QUERIES = [
    "q_pricing_summary",        # relational
    "q_agg_count_distinct",     # aggregates
    "q_join_broadcast",         # joins
    "q_win_dedup_latest",       # windows
    "q_fn_string",              # scalar_functions
    "q_topk_global",            # setops
    "q_llm_substring_dup",      # llm_text
    "q_llm_knn",                # llm_vector
    "q_etl_merge_upsert",       # etl
    "q_stream_tumbling",        # streaming_batch
    "q_udaf_pandas",            # udfs
    "q_scan_parquet",           # scans
    "q_mm_payload_hash",        # multimodal
    "q_shipping_priority",      # analytics
    "q_subquery_in",            # subqueries
    "q_llm_train_split",        # sampling
    "q_etl_scd2",               # reshape
    "q_ts_anomaly",             # mining
    "q_llm_warc_extract",       # warc (Arrow Python data source)
]

# Tables resolved by each set-up; every corpus table for the query loop.
SETUP_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# ingest: upserts into the bulk-loaded orders table, then the stream
N_UPSERTS = 4
UPSERT_ROWS = 100          # 90 updates of existing keys, 10 new keys
FEED_CHUNKS = 4            # feed files per import, in doc_id order
FEED_IMPORTS = 2           # the corpus is imported twice
COMPACT_EVERY = 4
WARM_FILES = 4             # feed files streamed by the warm cycle
ORDERS_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate_us", "o_orderpriority",
]


def load_check():
    """``tools/check.py``: the repository's oracle comparison, whose
    value normalisation the fingerprints reuse."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_check", os.path.join(ROOT, "tools", "check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fingerprint(check, cols, rows) -> dict:
    """Row count, sorted column names and an order-insensitive hash of
    the values, normalised as ``tools/check.py`` normalises them."""
    ms = check._rows_to_multiset(list(cols), rows)
    h = hashlib.sha256()
    for item in sorted(f"{k!r}*{v}" for k, v in ms.items()):
        h.update(item.encode())
    return {"rows": len(rows), "cols": sorted(cols), "hash": h.hexdigest()}
