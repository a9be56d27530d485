"""Make one run's inputs from its seed and the expected results.

Writes the corpus, then records for every output the benchmark checks
the fingerprint of its reference: the DuckDB oracle of each measured
query, the post-upsert state of the ingest target, and the keeper set of
``q_llm_exact_dedup``. Runs in its own process so that neither the
generator nor DuckDB counts toward the measured process's memory.

    python3 perfbench/prepare.py --workload NAME --seed N --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import corpus  # noqa: E402


def oracle_fingerprints(check, con, names) -> dict:
    from micmac_li3ds_spark import registry

    reg = registry.registry()
    out = {}
    for name in names:
        rel = con.sql(reg[name].oracle)
        out[name] = common.fingerprint(check, rel.columns, rel.fetchall())
    return out


def upsert_inputs(rng, orders: pa.Table, out_dir: str) -> dict:
    """Four deltas of mostly updates with some new keys, and the target
    state after applying them in order."""
    state = {
        k: list(v)
        for k, *v in zip(
            orders["o_orderkey"].to_pylist(),
            orders["o_custkey"].to_pylist(),
            orders["o_orderstatus"].to_pylist(),
            orders["o_totalprice"].to_pylist(),
            orders["o_orderdate"].cast(pa.int64()).to_pylist(),
            orders["o_orderpriority"].to_pylist(),
        )
    }
    n = orders.num_rows
    n_new = common.UPSERT_ROWS // 10
    paths = []
    for k in range(common.N_UPSERTS):
        keys = rng.choice(n, common.UPSERT_ROWS - n_new, replace=False).tolist()
        keys += [n + k * n_new + i for i in range(n_new)]
        price = np.round(rng.uniform(1000.0, 500_000.0, len(keys)), 2).tolist()
        status = rng.choice(["F", "O", "P"], len(keys)).tolist()
        rows = []
        for key, p, s in zip(keys, price, status):
            old = state.get(key, [key % 1000, "O", 0.0, 0, "5-LOW"])
            rows.append([key, old[0], s, p, old[3], old[4]])
            state[key] = [old[0], s, p, old[3], old[4]]
        cols = list(zip(*rows))
        delta = pa.table(
            {
                "o_orderkey": pa.array(cols[0], pa.int64()),
                "o_custkey": pa.array(cols[1], pa.int64()),
                "o_orderstatus": pa.array(cols[2], pa.string()),
                "o_totalprice": pa.array(cols[3], pa.float64()),
                "o_orderdate": pa.array(cols[4], pa.int64()).cast(pa.timestamp("us")),
                "o_orderpriority": pa.array(cols[5], pa.string()),
            }
        )
        path = os.path.join(out_dir, f"delta_{k}.parquet")
        pq.write_table(delta, path)
        paths.append(path)
    final = [(key, *v) for key, v in state.items()]
    return {"deltas": paths, "final": final}


def stream_feed(documents: pa.Table, feed_dir: str) -> int:
    """The documents imported twice, as ordered chunk files: one
    micro-batch per file, doc_id ascending within each import."""
    os.makedirs(feed_dir, exist_ok=True)
    docs = documents.select(["doc_id", "text"])
    bounds = np.linspace(0, docs.num_rows, common.FEED_CHUNKS + 1).astype(int)
    i = 0
    for _ in range(common.FEED_IMPORTS):
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            path = os.path.join(feed_dir, f"part-{i:03d}.parquet")
            pq.write_table(docs.slice(lo, hi - lo), path)
            # file streams order by modification time; make it strict
            os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))
            i += 1
    return i


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    sys.path.insert(0, common.ROOT)
    check = common.load_check()
    sf_dir = os.path.join(args.out, "corpus")
    built = corpus.write(sf_dir, args.seed, common.SF)
    con = check.duck_connection(sf_dir)
    expected = {"sf_dir": sf_dir, "seed": args.seed}
    if args.workload.startswith("modules"):
        expected["queries"] = oracle_fingerprints(check, con, common.MODULE_QUERIES)
    elif args.workload.startswith("ingest"):
        rng = np.random.default_rng(args.seed + 1)
        up = upsert_inputs(rng, built["orders"], args.out)
        expected["deltas"] = up["deltas"]
        expected["orders_rows"] = built["orders"].num_rows
        expected["lineitem_rows"] = built["lineitem"].num_rows
        expected["orders_final"] = common.fingerprint(
            check, common.ORDERS_COLS, up["final"]
        )
        expected["feed_dir"] = os.path.join(args.out, "feed")
        expected["feed_files"] = stream_feed(built["documents"], expected["feed_dir"])
        expected["feed_warm_dir"] = os.path.join(args.out, "feed_warm")
        os.makedirs(expected["feed_warm_dir"])
        for name in sorted(os.listdir(expected["feed_dir"]))[: common.WARM_FILES]:
            src = os.path.join(expected["feed_dir"], name)
            dst = os.path.join(expected["feed_warm_dir"], name)
            shutil.copyfile(src, dst)
            shutil.copystat(src, dst)
        expected["keepers"] = oracle_fingerprints(
            check, con, ["q_llm_exact_dedup"]
        )["q_llm_exact_dedup"]
    else:
        sys.exit(f"unknown workload {args.workload!r}")
    with open(os.path.join(args.out, "expected.json"), "w") as fh:
        json.dump(expected, fh)


if __name__ == "__main__":
    main()
