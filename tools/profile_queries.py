"""Optimization profiler.

For each named query (default: bench HEADLINE + EXTENDED):
  * with ``--plans DIR``, capture ``explain("formatted")`` to
    DIR/<name>_<tag>.txt
  * time the computation with the noop sink (guide §1.4) — separates
    engine compute from the bench's collect()-to-Python cost
  * time the bench action (collect) for comparability
Prints one summary line per query and a JSON blob at the end.
``--runs 0`` captures plans only. Query lists, warm-up, timing and the
session come from ``bench.py``'s core.

Usage:
    python tools/profile_queries.py [--plans DIR] [--sf DIR] [--runs N]
                                    [--tag before] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (  # noqa: E402
    EXTENDED,
    HEADLINE,
    SF_DIR,
    noop,
    time_query,
    warm_up,
)
from micmac_li3ds_spark import registry  # noqa: E402
from micmac_li3ds_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", help="directory for the captured plans (default: none)")
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--runs", type=int, default=2, help="timed runs per action; 0 = plans only")
    ap.add_argument("--tag", default="before")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry.registry()
    names = args.queries or (HEADLINE + EXTENDED)
    if args.runs:
        warm_up(spark, args.sf)

    out = {}
    for name in names:
        fn = reg[name].fn
        if args.plans:
            plan = spark._jvm.PythonSQLUtils.explainString(
                fn(spark, args.sf)._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plans, f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(plan)
        if not args.runs:
            print(f"{name:30s} plan captured", flush=True)
            continue
        noop_best, _, _ = time_query(spark, fn, args.sf, args.runs, noop)
        collect_best, _, n = time_query(spark, fn, args.sf, args.runs)
        out[name] = {
            "noop": round(noop_best, 3),
            "collect": round(collect_best, 3),
            "rows": n,
        }
        print(
            f"{name:30s} noop={noop_best:7.3f}s collect={collect_best:7.3f}s "
            f"rows={n} xfer={collect_best - noop_best:+.3f}s",
            flush=True,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
