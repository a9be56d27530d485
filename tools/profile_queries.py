"""Optimization profiler.

For each named query (default: bench HEADLINE + EXTENDED):
  * capture ``explain("formatted")`` to <plans>/<name>_<tag>.txt
  * time the computation with the noop sink (guide §1.4) — separates
    engine compute from the bench's collect()-to-Python cost
  * time the bench action (collect) for comparability
Prints one summary line per query and a JSON blob at the end.

Usage:
    python tools/profile_queries.py --plans DIR [--sf DIR] [--runs N]
                                    [--tag before] [--no-plans] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from micmac_li3ds_spark import registry  # noqa: E402
from micmac_li3ds_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q_pricing_summary", "q_filter_simple", "q_project_distinct",
    "q_agg_count_distinct", "q_join_broadcast", "q_join_sortmerge",
    "q_join_asof", "q_win_dedup_latest", "q_topk_global",
    "q_llm_exact_dedup", "q_llm_near_dedup", "q_llm_embed_dedup",
    "q_llm_knn", "q_llm_tokenize_tf", "q_stream_tumbling",
    "q_shipping_priority", "q_local_supplier_volume",
    "q_large_volume_customer", "q_event_funnel", "q_llm_train_split",
    "q_llm_seq_pack", "q_etl_scd2",
]
EXTENDED = [
    "q_join_fuzzy", "q_join_spatial_grid", "q_llm_substring_dup",
    "q_llm_knn_pq_refine", "q_llm_curate_pipeline", "q_abc_pareto",
    "q_skyline", "q_etl_merge_upsert", "q_ts_anomaly",
    "q_agg_sketch_rollup", "q_llm_lsh_recall",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", required=True, help="directory for the captured plans")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument("--plans-only", action="store_true")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    plans_dir = args.plans
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark("profile", cpus=args.cpus, shuffle_partitions=max(args.cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry.registry()
    names = args.queries or (HEADLINE + EXTENDED)

    if not args.plans_only:
        # warm-up mirrors bench.py: flagship + one touch per corpus table
        reg["q_pricing_summary"].fn(spark, args.sf).collect()
        from micmac_li3ds_spark.tables import TABLES, load

        for t in TABLES:
            load(spark, args.sf, t).count()

    out = {}
    for name in names:
        q = reg[name]
        spark.catalog.clearCache()
        df = q.fn(spark, args.sf)
        if not args.no_plans:
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(plan)
        if args.plans_only:
            print(f"{name:30s} plan captured", flush=True)
            continue
        noop_best = float("inf")
        for _ in range(args.runs):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name} [noop]")
            t0 = time.time()
            df2 = q.fn(spark, args.sf)
            df2.write.format("noop").mode("overwrite").save()
            noop_best = min(noop_best, time.time() - t0)
        collect_best = float("inf")
        n = 0
        for _ in range(args.runs):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name} [collect]")
            t0 = time.time()
            df3 = q.fn(spark, args.sf)
            n = df3.count() if name.startswith("q_scan") else len(df3.collect())
            collect_best = min(collect_best, time.time() - t0)
        spark.sparkContext.setJobDescription(None)
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
