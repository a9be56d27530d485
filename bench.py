"""Benchmark runner — driver contract, and the timing core of the tools.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.
``$SPARK_GRAFT_CPUS`` defaults to the usable CPU count.

Each query is collected (full materialization). A warm-up run of the
flagship amortizes JVM/codegen startup out of the per-query numbers.

``tools/timing_audit.py`` and ``tools/profile_queries.py`` import the
query lists, ``SF_DIR``, ``load_telemetry``, ``warm_up`` and
``time_query`` from here, so all three harnesses measure the same way.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from micmac_li3ds_spark import registry  # noqa: E402
from micmac_li3ds_spark.session import get_spark, usable_cpus  # noqa: E402
from micmac_li3ds_spark.tables import TABLES, load  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one representative per operator family; extended as
# milestones land. Kept explicit so bench numbers stay comparable
# across rounds.
HEADLINE = [
    # relational core
    "q_pricing_summary",        # scan→filter→hash-agg→sort (TPC-H Q1 shape)
    "q_filter_simple",          # pushdown filter scan
    "q_project_distinct",       # shuffle distinct
    "q_agg_count_distinct",     # expand + two-phase distinct agg
    "q_join_broadcast",         # dim⋈fact broadcast hash join
    "q_join_sortmerge",         # large⋈large sort-merge join
    "q_join_asof",              # custom as-of (union + window rewrite)
    "q_win_dedup_latest",       # window keep-latest dedup
    "q_topk_global",            # TakeOrderedAndProject
    # LLM-pipeline ops
    "q_llm_exact_dedup",        # normalize→hash→groupBy dedup
    "q_llm_near_dedup",         # MinHash + LSH band buckets
    "q_llm_embed_dedup",        # sign-LSH embedding near-dup
    "q_llm_knn",                # broadcast-query cosine top-k
    "q_llm_tokenize_tf",        # explode-heavy term frequency
    # streaming batch-equivalent
    "q_stream_tumbling",        # event-time tumbling window agg
    # composite analytics (multi-join pipelines)
    "q_shipping_priority",      # TPC-H Q3 shape: 3-way join + top-k
    "q_local_supplier_volume",  # TPC-H Q5 shape: 6-way mixed-strategy join
    "q_large_volume_customer",  # TPC-H Q18 shape: agg-before-join + top-k
    "q_event_funnel",           # two-level conditional agg funnel
    # training-data pipeline (deterministic sampling / packing)
    "q_llm_train_split",        # hash-bucket train/val/test split
    "q_llm_seq_pack",           # prefix-sum sequence packing
    # warehouse maintenance
    "q_etl_scd2",               # SCD2 intervals: 2 windows, 1 shuffle
]

# Second bench group (round 7): the expensive specialist operators the
# headline set under-represents. Reported under separate JSON keys so
# the headline total stays comparable across every round since r1.
EXTENDED = [
    "q_join_fuzzy",             # PassJoin segment-blocked edit-distance join
    "q_join_spatial_grid",      # grid-cell broadcast spatial join
    "q_llm_substring_dup",      # posting-list substring-level dedup
    "q_llm_knn_pq_refine",      # PQ/ADC shortlist + exact re-rank
    "q_llm_curate_pipeline",    # end-to-end curation composite
    "q_abc_pareto",             # distributed global prefix-sum scan
    "q_skyline",                # strict prefix-min Pareto frontier
    "q_etl_merge_upsert",       # round 8: MERGE as one full-outer join
    "q_ts_anomaly",             # round 8: integer-algebra rolling z-score
    "q_agg_sketch_rollup",      # round 8: HLL partial-sketch union rollup
    "q_llm_lsh_recall",         # round 9: LSH candidate recall gauge
    # q_er_resolve is deliberately NOT benched: its wall time is an
    # iterative driver loop whose round count is corpus-dependent
    # (~24 s at sf0.1 after the τ=1 deletion-blocking fix) — a bad
    # bench citizen; the convergence behavior is pytest-pinned instead
]


def load_telemetry() -> dict:
    """Ambient-load snapshot: 1/5/15-min load averages and the usable-CPU
    count, so a run on a loaded host is attributable from the artifact
    alone (BENCH_r09 read as a 29% regression until an idle re-run
    disproved it)."""
    try:
        la = [round(x, 2) for x in os.getloadavg()]
    except (OSError, AttributeError):  # pragma: no cover - non-POSIX
        la = None
    return {"loadavg": la, "cpus_avail": usable_cpus()}


def warm_up(spark, sf: str) -> None:
    """JVM JIT + codegen + parquet footer/listing caches: the flagship
    query once, then every corpus table once, so per-query numbers
    measure steady-state engine throughput, not first-contact file
    listing + reader JIT."""
    registry.registry()["q_pricing_summary"].fn(spark, sf).collect()
    for t in TABLES:
        load(spark, sf, t).count()


def collect(df) -> int:
    """The bench action: full materialization into Python; row count."""
    return len(df.collect())


def noop(df) -> None:
    """Engine compute only: the noop sink runs every stage but ships no
    rows to Python."""
    df.write.format("noop").mode("overwrite").save()


def time_query(spark, fn, sf: str, runs: int, action=collect):
    """``(best, first, rows)`` over ``runs`` timed builds + ``action`` of
    ``fn(spark, sf)``. Best-of-N: single-run wall-clock on a shared JVM
    varies ±40% with scheduler noise, so the min is the engine's cost.
    The cache is cleared before every run: queries that cache
    intermediates (near-dedup) must rebuild them, or the second run
    measures a cache hit."""
    best, first, rows = float("inf"), 0.0, None
    for run in range(runs):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        rows = action(fn(spark, sf))
        elapsed = time.perf_counter() - t0
        if run == 0:
            first = elapsed
        best = min(best, elapsed)
    return best, first, rows


def main() -> None:
    load_start = load_telemetry()
    print(f"# load at start: {load_start}", file=sys.stderr)
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry.registry()
    warm_up(spark, SF_DIR)

    def run_group(group_names, runs):
        timings: dict[str, float] = {}
        first_timings: dict[str, float] = {}
        total = 0.0
        first_total = 0.0
        for name in group_names:
            best, first, n = time_query(spark, reg[name].fn, SF_DIR, runs)
            timings[name] = round(best, 3)
            first_timings[name] = round(first, 3)
            total += best
            first_total += first
            print(
                f"# {name}: best={best:.3f}s first={first:.3f}s rows={n}",
                file=sys.stderr,
            )
        return timings, first_timings, total, first_total

    # Headline best-of-3 (one extra sample halves the odds a transient
    # load spike survives into the headline); the pricier extended
    # group stays at best-of-2.
    timings, first_timings, total, first_total = run_group(
        [n for n in HEADLINE if n in reg], runs=3
    )
    ext_timings, ext_first_timings, ext_total, ext_first_total = run_group(
        [n for n in EXTENDED if n in reg], runs=2
    )
    load_end = load_telemetry()
    print(f"# load at end: {load_end}", file=sys.stderr)

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    # COMPACT stdout line only (r8 lesson: the all-in-one line outgrew
    # the driver's stdout tail capture and BENCH_r08.json recorded
    # parsed:null). The headline JSON stays short — metric + 22 query
    # timings + methodology markers, ~1 KB — and the first-run +
    # extended breakdowns go to a detail file next to this script
    # (gitignored BENCH_DETAIL.live.json by default; the committed
    # BENCH_DETAIL.json only via SPARK_GRAFT_DETAIL_PATH on a
    # deliberate idle capture) and to stderr.
    compact = {
        "metric": "headline_queries_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else SF_DIR,
        # per-query time is min over `runs` timed executions;
        # single-run figures live in the detail file
        "runs": 3,
        "timing": "best_of_n",
        # ambient-load attribution: loadavg [1m, 5m, 15m] sampled
        # before Spark startup and after the last query, plus the
        # process' usable-CPU count — in the COMPACT line so the
        # driver-recorded artifact alone distinguishes a loaded
        # machine from a code regression
        "load_start": load_start,
        "load_end": load_end,
    }
    detail = dict(
        compact,
        first_run_total=round(first_total, 3),
        first_run_queries=first_timings,
        # round-7 second group: specialist operators, reported
        # separately so `value` (the headline total) remains
        # comparable with rounds 1-6
        extended_total=round(ext_total, 3),
        extended_queries=ext_timings,
        extended_first_run_total=round(ext_first_total, 3),
        extended_first_run_queries=ext_first_timings,
        # the compact dict's "runs": 3 covers the HEADLINE group only —
        # the pricier extended group runs best-of-2; stated explicitly
        # so the artifact doesn't misreport the extended methodology
        extended_runs=2,
    )
    # default detail target is the GITIGNORED .live path: driver- and
    # ad-hoc-invoked runs (often on a loaded host) kept overwriting the
    # committed idle telemetry in BENCH_DETAIL.json, leaving the tree
    # dirty round after round (r16 verdict item 5 — 4th recurrence).
    # A deliberate idle capture opts into the committed file with
    # SPARK_GRAFT_DETAIL_PATH=BENCH_DETAIL.json.
    # a relative override resolves against this script's directory, not
    # the process cwd — "SPARK_GRAFT_DETAIL_PATH=BENCH_DETAIL.json" must
    # refresh the repo's committed file no matter where bench is invoked
    # from
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        os.environ.get("SPARK_GRAFT_DETAIL_PATH", "BENCH_DETAIL.live.json"),
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
            fh.write("\n")
    except OSError as exc:  # read-only checkout: detail still on stderr
        print(f"# BENCH_DETAIL.json not written: {exc}", file=sys.stderr)
    print(json.dumps(detail), file=sys.stderr)
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
