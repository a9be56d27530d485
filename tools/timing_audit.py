"""Spark-side timing audit — find hidden scale warts before they bite.

Runs every registered query's Spark side (no oracle) at the given sf dir
and prints a per-query wall-clock ranking. The motivation: a query can
be driver-green for five rounds while hiding a quadratic candidate
explosion that only shows at 10× scale (q_join_range matched ~500M pairs
and took 69 s at sf0.1 while passing every correctness check). This
audit makes cost visible where correctness checks cannot.

The audit is a standing per-round gate with a durable artifact:
``--json TIMING_rN.json`` writes the full ranking, and the run compares
against the newest committed ``TIMING_r*.json`` (HEAD's copy, so a
rerun that overwrites that file still gates against the committed
numbers) — any query slower than ``--regression-factor`` (default 2×)
its recorded time is listed in the artifact's ``regressions`` map and
fails the exit code. A legitimate slowdown (query rewritten to do more
work) is recorded by committing the new artifact.

Timing, telemetry and the session come from ``bench.py``'s core.

Usage:
    python tools/timing_audit.py [--sf DIR] [--top 25] [--json TIMING_rN.json]
        [--baseline TIMING_rM.json] [--regression-factor 2.0]
        [--sweeps 1] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from bench import SF_DIR, load_telemetry, time_query  # noqa: E402
from micmac_li3ds_spark import registry  # noqa: E402
from micmac_li3ds_spark.session import get_spark  # noqa: E402

#: ignore regressions under this many seconds — JVM/GC noise floor for
#: sub-second queries dominates any real signal down there
MIN_REGRESSION_SEC = 2.0


def committed_baseline(repo: str = _REPO) -> tuple[str | None, dict]:
    """``(name, artifact)`` of the newest ``TIMING_r*.json`` committed at
    HEAD, read from git in memory: an untracked or locally rewritten
    artifact never becomes the baseline. ``(None, {})`` without one."""
    try:
        files = subprocess.run(
            ["git", "-C", repo, "ls-tree", "--name-only", "HEAD"],
            capture_output=True, text=True, check=True,
        ).stdout.split()
        rounds = {
            int(m.group(1)): f
            for f in files
            if (m := re.fullmatch(r"TIMING_r(\d+)\.json", f))
        }
        if not rounds:
            return None, {}
        name = rounds[max(rounds)]
        blob = subprocess.run(
            ["git", "-C", repo, "show", f"HEAD:{name}"],
            capture_output=True, check=True,
        ).stdout
    except (subprocess.CalledProcessError, OSError):
        return None, {}
    return name, json.loads(blob)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--json", dest="json_out", default=None)
    ap.add_argument("--baseline", default=None,
                    help="TIMING_r*.json to compare against "
                         "(default: newest committed)")
    ap.add_argument("--regression-factor", type=float, default=2.0)
    ap.add_argument(
        "--sweeps",
        type=int,
        default=1,
        help="full passes over the query set; per-query time is the MIN "
        "across sweeps (see the sweep-loop comment for why this is the "
        "honest estimator on a steal-prone host)",
    )
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    # the baseline is read before the sweep, so a bad path fails fast
    if args.baseline:
        baseline_label = os.path.basename(args.baseline)
        with open(args.baseline) as f:
            base = json.load(f).get("queries", {})
    else:
        baseline_label, artifact = committed_baseline()
        base = artifact.get("queries", {})
    print(f"baseline: {baseline_label or 'none — regression gate DISABLED'}")

    # ambient load BEFORE Spark starts — a loaded run is attributable
    # from the artifact alone
    load_start = load_telemetry()["loadavg"]
    spark = get_spark("timing-audit")
    spark.sparkContext.setLogLevel("ERROR")
    regs = registry.registry()
    names = args.queries or list(regs)

    # Each query runs TWICE and records min-of-2 (cold time kept in a
    # separate map): a single cold run is dominated by per-plan codegen
    # compile for sub-3 s queries, which made the regression gate flaky —
    # q_llm_pq_encode bounced 1.2→2.7 s across identical-code runs and
    # tripped the 2× gate on session noise. Real plan regressions survive
    # a warm rerun; compile noise does not. The min also keeps the
    # session's first-use cost (codegen init, shuffle and broadcast
    # machinery) out of the first query's recorded time.
    # --sweeps N: the audit's quantity is the code's INTRINSIC cost, but
    # a shared VM takes hypervisor-steal bursts that land on ~5 random
    # queries per ~8-minute sweep (flag sets of repeated full attempts
    # largely DISJOINT, every recurring flag ≤1.8× solo). Steal is
    # strictly one-sided noise — it can only inflate a reading — so the
    # MIN across repeated full sweeps is the honest estimator of
    # intrinsic cost, and a REAL code regression inflates every sweep
    # and survives any number of them. Per-sweep times are recorded in
    # the artifact (sweep_queries/sweep_totals) so the reduction is
    # auditable, and `timing` names the methodology.
    # successes and failures reduce SEPARATELY: an errored sweep's
    # time-to-raise is not comparable to a completed run's time, so a
    # fast transient failure must never replace a valid measurement
    # (it would bake a deflated floor into the committed baseline and
    # flag false regressions forever after). A query that succeeded in
    # ANY sweep reports its success min; its other-sweep failures go to
    # `transient_errors` (recorded, not gating). Only a query that never
    # succeeded lands in `errors`.
    ok_best: dict[str, tuple[float, int]] = {}
    err_best: dict[str, tuple[float, str]] = {}
    sweep_queries: list[dict[str, float]] = []
    sweep_totals: list[float] = []
    colds: dict[str, float] = {}
    err_msgs: dict[str, str] = {}
    for sweep in range(max(1, args.sweeps)):
        this_sweep: dict[str, float] = {}
        for name in names:
            t0 = time.perf_counter()
            try:
                sec, cold, n = time_query(spark, regs[name].fn, args.sf, 2)
            except Exception as exc:  # keep auditing the rest
                err_msgs[name] = str(exc)[:200]
                elapsed = time.perf_counter() - t0
                this_sweep[name] = round(elapsed, 3)
                if name not in err_best or elapsed < err_best[name][0]:
                    err_best[name] = (elapsed, f"ERR {exc}"[:60])
                continue
            this_sweep[name] = round(sec, 3)
            if name not in colds or cold < colds[name]:
                colds[name] = round(cold, 3)
            if name not in ok_best or sec < ok_best[name][0]:
                ok_best[name] = (sec, n)
            print(
                f"{sec:8.2f}s  (cold {cold:5.2f}s)  {name:36s} rows={n}",
                flush=True,
            )
        sweep_queries.append(this_sweep)
        sweep_totals.append(round(sum(this_sweep.values()), 1))
        if args.sweeps > 1:
            print(
                f"--- sweep {sweep + 1}/{args.sweeps}: "
                f"{sweep_totals[-1]}s ---",
                flush=True,
            )
    timings: list[tuple[float, str, int | str]] = [
        (sec, name, n) for name, (sec, n) in ok_best.items()
    ] + [
        (sec, name, msg)
        for name, (sec, msg) in err_best.items()
        if name not in ok_best
    ]
    errors = {n: m for n, m in err_msgs.items() if n not in ok_best}
    transient_errors = {n: m for n, m in err_msgs.items() if n in ok_best}
    if transient_errors:
        print(f"transient errors (succeeded elsewhere): {transient_errors}")

    print("\n=== slowest ===")
    for sec, name, n in sorted(timings, reverse=True)[: args.top]:
        print(f"{sec:8.2f}s  {name:36s} rows={n}")
    total = sum(t for t, _, _ in timings)
    print(f"\ntotal {total:.1f}s over {len(timings)} queries")
    spark.stop()

    # --- regression gate against the baseline artifact ---
    regressions: dict[str, dict] = {}
    for sec, name, _ in timings:
        b = base.get(name)
        if b and sec > args.regression_factor * b and sec >= MIN_REGRESSION_SEC:
            regressions[name] = {
                "now_sec": round(sec, 2),
                "baseline_sec": round(b, 2),
                "ratio": round(sec / b, 2),
            }
    if regressions:
        print(f"\n=== REGRESSIONS vs {baseline_label} ===")
        for name, r in sorted(regressions.items(), key=lambda kv: -kv[1]["ratio"]):
            print(
                f"{name:36s} {r['baseline_sec']:7.2f}s -> "
                f"{r['now_sec']:7.2f}s ({r['ratio']}x)"
            )

    if args.json_out:
        out = {
            "sf": args.sf,
            "total_sec": round(total, 1),
            "n_queries": len(timings),
            "baseline": baseline_label,
            "regression_factor": args.regression_factor,
            "timing": (
                "min_of_2"
                if args.sweeps <= 1
                else f"min_of_2_across_{args.sweeps}_sweeps"
            ),
            "sweep_totals": sweep_totals,
            "sweep_queries": sweep_queries,
            "queries": {
                name: round(sec, 3) for sec, name, _ in sorted(timings)
            },
            "cold_queries": colds,
            "rows": {
                name: n for _, name, n in timings if not isinstance(n, str)
            },
            "load_start": load_start,
            "load_end": load_telemetry()["loadavg"],
            "errors": errors,
            "transient_errors": transient_errors,
            "regressions": regressions,
        }
        with open(args.json_out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"\nwrote {args.json_out}")

    return 1 if (regressions or errors) else 0


if __name__ == "__main__":
    raise SystemExit(main())
