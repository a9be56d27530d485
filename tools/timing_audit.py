"""Spark-side timing audit — find hidden scale warts before they bite.

Runs every registered query's Spark side (no oracle) at the given sf dir
and prints a per-query wall-clock ranking. The round-7 motivation: a
query can be driver-green for five rounds while hiding a quadratic
candidate explosion that only shows at 10× scale (q_join_range matched
~500M pairs and took 69 s at sf0.1 while passing every correctness
check). This audit makes cost visible where correctness checks cannot.

Since round 8 the audit is a STANDING PER-ROUND GATE with a durable
artifact: ``--json TIMING_r8.json`` writes the full ranking, and the
run auto-compares against the newest committed ``TIMING_r*.json`` —
any query slower than ``--regression-factor`` (default 2×) its recorded
time is listed in the artifact's ``regressions`` map and fails the exit
code, so cost can be diffed across rounds the way CORRECTNESS is.
A legitimate slowdown (query rewritten to do more work) is recorded by
committing the new artifact — the next run baselines against it.

Usage:
    python tools/timing_audit.py [--sf /root/testdata/sf0.1] [--top 20]
        [--json TIMING_r8.json] [--baseline TIMING_r7.json]
        [--regression-factor 2.0] [query ...]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from micmac_li3ds_spark import registry  # noqa: E402
from micmac_li3ds_spark.session import get_spark  # noqa: E402

#: ignore regressions under this many seconds — JVM/GC noise floor for
#: sub-second queries dominates any real signal down there
MIN_REGRESSION_SEC = 2.0


def _loadavg() -> list[float] | None:
    """Mirror of bench.py's guarded loadavg read (ADVICE r10: the two
    telemetry paths were inconsistent — this one crashed pre-Spark on
    platforms without os.getloadavg). AttributeError covers platforms
    where the function does not exist at all (Windows); OSError covers
    POSIX-ish ones where it exists but fails."""
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except (OSError, AttributeError):  # pragma: no cover - non-POSIX
        return None


def _artifacts_newest_first() -> list[str]:
    arts = glob.glob(os.path.join(_REPO, "TIMING_r*.json"))

    def rnd(p: str) -> int:
        m = re.search(r"TIMING_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    return sorted(arts, key=rnd, reverse=True)


def _newest_committed_artifact() -> str | None:
    arts = _artifacts_newest_first()
    return arts[0] if arts else None


def _git_committed_copy(path: str) -> str | None:
    """HEAD's version of ``path`` extracted to a temp file, or None —
    the baseline for an intra-round rerun that overwrites the newest
    artifact (r8 advice: the old behavior silently disabled the gate
    and certified the rewritten regressions:{} as clean)."""
    import subprocess
    import tempfile

    rel = os.path.relpath(os.path.abspath(path), _REPO)
    try:
        blob = subprocess.run(
            ["git", "-C", _REPO, "show", f"HEAD:{rel}"],
            capture_output=True,
            check=True,
        ).stdout
    except (subprocess.CalledProcessError, OSError):
        return None
    tf = tempfile.NamedTemporaryFile(
        "wb", suffix=".json", prefix="timing_baseline_", delete=False
    )
    tf.write(blob)
    tf.close()
    return tf.name


def _resolve_self_overwrite_baseline(
    artifact: str,
) -> tuple[str | None, str | None, str | None]:
    """Baseline for an intra-round rerun that overwrites the newest
    artifact: never run gate-less — HEAD's copy of the same file, else
    the next-newest artifact (r8 advice). Returns (path, label,
    tmp_path): ``tmp_path`` is the HEAD-copy temp file the caller must
    unlink after the gate (ADVICE r9 — one leaked temp per rerun
    otherwise), and when NO baseline resolves the printed message says
    the gate is disabled instead of printing 'None' like a path."""
    tmp = _git_committed_copy(artifact)
    if tmp is not None:
        label = f"HEAD:{os.path.basename(artifact)}"
        print(f"baseline (self-overwrite fallback): {label}")
        return tmp, label, tmp
    older = _artifacts_newest_first()[1:]
    if not older:
        print(
            "baseline (self-overwrite fallback): no committed or older "
            "artifact available — regression gate DISABLED"
        )
        return None, None, None
    print(f"baseline (self-overwrite fallback): {os.path.basename(older[0])}")
    return older[0], os.path.basename(older[0]), None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
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

    # ambient load BEFORE Spark starts — a loaded run is attributable
    # from the artifact alone (the bench telemetry pattern; guarded like
    # bench.py's _load_telemetry so a non-POSIX platform audits instead
    # of crashing pre-Spark, ADVICE r10)
    load_start = _loadavg()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("timing-audit", cpus=cpus, shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    regs = registry.registry()
    names = args.queries or list(regs)

    # JVM warmup BEFORE the measured loop: the first measured query
    # otherwise absorbs one-time session costs — codegen/Janino compiler
    # init, broadcast machinery, shuffle system, parquet footer reads.
    # Round 10 measured that tax at 3–5 s: whatever query leads the
    # driver window (registry.derive_window) runs first and gets flagged
    # as a false >2× regression purely for its position
    # (q_llm_cluster_assign read 9.8× while standalone-warm it was
    # FASTER than its baseline). One unmeasured scan+shuffle+broadcast
    # exercise makes per-query times position-independent.
    from pyspark.sql import functions as F  # local: tools-only dep

    w = spark.range(1_000_000).withColumn("k", F.col("id") % 32)
    d = spark.range(32).withColumnRenamed("id", "k")
    w.groupBy("k").count().join(F.broadcast(d), "k").collect()
    spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")).count()
    spark.read.parquet(os.path.join(args.sf, "embeddings.parquet")).count()

    # Each query runs TWICE and records min-of-2 (cold time kept in a
    # separate map): a single cold run is dominated by per-plan codegen
    # compile for sub-3 s queries, which made the regression gate flaky —
    # q_llm_pq_encode bounced 1.2→2.7 s across identical-code runs and
    # tripped the 2× gate on session noise. Real plan regressions survive
    # a warm rerun; compile noise does not. (Baselines recorded before
    # this change are single-run, so the first min-of-2 comparison can
    # only be more lenient, never falsely red.)
    # --sweeps N (round 17): the audit's quantity is the code's
    # INTRINSIC cost, but this host takes hypervisor-steal bursts that
    # land on ~5 random queries per ~8-minute sweep (r16: five full
    # attempts, ≥2× flag sets largely DISJOINT, every recurring flag
    # ≤1.8× solo, `ps` empty at loadavg 0.02–8; r17 reproduced it six
    # times before this change, flag sets again disjoint with every
    # flagged module diff-empty since the baseline commit). Steal is
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
    # flag false regressions forever after — code-review r17 #2). A
    # query that succeeded in ANY sweep reports its success min; its
    # other-sweep failures go to `transient_errors` (recorded, not
    # gating). Only a query that never succeeded lands in `errors`.
    ok_best: dict[str, tuple[float, int]] = {}
    err_best: dict[str, tuple[float, str]] = {}
    sweep_queries: list[dict[str, float]] = []
    sweep_totals: list[float] = []
    colds: dict[str, float] = {}
    err_msgs: dict[str, str] = {}
    for sweep in range(max(1, args.sweeps)):
        this_sweep: dict[str, float] = {}
        for name in names:
            spark.catalog.clearCache()
            cold = None
            t0 = time.time()
            try:
                n = len(regs[name].fn(spark, args.sf).collect())
                cold = time.time() - t0
                t1 = time.time()
                n = len(regs[name].fn(spark, args.sf).collect())
                warm = time.time() - t1
            except Exception as exc:  # keep auditing the rest
                err_msgs[name] = str(exc)[:200]
                # ADVICE r10: if the WARM rerun raised after a clean
                # cold run, record the completed cold time — cumulative
                # elapsed would silently inflate the errored query by a
                # whole run
                elapsed = cold if cold is not None else time.time() - t0
                this_sweep[name] = round(elapsed, 3)
                if name not in err_best or elapsed < err_best[name][0]:
                    err_best[name] = (elapsed, f"ERR {exc}"[:60])
                continue
            sec = min(cold, warm)
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

    # --- regression gate against the newest committed artifact ---
    baseline_path = args.baseline or _newest_committed_artifact()
    baseline_label = os.path.basename(baseline_path) if baseline_path else None
    tmp_baseline = None
    if baseline_path and args.json_out and os.path.abspath(
        baseline_path
    ) == os.path.abspath(args.json_out):
        baseline_path, baseline_label, tmp_baseline = (
            _resolve_self_overwrite_baseline(baseline_path)
        )
    regressions: dict[str, dict] = {}
    if baseline_path and os.path.exists(baseline_path):
        base = json.load(open(baseline_path)).get("queries", {})
        for sec, name, _ in timings:
            b = base.get(name)
            if (
                b
                and sec > args.regression_factor * b
                and sec >= MIN_REGRESSION_SEC
            ):
                regressions[name] = {
                    "now_sec": round(sec, 2),
                    "baseline_sec": round(b, 2),
                    "ratio": round(sec / b, 2),
                }
        if regressions:
            print(f"\n=== REGRESSIONS vs {os.path.basename(baseline_path)} ===")
            for name, r in sorted(
                regressions.items(), key=lambda kv: -kv[1]["ratio"]
            ):
                print(
                    f"{name:36s} {r['baseline_sec']:7.2f}s -> "
                    f"{r['now_sec']:7.2f}s ({r['ratio']}x)"
                )
    if tmp_baseline is not None:
        # ADVICE r9: don't leak one temp file per self-overwrite run
        try:
            os.unlink(tmp_baseline)
        except OSError:
            pass

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
            # same guarded read as load_start — an unguarded call here
            # would lose the entire multi-minute sweep's artifact on a
            # platform without loadavg (post-sweep crash, worse than
            # the pre-Spark one the r11 guard removed)
            "load_end": _loadavg(),
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
