"""The measured process: one Spark session, one driver thread.

Sets up the session several times, runs one unmeasured warm pass of
the workload, then repeats passes for ``--seconds`` (and at least a
workload's minimum number of passes) as a closed loop: the next
operation starts when the previous one has returned. Every result is
checked against the fingerprints ``prepare.py`` recorded. The last
stdout line is the run's JSON result.

    python3 perfbench/worker.py --workload NAME --work DIR --seconds S --trace 0|1
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import layers  # noqa: E402
from spans import Tracer, install  # noqa: E402

sys.path.insert(0, common.ROOT)

from micmac_li3ds_spark import registry, tables  # noqa: E402
from micmac_li3ds_spark.session import get_spark  # noqa: E402

N_SETUPS = 6  # the first also launches the JVM; the other five are measured
now = time.perf_counter


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Run:
    """One measured run: the session, the tracer, the expected results
    and the tally of attempted and failed operations."""

    def __init__(self, args, expected, tracer):
        self.args = args
        self.expected = expected
        self.sf_dir = expected["sf_dir"]
        self.tracer = tracer
        self.check = common.load_check()
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.pass_steps: list[dict[str, float]] = []
        self.samples: list[float] = []
        self.measure_s = 0.0

    def fail(self, what: str, exc: "BaseException | None" = None, n: int = 1) -> None:
        self.failed += n
        log(f"FAILED {what}")
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)

    def verify(self, what: str, cols, rows, want: dict) -> None:
        got = common.fingerprint(self.check, cols, rows)
        if got != want:
            self.fail(f"{what}: got {got['rows']} rows {got['hash'][:12]}, "
                      f"want {want['rows']} rows {want['hash'][:12]}")

    def setup(self, table_names) -> tuple[float, float]:
        """Start (or restart) the session and resolve the workload's
        tables; returns (session start s, whole set-up s)."""
        if self.spark is not None:
            self.spark.stop()
        t0 = now()
        self.spark = get_spark("perfbench", cpus=self.cpus, shuffle_partitions=self.cpus)
        t1 = now()
        self.spark.sparkContext.setLogLevel("ERROR")
        for name in table_names:
            tables.load(self.spark, self.sf_dir, name)
        return t1 - t0, now() - t0

    def query_pass(self, reg, index: int, ps: "dict | None") -> tuple[list[float], dict]:
        """One sweep of the query list: build, plan and collect each
        query, then check its result outside the timed part. Each query
        is one operation and one step of the pass."""
        sc = self.spark.sparkContext
        lats = {}
        for name in common.MODULE_QUERIES:
            q = reg[name]
            module = q.fn.__module__.rsplit(".", 1)[1]
            group = f"{self.tracer.run_id}:{index}:{name}"
            self.attempted += 1
            try:
                with self.tracer.span("query", query=name, module=module) as qs:
                    t0 = now()
                    if qs is not None:
                        sc.setJobGroup(group, name)
                    with self.tracer.span("build"):
                        df = q.fn(self.spark, self.sf_dir)
                    if qs is not None:
                        qs["jobs_build"] = len(sc.statusTracker().getJobIdsForGroup(group))
                    with self.tracer.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                    with self.tracer.span("action"):
                        rows = df.collect()
                    lat = now() - t0
                if qs is not None:
                    qs.update(layers.query_counters(self.spark, df, group))
                    qs["result_rows"] = len(rows)
                    sc.setLocalProperty("spark.jobGroup.id", None)
            except Exception as exc:  # counted; the loop goes on
                self.fail(name, exc)
                continue
            lats[name] = lat
            self.verify(name, df.columns, rows, self.expected["queries"][name])
        return list(lats.values()), lats

    def one_pass(self, body, index: int, measured: bool) -> None:
        with self.tracer.span("pass", index=index, measured=measured) as ps:
            gc0 = layers.gc_seconds(self.spark) if ps is not None else 0.0
            lats, steps = body(index, small=not measured, ps=ps)
            wall = sum(steps.values())
            if ps is not None:
                ps["gc_s"] = layers.gc_seconds(self.spark) - gc0
                ps["wall_s"] = wall
        log(f"pass {index} wall {wall:.3f}s: {' '.join(f'{x:.3f}' for x in steps.values())}")
        if measured:
            self.pass_steps.append(steps)
            self.samples.extend(lats)

    def warm_and_measure(self, body, min_passes: int) -> None:
        """One unmeasured warm pass, then at least ``min_passes`` whole
        passes, and more while another one is expected to end within
        ``--seconds`` of the first."""
        t0 = now()
        self.one_pass(body, 0, measured=False)
        log(f"warm pass {now() - t0:.2f}s")
        t_start = now()
        i, last_pass = 1, 0.0
        while i <= min_passes or now() - t_start + last_pass <= self.args.seconds:
            t0 = now()
            self.one_pass(body, i, measured=True)
            last_pass = now() - t0
            i += 1
        self.measure_s = now() - t_start

    def wall_s(self) -> float:
        """A pass's wall time, step by step: the sum over its steps of
        each step's median over the measured passes, so a stall that hits
        one step of one pass does not move it."""
        names = {name for steps in self.pass_steps for name in steps}
        return sum(
            statistics.median([steps[n] for steps in self.pass_steps if n in steps])
            for n in names
        )


def stop_jvm(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-id", default="run")
    args = ap.parse_args()

    with open(os.path.join(args.work, "expected.json")) as fh:
        expected = json.load(fh)
    tracer = Tracer(args.run_id, enabled=bool(args.trace))
    run = Run(args, expected, tracer)
    is_ingest = args.workload.startswith("ingest")

    reg = registry.registry()  # imports every operator module before rebinding
    if args.trace:
        log(f"wrappers installed: {install(tracer)}")

    table_names = ("orders", "lineitem") if is_ingest else common.SETUP_TABLES
    # One warm pass takes the first-use costs (class loading, codegen,
    # Python workers, the Derby boot); one small ingest cycle warms every
    # ingest step. Query passes keep speeding up for a pass or two while
    # the JIT compiles, so the query loop measures at least three and
    # takes each query's median.
    if is_ingest:
        import ingest

        body = lambda i, small, ps: ingest.cycle(run, i, small, ps)  # noqa: E731
        min_passes = 1
    else:
        body = lambda i, small, ps: run.query_pass(reg, i, ps)  # noqa: E731
        min_passes = 3
    starts, setups = [], []
    try:
        with tracer.span("workload", workload=args.workload):
            for _ in range(N_SETUPS):
                with tracer.span("setup"):
                    start_s, setup_s = run.setup(table_names)
                starts.append(start_s)
                setups.append(setup_s)
            log(f"session starts {[round(s, 3) for s in starts]} "
                f"set-ups {[round(s, 3) for s in setups]}")
            run.warm_and_measure(body, min_passes)
    except Exception as exc:  # the session died
        run.fail("workload aborted", exc)
        print(json.dumps({"correct": False, "attempted": run.attempted,
                          "failed": run.failed, "metrics": {}}))
        sys.exit(1)
    rss_py, rss_jvm = layers.peak_rss_mb(run.spark)
    log(f"peak rss python {rss_py:.1f} MB, jvm {rss_jvm:.1f} MB")

    if args.trace:
        values, passes = layers.per_layer(tracer, starts)
        bad = tracer.check_nesting()
        if bad:
            run.fail(f"trace self-check: children sum past parent in spans {bad[:10]}")
        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in values.items()}
        tracer.dump(
            os.path.join(args.work, "trace.json"),
            {"session_starts_s": starts, "setups_s": setups, "passes": passes},
        )
    else:
        metrics = {
            "setup_s": {"value": statistics.median(setups[1:]), "unit": "s"},
            "wall_s": {"value": run.wall_s(), "unit": "s"},
            "query_p50_s": {"value": statistics.median(run.samples), "unit": "s"},
            "peak_rss_mb": {"value": rss_py + rss_jvm, "unit": "MB"},
        }
    # No tail percentile is an end-to-end metric: a run has too few
    # operations for ten to lie beyond any tail. The p90 is logged.
    log(
        f"measured {len(run.pass_steps)} passes, {len(run.samples)} operations "
        f"in {run.measure_s:.1f}s (p90 "
        f"{statistics.quantiles(run.samples, n=10, method='inclusive')[-1]:.3f}s); "
        f"error_rate {run.failed}/{run.attempted}"
    )
    stop_jvm(run.spark)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
