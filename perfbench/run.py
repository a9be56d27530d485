"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Makes the run's inputs from the seed (``prepare.py``), then measures the
workload in a separate process (``worker.py``) that holds one Spark
session. Everything a run writes stays under ``perfbench/.work/``: the
corpus, Spark local dirs, the Derby home and the warehouse in a per-run
directory that is removed after a clean run, and every run's stderr,
load telemetry and (with ``--trace 1``) its spans in ``logs/`` and
``traces/``, which are kept.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
with ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see ``perfbench/README.md``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("modules_sf0.01", "ingest_sf0.01")
DEADLINE_S = 170  # a run must end within 180 s
# The driver heap is fixed and touched at start, so peak RSS does not
# depend on when the collector chose to grow the heap.
HEAP = "1g"


def telemetry() -> dict:
    """Load averages and the cumulative CPU jiffies of /proc/stat."""
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {"loadavg": list(os.getloadavg()), "cpu_total": sum(cpu), "cpu_steal": cpu[7]}


def reap(pgid: int) -> None:
    """Kill whatever is left in the worker's process group and wait
    until none of it remains."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(100):
        alive = False
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                alive = True
                break
        if not alive:
            return
        time.sleep(0.1)


def run_step(cmd, env, cwd, log, deadline) -> tuple[int, str]:
    """Run one step in its own process group, stderr appended to the
    run's log; returns (exit code, stdout)."""
    t0 = time.monotonic()
    proc = subprocess.Popen(
        cmd, env=env, cwd=cwd, stdout=subprocess.PIPE, stderr=log,
        text=True, start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        reap(proc.pid)
        out, _ = proc.communicate()
        print(f"# {cmd[1]} exceeded the run deadline", file=log, flush=True)
        return 124, out
    reap(proc.pid)
    print(f"# {os.path.basename(cmd[1])}: exit {proc.returncode} after "
          f"{time.monotonic() - t0:.1f}s", file=log, flush=True)
    return proc.returncode, out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    if not os.path.isdir(os.path.join(ROOT, "micmac_li3ds_spark")):
        print("perfbench: the engine package micmac_li3ds_spark is missing", file=sys.stderr)
        return 2

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    base = os.path.join(HERE, ".work")
    work = os.path.join(base, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    for d in (work, os.path.join(base, "logs"), os.path.join(base, "traces")):
        os.makedirs(d, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    log_path = os.path.join(base, "logs", f"{tag}-{stamp}.stderr")

    java_opts = " ".join([
        f"-Xms{HEAP}",
        "-XX:+AlwaysPreTouch",
        f"-Dderby.system.home={work}/derby-home",
        f"-Dderby.stream.error.file={work}/derby.log",
        # no fsync on Derby commits: shared-disk flush latency would
        # dominate the upsert timings
        "-Dderby.system.durability=test",
        "-Duser.timezone=UTC",
    ])
    env = dict(os.environ)
    env.update({
        # Python workers (pandas UDFs, Python data sources) import the engine
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options", shlex.quote(java_opts),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
            # no progress bar redrawn on stderr while stages run
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    })

    load_start = telemetry()
    with open(log_path, "w") as log:
        code, _ = run_step(
            [sys.executable, os.path.join(HERE, "prepare.py"), "--workload",
             args.workload, "--seed", str(args.seed), "--out", work],
            env, work, log, deadline,
        )
        out = ""
        if code == 0:
            code, out = run_step(
                [sys.executable, os.path.join(HERE, "worker.py"), "--workload",
                 args.workload, "--work", work, "--seconds", str(args.seconds),
                 "--trace", str(args.trace), "--run-id", f"{tag}-{stamp}"],
                env, work, log, deadline,
            )
    load_end = telemetry()
    jiffies = max(1, load_end["cpu_total"] - load_start["cpu_total"])
    load = {
        "loadavg_start": load_start["loadavg"],
        "loadavg_end": load_end["loadavg"],
        "steal_jiffies": [load_start["cpu_steal"], load_end["cpu_steal"]],
        "steal_share": (load_end["cpu_steal"] - load_start["cpu_steal"]) / jiffies,
    }
    with open(log_path, "a") as log:
        print(f"# load {json.dumps(load)}", file=log)
    with open(log_path) as log:
        sys.stderr.write(log.read())

    lines = out.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    with open(os.path.join(base, "logs", f"{tag}-{stamp}.json"), "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "seconds": args.seconds, "trace": args.trace, "exit": code,
                   "load": load, "result": result}, fh, indent=1)
    if args.trace and os.path.exists(os.path.join(work, "trace.json")):
        shutil.copyfile(os.path.join(work, "trace.json"),
                        os.path.join(base, "traces", f"{tag}-{stamp}.json"))
    if code != 0 or result is None or not result.get("metrics"):
        return code or 1
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
