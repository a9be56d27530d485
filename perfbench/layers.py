"""Per-layer counters read from Spark, and the per-layer metrics built
from a traced run's spans.

Every per-layer metric is a per-pass figure (a pass is one sweep of the
query list, or one ingest cycle), reported as the median over the
measured passes. Layers a workload does not reach report 0.
"""

from __future__ import annotations

import os
import re
import statistics
from collections import Counter, defaultdict

OPERATOR_MODULES = [
    "relational", "aggregates", "joins", "windows", "scalar_functions",
    "setops", "llm_text", "llm_vector", "etl", "streaming_batch", "udfs",
    "scans", "multimodal", "analytics", "subqueries", "sampling",
    "reshape", "mining", "warc",
]

UNITS = {
    "session.start_s": "s",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "build_s": "s",
    "build_share": "ratio",
    "spark.jobs_build": "count",
    **{f"op.{m}.wall_s": "s" for m in OPERATOR_MODULES},
    "plan_s": "s",
    "exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "shuffle.write_bytes": "bytes",
    "spill.bytes": "bytes",
    "scan.rows": "count",
    "result.rows": "count",
    "jvm.gc_s": "s",
    "cache.bytes": "bytes",
    "jdbc.stage_write_s": "s",
    "jdbc.merge_s": "s",
    "jdbc.merge_ms_per_row": "ms",
    "bulk_rows_per_s": "1/s",
    "upsert_rows_per_s": "1/s",
    "sink.parquet_write_s": "s",
    "sink.parquet_files": "count",
    "sink.parquet_bytes": "bytes",
    "stream.batch_s": "s",
    "stream_batch_p50_s": "s",
    "stream_batch_tail_s": "s",
    "compaction.fold_s": "s",
    "compaction.state_files": "count",
    "trace.wall_s": "s",
}

_METRIC = re.compile(r"(\w+) -> SQLMetric\(.*?value: (-?\d+)\)")
# final-plan metric name -> per-layer counter
_PLAN_METRICS = {"shuffleBytesWritten": "shuffle_write_bytes", "spillSize": "spill_bytes"}


def gc_seconds(spark) -> float:
    """Collection time the driver JVM has spent in garbage collection."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident set (MB) of this Python process and of the driver JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    out = []
    for pid in (os.getpid(), jvm_pid):
        with open(f"/proc/{pid}/status") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        out.append(kb / 1024.0)
    return out[0], out[1]


def _children(node):
    kids = node.children()
    out = [kids.apply(i) for i in range(kids.size())]
    subs = node.subqueries()
    out += [subs.apply(i) for i in range(subs.size())]
    return out


def plan_counters(jdf) -> Counter:
    """Shuffle bytes written, spill bytes and rows read by scans, summed
    over the operators of the final adaptive plan (query stages are
    entered through their ``plan``; reused exchanges are counted once)."""
    out: Counter = Counter()
    stack = [jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.finalPhysicalPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls.startswith("Reused"):
            continue
        for name, value in _METRIC.findall(node.metrics().mkString("\n")):
            if name in _PLAN_METRICS:
                out[_PLAN_METRICS[name]] += int(value)
            elif name == "numOutputRows" and "Scan" in cls:
                out["scan_rows"] += int(value)
        stack.extend(_children(node))
    return out


def query_counters(spark, df, group: str) -> dict:
    """Jobs and stages of the query's job group, final-plan operator
    counters, and the storage its cache scope holds once it returned."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        stages += len(info.stageIds) if info is not None else 0
    held = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        held += info.memSize() + info.diskSize()
    return {"jobs": len(jobs), "stages": stages, "cache_bytes": held,
            **plan_counters(df._jdf)}


def _med(values) -> float:
    return statistics.median(values) if values else 0.0


def per_layer(tracer, session_starts) -> tuple[dict, list]:
    """Per-pass medians of every per-layer metric, and the per-pass rows
    behind them (written to the trace file)."""
    spans = tracer.spans
    dur = {s["id"]: s["end"] - s["start"] for s in spans}
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)

    def under(sid, name):
        stack, out = list(kids[sid]), []
        while stack:
            s = stack.pop()
            if s["name"] == name:
                out.append(s)
            stack.extend(kids[s["id"]])
        return out

    def total(ss):
        return sum(dur[s["id"]] for s in ss)

    rows = []
    for p in spans:
        if p["name"] != "pass" or not p["measured"]:
            continue
        pid = p["id"]
        queries = under(pid, "query")
        builds = under(pid, "build")
        loads = under(pid, "tables.load")
        build_total = total(builds)
        query_total = total(queries)
        merges = [s for s in under(pid, "execute") if s["merge"]]
        upserts = [s for s in under(pid, "op") if s["kind"] == "upsert"]
        upsert_rows = sum(u["rows"] for u in upserts)
        upsert_merge = total(
            s for u in upserts for s in under(u["id"], "execute") if s["merge"]
        )
        folds = [s for s in under(pid, "auto_compact") if s["folded"]]
        fold_batches = {s["parent"] for s in folds}
        plain = [dur[s["id"]] for s in under(pid, "micro_batch")
                 if s["id"] not in fold_batches]
        parquet = under(pid, "write_partitioned_parquet")

        def qsum(key):
            return sum(s.get(key, 0) for s in queries)

        row = {
            "tables.load_calls": len(loads),
            "tables.load_s": total(loads),
            "build_s": build_total - total(
                s for b in builds for s in under(b["id"], "tables.load")
            ),
            "build_share": build_total / query_total if query_total else 0.0,
            "spark.jobs_build": qsum("jobs_build"),
            "plan_s": total(under(pid, "plan")),
            "exec_s": total(under(pid, "action")),
            "spark.jobs": qsum("jobs"),
            "spark.stages": qsum("stages"),
            "shuffle.write_bytes": qsum("shuffle_write_bytes"),
            "spill.bytes": qsum("spill_bytes"),
            "scan.rows": qsum("scan_rows"),
            "result.rows": qsum("result_rows"),
            "jvm.gc_s": p["gc_s"],
            "cache.bytes": max((s.get("cache_bytes", 0) for s in queries), default=0),
            "jdbc.stage_write_s": total(under(pid, "write_jdbc")),
            "jdbc.merge_s": total(merges),
            "jdbc.merge_ms_per_row": (
                1000.0 * upsert_merge / upsert_rows if upsert_rows else 0.0
            ),
            "bulk_rows_per_s": p.get("bulk_rows_per_s", 0.0),
            "upsert_rows_per_s": p.get("upsert_rows_per_s", 0.0),
            "sink.parquet_write_s": total(parquet),
            "sink.parquet_files": sum(s["files"] for s in parquet),
            "sink.parquet_bytes": sum(s["bytes"] for s in parquet),
            "stream.batch_s": _med(plain),
            "stream_batch_p50_s": p.get("stream_batch_p50_s", 0.0),
            "stream_batch_tail_s": p.get("stream_batch_tail_s", 0.0),
            "compaction.fold_s": total(folds),
            "compaction.state_files": p.get("state_files", 0),
            "trace.wall_s": p["wall_s"],
        }
        for m in OPERATOR_MODULES:
            row[f"op.{m}.wall_s"] = total(s for s in queries if s["module"] == m)
        rows.append(row)

    out = {k: _med([r[k] for r in rows]) for k in UNITS if k != "session.start_s"}
    # the first start launches the JVM; the later ones are what set-up repeats
    out["session.start_s"] = _med(session_starts[1:])
    return out, rows
