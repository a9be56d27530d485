"""One cycle of the ingest workload: the reference's load job, with
writes beside reads.

1. bulk ``JdbcUpsertSink`` load of ``orders`` into embedded Derby;
2. ``N_UPSERTS`` incremental upserts into the loaded table;
3. ``write_partitioned_parquet`` of ``lineitem`` by ship month;
4. ``run_streaming_exact_dedup`` over ``documents`` imported twice, one
   micro-batch per feed file, folding state every ``COMPACT_EVERY``.

The warm cycle runs the same steps on small inputs. Measured cycles are
then checked outside the timed steps: the Derby target is read back and
compared with the expected post-upsert state, the keeper set with
``q_llm_exact_dedup``'s oracle, the parquet row count with ``lineitem``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

import common
from micmac_li3ds_spark import tables
from micmac_li3ds_spark.sources.jdbc import derby_config, read_table
from micmac_li3ds_spark.sources.sinks import JdbcUpsertSink, write_partitioned_parquet
from micmac_li3ds_spark.streaming import jobs
from micmac_li3ds_spark.streaming.compaction import state_file_count

now = time.perf_counter
COLUMN_TYPES = "o_orderstatus VARCHAR(1), o_orderpriority VARCHAR(16)"
WARM_KEYS = 1000     # orders / lineitem keys loaded by the warm cycle


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def cycle(run, index: int, small: bool, ps: dict | None) -> tuple[list[float], dict]:
    """Run one cycle; returns the latency of every operation (each
    micro-batch is one) and the elapsed time of each step (the bulk
    load, each upsert, the parquet write and the whole stream)."""
    spark, exp, tr = run.spark, run.expected, run.tracer
    work = os.path.join(run.args.work, f"cycle{index}")
    cfg = derby_config(os.path.join(run.args.work, "derby"))
    target = f"orders_c{index}"
    sink = JdbcUpsertSink(cfg, target, ["o_orderkey"], create_table_column_types=COLUMN_TYPES)
    orders = tables.load(spark, exp["sf_dir"], "orders")
    lineitem = tables.load(spark, exp["sf_dir"], "lineitem")
    feed = exp["feed_dir"]
    n_files = exp["feed_files"]
    deltas = exp["deltas"]
    if small:
        orders = orders.filter(F.col("o_orderkey") < WARM_KEYS)
        lineitem = lineitem.filter(F.col("l_orderkey") < WARM_KEYS)
        feed, n_files, deltas = exp["feed_warm_dir"], common.WARM_FILES, deltas[:1]
    lats: list[float] = []
    steps: dict[str, float] = {}

    def op(step, kind, fn, **attrs) -> float:
        run.attempted += 1
        try:
            with tr.span("op", kind=kind, **attrs):
                t0 = now()
                fn()
                lat = now() - t0
        except Exception as exc:  # counted; the cycle goes on
            run.fail(f"{kind} (cycle {index})", exc)
            return 0.0
        lats.append(lat)
        steps[step] = lat
        return lat

    n_bulk = WARM_KEYS if small else exp["orders_rows"]
    bulk_s = op("bulk", "bulk", lambda: sink.upsert(orders), rows=n_bulk)
    upsert_s = 0.0
    for k, path in enumerate(deltas):
        upsert_s += op(f"upsert{k}", "upsert", lambda: sink.upsert(spark.read.parquet(path)),
                       rows=common.UPSERT_ROWS)

    out = os.path.join(work, "lineitem_by_month")
    by_month = lineitem.withColumn("ship_month", F.date_format("l_shipdate", "yyyy-MM"))

    def write_parquet():
        with tr.span("write_partitioned_parquet") as rec:
            write_partitioned_parquet(by_month, out, ["ship_month"])
            if rec is not None:
                rec["files"], rec["bytes"] = _dir_stats(out)

    op("parquet", "parquet", write_parquet)

    seen, dups = os.path.join(work, "seen"), os.path.join(work, "dups")
    batch_s: list[float] = []

    def stream():
        src = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        q = jobs.run_streaming_exact_dedup(
            src, seen, dups, checkpoint=os.path.join(work, "ckpt"),
            compact_every=common.COMPACT_EVERY,
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        batch_s.extend(
            p["durationMs"]["triggerExecution"] / 1000.0
            for p in q.recentProgress
            if p["numInputRows"] > 0
        )
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    # every micro-batch is one operation; those never run count as failed
    run.attempted += n_files
    t0 = now()
    try:
        with tr.span("op", kind="stream", files=n_files):
            stream()
    except Exception as exc:
        run.fail(f"stream (cycle {index})", exc, n=max(1, n_files - len(batch_s)))
    else:
        if len(batch_s) != n_files:
            run.fail(f"stream ran {len(batch_s)} of {n_files} batches",
                     n=abs(n_files - len(batch_s)))
        steps["stream"] = now() - t0
    lats.extend(batch_s)

    if ps is not None:
        ps["bulk_rows_per_s"] = n_bulk / bulk_s if bulk_s else 0.0
        n_up = common.UPSERT_ROWS * len(deltas)
        ps["upsert_rows_per_s"] = n_up / upsert_s if upsert_s else 0.0
        if batch_s:
            ps["stream_batch_p50_s"] = statistics.median(batch_s)
            # p90: a cycle has too few batches for ten to lie beyond any tail
            ps["stream_batch_tail_s"] = statistics.quantiles(
                batch_s, n=10, method="inclusive")[-1]
        ps["state_files"] = state_file_count(spark, seen) + state_file_count(spark, dups)

    if not small:
        verify(run, cfg, target, seen, dups, out)
    shutil.rmtree(work, ignore_errors=True)
    return lats, steps


def verify(run, cfg, target, seen, dups, parquet_dir) -> None:
    """Read every written output back and compare it with the expected
    state; each check is one attempted operation."""
    spark, exp = run.spark, run.expected

    def orders_read_back():
        rows = read_table(spark, cfg, target).select(
            *common.ORDERS_COLS[:4],
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate_us"),
            "o_orderpriority",
        ).collect()
        run.verify("orders read-back", common.ORDERS_COLS, rows, exp["orders_final"])

    def stream_keepers():
        rows = jobs.read_exact_dedup(spark, seen, dups).collect()
        run.verify("stream keepers", ["fp", "kept_doc_id", "n_copies"], rows, exp["keepers"])

    def parquet_rows():
        n = spark.read.parquet(parquet_dir).count()
        if n != exp["lineitem_rows"]:
            run.fail(f"parquet rows: got {n}, want {exp['lineitem_rows']}")

    for check in (orders_read_back, stream_keepers, parquet_rows):
        run.attempted += 1
        try:
            check()
        except Exception as exc:  # counted like a mismatch
            run.fail(check.__name__, exc)
