"""Structured Streaming jobs (SURVEY.md §2.9 — the true-stream halves).

Every builder takes a *streaming* events DataFrame and applies the SAME
expressions as the batch-checked operators in
``operators/streaming_batch.py``; tests/test_streaming.py drains them
through a memory sink and asserts batch ≡ stream (the engine's streaming
correctness contract — DuckDB cannot run streams).

Production shape at scale:
- source: Kafka (`format("kafka")`) or cloud-storage file stream; here a
  file stream over the corpus parquet (schema declared — streaming
  readers never infer).
- watermarks bound state: aggregation state is dropped once the
  watermark passes the window end; late rows beyond the watermark are
  dropped (tested).
- sinks: memory (tests), foreachBatch for transactional/JDBC targets —
  exactly-once = checkpointed offsets + idempotent batch writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from micmac_li3ds_spark.functions.exact import cents
from micmac_li3ds_spark.streaming.compaction import (
    auto_compact,
    check_cadence,
    list_state,
    read_floor,
    resolve_state,
    write_batch,
)
from micmac_li3ds_spark.tables import NANOS_AS_LONG, read_parquet, table_path

# Stateful-processor closures below reference module-level helpers
# (fold_session_events); cloudpickle ships globals of importable
# modules BY REFERENCE, so workers would need the repo importable.
# Registering this module for by-value pickling removes that
# PYTHONPATH dependency (see operators/multimodal.py for the full
# rationale and the foreign-cwd audit that motivated it).
try:
    import sys as _sys

    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # pragma: no cover
    pass

def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-streaming source over the events parquet: one file = one
    micro-batch here; at scale this is a directory fed by an ingest
    job, or Kafka. Streaming readers never infer, so we declare the
    file's schema as ``tables.read_parquet`` resolved it (memoized per
    file version), which also tells the ts physical encoding (ns-as-long
    vs timestamp[us], see tables.load); the conversion to session-tz
    TimestampType mirrors tables.load."""
    spark.conf.set(NANOS_AS_LONG, "true")
    schema = read_parquet(spark, table_path(sf_dir, "events")).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")  # stream source must be a dir
        .parquet(sf_dir)
    )
    if isinstance(schema["ts"].dataType, T.LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window aggregation (streaming twin of
    q_stream_tumbling)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")) / 100.0).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked sliding-window aggregation (streaming twin of
    q_stream_sliding): 10-minute windows every 5 minutes — each event
    contributes to two windows' state."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")) / 100.0).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def session_totals(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked session windows (streaming twin of q_stream_session)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")) / 100.0).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedup_within_watermark(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup by event_id within the watermark horizon — state
    is bounded by (watermark window × arrival rate), unlike plain
    dropDuplicates whose state grows forever."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_static_enrich(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: the static side is broadcast per micro-batch;
    no state, no watermark needed."""
    return stream.join(F.broadcast(dim), stream.user_id == dim.c_custkey, "inner").select(
        "event_id", "user_id", "event_type", "value", "c_mktsegment"
    )


def stream_stream_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream join, both sides watermarked, time-bounded condition
    (purchase within 1 hour after a click by the same user) — the bound
    is what lets Spark expire join state."""
    c = clicks.withWatermark("ts", "2 hours").alias("c")
    p = purchases.withWatermark("ts", "2 hours").alias("p")
    return c.join(
        p,
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("p.ts") >= F.col("c.ts"))
        & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
    )


def stateful_user_totals(stream: DataFrame) -> DataFrame:
    """Arbitrary stateful operator (SURVEY.md §2.9): per-user running
    totals via ``applyInPandasWithState`` — the escape hatch when
    built-in windowed aggregation can't express the state machine.

    State per user_id: (event count, running total in cents — integer
    cents so cross-batch accumulation is exact and batch≡stream
    comparable). Each micro-batch emits the updated running totals for
    the users it touched (output mode: update).

    100 TB shape: state lives in the executor state stores keyed by
    user_id (hash-partitioned — same shuffle as a groupBy), checkpointed
    incrementally; a production job adds a timeout
    (``GroupStateTimeout.EventTimeTimeout`` + watermark) so idle keys
    are evicted instead of growing state forever."""
    import pandas as pd  # local: only the python workers need it
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        n, cents_total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents_total += int(pdf["value"].mul(100).round().sum())
        state.update((n, cents_total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents_total / 100.0],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drain a streaming query into a memory sink until exhausted;
    returns the started query (caller stops it). Test harness only."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def run_foreach_batch(stream_df: DataFrame, batch_fn, checkpoint: str):
    """foreachBatch sink: the exactly-once pattern for transactional
    targets (the engine's JDBC-upsert path — SURVEY.md §2.1): Spark
    checkpoints offsets; batch_fn must be idempotent per (batchId)."""
    return (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


CLICKS_DLQ_SCHEMA = T.StructType(
    [
        T.StructField("click_id", T.LongType()),
        T.StructField("page", T.StringType()),
        T.StructField("ms", T.LongType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def read_clicks_json_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """JSON-lines file stream in PERMISSIVE mode with the corrupt-record
    channel — the streaming twin of q_scan_json's parse-audit posture:
    a continuously-fed ingest directory never gets clean
    files either, and FAILFAST would kill the long-running query on the
    first bad line. One file per micro-batch mirrors a
    file-notification ingest; all declared columns are materialized
    downstream, so the parser's column pruning cannot mask corruption
    (see q_scan_csv's PRUNING TRAP note)."""
    return (
        spark.readStream.schema(CLICKS_DLQ_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
    )


def _read_lake_or_state(spark: SparkSession, path: str, ddl: str) -> DataFrame:
    """Declared-schema read that accepts every layout a by-batch lake
    table can be in: plain parquet files (the flat hand-written case),
    the ``batch=<k>`` layout the streaming writers produce, or the
    compacted ``gen=<g>`` + live-batch layout (streaming/compaction.py)
    — so triage/replay tools keep working after a maintenance fold."""
    batches, _gens, markers = list_state(spark, path)
    if batches or markers:
        return resolve_state(spark, path, ddl)
    return spark.read.schema(ddl).parquet(path)


def run_dead_letter_split(
    stream: DataFrame, clean_dir: str, dlq_dir: str, checkpoint: str
):
    """Dead-letter-queue ingest: each micro-batch splits into the CLEAN
    table (typed rows, corrupt column dropped) and the DLQ table (the
    raw offending line + batch id + ingest time — everything a replay
    job needs after the parser or upstream producer is fixed). The
    production contract for a 100-TB training-data feed: bad records
    are never silently dropped (DROPMALFORMED), never kill the query
    (FAILFAST), and never pollute the clean table with partially-parsed
    fields — they land whole in the DLQ for triage.

    Exactly-once without a transactional target: each batch writes
    through ``compaction.write_batch`` (its own ``batch=<id>``
    subdirectory, mode=overwrite), so a batch retried after a crash
    REPLACES its own previous partial output instead of appending
    duplicates. Readers scan the directory tree as ordinary
    partitioned parquet."""
    corrupt = F.col("_corrupt_record").isNotNull()

    def split(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            write_batch(
                batch_df.filter(~corrupt).drop("_corrupt_record"),
                clean_dir,
                batch_id,
            )
            dead = batch_df.filter(corrupt).select(
                F.col("_corrupt_record").alias("raw_line"),
                F.lit(batch_id).alias("batch_id"),
                F.current_timestamp().alias("ingest_ts"),
            )
            write_batch(dead, dlq_dir, batch_id)
        finally:
            batch_df.unpersist()

    return run_foreach_batch(stream, split, checkpoint)


def replay_dead_letters(
    spark: SparkSession, dlq_dir: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Second half of the DLQ contract: after the parser or the
    upstream producer is fixed, re-parse the quarantined raw lines
    against the (possibly amended) schema and split once more. Returns
    (recovered, still_dead): recovered rows are typed and ready to
    append to the clean table; still_dead keeps the raw line + its
    original batch_id/ingest_ts provenance for the next triage round.
    Distributed end-to-end — from_json is a JVM expression over the
    DLQ scan, no driver-side loop; at 100 TB a replay is an ordinary
    batch job over the DLQ directory tree."""
    raw = _read_lake_or_state(
        spark, dlq_dir, "raw_line string, batch_id long, ingest_ts timestamp"
    )
    # from_json carries the SAME PERMISSIVE corrupt-record contract as
    # the streaming JSON source (note: NOT struct-nullness — a
    # malformed line parses to an all-NULL struct, not a NULL struct),
    # so classification at replay time is bit-identical to what ingest
    # would have decided under the amended schema.
    # The corrupt-record column must not collide with a
    # field the AMENDED schema already declares (a producer is free to
    # ship a real `_corrupt` JSON field) — from_json would then route
    # that field's data into the classification column and misclassify
    # every such row. Grow underscores until the name is free.
    corrupt_col = "_corrupt"
    declared = {f.name for f in schema.fields}
    while corrupt_col in declared:
        corrupt_col += "_"
    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    parsed = raw.withColumn(
        "_parsed",
        F.from_json(
            F.col("raw_line"),
            with_corrupt,
            {"columnNameOfCorruptRecord": corrupt_col},
        ),
    )
    # Second half of the same rule: from_json(NULL) returns a NULL
    # struct, so `corrupt IS NULL` alone would classify a NULL raw
    # line as recovered and append an all-NULL row to the clean table;
    # a NULL line is not recoverable by any schema amendment — it
    # stays dead with its provenance
    ok = F.col("raw_line").isNotNull() & F.col(
        f"_parsed.{corrupt_col}"
    ).isNull()
    recovered = parsed.filter(ok).select(
        *[F.col(f"_parsed.{f.name}") for f in schema.fields]
    )
    still_dead = parsed.filter(~ok).drop("_parsed")
    return recovered, still_dead


def tws_user_totals(stream: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """Per-user running totals on the Spark 4 ``transformWithStateInPandas``
    API — the successor to ``applyInPandasWithState`` (same semantics as
    ``stateful_user_totals``, so tests can assert the two APIs agree).

    Differences that matter at scale: typed state handles (value/list/
    map state) stored per composite key in the RocksDB-capable state
    store, TTL support per state (`ttlDurationMs`), and event-time
    timers — the building blocks for production state machines without
    hand-rolling eviction. State here is one ValueState of exact integer
    cents per user.

    Runtime dependency note: the TWS python worker talks to the JVM
    state server over protobuf, so ``google.protobuf`` must be
    installed on executors; the test suite skips (not fails) where it
    is absent and ``stateful_user_totals`` remains the
    dependency-free fallback with identical semantics.

    ``ttl_ms`` switches on state TTL — the memory-boundedness story
    for unbounded key domains (a 100 TB clickstream's user-id space is
    effectively infinite; without TTL or timers per-key state grows
    forever). TTL requires ``timeMode="ProcessingTime"`` (Spark
    rejects ttlConfig under timeMode None —
    StatefulProcessorCannotAssignTTLInTimeMode), so the time mode
    follows the argument; semantics under TTL: a key idle longer than
    the TTL restarts from zero because the STORE expired it, not
    hand-rolled bookkeeping. Asserted by a probe-gated test
    (tests/test_streaming.py, runs where google.protobuf exists;
    skips in this container)."""
    import pandas as pd  # local: only the python workers need it
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n long, cents long", ttlDurationMs=ttl_ms
            )

        def handleInputRows(self, key, rows, timerValues):
            prior = self._totals.get()
            n, cents_total = prior if prior is not None else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents_total += int(pdf["value"].mul(100).round().sum())
            self._totals.update((n, cents_total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [cents_total / 100.0],
                }
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotals(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        # TTL state legally exists only under a running time mode
        timeMode="ProcessingTime" if ttl_ms is not None else "None",
    )


def stream_stream_left_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream LEFT OUTER join: matched pairs emit immediately;
    an unmatched click emits with NULL purchase columns only once the
    watermark proves no qualifying purchase can still arrive — the
    outer row is a statement about the future, so it must wait for the
    time bound to close. Both the watermark and the time-bounded join
    condition are REQUIRED for outer stream joins (they define when
    state can finalize and be evicted)."""
    c = clicks.withWatermark("ts", "2 hours").alias("c")
    p = purchases.withWatermark("ts", "2 hours").alias("p")
    return c.join(
        p,
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("p.ts") >= F.col("c.ts"))
        & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
    )


def stream_stream_full_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream FULL OUTER interval join — the last §2.9 join mode:
    matched (click, purchase-within-1h) pairs emit immediately; an
    unmatched row on EITHER side emits with NULLs for the other side
    only once the watermark proves its match window is closed. Both
    sides therefore hold state, and both sides' finalization is driven
    by the same min-across-inputs watermark; the interval condition
    (p.ts in [c.ts, c.ts + 1h]) is what bounds that state — without a
    time bound a full-outer stream join could never evict anything and
    Spark rejects the plan. At 100 TB/day this is the canonical
    "late-arriving fact vs late-arriving dimension-event" reconciler:
    state per key is bounded by (watermark + interval) wall-time, not
    by stream length."""
    c = clicks.withWatermark("ts", "2 hours").alias("c")
    p = purchases.withWatermark("ts", "2 hours").alias("p")
    return c.join(
        p,
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("p.ts") >= F.col("c.ts"))
        & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 1 HOUR")),
        "fullOuter",
    ).select(
        F.coalesce(F.col("c.user_id"), F.col("p.user_id")).alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
    )


def ohlc_bars(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling OHLC bars (streaming twin of q_stream_ohlc):
    the same min_by/max_by-over-ordering-key aggregates — per-window
    state is one partially-merged bar, evicted when the watermark passes
    the window end."""
    from micmac_li3ds_spark.operators.streaming_batch import (
        _ohlc_agg,
        _with_ohlc_cols,
    )

    bars = _ohlc_agg(
        _with_ohlc_cols(stream.withWatermark("ts", watermark)).groupBy(
            F.window("ts", "10 minutes").alias("w"), "event_type"
        )
    )
    return bars.select(
        F.unix_timestamp(F.col("w.start")).alias("w_start_s"),
        "event_type",
        "n_events",
        "open_c",
        "high_c",
        "low_c",
        "close_c",
        "vol_c",
    )


def attribution_stream(stream: DataFrame) -> DataFrame:
    """Streaming twin of q_event_attribution (last-touch attribution)
    via ``applyInPandasWithState``: state per user is ONE integer — the
    latest click time seen — and each purchase row emits its
    attribution against the state as of strictly-earlier events. The
    batch query's conditional running-MAX window becomes a running
    scalar here; rows are processed in (ts_s, event_id) order inside
    each micro-batch, so with in-order arrival the stream output is
    row-identical to the batch window (asserted in
    tests/test_streaming.py). Late/out-of-order arrivals would need
    the event-time-timeout + reordering-buffer pattern; the state per
    key stays O(1) either way — this is the shape that attributes an
    unbounded clickstream."""
    import pandas as pd  # local: only the python workers need it
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    week = 604800

    def fn(key, pdfs, state: GroupState):
        (last_click_s,) = state.get if state.exists else (None,)
        out = {"user_id": [], "event_id": [], "ts_s": [],
               "attributed_click_s": [], "attributed": []}
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts_s", "event_id"])
        for _, r in rows.iterrows():
            if r["event_type"] == "purchase":
                ok = (
                    last_click_s is not None
                    and last_click_s >= r["ts_s"] - week
                )
                out["user_id"].append(key[0])
                out["event_id"].append(r["event_id"])
                out["ts_s"].append(r["ts_s"])
                out["attributed_click_s"].append(
                    last_click_s if ok else None
                )
                out["attributed"].append(bool(ok))
            if r["event_type"] == "click":
                if last_click_s is None or r["ts_s"] > last_click_s:
                    last_click_s = int(r["ts_s"])
        if last_click_s is not None:
            state.update((int(last_click_s),))
        yield pd.DataFrame(out)

    ev = stream.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=(
            "user_id long, event_id long, ts_s long,"
            " attributed_click_s long, attributed boolean"
        ),
        stateStructType="last_click_s long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def transitions_stream(stream: DataFrame) -> DataFrame:
    """Streaming twin of q_event_transitions (first-order Markov
    transition pairs) via ``applyInPandasWithState``: state per user is
    one (ts_us, event_id, event_type) triple — the latest event seen —
    and every arriving event emits its (prev_type, next_type) pair
    against that state. The batch query's per-user lag window becomes a
    single carried scalar; with in-order arrival the emitted pair
    multiset is identical to the batch lag's (asserted in
    tests/test_streaming.py, where the downstream count/normalize
    aggregation is also compared). The in-order invariant is ENFORCED,
    not assumed: an arriving row whose (ts_us, event_id) is ≤ the
    carried state is a straggler from a past micro-batch whose
    successor pair was already emitted — it is dropped rather than
    allowed to emit a pair out of sequence (a duplicate redelivery is
    the (==) case of the same rule). Dropped-row counts are observable
    via the standard streaming metrics (numRowsDroppedByWatermark does
    not apply here, so the test asserts the drop behavior directly).
    State stays O(1) per user forever —
    this is the shape that maintains a LIVE transition matrix over an
    unbounded clickstream, with the k×k count aggregation running as an
    ordinary streaming groupBy downstream."""
    import pandas as pd  # local: only the python workers need it
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            last_ts, last_id, last_type = state.get
        else:
            last_ts, last_id, last_type = None, None, None
        out = {"user_id": [], "prev_type": [], "next_type": []}
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts_us", "event_id"])
        for _, r in rows.iterrows():
            if last_ts is not None and (int(r["ts_us"]), int(r["event_id"])) <= (
                last_ts,
                last_id,
            ):
                # Straggler (or redelivered duplicate) older than the
                # carried state: its successor pair was already emitted
                # in a previous micro-batch — emitting now would insert
                # a pair out of sequence. Drop it.
                continue
            if last_type is not None:
                out["user_id"].append(key[0])
                out["prev_type"].append(last_type)
                out["next_type"].append(r["event_type"])
            last_ts, last_id, last_type = (
                int(r["ts_us"]),
                int(r["event_id"]),
                str(r["event_type"]),
            )
        state.update((last_ts, last_id, last_type))
        yield pd.DataFrame(out)

    ev = stream.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, prev_type string, next_type string",
        stateStructType="last_ts long, last_id long, last_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def fold_session_events(
    state: tuple | None, ts_sorted: list, gap_s: int
) -> tuple:
    """Pure session fold shared by ``tws_session_timer`` and its
    dependency-free unit test (the TWS runtime needs protobuf, absent
    in some environments — this keeps the session ALGEBRA under
    unconditional test while the wiring stays probe-gated).

    ``state`` = (start_s, last_s, n) or None; ``ts_sorted`` = event
    seconds in ascending order. Returns (closed, new_state) where
    closed = [(start_s, last_s, n), ...] in chronological order for
    every session whose gap closed INSIDE the batch, and new_state is
    the still-open (latest) session. The carried state participates as
    an interval in a single gap-merge over {intervals} ∪ {points}, so
    an in-gap straggler extends a session backward while a straggler
    more than gap_s before it forms (and immediately closes) its OWN
    session — exactly session_window's split, whatever the interleaving
    of late data and carried state. Boundary semantics: an event at
    EXACTLY last_s + gap_s MERGES into the open session (inclusive
    ``<=``). This looks wrong (session_window intervals print as
    half-open [event, event+gap)) and was settled by measurement:
    on this Spark, events at t=0 and t=100 with a 100 s gap produce ONE
    session_window row [0, 200) — adjacent intervals merge — so the
    inclusive fold matches the built-in bit-for-bit; the boundary case
    is pinned in test_fold_session_events_pure_logic and the built-in's
    behavior itself in test_session_window_exact_gap_boundary."""
    items = [(int(t), int(t), 1) for t in ts_sorted]
    if state is not None:
        items.append((int(state[0]), int(state[1]), int(state[2])))
    items.sort()
    closed = []
    cur = None
    for it in items:
        if cur is None:
            cur = it
        elif it[0] <= cur[1] + gap_s:
            cur = (cur[0], max(cur[1], it[1]), cur[2] + it[2])
        else:
            closed.append(cur)
            cur = it
    return closed, cur


def tws_session_timer(stream: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Event-time-TIMER sessionization on ``transformWithStateInPandas``
    — the last §2.9 state primitive: instead of the built-in
    ``session_window`` (which owns eviction internally), the processor
    carries (start_s, last_s, n) per user and re-registers an event-time
    timer at last_s + gap on every arrival; when the WATERMARK passes
    the registered expiry the runtime calls ``handleExpiredTimer``,
    which emits the closed session and clears state. This is the
    building block for state machines the built-ins can't express
    (multi-stage timeouts, per-key escalation schedules, delayed
    side-effects) with the same memory contract as session_window:
    state per key is O(1) and leaves the store the moment its timer
    fires. Requires ``timeMode="EventTime"`` and a watermark on the
    input; emission timing is therefore watermark-driven exactly like
    the built-in session twin (q_stream_session), which the test uses
    as the equivalence baseline for closed sessions."""
    import pandas as pd  # local: only the python workers need it
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class SessionTimer(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._sess = handle.getValueState(
                "sess", "start_s long, last_s long, n long"
            )

        def handleInputRows(self, key, rows, timerValues):
            prior = self._sess.get()
            # event order matters: a > gap jump INSIDE a batch closes
            # the running session inline (two events an hour apart in
            # one availableNow catch-up batch are two sessions, as
            # session_window splits them); the timer only handles the
            # session left open at batch end. The fold itself is the
            # unconditionally-tested fold_session_events.
            ts_all = sorted(int(t) for pdf in rows for t in pdf["ts_s"])
            closed, (start_s, last_s, n) = fold_session_events(
                prior, ts_all, gap_s
            )
            # one live timer per key: move the horizon to the newest gap
            for old in self._handle.listTimers():
                self._handle.deleteTimer(old)
            self._handle.registerTimer((last_s + gap_s) * 1000)
            self._sess.update((start_s, last_s, n))
            if closed:
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]] * len(closed),
                        "session_start_s": [c[0] for c in closed],
                        "session_end_s": [c[1] for c in closed],
                        "n_events": [c[2] for c in closed],
                    }
                )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            prior = self._sess.get()
            if prior is None:
                return iter(())
            start_s, last_s, n = prior
            self._sess.clear()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start_s": [start_s],
                    "session_end_s": [last_s],
                    "n_events": [n],
                }
            )

        def close(self) -> None:
            pass

    ev = stream.withWatermark("ts", "0 seconds").select(
        "user_id",
        F.col("ts"),
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
    )
    return ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SessionTimer(),
        outputStructType=(
            "user_id long, session_start_s long, session_end_s long,"
            " n_events long"
        ),
        outputMode="Append",
        timeMode="EventTime",
    )


# accumulated-state row contracts for the LSH near-dedup stream
# (functions.text.shingles → array<string>; minhash_band_keys → string)
_SHINGLE_DDL = "doc_id long, sh array<string>"
_BANDS_DDL = "doc_id long, band_key string"
_NEAR_PAIRS_DDL = "doc_a long, doc_b long, jac double"
_DUPS_DDL = "doc_id long, fp string, n long"
_SEM_PAIRS_DDL = "doc_a long, doc_b long, cos double"


def _by_batch_job(
    stream: DataFrame, body, specs: "list[tuple]", checkpoint: str,
    compact_every: "int | None" = None, horizon_batches: "int | None" = None,
):
    """Start a by-batch state job: each micro-batch runs ``body(batch_df,
    batch_id)`` — the job's own DataFrame logic, writing through
    ``write_batch`` — and then the shared compaction tail over the
    job's ``(dir, ddl[, key])`` state specs (keyed = matching state,
    bucketed and aged out by the horizon; see ``auto_compact``). The
    checkpoint is the fold lease's owner: Spark's checkpoint lock
    guarantees one live stream per checkpoint, which is what makes a
    self-healing owner safe. Cadence arguments are checked here, before
    the stream starts and before any state is written.

    ``auto_compact`` and ``run_foreach_batch`` are looked up in this
    module at call time, so a caller that rebinds them (the traced
    benchmark's spans) sees every batch and every fold."""
    check_cadence(compact_every, horizon_batches)

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        body(batch_df, batch_id)
        auto_compact(
            batch_df.sparkSession, specs, batch_id, compact_every,
            owner=checkpoint, horizon_batches=horizon_batches,
        )

    return run_foreach_batch(stream, run_batch, checkpoint)


def _fresh_pairs(pairs: DataFrame, new_ids: DataFrame) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs with at least one side in the
    one-column ``new_ids``: any old-old pair sharing a bucket was
    already a candidate when the younger side arrived, so keeping only
    pairs with ≥1 new side makes each pair's emission
    unique-by-construction for distinct ids."""
    (id_col,) = new_ids.columns
    na = new_ids.select(F.col(id_col).alias("doc_a")).withColumn(
        "a_new", F.lit(True)
    )
    nb = new_ids.select(F.col(id_col).alias("doc_b")).withColumn(
        "b_new", F.lit(True)
    )
    return (
        pairs.join(na, "doc_a", "left")
        .join(nb, "doc_b", "left")
        .filter(F.col("a_new").isNotNull() | F.col("b_new").isNotNull())
        .select("doc_a", "doc_b")
    )


def _verify_pairs(
    fresh: DataFrame, state: DataFrame, id_col: str, val_col: str, score,
    name: str, threshold: float,
) -> DataFrame:
    """Exact verification of candidate pairs: join both sides' values
    from the accumulated ``state`` on ``id_col``, score them with
    ``score(a, b)`` rounded to 6 dp (the batch twins' rounding), and
    keep (doc_a, doc_b, <name>) at or above ``threshold``."""
    a, b = f"{val_col}_a", f"{val_col}_b"
    va = state.select(F.col(id_col).alias("doc_a"), F.col(val_col).alias(a))
    vb = state.select(F.col(id_col).alias("doc_b"), F.col(val_col).alias(b))
    return (
        fresh.join(va, "doc_a")
        .join(vb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(score(F.col(a), F.col(b)), 6).alias(name),
        )
        .filter(F.col(name) >= threshold)
    )


def run_streaming_near_dedup(
    stream: DataFrame,
    shingle_dir: str,
    bands_dir: str,
    pairs_dir: str,
    checkpoint: str,
    threshold: float = 0.5,
    bucket_cap: int = 4096,
    compact_every: "int | None" = None,
    horizon_batches: "int | None" = None,
):
    """Incremental MinHash/LSH near-dedup of a continuously-fed corpus
    — the streaming twin of q_llm_near_dedup, completing the
    DLQ-ingest posture: a 100-TB training-data feed dedups AGAINST
    EVERYTHING ALREADY SEEN as batches arrive, not in a nightly
    all-corpus rebuild.

    Shares the batch pipeline's EXACT components (tokens → 3-token
    shingles → minhash_band_keys → lsh_candidate_pairs → exact-Jaccard
    verify at the same threshold), so streaming ≡ batch is a theorem
    about bookkeeping, not a reimplementation's luck — and the harness
    pins it (multi-batch feed vs q_llm_near_dedup's pipeline on the
    union).

    Per micro-batch, under foreachBatch:

    1. the batch's (doc_id, shingles) and (doc_id, band_key) rows land
       in ``shingle_dir``/``bands_dir`` under ``batch=<id>`` with
       mode=overwrite — the write-by-batch-id idempotency pattern (a
       replayed batch REPLACES its own previous output; the harness
       re-runs a checkpoint-cleared feed and demands an identical pair
       set).
    2. candidates come from the ACCUMULATED band state restricted to
       band keys the new batch touches (a semi-join — band keys are
       per-doc deterministic, so any old-old pair sharing a bucket was
       already a candidate when the younger doc arrived; only pairs
       with ≥1 new side are kept, making each pair's emission
       unique-by-construction for distinct doc_ids).
    3. exact Jaccard verification joins shingles from the accumulated
       corpus state; pairs ≥ threshold append to
       ``pairs_dir``/``batch=<id>``.

    Scale posture, inherited: no all-pairs join anywhere — the wide
    ops are one groupBy(band_key) over the TOUCHED buckets (not the
    full state), one distinct, and the verification joins on candidate
    ids only. ``bucket_cap`` is at-arrival semantics: a bucket's pairs
    are dropped only once the accumulated bucket exceeds the cap;
    pairs emitted while it was small stay emitted (streams cannot
    retract) — the batch twin matches exactly whenever no bucket
    crosses the cap mid-feed, which the harness corpus asserts.
    Re-fed doc_ids are idempotent in state (collect_set in the bucket
    expansion) and can re-emit their pairs; ``read_near_dedup_pairs``
    reads the pair log distinct for exactly that reason.

    ``compact_every=N`` folds all three state dirs into a generation
    every N micro-batches (streaming/compaction.py) — in-stream
    small-files control with no external scheduler; replay-safe (the
    WAL-replay boundary guard in auto_compact). ``horizon_batches``
    bounds the MATCHING state (shingles + band keys; never the emitted
    pair log) to a contamination window: each batch pairs against the
    previous ``horizon_batches`` batches only (the read-side window,
    derived from the batch's own id so WAL replays are deterministic),
    and folds age rows out one batch behind it, with drop counts
    reported durably per dir (compaction.read_retention) — see
    ``auto_compact``."""
    from micmac_li3ds_spark.operators.llm_text import (
        jaccard,
        lsh_candidate_pairs,
        minhash_band_keys,
        shingles,
        tokens,
    )

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        read_min = read_floor(batch_id, horizon_batches)
        d = (
            batch_df.filter(F.size(tokens("text")) >= 3)
            .select("doc_id", shingles(tokens("text")).alias("sh"))
            .persist()
        )
        try:
            write_batch(d, shingle_dir, batch_id)
            bands = write_batch(
                minhash_band_keys(d), bands_dir, batch_id, _BANDS_DDL
            )
            # declared-schema, generation-aware state reads (a compacted
            # dir holds gen=<g> next to live batch dirs — a root-path
            # inferred read would mis-handle the mixed layout). The
            # batch's distinct band keys double as the PRUNE set: when
            # the band state has been bucket-compacted, only the
            # touched buckets' files are listed and read.
            hot_keys = bands.select("band_key").distinct()
            all_bands = resolve_state(
                spark,
                bands_dir,
                _BANDS_DDL,
                prune_keys=hot_keys,
                min_src_batch=read_min,
            )
            touched = all_bands.join(hot_keys, "band_key", "left_semi")
            pairs = lsh_candidate_pairs(touched, bucket_cap)
            # persisted: read twice when the shingle state is
            # bucket-compacted (once to collect the candidates' prune
            # buckets, once in the verification joins); released in
            # finally so a failed batch cannot leak the cached frame
            # for the session lifetime
            fresh = _fresh_pairs(pairs, d.select("doc_id")).persist()
            try:
                cand_ids = fresh.select(
                    F.col("doc_a").alias("doc_id")
                ).unionByName(
                    fresh.select(F.col("doc_b").alias("doc_id"))
                ).distinct()
                corpus = resolve_state(
                    spark,
                    shingle_dir,
                    _SHINGLE_DDL,
                    prune_keys=cand_ids,
                    min_src_batch=read_min,
                )
                verified = _verify_pairs(
                    fresh, corpus, "doc_id", "sh", jaccard, "jac", threshold
                )
                write_batch(verified, pairs_dir, batch_id)
            finally:
                fresh.unpersist()
        finally:
            d.unpersist()

    return _by_batch_job(
        stream,
        dedup_batch,
        [
            (shingle_dir, _SHINGLE_DDL, "doc_id"),
            (bands_dir, _BANDS_DDL, "band_key"),
            (pairs_dir, _NEAR_PAIRS_DDL),
        ],
        checkpoint,
        compact_every,
        horizon_batches,
    )


def read_near_dedup_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """The emitted near-duplicate pair log, distinct: a doc_id re-fed
    in a later batch legitimately re-emits its pairs (same jac by
    determinism), and a pair of same-batch duplicates is emitted once
    — distinct on the full row collapses both. Empty (never raising)
    before the stream's first batch commits."""
    return resolve_state(spark, pairs_dir, _NEAR_PAIRS_DDL).distinct()


_EXACT_SEEN_DDL = "fp string, kept_doc_id long"


def run_streaming_exact_dedup(
    stream: DataFrame,
    seen_dir: str,
    dups_dir: str,
    checkpoint: str,
    compact_every: "int | None" = None,
    horizon_batches: "int | None" = None,
):
    """Incremental EXACT dedup against ALL history — the first member
    of the streaming dedup family stated as its own job. Watermarked
    ``dropDuplicates`` bounds its state by event time (the
    q_stream-dedup twin) — correct for at-most-once-per-window feeds,
    but a training-data lake needs "have I EVER ingested these bytes",
    which is unbounded by design and therefore lives as external
    partitioned state, not stream-operator state.

    Per micro-batch under foreachBatch, sharing q_llm_exact_dedup's
    fingerprint (operators/llm_text.py:exact_fingerprint — streaming ≡
    batch is shared code):

    1. fingerprint the batch; the within-batch winner per NEW
       fingerprint is min(doc_id) (deterministic tie-break, the batch
       query's keeper rule);
    2. fingerprints never seen before land in ``seen_dir/batch=<id>``
       as (fp, kept_doc_id) — the only state this job ever writes, so
       state size is the number of DISTINCT documents ever seen;
    3. every other ARRIVAL (an already-seen fingerprint, a same-batch
       non-winner, or an extra copy of the kept row itself — the
       hypothesis-found edge: the same (doc_id, text) twice in one
       batch is two arrivals) lands in ``dups_dir/batch=<id>``
       aggregated as (doc_id, fp, n) — counting arrivals, not rows,
       keeps the log at distinct-(doc, fp) granularity.

    Both writes are mode=overwrite by batch id (idempotent WAL
    replay). Keeper semantics are FIRST-SEEN: a stream cannot retract
    an emitted keeper, so a smaller doc_id arriving later for a seen
    fingerprint is a dup, not a new keeper — identical to the batch
    min-doc_id rule whenever feeding order is doc_id-ascending per
    fingerprint (the harness double-import corpus satisfies it; the
    divergence is documented, not hidden). Once ``seen_dir`` outgrows
    one scan split, its folds bucket it by fingerprint
    (``compaction.sized_buckets``) so the anti-join prunes files — the
    same layout as the LSH band state.
    ``compact_every=N`` folds both state dirs into a generation every
    N micro-batches (streaming/compaction.py; the generation's
    src_batch column preserves the strictly-earlier replay rule).
    ``horizon_batches`` bounds the SEEN state (not the dup log, which
    is output) to a contamination window: each batch MATCHES against
    the previous ``horizon_batches`` batches of fingerprints (the
    read-side window, derived from the batch's own id so WAL replays
    are deterministic), and folds age rows out one batch behind that
    window, with drop counts reported durably
    (compaction.read_retention) — see ``auto_compact``."""
    from micmac_li3ds_spark.operators.llm_text import exact_fingerprint

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select(
            "doc_id", exact_fingerprint("text").alias("fp")
        ).persist()
        try:
            # STRICTLY EARLIER batches only: a WAL replay must not see
            # its own previous output as history (see resolve_state).
            # The batch's distinct fingerprints prune a bucket-compacted
            # seen state to the files that can possibly match.
            seen = resolve_state(
                batch_df.sparkSession,
                seen_dir,
                _EXACT_SEEN_DDL,
                before_batch=batch_id,
                prune_keys=b.select("fp").distinct(),
                min_src_batch=read_floor(batch_id, horizon_batches),
            )
            new = (
                b.groupBy("fp")
                .agg(F.min("doc_id").alias("kept_doc_id"))
                .join(seen.select("fp"), "fp", "left_anti")
            )
            kept = (
                write_batch(new, seen_dir, batch_id, _EXACT_SEEN_DDL)
                .select("fp", F.col("kept_doc_id").alias("doc_id"))
                .withColumn("is_keep", F.lit(1))
            )
            # arrivals minus the one kept copy per newly-seen fp —
            # identical rows arriving twice are two arrivals
            dups = (
                b.groupBy("fp", "doc_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .join(kept, ["fp", "doc_id"], "left")
                .withColumn(
                    "n", F.col("n") - F.coalesce("is_keep", F.lit(0))
                )
                .filter(F.col("n") > 0)
                .select("doc_id", "fp", "n")
            )
            write_batch(dups, dups_dir, batch_id)
        finally:
            b.unpersist()

    return _by_batch_job(
        stream,
        dedup_batch,
        [(seen_dir, _EXACT_SEEN_DDL, "fp"), (dups_dir, _DUPS_DDL)],
        checkpoint,
        compact_every,
        horizon_batches,
    )


def read_exact_dedup(
    spark: SparkSession, seen_dir: str, dups_dir: str
) -> DataFrame:
    """The accumulated exact-dedup report: one row per distinct
    fingerprint ever seen, its first-seen keeper, and the total copy
    count (1 + logged dup arrivals) — q_llm_exact_dedup's output
    contract over the stream's history."""
    seen = resolve_state(spark, seen_dir, _EXACT_SEEN_DDL)
    dups = resolve_state(spark, dups_dir, _DUPS_DDL)
    counts = dups.groupBy("fp").agg(F.sum("n").alias("n_dups"))
    return seen.join(counts, "fp", "left").select(
        "fp",
        "kept_doc_id",
        (F.coalesce(F.col("n_dups"), F.lit(0)) + 1).alias("n_copies"),
    )


# schema of one row of accumulated vector state: the stream contract is
# vec_id + array<double> v (functions.vector.as_double), and the packed
# argmin returns a BIGINT centroid id (okey % multiplier on a long)
_SEM_VEC_DDL = "vec_id long, cid long, v array<double>"


def run_streaming_semantic_dedup(
    stream: DataFrame,
    centroids: DataFrame,
    vectors_dir: str,
    pairs_dir: str,
    checkpoint: str,
    tau: float = 0.42,
    cluster_cap: int = 4096,
    compact_every: "int | None" = None,
    horizon_batches: "int | None" = None,
):
    """Incremental SemDeDup — the EMBEDDING member of the streaming
    dedup family, next to exact (dropDuplicates-within-watermark) and
    lexical near-dup (run_streaming_near_dedup): a continuously-fed
    vector corpus dedups against everything already seen as batches
    arrive, instead of a nightly whole-corpus re-run.

    ``centroids`` is a STATIC (cid, cv) DataFrame fixed for the
    stream's lifetime — the stream-static shape production SemDeDup
    ships (centroids are re-fit OFFLINE and a new stream generation
    rolls out with them; changing centroids mid-stream would silently
    re-bucket history). Because assignment is deterministic in
    (vector, centroids), a vector's cluster never changes, which is
    exactly what makes the old-old-pair argument carry over from the
    LSH twin: any two old vectors sharing a cluster became a candidate
    when the younger one arrived.

    Per micro-batch, under foreachBatch (all components SHARED with
    q_llm_semantic_dedup — streaming ≡ batch is bookkeeping):

    1. nearest_centroid_assign scores the batch against the broadcast
       centroid set (map-side packed-key argmin — the exchange carries
       batch rows, not batch×k); (vec_id, cid, v) lands in
       ``vectors_dir/batch=<id>`` with mode=overwrite (idempotent
       WAL replay).
    2. candidates come from the ACCUMULATED vector state restricted to
       clusters the batch TOUCHES (semi-join on cid), expanded by the
       shared capped in-array lsh_candidate_pairs; only pairs with
       ≥1 new side are kept.
    3. cosine verification joins vectors from the accumulated state;
       pairs with round(cos, 6) ≥ tau append to
       ``pairs_dir/batch=<id>``.

    Per-batch cost scales with batch size × cluster occupancy, never
    corpus size. ``cluster_cap`` has the at-arrival semantics of the
    LSH twin's bucket_cap (a stream cannot retract; the batch twin
    matches whenever no cluster crosses the cap mid-feed — asserted on
    the harness corpus). Keeper materialization is NOT streamed:
    connected components over the pair log are monotone (components
    only ever merge as edges append — no retraction), so
    read_semantic_dedup_keepers snapshots them on demand with the
    batch cc_fixpoint. ``compact_every=N`` folds the vector state and
    edge log into a generation every N micro-batches
    (streaming/compaction.py). ``horizon_batches`` bounds the VECTOR
    state (never the emitted pair log) to a contamination window: each
    batch pairs against the previous ``horizon_batches`` batches only
    (the read-side window, derived from the batch's own id so WAL
    replays are deterministic), and folds age rows out one batch
    behind it, with drop counts reported durably
    (compaction.read_retention) — see ``auto_compact``."""
    from micmac_li3ds_spark.operators.llm_text import lsh_candidate_pairs
    from micmac_li3ds_spark.operators.llm_vector import (
        nearest_centroid_assign,
    )
    from micmac_li3ds_spark.functions.vector import cosine

    n_cent = centroids.count()

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        asg = nearest_centroid_assign(
            batch_df.select("vec_id", "v"),
            centroids,
            extra_cols=("v",),
            n_centroids=n_cent,
        ).select("vec_id", F.col("centroid_id").alias("cid"), "v")
        new = write_batch(asg, vectors_dir, batch_id, _SEM_VEC_DDL)
        hot = new.select("cid").distinct()
        # candidates and their verification vectors all live in the
        # batch's TOUCHED clusters, so the hot cids prune a
        # bucket-compacted vector state down to those clusters' files
        state = resolve_state(
            batch_df.sparkSession,
            vectors_dir,
            _SEM_VEC_DDL,
            min_src_batch=read_floor(batch_id, horizon_batches),
            prune_keys=hot,
        )
        touched = state.join(hot, "cid", "left_semi")
        pairs = lsh_candidate_pairs(
            touched.select(
                F.col("cid").cast("string").alias("band_key"),
                F.col("vec_id").alias("doc_id"),
            ),
            bucket_cap=cluster_cap,
        )
        fresh = _fresh_pairs(pairs, new.select("vec_id"))
        verified = _verify_pairs(
            fresh, state, "vec_id", "v", cosine, "cos", tau
        )
        write_batch(verified, pairs_dir, batch_id)

    return _by_batch_job(
        stream,
        dedup_batch,
        [(vectors_dir, _SEM_VEC_DDL, "cid"), (pairs_dir, _SEM_PAIRS_DDL)],
        checkpoint,
        compact_every,
        horizon_batches,
    )


def read_semantic_dedup_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """The emitted semantic near-duplicate pair log, distinct (a
    re-fed vec_id legitimately re-emits its pairs — assignment and
    cosine are deterministic). Empty (never raising) before the
    stream's first batch commits."""
    return resolve_state(spark, pairs_dir, _SEM_PAIRS_DDL).distinct()


def read_semantic_dedup_keepers(
    spark: SparkSession, vectors_dir: str, pairs_dir: str
) -> DataFrame:
    """On-demand keeper snapshot over the accumulated pair log:
    connected components only MERGE as edges append (monotone — no
    retraction), so running the shared cc_fixpoint over the log at any
    moment yields the same (vec_id, keeper, is_kept) contract as
    q_llm_semantic_dedup over the corpus-so-far."""
    from micmac_li3ds_spark.operators.analytics import cc_fixpoint

    edges = (
        resolve_state(spark, pairs_dir, "doc_a long, doc_b long")
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .distinct()
    )
    lbl, _rounds = cc_fixpoint(edges)
    vecs = resolve_state(spark, vectors_dir, "vec_id long").distinct()
    return vecs.join(lbl, vecs["vec_id"] == lbl["node"], "left").select(
        "vec_id",
        F.coalesce(F.col("lbl"), F.col("vec_id")).alias("keeper"),
        (
            F.coalesce(F.col("lbl"), F.col("vec_id")) == F.col("vec_id")
        ).alias("is_kept"),
    )


def read_near_dedup_clusters(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """On-demand duplicate-cluster snapshot over the accumulated LSH
    pair log — q_llm_dedup_clusters' (doc_id, cluster_id, cluster_size)
    contract for the stream's history, by the same monotonicity
    argument as the semantic twin: connected components over an
    append-only edge log only MERGE as pairs arrive, so a snapshot at
    any moment is consistent with the corpus-so-far (whereas streaming
    the labels themselves would require retracting assignments each
    merge invalidates). Involved documents only, like the batch key —
    singletons never enter the pair log."""
    from micmac_li3ds_spark.operators.llm_text import dedup_clusters

    return dedup_clusters(
        resolve_state(spark, pairs_dir, "doc_a long, doc_b long").distinct()
    )


def read_media_file_stream(
    spark: SparkSession, src_dir: str, glob: str = "*.mkv"
) -> DataFrame:
    """binaryFile FILE STREAM over a media-lake prefix — the ingest
    shape the multimodal docstrings advertise (payloads live as object
    files, never inside relational rows): Spark's binaryFile source
    emits (path, modificationTime, length, content) and streams NEW
    files per micro-batch. The schema is declared, not inferred — the
    binaryFile schema is fixed by the source."""
    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    return (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("pathGlobFilter", glob)
        .load(src_dir)
    )


def _lake_id_expr(
    fname, job: str, id_name: str = "media_id", ext_re: str = r"[^.]+",
    ext_label: str = "<ext>",
):
    """The numeric file id from the lake layout contract
    ``<id>.<ext>`` — ENFORCED, not pattern-matched loosely, and shared
    by every file-ingest job (media: ``<media_id>.<ext>``; WARC:
    ``<file_id>.warc[.gz]``, with ``ext_re``/``ext_label`` narrowing
    the extension). A versioned re-upload like ``9000_v2.mkv`` must not
    silently merge with ``9000.mkv`` under one id, a non-numeric stem
    must not become a NULL id, and the id must be written without
    leading zeros: ``007.mkv`` and ``7.mkv`` would both map to id 7 and
    merge under the readers' distinct(), so each id has exactly one
    canonical name (``0`` itself has no shorter spelling). Every
    violation fails the batch loudly, the same posture as the
    unknown-extension raise."""
    ok = fname.rlike(rf"^(0|[1-9]\d*)\.{ext_re}$")
    return (
        F.when(
            ~ok,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"{job}: file name violates the "
                        f"<{id_name}>.{ext_label} lake contract: "
                    ),
                    fname,
                )
            ).cast("long"),
        )
        .otherwise(
            F.regexp_extract(fname, r"^(\d+)", 1).cast("long")
        )
        .alias(id_name)
    )


# lake file extension → the fixture corpus's mime vocabulary (the keys
# of multimodal._REAL_DECODERS) — what run_streaming_feature_extract
# stamps on each file before dispatch
MEDIA_EXT_MIME = {
    "bmp": "image/bmp",
    "ppm": "image/x-portable-pixmap",
    "wav": "audio/x-wav-pcm",
    "png": "image/png",
    "gif": "image/gif",
    "aif": "audio/aiff",
    "aiff": "audio/aiff",
    "tif": "image/tiff",
    "tiff": "image/tiff",
}


_FEATURES_DDL = (
    "media_id long, mime string, "
    + ", ".join(f"f{i} double" for i in range(8))
    + ", decoder string"
)
_FRAMES_DDL = "media_id long, frame_idx int, frame_ts_ms long, frame_sha string"


def run_streaming_feature_extract(
    stream: DataFrame,
    features_dir: str,
    checkpoint: str,
    compact_every: "int | None" = None,
):
    """Continuous decode + feature-extract over a MIXED media lake: as
    image/audio files land, each micro-batch maps <media_id>.<ext> to
    (media_id, mime, payload) — mime from the extension via
    MEDIA_EXT_MIME — and runs the shared feature_extract plumbing with
    the mime-dispatching decode_auto (every real zero-dep decoder:
    BMP, PPM, WAV, PNG, GIF, AIFF, TIFF). Features land by batch id
    (idempotent WAL replay). An unknown extension fails the batch
    loudly — a lake sweep must surface unexpected formats, not stub
    them silently. Pure map work over the binary column: no shuffle in
    the stage, scale-out is files-per-batch × executors."""
    from micmac_li3ds_spark.operators.multimodal import (
        decode_auto,
        feature_extract,
    )

    mime_expr = None
    fname = F.element_at(F.split("path", "/"), -1)
    ext = F.lower(F.element_at(F.split(fname, r"\."), -1))
    for e, m in MEDIA_EXT_MIME.items():
        mime_expr = (
            F.when(ext == e, F.lit(m))
            if mime_expr is None
            else mime_expr.when(ext == e, F.lit(m))
        )
    mime_expr = mime_expr.otherwise(
        F.raise_error(
            F.concat(
                F.lit("run_streaming_feature_extract: unknown media "
                      "extension in "),
                fname,
            )
        )
    )

    def fx_batch(batch_df: DataFrame, batch_id: int) -> None:
        media = batch_df.select(
            _lake_id_expr(fname, "run_streaming_feature_extract"),
            mime_expr.alias("mime"),
            F.col("content").alias("payload"),
        )
        features = feature_extract(
            media, decode=decode_auto, decoder_name="auto-dispatch-v1"
        )
        write_batch(features, features_dir, batch_id)

    return _by_batch_job(
        stream, fx_batch, [(features_dir, _FEATURES_DDL)], checkpoint,
        compact_every,
    )


def run_streaming_frame_sample(
    stream: DataFrame,
    frames_dir: str,
    checkpoint: str,
    lo_ms: "int | None" = None,
    hi_ms: "int | None" = None,
    compact_every: "int | None" = None,
):
    """Continuous media ingest → keyframe index: as Matroska files land
    in the lake, each micro-batch runs the EBML walk
    (operators/multimodal.py:_mkv_sample_index) over the NEW payloads
    only and appends their keyframe rows — the media twin of the DLQ/
    near-dedup ingest posture, replacing a nightly whole-lake re-walk.
    With (lo_ms, hi_ms) the per-file walk takes the Cues seek where the
    payload carries an index (covering clusters only — the ranged-GET
    shape); otherwise it indexes every presented keyframe.

    media_id is the file-name stem (the lake layout contract:
    ``<media_id>.mkv``); frames land under ``frames_dir/batch=<id>``
    with mode=overwrite — the write-by-batch-id idempotency pattern
    (a WAL-replayed batch REPLACES its own previous output). Each
    file's walk is independent map work over the binary column: no
    shuffle anywhere, so ingest scales with files-per-batch ×
    executors exactly like the batch sampler."""
    from micmac_li3ds_spark.operators.multimodal import (
        mkv_frame_sample,
        mkv_frame_sample_range,
    )

    if (lo_ms is None) != (hi_ms is None):
        raise ValueError("lo_ms and hi_ms must be given together")

    def sample_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fname = F.element_at(F.split("path", "/"), -1)
        media = batch_df.select(
            _lake_id_expr(fname, "run_streaming_frame_sample"),
            F.col("content").alias("payload"),
        )
        out = (
            mkv_frame_sample(spark, media=media)
            if lo_ms is None
            else mkv_frame_sample_range(spark, lo_ms, hi_ms, media=media)
        )
        write_batch(out, frames_dir, batch_id)

    return _by_batch_job(
        stream, sample_batch, [(frames_dir, _FRAMES_DDL)], checkpoint,
        compact_every,
    )


def read_frame_sample_log(spark: SparkSession, frames_dir: str) -> DataFrame:
    """The accumulated keyframe index, distinct: a media file re-fed
    (touched/re-uploaded) in a later batch legitimately re-emits its
    frames — the walk is deterministic in the payload, so distinct on
    the full row collapses the duplicate attestations. Empty (never
    raising) before the stream's first batch commits."""
    return resolve_state(spark, frames_dir, _FRAMES_DDL).distinct()


def read_feature_log(spark: SparkSession, features_dir: str) -> DataFrame:
    """The accumulated feature table, distinct (a re-fed media file
    re-emits its deterministic features), readable in the by-batch AND
    the compacted layout — a root-path read breaks once a maintenance
    fold runs."""
    return resolve_state(spark, features_dir, _FEATURES_DDL).distinct()


def run_streaming_warc_extract(
    stream: DataFrame,
    records_dir: str,
    checkpoint: str,
    compact_every: "int | None" = None,
    hrefs_dir: "str | None" = None,
):
    """Continuous crawl ingest: as WARC files land in the lake, each
    micro-batch runs the from-the-spec walker
    (operators/warc.py:warc_records) over the NEW payloads only and
    appends their typed record rows — the very first step of a crawl
    pipeline, feeding the streaming dedup/quality family downstream.
    The lake contract is ``<file_id>.warc`` (plain record stream) or
    ``<file_id>.warc.gz`` (per-record gzip members); any other name
    fails the batch loudly, the media-lake posture. Record rows land
    by batch id (mode=overwrite — idempotent WAL replay) and
    ``compact_every`` folds the log through the shared generation
    cadence. Pure map work over the binary column: no shuffle in the
    stage, scale-out is files-per-batch × executors — exactly how a
    1000-executor cluster chews a crawl dump as it arrives instead of
    re-walking the lake nightly.

    ``hrefs_dir`` additionally lands each batch's raw anchor feed
    (operators/warc.py:warc_hrefs — (doc_id, seq, src_host, href),
    deterministic per payload) in the same by-batch/compacted layout;
    ``read_warc_link_graph`` and ``read_warc_frontier`` fold the
    accumulated log through the SAME resolve_links/canonical_urls
    expressions the registered batch keys use — the continuous link
    graph and crawl frontier."""
    from micmac_li3ds_spark.operators.warc import (
        WARC_HREF_DDL,
        WARC_RECORD_DDL,
        warc_records,
        warc_records_with_hrefs,
    )

    def warc_batch(batch_df: DataFrame, batch_id: int) -> None:
        fname = F.element_at(F.split("path", "/"), -1)
        files = batch_df.select(
            _lake_id_expr(
                fname, "run_streaming_warc_extract", "file_id",
                r"warc(\.gz)?", "warc[.gz]",
            ),
            fname.endswith(".gz").alias("gz"),
            F.col("content").alias("payload"),
        )
        if hrefs_dir is None:
            write_batch(warc_records(files), records_dir, batch_id)
            return
        # ONE walk of each payload: the combined kind-tagged frame is
        # persisted across the two filtered writes, so the parse/gunzip
        # cost is paid once, not per output
        combined = warc_records_with_hrefs(files).persist()
        try:
            records = combined.filter(F.col("kind") == "rec").select(
                "file_id", "rec_idx", "warc_type", "target_uri",
                "http_status", "block_len", "block_sum", "gz",
            )
            write_batch(records, records_dir, batch_id)
            hrefs = combined.filter(F.col("kind") == "href").select(
                "doc_id", "seq", "src_host", "href"
            )
            write_batch(hrefs, hrefs_dir, batch_id)
        finally:
            combined.unpersist()

    specs = [(records_dir, WARC_RECORD_DDL)]
    if hrefs_dir is not None:
        specs.append((hrefs_dir, WARC_HREF_DDL))
    return _by_batch_job(stream, warc_batch, specs, checkpoint, compact_every)


def read_warc_record_log(spark: SparkSession, records_dir: str) -> DataFrame:
    """The accumulated WARC record table, distinct (a re-fed archive
    re-emits its deterministic rows), readable in the by-batch AND the
    compacted generation layout."""
    from micmac_li3ds_spark.operators.warc import WARC_RECORD_DDL

    return resolve_state(spark, records_dir, WARC_RECORD_DDL).distinct()


def read_warc_href_log(spark: SparkSession, hrefs_dir: str) -> DataFrame:
    """The accumulated raw anchor feed, distinct — lossless because
    (doc_id, seq) keys each anchor occurrence, so a re-fed archive's
    identical rows collapse while a page's genuinely repeated href
    survives as distinct seq values."""
    from micmac_li3ds_spark.operators.warc import WARC_HREF_DDL

    return resolve_state(spark, hrefs_dir, WARC_HREF_DDL).distinct()


def read_warc_link_graph(spark: SparkSession, hrefs_dir: str) -> DataFrame:
    """The continuous host-level link graph: the accumulated href log
    through the SAME resolve_links expression q_llm_warc_links uses —
    streaming ≡ batch is shared code, pinned by the link-graph
    harness."""
    from micmac_li3ds_spark.operators.warc import resolve_links

    return resolve_links(read_warc_href_log(spark, hrefs_dir))


def read_warc_frontier(spark: SparkSession, hrefs_dir: str) -> DataFrame:
    """The continuous crawl frontier: canonical URL occurrence counts
    over the accumulated href log through the SAME canonical_urls
    expression q_llm_url_normalize uses."""
    from micmac_li3ds_spark.operators.warc import canonical_urls

    return canonical_urls(read_warc_href_log(spark, hrefs_dir))
