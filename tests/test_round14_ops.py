"""Round-14 tests.

Round 14 is the fifth consolidation round (46 forced window keys + the
ledgered kmeans_fix migration + 3 discretionary slots). The code work
tested here:

- ADVICE r13 #1 (medium): the sidx seek's lower-bound skip compared
  FLOORED milliseconds, so for timescales > 1000 a fragment whose
  floored end equals lo_ms was skipped even though its last sample's
  floored pts_ms == lo_ms is in range — the seek silently dropped an
  in-range keyframe the full walk returns. Fixed with exact tick-unit
  comparisons; the deterministic repro and a pts-filtered property
  test (which, unlike the r13 mirror, cannot replicate the bug) live
  here.
- ADVICE r13 #4: frame_sample_range gated the seek on _mp4_has_sidx
  alone; a FLAT file carrying a stray top-level sidx box was routed
  into the time-ranged walk, which correctly raises for unfragmented
  layouts — failing the whole mapInPandas batch for one odd payload.
  The gate now also requires mvex (fragmented), falling back to the
  full-walk-then-filter path.
- q_mm_frame_sample_range: the user-facing ranged sampler gets a
  driver-oracle registry key (r13 verdict item 2) at a fixed
  [100, 450] ms window over the BMFF fixture corpus.
"""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.test_round11_ops import _genfix


# ---------------------------------------------------------------------------
# ADVICE r13 #1: exact tick-unit sidx window intersection
# ---------------------------------------------------------------------------


def test_mp4_sidx_seek_keeps_fragment_whose_floored_end_equals_lo():
    """The ADVICE repro: timescale 30000, two single-sample fragments
    with durations [30000, 1] ticks. Fragment 1's earliest pts is tick
    30000 = exactly 1000.0 ms, and its sidx window end floors to
    1000 ms — the old `(rt + rdur) * 1000 // sidx_ts <= lo_ms` skip
    dropped it for lo_ms = 1000, losing a keyframe whose pts_ms == lo
    is squarely in range. The seek must return exactly that sample."""
    from micmac_li3ds_spark.operators.multimodal import _mp4_sample_index

    gf = _genfix()
    payload, offs, ts_ms, kf, pts_ms, frs = gf._mp4_encode_fragmented(
        [[b"\x11" * 24], [b"\x22" * 24]],
        30000,
        30000,
        [[True], [True]],
        dur_overrides=[[30000], [1]],
        sidx=True,
    )
    full = _mp4_sample_index(payload)
    assert [s[4] for s in full] == [0, 1000]  # floored pts_ms

    got = _mp4_sample_index(payload, time_range_ms=(1000, 1000))
    assert got == [full[1]], (
        "seek dropped the fragment whose floored window end == lo_ms"
    )
    # and the symmetric upper bound: a range ending at 999 ms must
    # cover ONLY fragment 0 (fragment 1's first tick floors to 1000)
    assert _mp4_sample_index(payload, time_range_ms=(0, 999)) == [full[0]]


@st.composite
def _contained_sidx_plans(draw):
    """Random fragmented plans whose sample pts are CONTAINED in their
    fragment's sidx window (coff for sample k is bounded by the ticks
    remaining to the fragment end) — the closed-GOP/SAP shape real DASH
    has, and the precondition for the pts-filter contract below. The
    timescale pool leans on values > 1000, where the old floored-ms
    arithmetic actually diverges from the exact one."""
    n_frags = draw(st.integers(1, 4))
    counts = [draw(st.integers(1, 4)) for _ in range(n_frags)]
    tscale = draw(st.sampled_from([600, 1000, 30000, 90000]))
    d_dur = draw(st.integers(40, 2000))
    keys = [
        [k == 0 or draw(st.booleans()) for k in range(c)] for c in counts
    ]
    if draw(st.booleans()):
        cofs = None
    else:
        cofs = [
            [
                0
                if k == 0
                else draw(st.integers(0, (c - 1 - k) * d_dur))
                for k in range(c)
            ]
            for c in counts
        ]
    return counts, tscale, d_dur, keys, cofs


@settings(max_examples=40, deadline=None)
@given(plan=_contained_sidx_plans(), data=st.data())
def test_mp4_sidx_seek_pts_filter_matches_full_walk_pts_filter(plan, data):
    """The contract frame_sample_range actually relies on, stated
    WITHOUT mirroring the walker's window arithmetic (ADVICE r13 #1:
    the r13 mirror reproduced the walker's own floor bug, so it could
    never catch it): for any ms range, the seek's samples filtered by
    pts must equal the FULL walk's samples filtered by pts — every
    in-range presented sample is found — and the seek must be a subset
    of the full walk (it never invents samples)."""
    from micmac_li3ds_spark.operators.multimodal import _mp4_sample_index

    gf = _genfix()
    counts, tscale, d_dur, keys, cofs = plan
    frags = [
        [bytes([(fi * 13 + k) % 251]) * (10 + k) for k in range(c)]
        for fi, c in enumerate(counts)
    ]
    payload, offs, ts_ms, kf, pts_ms, frs = gf._mp4_encode_fragmented(
        frags, tscale, d_dur, keys, ctts_offsets=cofs, sidx=True
    )
    full = _mp4_sample_index(payload)

    total_ms = max(p for p in pts_ms) + 1
    lo = data.draw(st.integers(0, total_ms), label="lo")
    hi = data.draw(st.integers(lo, total_ms + 10), label="hi")
    got = _mp4_sample_index(payload, time_range_ms=(lo, hi))

    full_set = set(full)
    assert all(s in full_set for s in got)
    in_range = lambda s: lo <= s[4] <= hi  # noqa: E731
    assert sorted(filter(in_range, got)) == sorted(filter(in_range, full))


# ---------------------------------------------------------------------------
# ADVICE r13 #4: a stray top-level sidx on a FLAT file must not route
# frame_sample_range into the (raising) time-ranged walk
# ---------------------------------------------------------------------------


def _flat_with_stray_sidx():
    gf = _genfix()
    flat, *_ = gf._mp4_encode(
        [b"ab" * 10, b"cd" * 10, b"ef" * 10],
        [(1, 3)],
        20,
        1000,
        [(3, 250)],
        False,
        False,
    )
    # a syntactically valid, semantically stray top-level sidx box
    stray = (8 + 12).to_bytes(4, "big") + b"sidx" + bytes(12)
    return flat + stray


def test_flat_file_with_stray_sidx_is_not_seekable():
    from micmac_li3ds_spark.operators.multimodal import (
        _mp4_has_sidx,
        _mp4_is_fragmented,
        _mp4_sample_index,
    )

    payload = _flat_with_stray_sidx()
    assert _mp4_has_sidx(payload)
    assert not _mp4_is_fragmented(payload)
    # the raw walk still raises for a time-ranged request on a flat
    # file (the seek contract is honest: no byte range can be skipped)
    with pytest.raises(ValueError, match="requires a fragmented MP4"):
        _mp4_sample_index(payload, time_range_ms=(0, 100))
    # ... which is exactly why the DataFrame-level gate must not route
    # this payload there; the plain walk works
    assert len(_mp4_sample_index(payload)) == 3


def test_frame_sample_range_falls_back_on_stray_sidx_flat_file(
    spark, monkeypatch
):
    """End-to-end: a corpus containing one flat-but-stray-sidx payload
    must not fail the mapInPandas batch — the row takes the full-walk
    path and its in-range keyframes come back (ADVICE r13 #4)."""
    import micmac_li3ds_spark.operators.multimodal as mm

    payload = _flat_with_stray_sidx()
    df = spark.createDataFrame([(1, bytearray(payload))], "media_id long, payload binary")
    monkeypatch.setattr(mm, "load_media_mp4", lambda s: df)

    rows = mm.frame_sample_range(spark, 0, 10_000).collect()
    # the explicit-corpus parameter (round 14) must agree with the
    # default-loader path byte for byte
    explicit = mm.frame_sample_range(spark, 0, 10_000, media=df).collect()
    assert sorted(map(tuple, explicit)) == sorted(map(tuple, rows))
    full = mm._mp4_sample_index(payload)
    hx = payload.hex().upper()
    exp = [
        (1, k, pts, hashlib.sha256(hx[o * 2 : (o + sz) * 2].encode()).hexdigest())
        for k, (o, sz, _d, key, pts) in enumerate(
            s for s in full if s[3] and s[4] >= 0
        )
    ]
    got = [
        (r["media_id"], r["frame_idx"], r["frame_ts_ms"], r["frame_sha"])
        for r in sorted(rows, key=lambda r: r["frame_idx"])
    ]
    assert got == exp


# ---------------------------------------------------------------------------
# q_mm_frame_sample_range: the registered fixed-window key
# ---------------------------------------------------------------------------


def test_q_mm_frame_sample_range_equals_operator_call(spark):
    """The registry key is exactly frame_sample_range at the fixed
    window — and the window is non-trivial on the fixture corpus:
    some rows contribute, at least one (media_id 6004, pts ≥ 1500)
    contributes nothing (every fragment skipped / filtered)."""
    from micmac_li3ds_spark.operators.multimodal import (
        _FSR_HI_MS,
        _FSR_LO_MS,
        frame_sample_range,
        q_mm_frame_sample_range,
    )

    got = sorted(
        map(tuple, q_mm_frame_sample_range(spark, "unused").collect())
    )
    exp = sorted(
        map(tuple, frame_sample_range(spark, _FSR_LO_MS, _FSR_HI_MS).collect())
    )
    assert got == exp and len(got) > 0
    contributing = {r[0] for r in got}
    assert 6004 not in contributing
    assert all(_FSR_LO_MS <= r[2] <= _FSR_HI_MS for r in got)


# ---------------------------------------------------------------------------
# ADVICE r13 #3: superseded localCheckpoint frames are freed
# ---------------------------------------------------------------------------


def _persisted_rdd_ids(spark):
    """Id-set snapshot of currently persisted RDDs. Storage accounting
    must diff id SETS, not compare global counts (r15 verdict item 3):
    the suite shares one session, so driver GC can unpersist frames
    left behind by NEIGHBORING tests at any moment — a global count can
    shrink under the test and break `== base + k` in a way that depends
    on suite order. Ids are monotonically assigned and pytest runs
    serially, so ids newly present after a snapshot were created by the
    code under test and nothing else; GC of older frames never adds
    ids."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def test_unpersist_local_checkpoint_frees_blocks_and_spares_successor(spark):
    """The helper must free exactly the superseded frame's blocks while
    a successor checkpoint built FROM it stays readable (its own blocks
    are independent once materialized)."""
    from micmac_li3ds_spark.functions.iterate import (
        unpersist_local_checkpoint,
    )

    before = _persisted_rdd_ids(spark)
    a = spark.range(500).selectExpr("id", "id * 2 AS x").localCheckpoint(
        eager=True
    )
    b = a.selectExpr("id", "x + 1 AS x").localCheckpoint(eager=True)
    created = _persisted_rdd_ids(spark) - before
    assert len(created) == 2
    unpersist_local_checkpoint(a)
    assert len(_persisted_rdd_ids(spark) & created) == 1
    assert b.count() == 500  # successor unaffected
    unpersist_local_checkpoint(b)
    assert not (_persisted_rdd_ids(spark) & created)
    # non-checkpointed frames are a harmless no-op (best-effort contract)
    unpersist_local_checkpoint(spark.range(3))


def test_dedup_clusters_loop_does_not_accumulate_checkpoint_blocks(spark):
    """q_llm_dedup_clusters must leave O(1) persistent RDDs behind —
    the final labels frame (plus any checkpoint its near-dedup input
    pins), never one frame per convergence round (ADVICE r13 #3)."""
    from micmac_li3ds_spark.operators.llm_text import q_llm_dedup_clusters

    before = _persisted_rdd_ids(spark)
    out = q_llm_dedup_clusters(spark, "/root/testdata/sf0.001")
    assert out.count() > 0
    # final labels + the near-dedup pipeline's own eager checkpoint:
    # a fixed budget, NOT proportional to min-label rounds (the loop
    # ran >= 1 round, each of which would have leaked a frame before)
    assert len(_persisted_rdd_ids(spark) - before) <= 2


# ---------------------------------------------------------------------------
# kmeans_fixpoint assign-then-rejoin migration (the r12/r13 ledger,
# executed this round): bit-exact vs the retired wide spelling
# ---------------------------------------------------------------------------


def _measure_tool():
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "measure_kmeans_width.py",
    )
    spec = importlib.util.spec_from_file_location("_kmw", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_kmeans_fixpoint_rejoin_matches_retired_wide_spelling(spark):
    """The shipped kmeans_fixpoint (rejoin since r14) must be
    bit-identical to the retired wide spelling on the exact-integer
    recurrence — the measurement tool's own wide variant is the
    reference replica, so this pin survives even though the wide
    spelling no longer exists in the operator."""
    from micmac_li3ds_spark.operators.llm_vector import kmeans_fixpoint

    kmw = _measure_tool()
    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, kmeans_fixpoint(spark, sf, 3).collect()))
    wide = sorted(
        map(tuple, kmw._fixpoint_variant(spark, sf, 3, rejoin=False).collect())
    )
    assert got == wide and len(got) > 0


def test_kmeans_fixpoint_rejoin_plan_shape(spark):
    """Plan pins for the migrated fixpoint: zero WindowExec, zero
    SortAggregate, no cartesian, and the rejoin spelled as a shuffled
    hash join (unique key, no SMJ sorts) — per-iteration, ×3."""
    from micmac_li3ds_spark.operators.llm_vector import kmeans_fixpoint

    df = kmeans_fixpoint(spark, "/root/testdata/sf0.001", 3)
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowExec" not in s
    assert "SortAggregate" not in s
    assert "CartesianProduct" not in s
    assert s.count("ShuffledHashJoin") >= 3


# ---------------------------------------------------------------------------
# Permissive-mode corrupt-record channel (q_scan_csv / q_scan_json,
# in-window capability work) — the channel counts, and the pruning trap
# is actually closed
# ---------------------------------------------------------------------------


def test_scan_csv_corrupt_channel(spark):
    from micmac_li3ds_spark.operators.scans import q_scan_csv

    rows = {r["segment"]: r for r in q_scan_csv(spark, "unused").collect()}
    # the fixture plants exactly 6 corrupt rows (generator asserts the
    # interleave landed); one is corrupt ONLY in a column the old
    # 2-column aggregate never parsed
    assert rows["__corrupt__"]["n_accts"] == 6
    assert rows["__corrupt__"]["total_balance"] == 0.0
    assert rows["__corrupt__"]["first_opened"] is None
    assert rows["__corrupt__"]["last_acct"] is None
    # no partially-parsed corrupt value leaked into a valid segment:
    # valid acct_ids are 0..119, the corrupt rows use >= 9001
    assert all(
        r["last_acct"] < 9000
        for seg, r in rows.items()
        if seg != "__corrupt__"
    )
    assert sum(r["n_accts"] for r in rows.values()) <= 126


def test_scan_json_corrupt_channel(spark):
    from micmac_li3ds_spark.operators.scans import q_scan_json

    rows = {r["page"]: r for r in q_scan_json(spark, "unused").collect()}
    assert rows["__corrupt__"]["n_clicks"] == 6
    assert rows["__corrupt__"]["n_ok"] == 0
    assert rows["__corrupt__"]["total_ms"] == 0
    # the click_id-only-corrupt line must NOT appear in p6's totals
    assert all(
        r["last_click"] < 9000
        for pg, r in rows.items()
        if pg != "__corrupt__"
    )


# ---------------------------------------------------------------------------
# write_partitioned_parquet: the zstd + records-per-file knobs bite
# ---------------------------------------------------------------------------


def test_write_partitioned_parquet_knobs(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from micmac_li3ds_spark.sources.sinks import write_partitioned_parquet

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").withColumn(
        "yr", F.year("o_orderdate")
    )

    def files(p):
        return glob.glob(str(p) + "/**/*.parquet", recursive=True)

    def total(p):
        import os

        return sum(os.path.getsize(f) for f in files(p))

    write_partitioned_parquet(df, str(tmp_path / "z1"), ["o_orderstatus"], zstd_level=1)
    write_partitioned_parquet(df, str(tmp_path / "z19"), ["o_orderstatus"], zstd_level=19)
    # the codec really is zstd (parquet footer, not trust-the-option)
    meta = pq.ParquetFile(files(tmp_path / "z19")[0]).metadata
    assert meta.row_group(0).column(0).compression == "ZSTD"
    # the level knob reached parquet-mr: higher level = smaller files
    assert total(tmp_path / "z19") < total(tmp_path / "z1")

    write_partitioned_parquet(
        df, str(tmp_path / "capped"), ["o_orderstatus"], max_records_per_file=100
    )
    counts = [pq.ParquetFile(f).metadata.num_rows for f in files(tmp_path / "capped")]
    assert max(counts) <= 100
    # round-trip integrity under file rolling
    assert spark.read.parquet(str(tmp_path / "capped")).count() == df.count()

    with pytest.raises(ValueError, match="zstd_level"):
        write_partitioned_parquet(
            df, str(tmp_path / "bad"), ["o_orderstatus"],
            compression="snappy", zstd_level=3,
        )
    with pytest.raises(ValueError, match="max_records_per_file"):
        write_partitioned_parquet(
            df, str(tmp_path / "bad2"), ["o_orderstatus"],
            max_records_per_file=0,
        )


def test_bfs_and_kcore_loops_do_not_accumulate_checkpoint_blocks(spark):
    """Same ADVICE r13 #3 accounting for the other in-window driver
    loops: after q_graph_sssp's BFS the ONLY surviving checkpoint is
    the returned settled frame (sym and every superseded
    settled/frontier round are freed — the result is a self-contained
    checkpoint); q_graph_kcore's fixed unroll keeps the final alive
    set plus the sym the returned plan still reads, never one frame
    per peel."""
    from pyspark.sql import functions as F

    from micmac_li3ds_spark.operators.analytics import (
        _KCORE_K,
        _KCORE_PEELS,
        _kcore_deg,
        _kcore_peel,
        _sym_edges,
        bfs_distances,
        kcore_fixpoint,
    )

    edges = spark.createDataFrame(
        # a chain forces multiple BFS rounds (one per hop)
        [(i, i + 1) for i in range(8)] + [(0, 100), (100, 101)],
        "u long, v long",
    )
    before = _persisted_rdd_ids(spark)
    settled, src, rounds = bfs_distances(edges)
    assert rounds >= 5 and settled.count() == 11 and src == 0
    created = _persisted_rdd_ids(spark) - before
    # r18: settled is a lazy union of per-round frontier checkpoints
    # (each settled row checkpointed exactly once — O(|settled|) total
    # writes instead of a full re-checkpointed copy per round), so the
    # live set is one part per productive round, all freed below via
    # the returned frame. The bound still pins the loop against
    # leaking superseded copies: parts ≤ rounds + the seed.
    assert 1 <= len(created) <= rounds + 1
    from micmac_li3ds_spark.functions.iterate import (
        unpersist_local_checkpoint,
    )

    unpersist_local_checkpoint(settled)
    assert not (_persisted_rdd_ids(spark) & created)

    before_k = _persisted_rdd_ids(spark)
    core, k_rounds = kcore_fixpoint(edges, k=1)
    assert core.count() > 0 and k_rounds >= 1
    # final alive + sym (still read by the returned lazy plan)
    assert len(_persisted_rdd_ids(spark) - before_k) <= 2


# ---------------------------------------------------------------------------
# Property test: the corrupt-channel engine parity holds for RANDOM dirty
# inputs, not just the committed fixture — Spark's PERMISSIVE row rule
# (all columns referenced) and DuckDB's MATERIALIZED ignore_errors must
# classify identical row sets across the controlled corruption modes
# ---------------------------------------------------------------------------


_CSV_SEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE"]
_CSV_CORRUPT_MODES = [
    lambda i: f"{i},AUTOMOBILE,notanum,2023-01-01",  # bad double
    lambda i: f"{i},BUILDING,1.5,not-a-date",        # bad date
    lambda i: f"x{i},FURNITURE,2.5,2023-02-02",      # bad bigint
    lambda i: f"{i},FURNITURE,--,2023-13-45",        # two bad fields
]


@st.composite
def _dirty_csv_plans(draw):
    n = draw(st.integers(2, 25))
    rows = []
    for i in range(n):
        if draw(st.booleans()):
            rows.append((True, _CSV_CORRUPT_MODES[
                draw(st.integers(0, len(_CSV_CORRUPT_MODES) - 1))
            ](i)))
        else:
            seg = draw(st.sampled_from(_CSV_SEGS))
            bal = draw(st.integers(-400, 4000))
            rows.append(
                (False, f"{i},{seg},{bal / 100},2023-{1 + i % 12:02d}-15")
            )
    return rows


@settings(max_examples=8, deadline=None)
@given(rows=_dirty_csv_plans())
def test_corrupt_channel_engine_parity_on_random_csv(rows, tmp_path_factory, spark):
    import duckdb

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    p = tmp_path_factory.mktemp("dirty") / "r.csv"
    p.write_text(
        "acct_id,segment,balance,opened\n"
        + "\n".join(r for _, r in rows)
        + "\n"
    )
    schema = T.StructType(
        [
            T.StructField("acct_id", T.LongType()),
            T.StructField("segment", T.StringType()),
            T.StructField("balance", T.DoubleType()),
            T.StructField("opened", T.DateType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
        # reference every declared column so pruning can't mask a mode
        .select("acct_id", "segment", "balance", "opened", "_corrupt_record")
        .collect()
    )
    spark_valid = sorted(
        r["acct_id"] for r in df if r["_corrupt_record"] is None
    )
    spark_corrupt = sum(1 for r in df if r["_corrupt_record"] is not None)

    con = duckdb.connect()
    duck = con.execute(
        f"""
        WITH v AS MATERIALIZED (
          SELECT * FROM read_csv('{p}',
            columns = {{'acct_id': 'BIGINT', 'segment': 'VARCHAR',
                        'balance': 'DOUBLE', 'opened': 'DATE'}},
            header = true, ignore_errors = true)
        )
        SELECT list(acct_id ORDER BY acct_id) FROM v
        """
    ).fetchone()[0]
    assert sorted(duck or []) == spark_valid
    assert spark_corrupt == len(rows) - len(spark_valid)
    # ground truth: the plan knows which rows it corrupted
    assert spark_corrupt == sum(1 for bad, _ in rows if bad)


_JSON_CORRUPT_MODES = [
    lambda i: '{"click_id": %d, "page": "p1", "ms": "fast", "ok": true}' % i,
    lambda i: '{"click_id": %d, "page": "p2", "ms": 3' % i,
    lambda i: '{"click_id": %d, "page": "p3", "ms": 5, "ok": "maybe"}' % i,
    lambda i: '{"click_id": "x%d", "page": "p4", "ms": 7, "ok": false}' % i,
    lambda i: "garbage line %d" % i,
]
_JSON_VALID_MODES = [
    lambda i, ms: '{"click_id": %d, "page": "p5", "ms": %d, "ok": true}' % (i, ms),
    # explicit JSON null and a MISSING key are both valid (field null,
    # row NOT corrupt) — the classification must not confuse null with
    # untypeable
    lambda i, ms: '{"click_id": %d, "page": "p6", "ms": null, "ok": false}' % i,
    lambda i, ms: '{"click_id": %d, "page": "p7", "ok": true}' % i,
]


@st.composite
def _dirty_json_plans(draw):
    n = draw(st.integers(2, 25))
    rows = []
    for i in range(n):
        if draw(st.booleans()):
            rows.append((True, _JSON_CORRUPT_MODES[
                draw(st.integers(0, len(_JSON_CORRUPT_MODES) - 1))
            ](i)))
        else:
            rows.append((False, _JSON_VALID_MODES[
                draw(st.integers(0, len(_JSON_VALID_MODES) - 1))
            ](i, draw(st.integers(1, 5000)))))
    return rows


@settings(max_examples=8, deadline=None)
@given(rows=_dirty_json_plans())
def test_corrupt_channel_engine_parity_on_random_json(rows, tmp_path_factory, spark):
    """The q_scan_json oracle's raw-line classification (json_valid +
    json_type, CASE-guarded) must agree with Spark's PERMISSIVE
    row-level corrupt flag on random dirty feeds built from the
    controlled corruption modes — including the null-vs-missing-vs-
    untypeable distinction."""
    import duckdb

    from pyspark.sql import types as T

    p = tmp_path_factory.mktemp("dirtyj") / "r.jsonl"
    p.write_text("\n".join(r for _, r in rows) + "\n")
    schema = T.StructType(
        [
            T.StructField("click_id", T.LongType()),
            T.StructField("page", T.StringType()),
            T.StructField("ms", T.LongType()),
            T.StructField("ok", T.BooleanType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
        .select("click_id", "page", "ms", "ok", "_corrupt_record")
        .collect()
    )
    spark_corrupt = sum(1 for r in df if r["_corrupt_record"] is not None)
    spark_valid_ids = sorted(
        r["click_id"] for r in df if r["_corrupt_record"] is None
    )

    con = duckdb.connect()
    duck_valid, duck_corrupt = con.execute(
        f"""
        WITH lines AS (
          SELECT line FROM (
            SELECT unnest(string_split(content, chr(10))) AS line
            FROM read_text('{p}')
          ) WHERE line <> ''
        ),
        cls AS (
          SELECT line,
                 CASE WHEN NOT json_valid(line) THEN TRUE
                      ELSE (json_extract(line, '$.click_id') IS NOT NULL AND
                            json_type(json_extract(line, '$.click_id'))
                              NOT IN ('BIGINT', 'UBIGINT', 'NULL'))
                        OR (json_extract(line, '$.ms') IS NOT NULL AND
                            json_type(json_extract(line, '$.ms'))
                              NOT IN ('BIGINT', 'UBIGINT', 'NULL'))
                        OR (json_extract(line, '$.ok') IS NOT NULL AND
                            json_type(json_extract(line, '$.ok'))
                              NOT IN ('BOOLEAN', 'NULL'))
                 END AS corrupt
          FROM lines
        )
        SELECT
          (SELECT list(CAST(line ->> '$.click_id' AS BIGINT)
                       ORDER BY CAST(line ->> '$.click_id' AS BIGINT))
           FROM cls WHERE NOT corrupt),
          (SELECT COUNT(*) FROM cls WHERE corrupt)
        """
    ).fetchone()
    assert sorted(duck_valid or [], key=lambda x: (x is None, x)) == sorted(
        spark_valid_ids, key=lambda x: (x is None, x)
    )
    assert duck_corrupt == spark_corrupt == sum(1 for bad, _ in rows if bad)


def test_sink_knobs_sort_within_and_orc_zstd(spark, tmp_path):
    """sort_within clusters every output file on the sort columns (the
    row-group-skipping layout; the writer's own partition-column sort
    requirement is satisfied by leading with them, so clustering
    survives file rolling), and the ORC sink really writes zstd (footer
    check, not trust-the-option)."""
    import glob
    import os

    import pyarrow.orc as po
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from micmac_li3ds_spark.operators.scans import (
        SCRATCH,
        q_sink_orc_roundtrip,
    )
    from micmac_li3ds_spark.sources.sinks import write_partitioned_parquet

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").withColumn(
        "yr", F.year("o_orderdate")
    )
    out = str(tmp_path / "sorted")
    write_partitioned_parquet(
        df,
        out,
        ["o_orderstatus"],
        sort_within=["o_orderdate"],
        max_records_per_file=300,
    )
    files = glob.glob(out + "/**/*.parquet", recursive=True)
    assert len(files) > 3  # rolling happened, clustering must survive it
    for f in files:
        col = pq.read_table(f, columns=["o_orderdate"]).to_pandas()[
            "o_orderdate"
        ]
        assert col.is_monotonic_increasing, f

    assert q_sink_orc_roundtrip(spark, "/root/testdata/sf0.001").count() > 0
    orc_files = glob.glob(
        os.path.join(SCRATCH, "lineitem_orc", "*.orc")
    ) or glob.glob(os.path.join(SCRATCH, "lineitem_orc", "part-*"))
    assert orc_files
    assert po.ORCFile(orc_files[0]).compression.upper() == "ZSTD"


def test_bfs_consolidates_union_depth_past_k_rounds(spark):
    """r19 (r18 verdict item 6): on a deep graph the settled set's lazy
    union must not grow one checkpoint leaf per round forever — every
    _BFS_CONSOLIDATE_EVERY rounds the union collapses into ONE fresh
    checkpoint and the superseded leaves are freed. A 70-node chain
    crosses the K=64 boundary: distances must stay exact through the
    consolidation (the frontier is re-derived from the consolidated
    frame), and the surviving block count must reflect the collapse
    (1 consolidated + one leaf per post-boundary round), nowhere near
    the O(rounds) of the unconsolidated shape."""
    from pyspark.sql import functions as F

    from micmac_li3ds_spark.functions.iterate import (
        CONSOLIDATE_EVERY as _BFS_CONSOLIDATE_EVERY,
    )
    from micmac_li3ds_spark.operators.analytics import bfs_distances

    n = _BFS_CONSOLIDATE_EVERY + 6
    e = spark.range(0, n - 1).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v")
    )
    before = _persisted_rdd_ids(spark)
    settled, src, rounds = bfs_distances(e)
    assert src == 0 and rounds == n
    got = {r["node"]: r["dist"] for r in settled.collect()}
    assert got == {i: i for i in range(n)}
    surviving = _persisted_rdd_ids(spark) - before
    # consolidated frame + (rounds - 1 - K) post-boundary leaves + slack
    # for the in-flight frontier; the point is it is << rounds
    assert len(surviving) <= (rounds - 1 - _BFS_CONSOLIDATE_EVERY) + 3, (
        f"{len(surviving)} checkpoints survive a {rounds}-round BFS — "
        "consolidation did not free the superseded union leaves"
    )
    from micmac_li3ds_spark.functions.iterate import (
        unpersist_local_checkpoint,
    )

    unpersist_local_checkpoint(settled)
    assert not (_persisted_rdd_ids(spark) & surviving)
