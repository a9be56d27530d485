"""Round-15 extension: the Matroska/EBML container walk — the second
major container family next to ISO BMFF (r14 verdict item 6 named it
the natural lossless extension after TIFF).

The muxer (tools/gen_fixtures.py:_mkv_encode) and the walker
(operators/multimodal.py:_mkv_sample_index) are independent
from-the-spec implementations (RFC 8794 EBML + the public Matroska
element registry); the fixture bookkeeping arrays come from the
muxer's OWN layout arithmetic, so these tests pin walker ≡ generator
without either side mirroring the other's code. Coverage mirrors the
BMFF walk's rigor: full-walk round-trip, seek ≡ full-walk-then-filter
on a window sweep, seek touches ONLY covering clusters (proved by
corrupting a skipped cluster), all four lacings, the
BlockGroup/ReferenceBlock keyframe rule, unknown-size Segment/Cluster,
track selection with a 2-byte track vint, the validate-or-fallback
seams, a malformed-input suite of named rejections, DuckDB oracle
parity for the r16-ledgered registry key, and hypothesis round-trips
over random conforming mux plans.
"""

from __future__ import annotations

import pytest

from tests.test_round11_ops import _genfix

LO, HI = 120, 700  # the r16-ledgered registered window


def _rows():
    import pyarrow.parquet as pq

    from micmac_li3ds_spark.operators.multimodal import MEDIA_MKV_PARQUET

    return pq.read_table(MEDIA_MKV_PARQUET).to_pylist()


def _expected(row):
    return list(
        zip(
            row["sample_off"],
            row["sample_size"],
            row["keyframe"],
            row["sample_pts_ms"],
        )
    )


# ---------------------------------------------------------------------------
# full walk ≡ generator bookkeeping, every fixture row
# ---------------------------------------------------------------------------


def test_mkv_full_walk_matches_generator_bookkeeping():
    """Every fixture row (all lacings, BlockGroups, unknown sizes,
    multi-track, coarse/fine TimestampScales) round-trips: the walker's
    (off, size, keyframe, pts_ms) stream equals the muxer's own layout
    arithmetic, element for element."""
    from micmac_li3ds_spark.operators.multimodal import _mkv_sample_index

    rows = _rows()
    assert len(rows) == 8
    for row in rows:
        got = _mkv_sample_index(bytes(row["payload"]))
        assert got == _expected(row), f"media_id {row['media_id']}"
        assert len(got) == row["n_samples"]


def test_mkv_frame_slices_are_the_muxed_frames():
    """The indexed byte ranges really are frame payloads: distinct,
    in-bounds, non-overlapping within a row."""
    from micmac_li3ds_spark.operators.multimodal import _mkv_sample_index

    for row in _rows():
        payload = bytes(row["payload"])
        spans = [
            (o, o + s) for o, s, _k, _t in _mkv_sample_index(payload)
        ]
        assert all(0 <= a <= b <= len(payload) for a, b in spans)
        for (a0, b0), (a1, b1) in zip(spans, spans[1:]):
            assert b0 <= a1, "frame byte ranges overlap"


# ---------------------------------------------------------------------------
# cues seek: equivalence, covering-ranges-only, fallback seams
# ---------------------------------------------------------------------------


def test_mkv_seek_equals_full_walk_then_filter_window_sweep():
    """For every cued row and a dense window sweep (boundaries on and
    off cluster/keyframe timestamps, empty windows, windows past the
    stream), filtering the seek result equals filtering the full walk —
    including the coarse-TimestampScale row where cue ticks are NOT
    milliseconds and the non-conformant row that must fall back."""
    from micmac_li3ds_spark.operators.multimodal import _mkv_sample_index

    for row in _rows():
        if not row["has_cues"]:
            continue
        payload = bytes(row["payload"])
        full = _mkv_sample_index(payload)
        for lo in range(0, 1303, 37):
            for span in (0, 13, 100, 391, 1000, 6000):
                hi = lo + span
                got = [
                    r
                    for r in _mkv_sample_index(
                        payload, time_range_ms=(lo, hi)
                    )
                    if lo <= r[3] <= hi
                ]
                exp = [r for r in full if lo <= r[3] <= hi]
                assert got == exp, (row["media_id"], lo, hi)


def test_mkv_seek_touches_only_covering_clusters():
    """The 100-TB pushdown shape: a mid-stream window on row 9000
    parses cluster 1 (covering) and cluster 2 (the stop boundary) —
    never cluster 0 — and an entirely-past-the-stream window on row
    9006 parses exactly one cluster (the stop) and emits nothing."""
    from micmac_li3ds_spark.operators.multimodal import _mkv_sample_index

    rows = {r["media_id"]: r for r in _rows()}
    r = rows[9000]
    payload = bytes(r["payload"])
    spans = [
        (o, o + sz)
        for o, sz in zip(r["cluster_off"], r["cluster_size"])
    ]
    touched: list = []
    got = _mkv_sample_index(
        payload, time_range_ms=(410, 660), _touched=touched
    )
    # bodies touched must sit inside clusters 1 and 2 only
    assert len(touched) == 2
    for (tb, te), (cb, ce) in zip(touched, spans[1:]):
        assert cb <= tb <= te <= ce
    assert [x[3] for x in got] == [400, 520, 650]

    r6 = rows[9006]
    touched6: list = []
    got6 = _mkv_sample_index(
        bytes(r6["payload"]), time_range_ms=(LO, HI), _touched=touched6
    )
    assert got6 == []
    assert len(touched6) == 1  # the first cluster is the stop boundary


def test_mkv_seek_never_reads_skipped_cluster_bytes():
    """Corrupting the SKIPPED cluster's Timestamp element id kills the
    full walk but leaves the seek byte-identical — proof the seek
    never parses non-covering cluster bodies (the mp4 trun-corruption
    pattern at tests/test_round13_ops.py:309)."""
    from micmac_li3ds_spark.operators.multimodal import _mkv_sample_index

    r = next(x for x in _rows() if x["media_id"] == 9000)
    payload = bytes(r["payload"])
    want = _mkv_sample_index(payload, time_range_ms=(410, 660))
    # cluster 0's body: find its Timestamp element id byte (0xE7)
    c0 = r["cluster_off"][0]
    k = payload.index(b"\xe7", c0)
    bad = payload[:k] + b"\xa3" + payload[k + 1 :]  # now a bogus block
    with pytest.raises(ValueError, match="block before the cluster"):
        _mkv_sample_index(bad)
    assert _mkv_sample_index(bad, time_range_ms=(410, 660)) == want


def test_mkv_seek_requires_cues_and_range_sampler_falls_back():
    """Raw walker: time_range without a Cues index raises (the mp4
    sidx-less posture). The user-facing sampler gates on _mkv_has_cues
    and runs the no-cues row through the full walk instead."""
    from micmac_li3ds_spark.operators.multimodal import (
        _mkv_has_cues,
        _mkv_sample_index,
    )

    r = next(x for x in _rows() if not x["has_cues"])
    payload = bytes(r["payload"])
    assert not _mkv_has_cues(payload)
    with pytest.raises(ValueError, match="requires a Cues index"):
        _mkv_sample_index(payload, time_range_ms=(0, 100))
    assert _mkv_sample_index(payload) == _expected(r)


def test_mkv_seek_falls_back_on_negative_relative_timestamp():
    """Row 9007 carries rel = -40 in an in-window cluster: the seek
    validator must detect the broken muxer constraint while parsing
    and fall back to the full walk — same answer, conservatively."""
    from micmac_li3ds_spark.operators.multimodal import _mkv_sample_index

    r = next(x for x in _rows() if not x["seek_conformant"])
    payload = bytes(r["payload"])
    full = _mkv_sample_index(payload)
    assert full == _expected(r)
    got = [
        x
        for x in _mkv_sample_index(payload, time_range_ms=(300, 500))
        if 300 <= x[3] <= 500
    ]
    assert got == [x for x in full if 300 <= x[3] <= 500]
    assert any(x[3] == 360 for x in got)  # the negative-rel keyframe


# ---------------------------------------------------------------------------
# lacing + BlockGroup semantics, targeted
# ---------------------------------------------------------------------------


def _craft(gf, *, clusters, info=None, tracks=None, cues_body=None,
           doctype=b"matroska", cues_first=False):
    """Hand-assembled minimal Matroska from the generator's EBML
    primitives — full adversarial control over every element.
    ``cues_first`` places the Cues element BEFORE the clusters (the
    streaming-friendly layout some muxers emit)."""
    hdr = gf._ebml_elem(0x1A45DFA3, gf._ebml_elem(0x4282, doctype))
    if info is None:
        info = gf._ebml_elem(
            0x1549A966, gf._ebml_elem(0x2AD7B1, gf._ebml_uint(1_000_000))
        )
    if tracks is None:
        tracks = gf._ebml_elem(
            0x1654AE6B,
            gf._ebml_elem(
                0xAE,
                gf._ebml_elem(0xD7, b"\x01")
                + gf._ebml_elem(0x83, b"\x01"),
            ),
        )
    cues = (
        gf._ebml_elem(0x1C53BB6B, cues_body)
        if cues_body is not None
        else b""
    )
    if cues_first:
        body = info + tracks + cues + b"".join(clusters)
    else:
        body = info + tracks + b"".join(clusters) + cues
    return hdr + gf._ebml_elem(0x18538067, body)


def _cluster(gf, ts, children):
    return gf._ebml_elem(
        0x1F43B675, gf._ebml_elem(0xE7, gf._ebml_uint(ts)) + children
    )


def test_mkv_lacing_modes_roundtrip_targeted():
    """Each lacing mode on a crafted single-cluster file: frame byte
    ranges slice back to the exact frames, including a zero-byte Xiph
    frame, multi-255 Xiph lace bytes, and negative EBML deltas."""
    from micmac_li3ds_spark.operators.multimodal import _mkv_sample_index

    gf = _genfix()
    cases = [
        ("none", [b"single-frame"]),
        ("xiph", [bytes(255), bytes(510), b"", b"tail"]),
        ("fixed", [b"AAAA", b"BBBB", b"CCCC"]),
        ("ebml", [bytes(200), bytes(10), bytes(90), b"last"]),
    ]
    for lacing, frames in cases:
        body, _offs = gf._mkv_block_body(1, 7, True, lacing, frames, True)
        payload = _craft(
            gf,
            clusters=[_cluster(gf, 100, gf._ebml_elem(0xA3, body))],
        )
        idx = _mkv_sample_index(payload)
        assert len(idx) == len(frames), lacing
        for (off, sz, key, pts), frame in zip(idx, frames):
            assert payload[off : off + sz] == frame, lacing
            assert key and pts == 107


def test_mkv_blockgroup_keyframe_iff_no_referenceblock():
    """BlockGroup semantics: keyframe ⟺ NO ReferenceBlock child — and
    the Block's 0x80 flag bit (reserved there, meaningful only on
    SimpleBlock) must be IGNORED even when a sloppy muxer sets it."""
    from micmac_li3ds_spark.operators.multimodal import _mkv_sample_index

    gf = _genfix()
    # 0x80 set on the Block, but a ReferenceBlock is present → NOT key
    body, _ = gf._mkv_block_body(1, 0, True, "none", [b"xx"], True)
    group = gf._ebml_elem(
        0xA0,
        gf._ebml_elem(0xA1, body)
        + gf._ebml_elem(0xFB, (-1).to_bytes(1, "big", signed=True)),
    )
    # no ReferenceBlock, 0x80 clear → key
    body2, _ = gf._mkv_block_body(1, 5, False, "none", [b"yy"], False)
    group2 = gf._ebml_elem(0xA0, gf._ebml_elem(0xA1, body2))
    payload = _craft(gf, clusters=[_cluster(gf, 10, group + group2)])
    idx = _mkv_sample_index(payload)
    assert [(k, t) for _o, _s, k, t in idx] == [(False, 10), (True, 15)]


def test_mkv_unknown_size_segment_and_cluster_walk():
    """Row 9003: unknown-size Segment, two unknown-size Clusters (one
    mid-file — ends at the next cluster id; one last — ends at EOF),
    CRC-32 and Void skippables, fixed lacing. The full walk already
    matches bookkeeping (round-trip test); here pin the resolved
    cluster spans against the muxer's."""
    from micmac_li3ds_spark.operators.multimodal import _mkv_segment_scan

    r = next(x for x in _rows() if x["media_id"] == 9003)
    payload = bytes(r["payload"])
    _scale, _vt, clusters, cues, _seg = _mkv_segment_scan(payload)
    assert cues is None
    got_spans = [(es, end) for es, _b, end in clusters]
    exp_spans = [
        (o, o + sz)
        for o, sz in zip(r["cluster_off"], r["cluster_size"])
    ]
    assert got_spans == exp_spans


def test_mkv_unknown_size_cluster_ends_at_following_segment():
    """ADVICE r15 #3: a multi-segment stream — unknown-size Segment
    whose last Cluster is also unknown-size, followed by a SECOND
    Segment element. The cluster (and so the walk) must end exactly at
    the following Segment's id: before the fix the terminator set held
    only segment-LEVEL ids, so the scan consumed the second segment as
    cluster children and the cluster span swallowed it."""
    from micmac_li3ds_spark.operators.multimodal import (
        _mkv_sample_index,
        _mkv_segment_scan,
    )

    gf = _genfix()
    hdr = gf._ebml_elem(0x1A45DFA3, gf._ebml_elem(0x4282, b"matroska"))
    info = gf._ebml_elem(
        0x1549A966, gf._ebml_elem(0x2AD7B1, gf._ebml_uint(1_000_000))
    )
    tracks = gf._ebml_elem(
        0x1654AE6B,
        gf._ebml_elem(
            0xAE,
            gf._ebml_elem(0xD7, b"\x01") + gf._ebml_elem(0x83, b"\x01"),
        ),
    )
    body1, _ = gf._mkv_block_body(1, 0, True, "none", [b"seg1-frame"], True)
    unk_cluster = (
        (0x1F43B675).to_bytes(4, "big")
        + b"\xff"  # unknown size
        + gf._ebml_elem(0xE7, gf._ebml_uint(50))
        + gf._ebml_elem(0xA3, body1)
    )
    seg1 = (
        (0x18538067).to_bytes(4, "big")
        + b"\xff"  # unknown size: ends at the next Segment
        + info
        + tracks
        + unk_cluster
    )
    body2, _ = gf._mkv_block_body(1, 0, True, "none", [b"SEG2FRAME!"], True)
    seg2 = gf._ebml_elem(
        0x18538067,
        info + tracks + _cluster(gf, 9000, gf._ebml_elem(0xA3, body2)),
    )
    payload = hdr + seg1 + seg2
    seg2_off = len(hdr) + len(seg1)

    _scale, vt, clusters, _cues, _seg = _mkv_segment_scan(payload)
    assert vt == 1
    # the unknown-size cluster's span ends exactly where segment 2 begins
    assert [end for _es, _b, end in clusters] == [seg2_off]

    idx = _mkv_sample_index(payload)
    assert len(idx) == 1  # only the first segment's frame
    off, sz, key, pts = idx[0]
    assert payload[off : off + sz] == b"seg1-frame" and key and pts == 50


def test_mkv_track_selection_skips_audio_blocks():
    """Row 9004: the video track is number 200 (a 2-byte vint) and is
    NOT the first TrackEntry; interleaved audio blocks must be walked
    over (their lace tables parsed) but never emitted."""
    from micmac_li3ds_spark.operators.multimodal import (
        _mkv_sample_index,
        _mkv_segment_scan,
    )

    r = next(x for x in _rows() if x["media_id"] == 9004)
    payload = bytes(r["payload"])
    assert _mkv_segment_scan(payload)[1] == 200
    got = _mkv_sample_index(payload)
    assert got == _expected(r)
    assert len(got) == 4  # 5 audio blocks in the file are skipped


# ---------------------------------------------------------------------------
# malformed inputs: named rejections (the BMFF walk's rigor)
# ---------------------------------------------------------------------------


def test_mkv_malformed_rejections():
    from micmac_li3ds_spark.operators.multimodal import _mkv_sample_index

    gf = _genfix()
    okblock, _ = gf._mkv_block_body(1, 0, True, "none", [b"data"], True)
    good = _craft(gf, clusters=[_cluster(gf, 0, gf._ebml_elem(0xA3, okblock))])
    assert len(_mkv_sample_index(good)) == 1

    # bad magic
    with pytest.raises(ValueError, match="bad magic"):
        _mkv_sample_index(b"\x00\x00\x00\x00" + good[4:])

    # unsupported DocType
    bad_dt = _craft(gf, clusters=[], doctype=b"notmkv\x00\x00")
    with pytest.raises(ValueError, match="unsupported EBML DocType"):
        _mkv_sample_index(bad_dt)

    # element overruns its parent: truncate the payload mid-cluster
    with pytest.raises(ValueError, match="overruns"):
        _mkv_sample_index(good[:-3])

    # vint longer than 8 bytes (lead byte 0) inside the segment
    k = good.index(b"\xa3", 30)  # the SimpleBlock id
    with pytest.raises(ValueError, match="vint longer than 8 bytes"):
        _mkv_sample_index(good[:k] + b"\xa3\x00" + good[k + 2 :])

    # element id longer than 4 bytes
    with pytest.raises(ValueError, match="more than 4 bytes"):
        _mkv_sample_index(good[:k] + b"\x08" + good[k + 1 :])

    # block before the cluster Timestamp
    no_ts = _craft(
        gf,
        clusters=[gf._ebml_elem(0x1F43B675, gf._ebml_elem(0xA3, okblock))],
    )
    with pytest.raises(ValueError, match="block before the cluster"):
        _mkv_sample_index(no_ts)

    # cluster without any Timestamp element at all
    empty = _craft(gf, clusters=[gf._ebml_elem(0x1F43B675, b"")])
    with pytest.raises(ValueError, match="without a Timestamp"):
        _mkv_sample_index(empty)

    # BlockGroup without a Block child
    bg = _craft(
        gf,
        clusters=[
            _cluster(
                gf,
                0,
                gf._ebml_elem(
                    0xA0, gf._ebml_elem(0x9B, gf._ebml_uint(40))
                ),
            )
        ],
    )
    with pytest.raises(ValueError, match="BlockGroup without a Block"):
        _mkv_sample_index(bg)

    # no video track
    audio_only = _craft(
        gf,
        clusters=[],
        tracks=gf._ebml_elem(
            0x1654AE6B,
            gf._ebml_elem(
                0xAE,
                gf._ebml_elem(0xD7, b"\x01")
                + gf._ebml_elem(0x83, b"\x02"),
            ),
        ),
    )
    with pytest.raises(ValueError, match="no video track"):
        _mkv_sample_index(audio_only)

    # zero TimestampScale
    zscale = _craft(
        gf,
        clusters=[],
        info=gf._ebml_elem(
            0x1549A966, gf._ebml_elem(0x2AD7B1, gf._ebml_uint(0))
        ),
    )
    with pytest.raises(ValueError, match="zero TimestampScale"):
        _mkv_sample_index(zscale)

    # unknown-size element other than Segment/Cluster
    uinfo = (
        gf._ebml_elem(0x1A45DFA3, gf._ebml_elem(0x4282, b"matroska"))
        + gf._ebml_elem(
            0x18538067,
            (0x1549A966).to_bytes(4, "big") + b"\xff",
            unknown=True,
        )
    )
    with pytest.raises(ValueError, match="other than Segment/Cluster"):
        _mkv_sample_index(uinfo)


def test_mkv_malformed_lacing_rejections():
    from micmac_li3ds_spark.operators.multimodal import _mkv_sample_index

    gf = _genfix()

    def blockfile(blockbody):
        return _craft(
            gf, clusters=[_cluster(gf, 0, gf._ebml_elem(0xA3, blockbody))]
        )

    head = gf._ebml_vint(1) + (0).to_bytes(2, "big", signed=True)

    # Xiph lace run never terminates inside the block
    xiph = head + bytes([0x82 | 0x02, 1]) + b"\xff\xff"
    with pytest.raises(ValueError, match="Xiph lace sizes overrun"):
        _mkv_sample_index(blockfile(xiph))

    # fixed lacing that does not divide evenly
    fixed = head + bytes([0x04, 1]) + b"12345"
    with pytest.raises(ValueError, match="does not divide the block"):
        _mkv_sample_index(blockfile(fixed))

    # declared lace sizes exceed the block
    over = head + bytes([0x02, 1, 10]) + b"abc"
    with pytest.raises(ValueError, match="lace sizes exceed the block"):
        _mkv_sample_index(blockfile(over))

    # EBML lacing delta drives a size negative
    neg = (
        head
        + bytes([0x06, 2])
        + gf._ebml_vint(5)
        + gf._ebml_vint(0, 1)  # signed delta -63
        + bytes(10)
    )
    with pytest.raises(ValueError, match="negative EBML lace size"):
        _mkv_sample_index(blockfile(neg))

    # truncated block header (flags byte missing)
    with pytest.raises(ValueError, match="truncated block header"):
        _mkv_sample_index(blockfile(gf._ebml_vint(1) + b"\x00"))


def test_mkv_crafted_index_refusals():
    """A stale/crafted Cues index must be refused loudly, never
    silently mis-seek: unsorted cue entries, and a cue position that
    does not land on a cluster start."""
    from micmac_li3ds_spark.operators.multimodal import _mkv_sample_index

    gf = _genfix()
    b0, _ = gf._mkv_block_body(1, 0, True, "none", [b"one"], True)
    b1, _ = gf._mkv_block_body(1, 0, True, "none", [b"two"], True)
    c0 = _cluster(gf, 0, gf._ebml_elem(0xA3, b0))
    c1 = _cluster(gf, 500, gf._ebml_elem(0xA3, b1))

    def cue(t, pos):
        return gf._ebml_elem(
            0xBB,
            gf._ebml_elem(0xB3, gf._ebml_uint(t))
            + gf._ebml_elem(
                0xB7,
                gf._ebml_elem(0xF7, b"\x01")
                + gf._ebml_elem(0xF1, gf._ebml_uint(pos)),
            ),
        )

    # compute the real cluster segment positions for this layout
    probe = _craft(gf, clusters=[c0, c1], cues_body=cue(0, 0))
    from micmac_li3ds_spark.operators.multimodal import _mkv_segment_scan

    _s, _v, clusters, _c, seg = _mkv_segment_scan(probe)
    p0, p1 = clusters[0][0] - seg, clusters[1][0] - seg

    ok = _craft(
        gf, clusters=[c0, c1], cues_body=cue(0, p0) + cue(500, p1)
    )
    got = _mkv_sample_index(ok, time_range_ms=(400, 600))
    assert [x[3] for x in got if 400 <= x[3] <= 600] == [500]

    unsorted = _craft(
        gf, clusters=[c0, c1], cues_body=cue(500, p1) + cue(600, p0)
    )
    with pytest.raises(ValueError, match="not sorted"):
        _mkv_sample_index(unsorted, time_range_ms=(400, 600))

    misaligned = _craft(
        gf, clusters=[c0, c1], cues_body=cue(0, p0 + 1) + cue(500, p1)
    )
    with pytest.raises(ValueError, match="does not start a cluster"):
        _mkv_sample_index(misaligned, time_range_ms=(0, 600))


# ---------------------------------------------------------------------------
# hypothesis: random conforming mux plans round-trip; random window seeks
# ---------------------------------------------------------------------------


def test_mkv_random_plans_roundtrip_and_seek_property():
    from hypothesis import given, settings, strategies as st

    from micmac_li3ds_spark.operators.multimodal import _mkv_sample_index

    gf = _genfix()

    lacings = st.sampled_from(["none", "xiph", "fixed", "ebml"])

    @st.composite
    def plan(draw):
        n_clusters = draw(st.integers(1, 4))
        scale = draw(st.sampled_from([1_000_000, 500_000, 2_000_000]))
        ts, clusters = 0, []
        for _ in range(n_clusters):
            gap = draw(st.integers(10, 400))
            blocks = []
            for _b in range(draw(st.integers(1, 3))):
                lacing = draw(lacings)
                if lacing == "none":
                    sizes = [draw(st.integers(0, 300))]
                elif lacing == "fixed":
                    sizes = [draw(st.integers(0, 60))] * draw(
                        st.integers(1, 4)
                    )
                else:
                    sizes = draw(
                        st.lists(
                            st.integers(0, 300), min_size=2, max_size=4
                        )
                    )
                blocks.append(
                    dict(
                        rel=draw(st.integers(0, gap - 1)),
                        key=draw(st.booleans()),
                        lacing=lacing,
                        sizes=sizes,
                        group=draw(st.booleans()),
                    )
                )
            clusters.append(dict(ts=ts, blocks=blocks))
            ts += gap
        lo = draw(st.integers(0, 900))
        # sparse cues: each cluster independently cued or not — the
        # realistic every-few-seconds cadence (None = cue-per-cluster)
        subset = [
            k for k in range(n_clusters) if draw(st.booleans())
        ]
        return clusters, scale, lo, lo + draw(st.integers(0, 500)), subset

    @settings(max_examples=40, deadline=None)
    @given(plan())
    def inner(p):
        import random

        clusters, scale, lo, hi, cue_subset = p
        rng = random.Random(7)
        spec_clusters = []
        for c in clusters:
            blocks = []
            for b in c["blocks"]:
                blocks.append(
                    dict(
                        rel=b["rel"],
                        key=b["key"],
                        lacing=b["lacing"],
                        group=b["group"],
                        frames=[
                            bytes(rng.randint(0, 255) for _ in range(s))
                            for s in b["sizes"]
                        ],
                    )
                )
            spec_clusters.append(dict(ts=c["ts"], blocks=blocks))
        payload, offs, sizes, keys, pts, _meta = gf._mkv_encode(
            spec_clusters, timestamp_scale=scale, cue_subset=cue_subset
        )
        from micmac_li3ds_spark.operators.multimodal import _mkv_has_cues

        full = _mkv_sample_index(payload)
        assert full == list(zip(offs, sizes, keys, pts))
        # the sampler gate: seek when a (non-empty) Cues index exists —
        # sparse subsets included — full walk otherwise
        idx = _mkv_sample_index(
            payload,
            time_range_ms=(lo, hi) if _mkv_has_cues(payload) else None,
        )
        got = [r for r in idx if lo <= r[3] <= hi]
        assert got == [r for r in full if lo <= r[3] <= hi]

    inner()


# ---------------------------------------------------------------------------
# Spark sampler + DuckDB oracle parity (the r16 birth-attestation
# evidence: locally oracle-green at birth)
# ---------------------------------------------------------------------------


def test_mkv_range_sampler_matches_duckdb_oracle(spark):
    import duckdb

    from micmac_li3ds_spark.operators.multimodal import (
        MKV_FRAME_RANGE_ORACLE,
        q_mm_mkv_frame_sample_range,
    )

    got = sorted(
        (r.media_id, r.frame_idx, r.frame_ts_ms, r.frame_sha)
        for r in q_mm_mkv_frame_sample_range(spark, "").collect()
    )
    con = duckdb.connect()
    exp = sorted(
        (mid, idx, ts, bytes(sha).hex() if not isinstance(sha, str) else sha)
        for mid, idx, ts, sha in con.execute(
            MKV_FRAME_RANGE_ORACLE
        ).fetchall()
    )
    assert len(got) > 0
    assert got == exp


def test_mkv_full_sampler_over_custom_corpus(spark):
    """mkv_frame_sample with an explicit (media_id, payload) corpus —
    the binaryFile-scan shape — emits every presented keyframe of the
    fed rows, with bookkeeping-exact timestamps and hashes."""
    import hashlib

    from micmac_li3ds_spark.operators.multimodal import (
        load_media_mkv,
        mkv_frame_sample,
    )

    rows = [r for r in _rows() if r["media_id"] in (9002, 9005)]
    media = load_media_mkv(spark).filter("media_id IN (9002, 9005)")
    got = sorted(
        (r.media_id, r.frame_idx, r.frame_ts_ms, r.frame_sha)
        for r in mkv_frame_sample(spark, media=media).collect()
    )
    exp = []
    for row in rows:
        hx = bytes(row["payload"]).hex().upper()
        k = 0
        for o, s, key, t in _expected(row):
            if not key:
                continue
            exp.append(
                (
                    row["media_id"],
                    k,
                    t,
                    hashlib.sha256(
                        hx[o * 2 : (o + s) * 2].encode()
                    ).hexdigest(),
                )
            )
            k += 1
    assert got == sorted(exp)


# ---------------------------------------------------------------------------
# media-lake ingest: binaryFile batch scan + continuous streaming walk
# ---------------------------------------------------------------------------


def _write_lake(tmp_path, rows, sub="lake"):
    d = tmp_path / sub
    d.mkdir(exist_ok=True)
    for r in rows:
        (d / f"{r['media_id']}.mkv").write_bytes(bytes(r["payload"]))
    return str(d)


def test_mkv_binaryfile_scan_feeds_the_sampler(spark, tmp_path):
    """The 100-TB layout the multimodal docstrings advertise: payloads
    live as object files, not parquet rows. A binaryFile scan of
    <media_id>.mkv files mapped to (media_id, payload) must produce
    byte-identical sampler output to the fixture-loader path."""
    from pyspark.sql import functions as F

    from micmac_li3ds_spark.operators.multimodal import (
        _MKV_FSR_HI_MS,
        _MKV_FSR_LO_MS,
        mkv_frame_sample_range,
    )

    rows = _rows()
    lake = _write_lake(tmp_path, rows)
    media = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.mkv")
        .load(lake)
        .select(
            F.regexp_extract(
                F.element_at(F.split("path", "/"), -1), r"^(\d+)", 1
            )
            .cast("long")
            .alias("media_id"),
            F.col("content").alias("payload"),
        )
    )
    got = sorted(
        tuple(r)
        for r in mkv_frame_sample_range(
            spark, _MKV_FSR_LO_MS, _MKV_FSR_HI_MS, media=media
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in mkv_frame_sample_range(
            spark, _MKV_FSR_LO_MS, _MKV_FSR_HI_MS
        ).collect()
    )
    assert got == want and len(want) > 0


def test_mkv_streaming_frame_sample_multibatch(spark, tmp_path):
    """Continuous media ingest: files fed across micro-batches produce
    exactly the batch sampler's keyframe index on the union; draining
    the same checkpoint again is a no-op; a fresh checkpoint over the
    same lake replays every batch idempotently (write-by-batch-id) to
    the identical distinct index."""
    import os

    from micmac_li3ds_spark.operators.multimodal import (
        load_media_mkv,
        mkv_frame_sample,
    )
    from micmac_li3ds_spark.streaming import jobs

    rows = _rows()
    lake = _write_lake(tmp_path, rows[:3])
    frames_dir = str(tmp_path / "frames")
    ckpt = str(tmp_path / "ckpt")

    def drain(checkpoint):
        stream = jobs.read_media_file_stream(spark, lake)
        # one file per micro-batch: 8 real batches by the end
        stream = (
            spark.readStream.format("binaryFile")
            .schema(stream.schema)
            .option("pathGlobFilter", "*.mkv")
            .option("maxFilesPerTrigger", 1)
            .load(lake)
        )
        q = jobs.run_streaming_frame_sample(
            stream, frames_dir, checkpoint
        )
        q.awaitTermination(300)

    drain(ckpt)
    n_batches_first = len(
        [d for d in os.listdir(frames_dir) if d.startswith("batch=")]
    )
    assert n_batches_first == 3

    # feed the remaining five files; the SAME checkpoint picks up only
    # the new ones
    _write_lake(tmp_path, rows[3:])
    drain(ckpt)

    got = sorted(
        tuple(r)
        for r in jobs.read_frame_sample_log(spark, frames_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in mkv_frame_sample(
            spark, media=load_media_mkv(spark)
        ).collect()
    )
    assert got == want and len(want) > 0

    # same checkpoint, nothing new: a no-op
    drain(ckpt)
    got2 = sorted(
        tuple(r)
        for r in jobs.read_frame_sample_log(spark, frames_dir).collect()
    )
    assert got2 == want

    # fresh checkpoint: every batch replays over the surviving
    # frames_dir, overwriting its own batch= subdirectory
    drain(str(tmp_path / "ckpt2"))
    got3 = sorted(
        tuple(r)
        for r in jobs.read_frame_sample_log(spark, frames_dir).collect()
    )
    assert got3 == want


def test_mkv_webm_doctype_accepted_and_void_prefix_skipped(spark=None):
    """DocType 'webm' is the same container grammar (accepted); a Void
    element between the EBML header and the Segment — emitted by some
    muxers as patch space — is skipped."""
    from micmac_li3ds_spark.operators.multimodal import _mkv_sample_index

    gf = _genfix()
    body, _ = gf._mkv_block_body(1, 3, True, "none", [b"vp9ish"], True)
    cluster = _cluster(gf, 40, gf._ebml_elem(0xA3, body))
    webm = _craft(gf, clusters=[cluster], doctype=b"webm")
    idx = _mkv_sample_index(webm)
    assert [(k, t) for _o, _s, k, t in idx] == [(True, 43)]

    plain = _craft(gf, clusters=[cluster])
    hdr = gf._ebml_elem(0x1A45DFA3, gf._ebml_elem(0x4282, b"matroska"))
    void = gf._ebml_elem(0xEC, bytes(11))
    padded = hdr + void + plain[len(hdr):]
    # same frames, absolute offsets shifted by the Void element
    assert _mkv_sample_index(padded) == [
        (o + len(void), s, k, t)
        for o, s, k, t in _mkv_sample_index(plain)
    ]


def test_mkv_streaming_frame_sample_ranged(spark, tmp_path):
    """run_streaming_frame_sample with a time window: the accumulated
    log equals the batch range sampler (cued rows seek, others fall
    back) over the full lake."""
    from micmac_li3ds_spark.operators.multimodal import (
        _MKV_FSR_HI_MS,
        _MKV_FSR_LO_MS,
        load_media_mkv,
        mkv_frame_sample_range,
    )
    from micmac_li3ds_spark.streaming import jobs

    lake = _write_lake(tmp_path, _rows())
    frames_dir = str(tmp_path / "rframes")
    stream = jobs.read_media_file_stream(spark, lake)
    q = jobs.run_streaming_frame_sample(
        stream,
        frames_dir,
        str(tmp_path / "rckpt"),
        lo_ms=_MKV_FSR_LO_MS,
        hi_ms=_MKV_FSR_HI_MS,
    )
    q.awaitTermination(300)
    got = sorted(
        tuple(r)
        for r in jobs.read_frame_sample_log(spark, frames_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in mkv_frame_sample_range(
            spark,
            _MKV_FSR_LO_MS,
            _MKV_FSR_HI_MS,
            media=load_media_mkv(spark),
        ).collect()
    )
    assert got == want and len(want) > 0


def _cue(gf, t, pos, track=1):
    return gf._ebml_elem(
        0xBB,
        gf._ebml_elem(0xB3, gf._ebml_uint(t))
        + gf._ebml_elem(
            0xB7,
            gf._ebml_elem(0xF7, bytes([track]))
            + gf._ebml_elem(0xF1, gf._ebml_uint(pos)),
        ),
    )


def _three_cluster_file(gf, cues_times_positions=None, cues_first=False):
    """Three clusters at ts 0/300/800, two keyframes each (+30 rel on
    the second); positions are computed by a probe pass."""
    cls = []
    for ts in (0, 300, 800):
        b0, _ = gf._mkv_block_body(1, 0, True, "none", [b"k0" + bytes([ts % 251])], True)
        b1, _ = gf._mkv_block_body(1, 30, True, "none", [b"k3" + bytes([ts % 251])], True)
        cls.append(
            _cluster(gf, ts, gf._ebml_elem(0xA3, b0) + gf._ebml_elem(0xA3, b1))
        )
    from micmac_li3ds_spark.operators.multimodal import _mkv_segment_scan

    if cues_times_positions is None:
        cues_times_positions = [(0, 0), (300, 1), (800, 2)]
    # positions depend on the cues element's own length when Cues
    # precede the clusters — iterate to the fixpoint
    pos = [0, 0, 0]
    for _ in range(4):
        cues_body = b"".join(
            _cue(gf, t, pos[i]) for t, i in cues_times_positions
        )
        payload = _craft(gf, clusters=cls, cues_body=cues_body,
                         cues_first=cues_first)
        _s, _v, clusters, _c, seg = _mkv_segment_scan(payload)
        new_pos = [es - seg for es, _b, _e in clusters]
        if new_pos == pos:
            break
        pos = new_pos
    else:  # pragma: no cover - vint width oscillation
        raise AssertionError("cue position fixpoint did not converge")
    return payload, pos


def test_mkv_multiple_cues_per_cluster_and_cues_first_layout():
    """Real muxers emit several CuePoints into the SAME cluster (one
    per keyframe — equal CueClusterPositions, the non-decreasing case
    the validator must accept) and often place Cues BEFORE the
    clusters. Both layouts must seek identically to the full walk."""
    from micmac_li3ds_spark.operators.multimodal import _mkv_sample_index

    gf = _genfix()
    for cues_first in (False, True):
        payload, _pos = _three_cluster_file(
            gf,
            cues_times_positions=[
                (0, 0), (30, 0), (300, 1), (330, 1), (800, 2), (830, 2)
            ],
            cues_first=cues_first,
        )
        full = _mkv_sample_index(payload)
        assert [x[3] for x in full] == [0, 30, 300, 330, 800, 830]
        for lo, hi in [(0, 10), (31, 300), (330, 830), (801, 9999)]:
            got = [
                r
                for r in _mkv_sample_index(payload, time_range_ms=(lo, hi))
                if lo <= r[3] <= hi
            ]
            assert got == [r for r in full if lo <= r[3] <= hi], (
                cues_first, lo, hi,
            )


def test_mkv_sparse_cues_uncued_middle_cluster_still_parsed():
    """Cues index only clusters 0 and 2 (the every-few-seconds cue
    cadence real muxers use): a window over the UN-CUED middle
    cluster's content must still find its keyframes — the seek anchors
    at the last cue ≤ lo and walks forward through un-cued clusters."""
    from micmac_li3ds_spark.operators.multimodal import _mkv_sample_index

    gf = _genfix()
    payload, _pos = _three_cluster_file(
        gf, cues_times_positions=[(0, 0), (800, 2)]
    )
    got = [
        r
        for r in _mkv_sample_index(payload, time_range_ms=(300, 340))
        if 300 <= r[3] <= 340
    ]
    assert [x[3] for x in got] == [300, 330]
    # and the window before any content still returns nothing
    assert [
        r
        for r in _mkv_sample_index(payload, time_range_ms=(840, 900))
        if 840 <= r[3] <= 900
    ] == []


def test_mkv_lying_anchor_cuetime_falls_back():
    """A CueTime BELOW its cluster's timestamp breaks the skip-safety
    proof; the anchor cluster is parsed, so the walk detects the lie
    and falls back to the full walk instead of trusting the index."""
    from micmac_li3ds_spark.operators.multimodal import _mkv_sample_index

    gf = _genfix()
    # cue claims time 100 for cluster 1 (actual ts 300): choosing it as
    # the anchor for lo=120 would skip cluster 0 — whose blocks are
    # genuinely below 120 here, but the index cannot be trusted once it
    # lies, so the seek must fall back and still answer exactly
    payload, _pos = _three_cluster_file(
        gf, cues_times_positions=[(0, 0), (100, 1), (800, 2)]
    )
    full = _mkv_sample_index(payload)
    got = [
        r
        for r in _mkv_sample_index(payload, time_range_ms=(120, 900))
        if 120 <= r[3] <= 900
    ]
    assert got == [r for r in full if 120 <= r[3] <= 900]
    assert [x[3] for x in got] == [300, 330, 800, 830]


def test_streaming_media_jobs_enforce_filename_contract(spark, tmp_path):
    """A lake file violating <media_id>.<ext> must FAIL the batch
    loudly. A versioned stem like 9000_v2.mkv would otherwise truncate
    to media_id 9000 and merge two different files' keyframes under
    one id; a zero-padded stem like 007.mkv would alias 7.mkv the same
    way (each id has exactly one canonical name, as for WARC lakes)."""
    from micmac_li3ds_spark.streaming import jobs

    rows = _rows()
    lakes = {
        "versioned": {"9000.mkv": rows[0], "9000_v2.mkv": rows[1]},
        "zero_padded": {"007.mkv": rows[0]},
    }
    for name, files in lakes.items():
        lake = tmp_path / name
        lake.mkdir()
        for fname, row in files.items():
            (lake / fname).write_bytes(bytes(row["payload"]))
        q = jobs.run_streaming_frame_sample(
            jobs.read_media_file_stream(spark, str(lake)),
            str(tmp_path / f"frames_{name}"),
            str(tmp_path / f"ckpt_{name}"),
        )
        with pytest.raises(Exception, match="violates the <media_id>"):
            q.awaitTermination(300)
            raise AssertionError(f"{name}: stream should have failed")
