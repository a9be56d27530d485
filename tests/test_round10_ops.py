"""Round-10 consolidation tests.

The round-9 verdict made round 10 a consolidation round: rewrite the
nearest-centroid argmin from a per-vector window to a map-side
aggregate (item 2 — first spelled min_by-over-struct, then refined to
a packed BIGINT ordering key when the TIMING gate showed the struct
buffer forces SortAggregate), parameterize the lsh_recall production
posture (item 3), give k-core a loop-until-stable variant (item 4),
and land REAL multimodal decoders (item 5 — uncompressed 24bpp BMP,
then binary netpbm P6). Each change ships with the equivalence /
property tests demanded by the verdict's done-criteria, plus the late
self-review fixes (sample_frac validation, reporter slice alignment).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# Verdict item 2: map-side min_by argmin ≡ the old row_number spelling
# ---------------------------------------------------------------------------


def test_min_by_argmin_bit_identical_to_window_spelling(spark):
    """The round-10 rewrite of nearest_centroid_assign (min over the
    packed BIGINT ordering key round(dist·1e6)·2^17 + cid) must pick
    bit-identical winners to the retired
    Window.partitionBy(vec_id).orderBy(dist, cid) row_number spelling —
    same argmin, same 6dp rounding, same centroid-id tiebreak (the
    packing is monotone in (dist, cid) because dist·1e6 is integral
    after the 6dp round and cid < 2^17; the emitted dist is min(dist)
    directly, no decode round-trip). Mirrors the round-9
    copurchase_edges equivalence precedent: prove the old and new
    builds equal BEFORE the re-attestation window is cut."""
    from micmac_li3ds_spark.operators.llm_vector import (
        _N_CENTROIDS,
        _emb,
        nearest_centroid_assign,
    )

    e = _emb(spark, SF_DIR)
    c = e.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )

    new = nearest_centroid_assign(e, c, ("label",)).select(
        "vec_id", "label", "centroid_id", "dist"
    )

    # the retired spelling, reproduced verbatim
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        6,
    )
    scored = e.crossJoin(F.broadcast(c)).select(
        "vec_id", "label", "cid", dist.alias("dist")
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    old = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "label", F.col("cid").alias("centroid_id"), "dist")
    )

    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    assert new.count() == e.count()  # one winner per vector, none dropped


def test_packed_argmin_key_is_monotone_in_dist_cid(spark):
    """Property check of the packed ordering key through Spark's OWN
    round/cast expressions: for adversarial (dist, cid) pairs — equal
    distances with different cids, distances differing only in the 6th
    decimal, the cid-capacity boundary — min over round(dist*1e6)*M+cid
    must pick the same winner as lexicographic (dist, cid). A packing
    bug (insufficient multiplier, double-rounding drift) shows up as a
    winner mismatch here long before a corpus would tickle it."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from micmac_li3ds_spark.operators.llm_vector import _ARGMIN_CID_MULT

    dists = st.decimals(
        min_value=0, max_value=10**6, places=6, allow_nan=False
    )
    cids = st.integers(min_value=0, max_value=_ARGMIN_CID_MULT - 1)

    @given(
        pairs=st.lists(
            st.tuples(dists, cids), min_size=2, max_size=8, unique=True
        )
    )
    @settings(
        max_examples=30,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(pairs):
        rows = [(float(d), int(k)) for d, k in pairs]
        df = spark.createDataFrame(rows, "dist double, cid long")
        okey = (
            F.round(F.col("dist") * F.lit(1e6)).cast("long")
            * F.lit(_ARGMIN_CID_MULT)
            + F.col("cid")
        )
        got = (
            df.select(okey.alias("okey"))
            .agg(F.min("okey").alias("m"))
            .select(
                (F.col("m") % _ARGMIN_CID_MULT).alias("cid"),
            )
            .collect()[0]["cid"]
        )
        want = min(rows)[1]  # python lexicographic (dist, cid)
        assert got == want, (rows, got, want)

    run()


def test_nearest_centroid_assign_rejects_overcapacity_k(spark):
    """The packing precondition cid < _ARGMIN_CID_MULT must be validated,
    not assumed — an over-capacity centroid count would silently bleed
    cids into the distance bits and mis-rank (the heavy-hitters
    invariant-guard discipline)."""
    from micmac_li3ds_spark.operators.llm_vector import (
        _ARGMIN_CID_MULT,
        nearest_centroid_assign,
    )

    e = spark.createDataFrame([(0, [0.0])], "vec_id long, v array<double>")
    c = spark.createDataFrame([(0, [0.0])], "cid long, cv array<double>")
    with pytest.raises(ValueError, match="cid capacity"):
        nearest_centroid_assign(e, c, n_centroids=_ARGMIN_CID_MULT + 1)
    # at-capacity is fine (cids are 0-based, strictly below the multiplier)
    nearest_centroid_assign(e, c, n_centroids=_ARGMIN_CID_MULT)


# ---------------------------------------------------------------------------
# ADVICE r9: heavy-hitters exactness invariant must be validated
# ---------------------------------------------------------------------------


def test_heavy_hitters_rejects_undersized_sketch(spark):
    """q_agg_heavy_hitters' exactness rests on mg_capacity + 1 > phi_inv
    (the pigeonhole superset argument); an undersized sketch silently
    misses true heavy hitters, so the function must refuse it."""
    from micmac_li3ds_spark.operators.aggregates import q_agg_heavy_hitters

    with pytest.raises(ValueError, match="mg_capacity"):
        q_agg_heavy_hitters(spark, SF_DIR, phi_inv=10000, mg_capacity=4096)
    # boundary: m + 1 == phi_inv is still unsound
    with pytest.raises(ValueError, match="mg_capacity"):
        q_agg_heavy_hitters(spark, SF_DIR, phi_inv=4097, mg_capacity=4096)
    # minimal sound sketch builds a plan without error
    q_agg_heavy_hitters(spark, SF_DIR, phi_inv=4096, mg_capacity=4096)


# ---------------------------------------------------------------------------
# Verdict item 3 + ADVICE r9: lsh_recall production posture
# ---------------------------------------------------------------------------


def test_lsh_recall_sample_frac_is_deterministic_and_bounds_cost(spark):
    """sample_frac scopes the audit to a doc_id-hash sample: the slice
    is engine-reproducible (same rows on a re-run — xxhash64, not RNG),
    strictly smaller than the full audit (n_true drops, bounding cost),
    and recall over the slice stays 1.0 (both sides see the same docs,
    and the 32-band LSH still finds every surviving true pair)."""
    from micmac_li3ds_spark.operators.llm_text import q_llm_lsh_recall

    full = q_llm_lsh_recall(spark, SF_DIR).collect()[0]
    half1 = q_llm_lsh_recall(spark, SF_DIR, sample_frac=0.5).collect()[0]
    half2 = q_llm_lsh_recall(spark, SF_DIR, sample_frac=0.5).collect()[0]

    assert half1 == half2  # deterministic hash sample, no RNG
    assert half1["n_true"] < full["n_true"]  # the slice is a real subset
    assert half1["n_true"] > 0  # ...but not degenerate on this corpus
    assert half1["recall"] == 1.0
    assert full["recall"] == 1.0  # frac=1.0 path unchanged


def test_lsh_recall_dfcapped_docs_reporter(spark):
    """The no-silent-caps reporter for df_cap: at the shipped cap no doc
    loses ALL its shingles (zero rows); at df_cap=0 every shingle is
    over-cap, so every shingled doc is reported — exactly the docs the
    recall gauge would silently drop from both n_true and n_found."""
    from micmac_li3ds_spark.functions.text import shingles, tokens
    from micmac_li3ds_spark.operators.llm_text import lsh_recall_dfcapped_docs
    from micmac_li3ds_spark.tables import load

    assert lsh_recall_dfcapped_docs(spark, SF_DIR).count() == 0

    n_shingled = (
        load(spark, SF_DIR, "documents")
        .filter(F.size(tokens("text")) >= 3)
        .count()
    )
    capped = lsh_recall_dfcapped_docs(spark, SF_DIR, df_cap=0)
    assert capped.count() == n_shingled


def test_lsh_recall_sample_frac_validation_and_reporter_alignment(spark):
    """Review finding (late r10): the sampling knob must refuse
    fractions outside (0, 1] and fractions below the 1e-6 pmod
    quantization floor (a zero-doc slice makes the audit silently
    vacuous — the heavy-hitters guard discipline); and the reporter
    must audit the SAME sampled population as the gauge, so at a
    degenerate df_cap its row count equals the number of shingled docs
    IN THE SLICE, not in the full corpus."""
    from micmac_li3ds_spark.functions.text import tokens
    from micmac_li3ds_spark.operators.llm_text import (
        _sample_docs,
        lsh_recall_dfcapped_docs,
        q_llm_lsh_recall,
    )
    from micmac_li3ds_spark.tables import load

    for bad in (0.0, -0.25, 1.5, 5e-7):
        with pytest.raises(ValueError):
            q_llm_lsh_recall(spark, SF_DIR, sample_frac=bad)
        with pytest.raises(ValueError):
            lsh_recall_dfcapped_docs(spark, SF_DIR, sample_frac=bad)

    n_slice = (
        _sample_docs(load(spark, SF_DIR, "documents"), 0.5)
        .filter(F.size(tokens("text")) >= 3)
        .count()
    )
    n_full = (
        load(spark, SF_DIR, "documents")
        .filter(F.size(tokens("text")) >= 3)
        .count()
    )
    assert 0 < n_slice < n_full
    reported = lsh_recall_dfcapped_docs(
        spark, SF_DIR, df_cap=0, sample_frac=0.5
    ).count()
    assert reported == n_slice  # slice population, not full corpus


# ---------------------------------------------------------------------------
# ADVICE r9: DurableLoopState orphan sweep after a mid-prune crash
# ---------------------------------------------------------------------------


def _state_df(spark, tag):
    return spark.range(4).select(
        F.col("id").alias("node"), (F.col("id") + tag).alias("lbl")
    )


def test_durable_state_sweeps_mid_prune_orphans(spark, tmp_path):
    """A crash between _prune's marker delete and data delete leaves a
    markerless round dir that committed_rounds() never lists; the next
    prune must sweep it, or the 'retain x one round' footprint bound is
    false forever after one such crash. Simulated by deleting a round's
    marker while leaving its data in place."""
    import os
    import shutil

    from micmac_li3ds_spark.functions.iterate import DurableLoopState

    d = str(tmp_path / "st")
    st = DurableLoopState(spark, d, retain=2)
    for k in range(4):
        st.save(_state_df(spark, k), k)
    assert st.committed_rounds() == [2, 3]
    # simulate the documented crash: round 2 rotates out next commit,
    # but the crash happens after its marker delete — reproduce that
    # end state directly: markerless data dir below the next horizon
    os.remove(os.path.join(d, "_COMMIT_2"))
    assert os.path.isdir(os.path.join(d, "round=2"))

    st.save(_state_df(spark, 4), 4)  # commit 4 → keep {3, 4}
    names = set(os.listdir(d))
    assert "round=2" not in names, "mid-prune orphan never swept"
    assert "round=3" in names and "round=4" in names
    assert st.committed_rounds() == [3, 4]


def test_durable_state_sweep_spares_inflight_uncommitted_round(spark, tmp_path):
    """The sweep only touches markerless dirs BELOW the oldest retained
    committed round: a markerless dir ABOVE it is the current round's
    in-flight write (crash between write and commit) and must survive
    so the restarted driver can overwrite-retry it."""
    import os

    from micmac_li3ds_spark.functions.iterate import DurableLoopState

    d = str(tmp_path / "st")
    st = DurableLoopState(spark, d, retain=2)
    for k in range(3):
        st.save(_state_df(spark, k), k)
    # round 3: write completed, commit marker never created
    _state_df(spark, 3).write.mode("overwrite").parquet(
        os.path.join(d, "round=3")
    )
    st.save(_state_df(spark, 4), 4)  # triggers a prune
    names = set(os.listdir(d))
    assert "round=3" in names, "in-flight uncommitted round swept"
    assert st.committed_rounds() == [2, 4]


# ---------------------------------------------------------------------------
# timing_audit baseline: the newest artifact committed at HEAD, from git
# ---------------------------------------------------------------------------


def _git(repo, *args):
    import subprocess

    return subprocess.run(
        ["git", "-C", str(repo), *args], capture_output=True, check=True
    ).stdout


def test_timing_audit_baseline_resolution_cleans_up(tmp_path, monkeypatch):
    """Resolving the baseline reads HEAD's copy in memory: it leaves no
    temp file and no change in the checkout behind, labels the baseline
    with the artifact's name rather than a path, and outside a repo
    reports the gate disabled as ``(None, {})``, not a 'None' path."""
    import json
    import os
    import tempfile

    from tools.timing_audit import committed_baseline

    repo = tmp_path / "repo"
    repo.mkdir()
    _git(repo, "init", "-q")
    (repo / "TIMING_r3.json").write_text(json.dumps({"queries": {"q": 3.0}}))
    _git(repo, "add", ".")
    _git(repo, "-c", "user.name=t", "-c", "user.email=t@t", "commit", "-qm", "x")
    # the self-overwrite case: the tracked artifact rewritten in place
    (repo / "TIMING_r3.json").write_text(json.dumps({"queries": {"q": 9.0}}))

    scratch_tmp = tmp_path / "tmp"
    scratch_tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch_tmp))
    listing = sorted(os.listdir(repo))
    status = _git(repo, "status", "--porcelain")

    name, artifact = committed_baseline(str(repo))
    assert name == "TIMING_r3.json" and os.path.basename(name) == name
    assert artifact == {"queries": {"q": 3.0}}
    assert os.listdir(scratch_tmp) == [], "baseline resolution left a temp"
    assert sorted(os.listdir(repo)) == listing
    assert _git(repo, "status", "--porcelain") == status

    # no artifact committed / not a repo → gate disabled, no label
    empty = tmp_path / "empty"
    empty.mkdir()
    _git(empty, "init", "-q")
    assert committed_baseline(str(empty)) == (None, {})
    assert committed_baseline(str(tmp_path)) == (None, {})  # not a repo


# ---------------------------------------------------------------------------
# Verdict item 4: k-core loop-until-stable on a deep-peel graph
# ---------------------------------------------------------------------------


def _lollipop_edges(spark, chain_len=12):
    """Triangle {0,1,2} with a chain 2-3-4-...-(2+chain_len) hanging off
    it: the 2-core is exactly the triangle, but each peel removes only
    the chain's current endpoint — peeling depth == chain_len, so any
    fixed unroll shorter than that provably leaves chain remnants."""
    edges = [(0, 1), (0, 2), (1, 2)]
    edges += [(2 + i, 3 + i) for i in range(chain_len)]
    return spark.createDataFrame(edges, "u long, v long")


def test_kcore_fixpoint_peels_deeper_than_fixed_unroll(spark):
    from micmac_li3ds_spark.operators.analytics import (
        _KCORE_PEELS,
        _kcore_deg,
        _kcore_peel,
        _sym_edges,
        kcore_fixpoint,
    )

    e = _lollipop_edges(spark, chain_len=12)

    # the registered form's fixed unroll, k=2: provably NOT converged
    sym = _sym_edges(e)
    alive = sym.select(F.col("a").alias("node")).distinct()
    for _ in range(_KCORE_PEELS):
        alive = _kcore_peel(sym, alive, 2).localCheckpoint(eager=True)
    fixed = {r["node"] for r in _kcore_deg(sym, alive).collect()}
    assert fixed > {0, 1, 2}, "chain too shallow to prove insufficiency"

    # the production loop reaches the true 2-core: the triangle alone
    core, rounds = kcore_fixpoint(e, k=2)
    rows = {(r["node"], r["core_deg"]) for r in core.collect()}
    assert rows == {(0, 2), (1, 2), (2, 2)}
    assert rounds > _KCORE_PEELS  # it genuinely looped past the unroll


def test_kcore_fixpoint_resumes_from_durable_state(spark, tmp_path):
    """The cc_fixpoint restart contract: crash mid-loop with a
    DurableLoopState, re-invoke with the same state dir, finish from
    the committed round — same core as the uninterrupted run, fewer
    rounds executed by the resumed call."""
    from micmac_li3ds_spark.functions.iterate import DurableLoopState
    from micmac_li3ds_spark.operators.analytics import kcore_fixpoint

    e = _lollipop_edges(spark, chain_len=10)
    full_core, full_rounds = kcore_fixpoint(e, k=2)

    d = str(tmp_path / "kcore_state")
    with pytest.raises(RuntimeError, match="simulated crash"):
        kcore_fixpoint(e, k=2, state=DurableLoopState(spark, d), fail_after=3)
    core, rounds = kcore_fixpoint(e, k=2, state=DurableLoopState(spark, d))
    assert rounds < full_rounds
    assert sorted(map(tuple, core.collect())) == sorted(
        map(tuple, full_core.collect())
    )


def test_kcore_fixpoint_matches_registered_query_on_corpus(spark):
    """On the driver corpus (which stabilizes inside the fixed unroll)
    the production loop and the registered oracle-parity form agree
    exactly — the swap point changes cost shape, never results."""
    from micmac_li3ds_spark.operators.analytics import (
        copurchase_edges,
        kcore_fixpoint,
        q_graph_kcore,
    )

    reg = q_graph_kcore(spark, SF_DIR)
    loop, _ = kcore_fixpoint(copurchase_edges(spark, SF_DIR))
    assert sorted(map(tuple, reg.collect())) == sorted(
        map(tuple, loop.collect())
    )


# ---------------------------------------------------------------------------
# Verdict item 5: real uncompressed-BMP decoder (zero new deps)
# ---------------------------------------------------------------------------


def _make_bmp(w, h, pixel_rows, pad_byte=0):
    """Minimal 24bpp bottom-up BMP; pixel_rows[r][x] = (b, g, r)."""
    stride = ((3 * w + 3) // 4) * 4
    img = b"".join(
        bytes(v for px in row for v in px)
        + bytes([pad_byte]) * (stride - 3 * w)
        for row in pixel_rows
    )
    off = 54
    return (
        b"BM"
        + (off + len(img)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(img).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2
        + (0).to_bytes(4, "little") * 2
        + img
    )


def test_decode_bmp_known_pixels():
    """8x2 image, one strip per pixel column: strip i must equal the
    exact integer sum of that column's two pixels' r+g+b over 768*2."""
    from micmac_li3ds_spark.operators.multimodal import _decode_bmp

    rows = [
        [(3 * x, 3 * x + 1, 3 * x + 2) for x in range(8)],      # bottom row
        [(10 * x, 0, 5) for x in range(8)],                     # top row
    ]
    feats = _decode_bmp(_make_bmp(8, 2, rows), "image/bmp")
    for x in range(8):
        expect = (9 * x + 3 + 10 * x + 5) / (768.0 * 2)
        assert feats[x] == expect


def test_decode_bmp_ignores_row_padding():
    """Same pixels, different padding bytes (w=11 -> stride 36 != 33):
    features must be identical — the decoder slices padding off."""
    from micmac_li3ds_spark.operators.multimodal import _decode_bmp

    rows = [[(x, 2 * x, 20) for x in range(11)] for _ in range(3)]
    a = _decode_bmp(_make_bmp(11, 3, rows, pad_byte=0), "image/bmp")
    b = _decode_bmp(_make_bmp(11, 3, rows, pad_byte=255), "image/bmp")
    assert a == b


def test_decode_bmp_rejects_unsupported():
    from micmac_li3ds_spark.operators.multimodal import _decode_bmp

    with pytest.raises(ValueError, match="not a BMP"):
        _decode_bmp(b"PNG whatever", "image/png")
    # 24bpp claim but width below the strip count
    rows = [[(0, 0, 0)] * 4]
    with pytest.raises(ValueError, match="width"):
        _decode_bmp(_make_bmp(4, 1, rows), "image/bmp")


def test_feature_extract_routes_real_bmp_decoder(spark):
    """The registered query's BMP branch runs the REAL decoder through
    the same mapInPandas plumbing: every fixture BMP row comes back
    tagged bmp24-strips-v1 with features in [0, 1), and re-decoding one
    payload driver-side reproduces the distributed result exactly."""
    from micmac_li3ds_spark.operators.multimodal import (
        _decode_bmp,
        load_media_bmp,
        q_mm_feature_extract,
    )

    out = q_mm_feature_extract(spark, SF_DIR)
    bmp = out.filter(F.col("mime") == "image/bmp").collect()
    assert len(bmp) == 12
    assert {r["decoder"] for r in bmp} == {"bmp24-strips-v1"}
    assert all(0.0 <= r[f"f{i}"] < 1.0 for r in bmp for i in range(8))

    payload, media_id = (
        load_media_bmp(spark)
        .select("payload", "media_id")
        .orderBy("media_id")
        .first()
    )
    want = _decode_bmp(bytes(payload), "image/bmp")
    got = [r for r in bmp if r["media_id"] == media_id][0]
    assert [got[f"f{i}"] for i in range(8)] == want


# ---------------------------------------------------------------------------
# Late r10: second real zero-dep codec — binary netpbm P6, routed into
# q_mm_feature_extract's oracle next to the BMP branch (the fixture's
# pix_off column records the pixel offset independently, so the oracle
# catches header mis-tokenizing instead of trusting the decoder's parse)
# ---------------------------------------------------------------------------


def test_feature_extract_routes_real_ppm_decoder(spark):
    """The registered query's P6 branch runs the REAL decoder through
    the same mapInPandas plumbing: every fixture PPM row comes back
    tagged ppm6-strips-v1 (12 rows spanning canonical, #-comment, and
    tab-separated headers), and re-decoding one payload driver-side
    reproduces the distributed result exactly."""
    from micmac_li3ds_spark.operators.multimodal import (
        _decode_ppm,
        load_media_ppm,
        q_mm_feature_extract,
    )

    out = q_mm_feature_extract(spark, SF_DIR)
    ppm = out.filter(F.col("mime") == "image/x-portable-pixmap").collect()
    assert len(ppm) == 12
    assert {r["decoder"] for r in ppm} == {"ppm6-strips-v1"}
    assert all(0.0 <= r[f"f{i}"] < 1.0 for r in ppm for i in range(8))

    payload, media_id = (
        load_media_ppm(spark)
        .select("payload", "media_id")
        .orderBy("media_id")
        .first()
    )
    want = _decode_ppm(bytes(payload), "image/x-ppm")
    got = [r for r in ppm if r["media_id"] == media_id][0]
    assert [got[f"f{i}"] for i in range(8)] == want


def _make_ppm(w, h, pixel_rows, header=None):
    """Minimal binary P6; pixel_rows[r][x] = (r, g, b), TOP-DOWN."""
    hdr = header if header is not None else f"P6\n{w} {h}\n255\n"
    img = b"".join(bytes(v for px in row for v in px) for row in pixel_rows)
    return hdr.encode() + img


def test_decode_ppm_known_pixels_and_bmp_equivalence():
    """8x2 image, one strip per pixel column: exact integer expectation,
    and the SAME image encoded as BMP (bottom-up, so rows reversed)
    must produce bit-identical features — the two real decoders honor
    one feature contract."""
    from micmac_li3ds_spark.operators.multimodal import (
        _decode_bmp,
        _decode_ppm,
    )

    top = [(10 * x, 0, 5) for x in range(8)]
    bottom = [(3 * x, 3 * x + 1, 3 * x + 2) for x in range(8)]
    feats = _decode_ppm(_make_ppm(8, 2, [top, bottom]), "image/x-ppm")
    for x in range(8):
        expect = (10 * x + 5 + 9 * x + 3) / (768.0 * 2)
        assert feats[x] == expect
    # BMP stores (b, g, r) bottom-up; same pixels, same features
    as_bmp = _make_bmp(
        8, 2, [[(b, g, r) for r, g, b in row] for row in (bottom, top)]
    )
    assert _decode_bmp(as_bmp, "image/bmp") == feats


def test_decode_ppm_header_comments_and_whitespace():
    """Header tokenizing must survive # comment lines and arbitrary
    whitespace runs BETWEEN tokens, while consuming exactly ONE byte
    after maxval — a first pixel byte of 0x0A (newline) must be pixel
    data, not eaten as whitespace."""
    from micmac_li3ds_spark.operators.multimodal import _decode_ppm

    rows = [[(0x0A, 2 * x, 20) for x in range(11)] for _ in range(3)]
    plain = _decode_ppm(_make_ppm(11, 3, rows), "image/x-ppm")
    commented = _decode_ppm(
        _make_ppm(11, 3, rows, header="P6\n# made by hand\n  11\t3\n# x\n255\n"),
        "image/x-ppm",
    )
    assert plain == commented
    assert plain[0] > 0  # the 0x0A red bytes counted as pixel data


def test_decode_ppm_rejects_unsupported():
    from micmac_li3ds_spark.operators.multimodal import _decode_ppm

    with pytest.raises(ValueError, match="not a P6"):
        _decode_ppm(b"P3\n2 2\n255\n...", "image/x-ppm")  # ASCII variant
    with pytest.raises(ValueError, match="maxval"):
        _decode_ppm(_make_ppm(8, 1, [[(0, 0, 0)] * 8], header="P6\n8 1\n65535\n"), "x")
    with pytest.raises(ValueError, match="truncated PPM pixel"):
        _decode_ppm(b"P6\n8 2\n255\n" + b"\x00" * 10, "x")


def test_feature_extract_runs_ppm_decoder_distributed(spark):
    """The P6 decoder rides the identical mapInPandas plumbing as the
    registered BMP branch: distributed features equal a driver-side
    re-decode of the same payloads, bit for bit."""
    from micmac_li3ds_spark.operators.multimodal import (
        _FEAT_DIM,
        _decode_ppm,
        feature_extract,
    )

    payloads = [
        (1, _make_ppm(9, 2, [[(x, x, x) for x in range(9)]] * 2)),
        (2, _make_ppm(16, 1, [[(255 - i, i, 7) for i in range(16)]])),
    ]
    media = spark.createDataFrame(
        [(mid, "image/x-ppm", p) for mid, p in payloads],
        "media_id long, mime string, payload binary",
    )
    got = {
        r["media_id"]: [r[f"f{i}"] for i in range(_FEAT_DIM)]
        for r in feature_extract(
            media, decode=_decode_ppm, decoder_name="ppm6-strips-v1"
        ).collect()
    }
    for mid, p in payloads:
        assert got[mid] == _decode_ppm(p, "image/x-ppm")
