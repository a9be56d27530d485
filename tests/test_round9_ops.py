"""Round-9 operator tests.

Charter (VERDICT r8 item 1): the co-purchase edge builder shared by
q_graph_triangles / q_graph_cc / q_graph_sssp must bound its per-group
pair expansion — a planted hot (part, month) clique above ``group_cap``
must NOT blow up into d²/2 pairs, and the drop must be observable.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from micmac_li3ds_spark.operators.analytics import (
    copurchase_dropped_groups,
    copurchase_edges,
    copurchase_pairs_from_groups,
)
from tests.conftest import SF_DIR


def _synthetic_groups(spark, rows):
    return spark.createDataFrame(rows, "p bigint, m bigint, c bigint")


def test_hot_clique_is_capped(spark):
    """A planted (p, m) group with d > group_cap members contributes ZERO
    pairs (dropped, LSH bucket_cap discipline); normal groups around it
    expand to exactly C(g, 2). Total output is bounded by
    n_groups · C(cap, 2), never d²."""
    cap = 16
    # customer-id ranges are DISJOINT per group so the final cross-group
    # pair dedup doesn't collapse one group's pairs into another's
    hot = [(1, 1, c) for c in range(cap + 5)]           # d = 21 > cap
    ok = [(2, 1, 100 + c) for c in range(4)]            # C(4,2) = 6 pairs
    boundary = [(3, 1, 200 + c) for c in range(cap)]    # exactly cap → kept
    grp = _synthetic_groups(spark, hot + ok + boundary)
    pairs = copurchase_pairs_from_groups(grp, group_cap=cap).collect()
    assert len(pairs) == 6 + cap * (cap - 1) // 2
    # every surviving pair is ordered and none comes from the hot group
    # (its customers are the ids < 100)
    assert all(r.u < r.v for r in pairs)
    assert all(r.u >= 100 for r in pairs)


def test_hot_clique_duplicate_rows_still_capped(spark):
    """collect_set dedups inside the shuffle: replaying each (p, m, c)
    row 3× (multi-lineitem orders) changes nothing — the old build
    needed a separate .distinct() shuffle for this."""
    cap = 8
    rows = [(1, 1, c) for c in range(5)] * 3
    grp = _synthetic_groups(spark, rows)
    pairs = copurchase_pairs_from_groups(grp, group_cap=cap).collect()
    assert len(pairs) == 10  # C(5,2)


def test_cross_group_pair_dedup(spark):
    """A pair co-purchasing in TWO part-months is one edge, not two."""
    rows = [(1, 1, 10), (1, 1, 20), (2, 1, 10), (2, 1, 20), (2, 1, 30)]
    grp = _synthetic_groups(spark, rows)
    pairs = {
        (r.u, r.v)
        for r in copurchase_pairs_from_groups(grp, group_cap=64).collect()
    }
    assert pairs == {(10, 20), (10, 30), (20, 30)}


def test_corpus_groups_far_below_cap(spark):
    """Oracle-parity guard: no (p, m) group in the driver corpus comes
    near the 4096 default cap, so the capped build and the oracle's
    uncapped build agree exactly (the q_graph_* green rows depend on
    this — same guard shape as test_corpus_band_buckets_far_below_cap
    for LSH)."""
    dropped = copurchase_dropped_groups(spark, SF_DIR, group_cap=4096)
    assert dropped.count() == 0
    # and the actual max group size is tiny relative to the cap
    from micmac_li3ds_spark.tables import load

    mx = (
        load(spark, SF_DIR, "lineitem")
        .join(
            load(spark, SF_DIR, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            "l_partkey", F.date_trunc("month", "o_orderdate")
        )
        .agg(F.count_distinct("o_custkey").alias("d"))
        .agg(F.max("d"))
        .first()[0]
    )
    assert mx < 4096 // 8


def test_dropped_groups_report(spark):
    """copurchase_dropped_groups names exactly the over-cap groups —
    the no-silent-caps observability half of the skew guard."""
    cap = 4
    rows = [(1, 1, c) for c in range(cap + 3)] + [(2, 1, c) for c in range(3)]
    grp = _synthetic_groups(spark, rows)
    over = (
        grp.groupBy("p", "m")
        .agg(F.count_distinct("c").alias("n_buyers"))
        .filter(F.col("n_buyers") > cap)
        .collect()
    )
    assert [(r.p, r.m, r.n_buyers) for r in over] == [(1, 1, cap + 3)]


def test_copurchase_edges_matches_naive_join_on_corpus(spark):
    """The single-shuffle in-array expansion produces bit-identical
    edges to the old grp ⋈ grp self-join on the real corpus (the three
    graph queries' green hashes rest on this equivalence)."""
    from micmac_li3ds_spark.tables import load

    e_new = copurchase_edges(spark, SF_DIR)
    grp = (
        load(spark, SF_DIR, "lineitem")
        .join(
            load(spark, SF_DIR, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("l_partkey").alias("p"),
            F.date_trunc("month", F.col("o_orderdate")).alias("m"),
            F.col("o_custkey").alias("c"),
        )
        .distinct()
    )
    e_old = (
        grp.select("p", "m", F.col("c").alias("u"))
        .join(grp.select("p", "m", F.col("c").alias("v")), ["p", "m"])
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    assert e_new.exceptAll(e_old).count() == 0
    assert e_old.exceptAll(e_new).count() == 0


# ---------------------------------------------------------------------------
# DurableLoopState retention + Hadoop-FS marker routing (VERDICT r8 item 7,
# ADVICE r8 medium)


def _state_df(spark, tag):
    return spark.range(4).select(
        F.col("id").alias("node"), (F.col("id") + tag).alias("lbl")
    )


def test_durable_state_retention_prunes_old_rounds(spark, tmp_path):
    """retain=2 keeps exactly the two newest committed rounds: older
    round dirs AND their markers are gone, bounding state-dir size at
    retain x one round on a long loop."""
    import os

    from micmac_li3ds_spark.functions.iterate import DurableLoopState

    d = str(tmp_path / "st")
    st = DurableLoopState(spark, d, retain=2)
    for k in range(5):
        st.save(_state_df(spark, k), k)
    assert st.committed_rounds() == [3, 4]
    names = set(os.listdir(d))
    assert "_COMMIT_4" in names and "_COMMIT_3" in names
    assert not any(n.startswith("_COMMIT_") and n not in
                   {"_COMMIT_3", "_COMMIT_4"} for n in names)
    assert "round=4" in names and "round=3" in names
    assert "round=0" not in names and "round=2" not in names


def test_durable_state_resume_after_pruning(spark, tmp_path):
    """A 'new driver' opening a pruned state dir resumes from the
    newest committed round and reads back exactly the data that round
    wrote — retention never touches the resume round."""
    from micmac_li3ds_spark.functions.iterate import DurableLoopState

    d = str(tmp_path / "st")
    st = DurableLoopState(spark, d, retain=1)
    for k in range(4):
        st.save(_state_df(spark, k), k)
    st2 = DurableLoopState(spark, d, retain=1)
    latest = st2.latest_round()
    assert latest == 3
    rows = sorted(map(tuple, st2.load(latest).collect()))
    assert rows == [(i, i + 3) for i in range(4)]


def test_durable_state_markers_via_hadoop_fs(spark, tmp_path):
    """The commit markers are created through the Hadoop FileSystem
    resolved from the state dir's scheme (here an explicit file:// URI,
    the non-POSIX-path spelling): a driver-local open() would reject
    the URI outright, so this passing proves the FS-API routing."""
    from micmac_li3ds_spark.functions.iterate import DurableLoopState

    d = "file://" + str(tmp_path / "uri_state")
    st = DurableLoopState(spark, d, retain=2)
    st.save(_state_df(spark, 0), 0)
    assert st.latest_round() == 0
    assert st.load(0).count() == 4


def test_durable_state_retain_validation(spark, tmp_path):
    import pytest as _pytest

    from micmac_li3ds_spark.functions.iterate import DurableLoopState

    with _pytest.raises(ValueError):
        DurableLoopState(spark, str(tmp_path / "x"), retain=0)


# ---------------------------------------------------------------------------
# q_agg_heavy_hitters: MG candidate superset property


def test_mg_never_loses_heavy_hitter(spark):
    """Plant a token at exactly the threshold frequency in a sea of
    distinct-tail tokens, squeeze the MG capacity far below the tail
    cardinality, and assert the exact two-phase output still reports
    the planted hitter with its exact count — the candidate union is a
    superset of the true heavy hitters regardless of capacity pressure
    (the verify phase removes false candidates, never true ones)."""
    import micmac_li3ds_spark.operators.aggregates as agg_mod
    from micmac_li3ds_spark.operators.aggregates import q_agg_heavy_hitters

    # synthetic corpus routed through the documents-table code path by
    # monkeypatch-free means: call the internals directly on a DF via
    # the same mapInPandas closure shape — simplest honest route is a
    # temp parquet dir shaped like the corpus
    import os
    import tempfile

    tmp = tempfile.mkdtemp(prefix="hh_")
    n_tail = 500
    rows = [("hot " * 60).strip()] + [
        " ".join(f"tail{i}_{j}" for j in range(20)) for i in range(n_tail)
    ]
    spark.createDataFrame(
        [(i, t, "en", len(t), "synthetic") for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, n_chars long, source string",
    ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))

    out = {
        r.tok: r.cnt
        for r in q_agg_heavy_hitters(
            spark, tmp, phi_inv=200, mg_capacity=256
        ).collect()
    }
    # 60 'hot' among 60 + 500*20 = 10060 tokens -> 60*200 >= 10060 holds
    assert out == {"hot": 60}


# ---------------------------------------------------------------------------
# q_graph_kcore: the fixed unroll must land ON the fixpoint


def test_kcore_fixed_peels_reach_fixpoint(spark):
    """A 5th peel applied to the registered 4-peel core removes nothing
    — the fixed unroll both engines share is a true k-core, not a
    truncated peeling."""
    from micmac_li3ds_spark.operators.analytics import (
        _KCORE_K,
        q_graph_kcore,
    )

    core = q_graph_kcore(spark, SF_DIR)
    again = core.filter(F.col("core_deg") >= _KCORE_K)
    assert core.count() == again.count()
    # and the core is non-trivial on the corpus (the peel removed
    # something AND kept something)
    from micmac_li3ds_spark.operators.analytics import copurchase_edges

    e = copurchase_edges(spark, SF_DIR)
    n_nodes = (
        e.select(F.col("u").alias("n"))
        .unionByName(e.select(F.col("v").alias("n")))
        .distinct()
        .count()
    )
    n_core = core.count()
    assert 0 < n_core < n_nodes


# ---------------------------------------------------------------------------
# timing_audit self-overwrite baseline: HEAD's committed copy from git


def _git(repo, *args):
    import subprocess

    return subprocess.run(
        ["git", "-C", str(repo), *args], capture_output=True, check=True
    ).stdout


def test_timing_audit_self_overwrite_falls_back_to_git_copy(tmp_path):
    """When --json rewrites the newest committed artifact, the baseline
    must still be HEAD's copy of that file — never the rewritten one and
    never None (which silently disabled the regression gate). Rounds
    compare numerically (r10 after r9); an untracked newer artifact
    never becomes the baseline."""
    import json
    import re

    from tools.timing_audit import _REPO, committed_baseline

    tracked = [
        f
        for f in _git(_REPO, "ls-tree", "--name-only", "HEAD").decode().split()
        if re.fullmatch(r"TIMING_r\d+\.json", f)
    ]
    assert tracked, "no committed TIMING artifact to test against"
    newest = max(tracked, key=lambda f: int(re.search(r"\d+", f).group()))
    name, artifact = committed_baseline()
    assert name == newest
    assert artifact == json.loads(_git(_REPO, "show", f"HEAD:{newest}"))
    assert artifact["queries"], "HEAD baseline has no queries map"

    repo = tmp_path / "repo"
    repo.mkdir()
    _git(repo, "init", "-q")
    for rnd in (9, 10):
        (repo / f"TIMING_r{rnd}.json").write_text(
            json.dumps({"queries": {"q": float(rnd)}})
        )
    _git(repo, "add", ".")
    _git(repo, "-c", "user.name=t", "-c", "user.email=t@t", "commit", "-qm", "x")
    (repo / "TIMING_r10.json").write_text(json.dumps({"queries": {"q": 99.0}}))
    (repo / "TIMING_r11.json").write_text(json.dumps({"queries": {"q": 11.0}}))
    assert committed_baseline(str(repo)) == (
        "TIMING_r10.json",
        {"queries": {"q": 10.0}},
    )
