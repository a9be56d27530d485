"""Round-16 focused tests.

1. cc_fixpoint storage hygiene (r15 verdict item 1 / ADVICE r13 #3
   applied to the last remaining loop): in localCheckpoint mode the
   loop must leave exactly ONE persisted frame behind — the returned
   labels — never one per convergence round plus the symmetric edge
   list. All accounting uses the id-set snapshot-and-diff discipline
   from test_round14_ops (r15 verdict item 3: global counts are
   suite-order-dependent under a shared session).

2. Registration of q_mm_mkv_frame_sample_range: the key is visible to
   the driver with its DuckDB oracle and has a driver row.
"""

from pyspark.sql import functions as F  # noqa: F401

from tests.test_round14_ops import _persisted_rdd_ids


def _chain_edges(spark, n=9, extra=((0, 100), (100, 101))):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)] + list(extra), "u long, v long"
    )


def test_cc_fixpoint_loop_does_not_accumulate_checkpoint_blocks(spark):
    """After cc_fixpoint (localCheckpoint mode) the ONLY surviving
    persisted frame is the returned labels — sym and every superseded
    round are freed in-loop (r16: the fix deferred from r14 for
    attestation-window alignment). A 10-node chain forces multiple
    pointer-jumping rounds, so the pre-fix behavior would have left
    O(rounds) frames behind."""
    from micmac_li3ds_spark.functions.iterate import (
        unpersist_local_checkpoint,
    )
    from micmac_li3ds_spark.operators.analytics import cc_fixpoint

    edges = _chain_edges(spark)
    before = _persisted_rdd_ids(spark)
    lbl, rounds = cc_fixpoint(edges)
    rows = {(r.node, r.lbl) for r in lbl.collect()}
    assert rounds >= 2
    # one component: chain 0..9 plus the 0-100-101 spur → min label 0
    assert rows == {(n, 0) for n in list(range(10)) + [100, 101]}
    created = _persisted_rdd_ids(spark) - before
    assert len(created) == 1  # the returned labels, nothing else
    unpersist_local_checkpoint(lbl)
    assert not (_persisted_rdd_ids(spark) & created)


def test_cc_fixpoint_durable_mode_leaves_no_local_checkpoints(spark, tmp_path):
    """Durable mode carries rounds in parquet; the only localCheckpoint
    the loop makes is sym, and the loop must free it on exit — the
    returned frame roots at a parquet scan, so NO persisted frames may
    survive the call."""
    from micmac_li3ds_spark.functions.iterate import DurableLoopState
    from micmac_li3ds_spark.operators.analytics import cc_fixpoint

    edges = _chain_edges(spark, n=5, extra=())
    state = DurableLoopState(spark, str(tmp_path / "cc_state"))
    before = _persisted_rdd_ids(spark)
    lbl, rounds = cc_fixpoint(edges, state=state)
    assert rounds >= 1
    assert lbl.count() == 6
    assert not (_persisted_rdd_ids(spark) - before)


def test_cc_fixpoint_consumers_unchanged_by_hygiene_fix(spark, sf_dir):
    """The unpersist fix must be result-invariant: q_graph_cc's
    component summary at sf0.001 equals a driver-side union-find over
    the same edge list (independent reimplementation, not a Spark
    plan)."""
    from micmac_li3ds_spark.operators.analytics import (
        copurchase_edges,
        q_graph_cc,
    )

    got = {
        (r.component_size, r.n_components)
        for r in q_graph_cc(spark, sf_dir).collect()
    }

    edges = [(r.u, r.v) for r in copurchase_edges(spark, sf_dir).collect()]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comps = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    hist = {}
    for members in comps.values():
        hist[len(members)] = hist.get(len(members), 0) + 1
    assert got == set(hist.items())


def test_pagerank_loops_do_not_accumulate_checkpoint_blocks(spark, sf_dir):
    """Both PageRank driver loops must leave exactly ONE persisted
    frame behind — the final rank table — never one per superstep
    (r16: the cc_fixpoint hygiene extended to the last two loops that
    still leaked; pagerank_converged runs to convergence, so before
    the fix it pinned O(iterations) dead rank tables)."""
    from micmac_li3ds_spark.operators.analytics import (
        pagerank_converged,
        pagerank_fixpoint,
    )

    before = _persisted_rdd_ids(spark)
    ranks, iters = pagerank_converged(spark, sf_dir)
    n = ranks.count()
    assert iters >= 2 and n > 0
    created = _persisted_rdd_ids(spark) - before
    # the final rank table only (the returned frame projects over it,
    # so it stays persisted until driver GC — a fixed O(1) budget,
    # unlike the per-superstep leak before the fix)
    assert len(created) == 1

    before_f = _persisted_rdd_ids(spark)
    fixed = pagerank_fixpoint(spark, sf_dir, 4, checkpoint=True)
    assert fixed.count() == n
    created_f = _persisted_rdd_ids(spark) - before_f
    assert len(created_f) == 1


def test_mkv_key_registered_with_oracle_and_attested():
    from micmac_li3ds_spark import registry as R
    from micmac_li3ds_spark.operators.multimodal import (
        MKV_FRAME_RANGE_ORACLE,
    )

    reg = R.registry()
    assert "q_mm_mkv_frame_sample_range" in reg
    assert reg["q_mm_mkv_frame_sample_range"].oracle == MKV_FRAME_RANGE_ORACLE
    latest, _ = R.green_rounds()
    assert "q_mm_mkv_frame_sample_range" in latest
