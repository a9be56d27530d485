"""The one fixpoint driver (functions/iterate.py) and the loops on it.

1. The stop test is read with ``df.observe`` on the round's own
   materialising job. That read is exact only if ``CollectMetrics`` runs
   in the result stage, where Spark applies each task's accumulator
   updates once per partition even under retry; the plan test pins it.
2. Reading it there removes the separate convergence action: the job
   count of ``cc_fixpoint`` on a long chain is pinned below the
   checkpoint-then-count shape.
3. The transfo closure runs until its frontier is empty, however deep
   the graph, and refuses a cyclic graph instead of looping.
4. A stored round carries no compounding size estimate.
"""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

from tests.test_tables import _jobs_in


def _chain(spark, n):
    return spark.range(0, n - 1).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v")
    )


def _path_to(plan, name):
    """Node names from ``plan``'s root down to the first ``name`` node
    (adaptive plans and query stages are entered through the plan they
    wrap), or None."""
    stack = [(plan, ())]
    while stack:
        node, path = stack.pop()
        if node.nodeName() == name:
            return path
        if node.nodeName() == "AdaptiveSparkPlan":
            kids = [node.executedPlan()]
        elif "QueryStage" in node.nodeName():
            kids = [node.plan()]
        else:
            kids = [node.children().apply(i) for i in range(node.children().size())]
        stack.extend((k, path + (node.nodeName(),)) for k in kids)
    return None


def test_observed_stop_test_runs_in_the_result_stage(spark, monkeypatch):
    from micmac_li3ds_spark.operators.analytics import cc_fixpoint

    cls = type(spark.range(1))
    stored = []
    checkpoint = cls.localCheckpoint

    def record(self, *args, **kwargs):
        stored.append(self)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", record)
    _lbl, rounds = cc_fixpoint(_chain(spark, 32))
    monkeypatch.undo()

    plans = [df._jdf.queryExecution().executedPlan() for df in stored]
    observed = [p for p in plans if _path_to(p, "CollectMetrics") is not None]
    # the seed labels (round 0) and every round carry the observation
    assert len(observed) == rounds + 1
    for plan in observed:
        assert plan.nodeName() == "AdaptiveSparkPlan" and plan.isFinalPlan()
        above = _path_to(plan, "CollectMetrics")
        # AQE wraps the final stage in ResultQueryStage; no shuffle or
        # broadcast stage may sit between it and the metrics
        assert "ResultQueryStage" in above, above
        stages = [n for n in above if "Exchange" in n or "QueryStage" in n]
        assert stages == ["ResultQueryStage"], above


def test_cc_fixpoint_reads_convergence_from_the_round_job(spark):
    """cc_fixpoint on the 256-node chain of
    test_cc_pointer_jumping_logarithmic_on_chain. Checkpointing a round
    and then counting its changed labels took 74 jobs for the 9 rounds
    (4-core local session, AQE on); observing the count on the
    checkpoint job drops the per-round count job."""
    from micmac_li3ds_spark.operators.analytics import cc_fixpoint

    e = _chain(spark, 256)
    (lbl, rounds), jobs = _jobs_in(spark, "cc-chain-256", lambda: cc_fixpoint(e))
    assert rounds <= 12
    assert jobs < 74, jobs
    assert {r["lbl"] for r in lbl.collect()} == {0}


def test_stored_round_estimate_does_not_compound(spark, monkeypatch):
    """A checkpoint keeps the size estimate of the plan it came from and
    each round's join multiplies its children's estimates, so a stored
    estimate compounds round over round (its bit length doubles per
    round on this chain) and a late round's planning pays the BigInt
    arithmetic. Every stored round's estimate must stay below 2⁶⁴."""
    from micmac_li3ds_spark.functions import iterate
    from micmac_li3ds_spark.operators.analytics import cc_fixpoint

    store = iterate._store
    bits = []

    def record(*args):
        out = store(*args)
        stats = out[0]._jdf.queryExecution().optimizedPlan().stats()
        # py4j hands the BigInt over as decimal digits; a compounded
        # estimate has more digits than Python converts by default
        bits.append(stats.sizeInBytes().bit_length())
        return out

    monkeypatch.setattr(iterate, "_store", record)
    digits = sys.get_int_max_str_digits()
    sys.set_int_max_str_digits(0)
    try:
        _lbl, rounds = cc_fixpoint(_chain(spark, 256))
    finally:
        sys.set_int_max_str_digits(digits)
    assert len(bits) == rounds + 1
    assert max(bits) < 64, bits


def test_cc_fixpoint_stops_on_an_empty_edge_list(spark):
    """The streaming snapshot readers run cc_fixpoint on an empty pair
    log before the first batch commits; the observed changed count of
    an empty round is null, which must stop the loop."""
    from micmac_li3ds_spark.operators.analytics import cc_fixpoint

    lbl, rounds = cc_fixpoint(spark.createDataFrame([], "u long, v long"))
    assert rounds == 1 and lbl.count() == 0


def test_transfo_closure_runs_to_the_fixpoint(spark):
    from micmac_li3ds_spark.operators.etl import transfo_closure

    depth = 12
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(depth)], "source_ref long, target_ref long"
    )
    rows = transfo_closure(chain).collect()
    assert {r["depth"] for r in rows if r["source_ref"] == 0} == set(
        range(1, depth + 1)
    )
    assert len(rows) == depth * (depth + 1) // 2

    cycle = spark.createDataFrame([(1, 2), (2, 1)], "source_ref long, target_ref long")
    with pytest.raises(ValueError, match="cycle"):
        transfo_closure(cycle)
