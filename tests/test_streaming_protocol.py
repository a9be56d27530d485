"""The by-batch state protocol shared by the foreachBatch jobs
(streaming/compaction.py: write_batch, read_floor, check_cadence,
auto_compact; streaming/jobs.py: the job builder).

* Cadence arguments below 1 are refused by the ``run_streaming_*`` call
  itself, before the stream starts and before any state is written.
* Every batch and every fold goes through the ``run_foreach_batch`` and
  ``auto_compact`` names of the ``jobs`` module, looked up at call time:
  the traced benchmark rebinds exactly those names to time
  ``stream.batch_s`` and ``compaction.fold_s``.
"""

import os

import pytest

from micmac_li3ds_spark.streaming import compaction as C
from micmac_li3ds_spark.streaming import jobs

DOCS_DDL = "doc_id long, text string"


def test_cadence_below_one_refused_before_stream_starts(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    seen, dups = str(tmp_path / "seen"), str(tmp_path / "dups")
    for kw in ({"horizon_batches": 0}, {"compact_every": 0}):
        with pytest.raises(ValueError, match="must be >= 1"):
            jobs.run_streaming_exact_dedup(
                spark.readStream.schema(DOCS_DDL).parquet(str(feed)),
                seen,
                dups,
                checkpoint=str(tmp_path / "ckpt"),
                **kw,
            )
        assert not os.path.exists(seen) and not os.path.exists(dups)
    # the fold keeps the same check: 0 is never a silent "off"
    with pytest.raises(ValueError, match="compact_every must be >= 1"):
        C.auto_compact(spark, [], batch_id=0, every=0)


def test_batches_and_folds_route_through_jobs_module_names(
    spark, tmp_path, monkeypatch
):
    started, folds = [], []

    def run_foreach_batch(stream_df, batch_fn, checkpoint):
        started.append((batch_fn, checkpoint))
        return "query"

    def auto_compact(spark, specs, batch_id, every, *a, **kw):
        folds.append((batch_id, every, kw))
        return []

    monkeypatch.setattr(jobs, "run_foreach_batch", run_foreach_batch)
    monkeypatch.setattr(jobs, "auto_compact", auto_compact)
    seen, dups = str(tmp_path / "seen"), str(tmp_path / "dups")
    ckpt = str(tmp_path / "ckpt")
    q = jobs.run_streaming_exact_dedup(
        spark.createDataFrame([], DOCS_DDL), seen, dups, ckpt,
        compact_every=1,
    )
    assert q == "query" and [c for _, c in started] == [ckpt]

    batch = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], DOCS_DDL
    )
    started[0][0](batch, 0)
    assert [(b, e, kw["owner"]) for b, e, kw in folds] == [(0, 1, ckpt)]
    # the body ran before the fold: one keeper per fingerprint, one dup
    report = {
        (r["kept_doc_id"], r["n_copies"])
        for r in jobs.read_exact_dedup(spark, seen, dups).collect()
    }
    assert report == {(1, 2), (3, 1)}
