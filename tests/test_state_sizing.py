"""Streaming-state generations sized from their bytes
(streaming/compaction.py: ``sized_buckets``).

* At the default ``spark.sql.files.maxPartitionBytes`` the in-stream
  fold of small matching state writes ONE plain generation file, and a
  batch after the fold launches no more Spark jobs than a batch before
  it (a bucketed generation adds a bucket-id collect job and a
  bucket-directory listing job to every later read).
* Lowering the split size makes the same tiny state size to n > 1
  buckets: the bucketed in-stream path (``_GEN_META``, pruned reads)
  stays covered and its results still equal the batch twins.
* The maintenance CLI sizes ``--bucket-by`` without ``--n-buckets`` by
  the same rule.
"""

import json
import math
import os
import re
import sys

from pyspark.sql import functions as F

from micmac_li3ds_spark.streaming import compaction as C
from micmac_li3ds_spark.streaming import jobs
from tests.test_round16_compaction import _doc_stream, _flat_feed

SPLIT_CONF = "spark.sql.files.maxPartitionBytes"


def _data_bytes_on_disk(path, up_to):
    """Bytes a fold with boundary ``up_to`` reads, measured with the
    os module: every committed-or-not generation dir (a clean run
    leaves one) plus the batch dirs below ``up_to``; ``_``/``.`` names
    (``_SUCCESS``, checksums) skipped."""
    total = 0
    for name in os.listdir(path):
        m = re.match(r"^batch=(\d+)$", name)
        if not (name.startswith("gen=") or (m and int(m.group(1)) < up_to)):
            continue
        for root, _dirs, files in os.walk(os.path.join(path, name)):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if not f.startswith(("_", "."))
            )
    return total


def _double_import_feed(spark, tmp_path, sf_dir, halves=2):
    """``documents`` split into ``halves`` doc_id ranges, fed twice:
    2 × halves micro-batches, doc_id-ascending per fingerprint (the
    stream's first-seen keepers equal the batch min-doc_id rule)."""
    from micmac_li3ds_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    ids = sorted(r[0] for r in docs.select("doc_id").collect())
    bounds = [ids[len(ids) * i // halves] for i in range(halves)] + [ids[-1] + 1]
    base = tmp_path / "double_import"
    feed = base / "feed"
    feed.mkdir(parents=True)
    for h in range(halves):
        sub = base / f"half{h}"
        docs.filter(
            (F.col("doc_id") >= bounds[h]) & (F.col("doc_id") < bounds[h + 1])
        ).coalesce(1).write.parquet(str(sub))
        (src,) = [f for f in os.listdir(sub) if f.endswith(".parquet")]
        for rep in range(2):
            os.link(sub / src, feed / f"{rep}{h}.parquet")
    return feed


def _exact_dedup_twin(spark, sf_dir):
    from micmac_li3ds_spark.operators.llm_text import q_llm_exact_dedup

    return sorted(
        (r["fp"], r["kept_doc_id"], r["n_copies"])
        for r in q_llm_exact_dedup(spark, sf_dir).collect()
    )


def _exact_dedup_report(spark, seen_dir, dups_dir):
    return sorted(
        (r["fp"], r["kept_doc_id"], r["n_copies"])
        for r in jobs.read_exact_dedup(spark, seen_dir, dups_dir).collect()
    )


def test_small_state_folds_to_one_plain_file_and_adds_no_jobs(
    spark, tmp_path, sf_dir, monkeypatch
):
    feed = _double_import_feed(spark, tmp_path, sf_dir)
    seen_dir, dups_dir = str(tmp_path / "seen"), str(tmp_path / "dups")

    # one job group per micro-batch, set on the stream thread that runs
    # the batch, counted through statusTracker as the batch ends
    n_jobs = {}
    orig_foreach = jobs.run_foreach_batch

    def run_foreach_batch(stream_df, batch_fn, checkpoint):
        def counted(batch_df, batch_id):
            sc = batch_df.sparkSession.sparkContext
            group = f"sizing-batch-{batch_id}"
            sc.setJobGroup(group, group)
            try:
                batch_fn(batch_df, batch_id)
            finally:
                n_jobs[batch_id] = len(
                    sc.statusTracker().getJobIdsForGroup(group)
                )
                sc.setLocalProperty("spark.jobGroup.id", None)

        return orig_foreach(stream_df, counted, checkpoint)

    monkeypatch.setattr(jobs, "run_foreach_batch", run_foreach_batch)
    q = jobs.run_streaming_exact_dedup(
        _doc_stream(spark, feed),
        seen_dir,
        dups_dir,
        checkpoint=str(tmp_path / "ckpt"),
        compact_every=2,
    )
    q.awaitTermination(300)
    assert sorted(n_jobs) == [0, 1, 2, 3]

    # folds after batches 1 and 3: one plain generation, one data file
    for d in (seen_dir, dups_dir):
        names = set(os.listdir(d))
        assert "gen=1" in names and "_GEN_COMMIT_1_4" in names, names
        assert not [n for n in names if n.startswith(("_GEN_META", "batch="))]
        assert not [n for n in os.listdir(f"{d}/gen=1") if n.startswith("pb=")]
        assert C.state_file_count(spark, d) == 1

    # batch 2 reads the generation batch 1 folded; batch 0 folds nothing
    assert n_jobs[2] <= n_jobs[0], n_jobs

    want = _exact_dedup_twin(spark, sf_dir)
    assert _exact_dedup_report(spark, seen_dir, dups_dir) == want
    assert len(want) > 0 and all(n == 2 for _fp, _k, n in want)


def _record_folds(monkeypatch):
    """Wrap ``jobs.auto_compact``: for every fold, the bytes each keyed
    state dir holds on disk before it (measured independently of the
    engine) and the fold summary the engine returns."""
    folds = []
    orig = jobs.auto_compact

    def auto_compact(spark, specs, batch_id, every, *a, **kw):
        before = {
            path: _data_bytes_on_disk(path, batch_id + 1)
            for path, _ddl, *key in specs
            if key and os.path.isdir(path)
        }
        out = orig(spark, specs, batch_id, every, *a, **kw)
        folds.extend((res, before.get(res["path"])) for res in out)
        return out

    monkeypatch.setattr(jobs, "auto_compact", auto_compact)
    return folds


def _newest_meta(path):
    names = os.listdir(path)
    (g,) = [int(n.split("_")[-1]) for n in names if n.startswith("_GEN_META_")]
    with open(os.path.join(path, f"_GEN_META_{g}")) as fh:
        return json.load(fh)


def test_lowered_split_buckets_tiny_state_and_keeps_batch_parity(
    spark, tmp_path, sf_dir, monkeypatch
):
    from micmac_li3ds_spark.operators.llm_text import q_llm_near_dedup
    from micmac_li3ds_spark.tables import load

    split = 2048
    exact_want = _exact_dedup_twin(spark, sf_dir)
    near_want = {
        (r["doc_a"], r["doc_b"], r["jac"])
        for r in q_llm_near_dedup(spark, sf_dir).collect()
    }
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    near_feed = _flat_feed(tmp_path, docs, 3)
    exact_feed = _double_import_feed(spark, tmp_path, sf_dir)
    near_dirs = {
        "shingle_dir": str(tmp_path / "shingles"),
        "bands_dir": str(tmp_path / "bands"),
        "pairs_dir": str(tmp_path / "pairs"),
    }
    seen_dir, dups_dir = str(tmp_path / "seen"), str(tmp_path / "dups")
    folds = _record_folds(monkeypatch)

    old = spark.conf.get(SPLIT_CONF)
    spark.conf.set(SPLIT_CONF, str(split))
    try:
        jobs.run_streaming_near_dedup(
            _doc_stream(spark, near_feed),
            checkpoint=str(tmp_path / "ckpt_near"),
            compact_every=2,
            **near_dirs,
        ).awaitTermination(300)
        jobs.run_streaming_exact_dedup(
            _doc_stream(spark, exact_feed),
            seen_dir,
            dups_dir,
            checkpoint=str(tmp_path / "ckpt_exact"),
            compact_every=2,
        ).awaitTermination(300)

        # every keyed fold bucketed by ⌈bytes / split⌉ > 1; the output
        # logs (pairs, dups) stay plain
        keyed = [(res, b) for res, b in folds if b is not None]
        assert {res["path"] for res, _b in keyed} == {
            near_dirs["shingle_dir"], near_dirs["bands_dir"], seen_dir,
        }
        assert len(keyed) == 4  # near: one fold x 2 dirs; exact: two folds
        for res, on_disk in keyed:
            assert res["input_bytes"] == on_disk, res
            assert res["n_buckets"] == math.ceil(on_disk / split) > 1, res
        for res, b in folds:
            if b is None:
                assert "bucket_by" not in res, res

        # the newest generation's _GEN_META records the sized count
        last = {res["path"]: res for res, _b in keyed}
        for path, key in (
            (near_dirs["shingle_dir"], "doc_id"),
            (near_dirs["bands_dir"], "band_key"),
            (seen_dir, "fp"),
        ):
            assert _newest_meta(path) == {
                "bucket_by": key,
                "n_buckets": last[path]["n_buckets"],
            }

        # a keyed read prunes the generation scan to the keys' buckets
        n = last[seen_dir]["n_buckets"]
        keys = spark.createDataFrame([(exact_want[0][0],)], "fp string")
        pruned = C.resolve_state(
            spark, seen_dir, jobs._EXACT_SEEN_DDL, prune_keys=keys
        )
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        # one bucket prints as `pb = b`, several as `pb IN (...)`
        m = re.search(
            r"PartitionFilters: \[[^\]]*pb#\d+ (?:IN \(([\d,]+)\)|= (\d+))",
            plan,
        )
        assert m, plan
        assert {int(x) for x in (m.group(1) or m.group(2)).split(",")} == {
            r[0] for r in keys.select(C.bucket_expr("fp", n)).collect()
        }
        got = pruned.collect()
        assert (exact_want[0][0], exact_want[0][1]) in {
            (r["fp"], r["kept_doc_id"]) for r in got
        }
        assert len(got) < len(exact_want)
    finally:
        spark.conf.set(SPLIT_CONF, old)

    near_got = {
        (r["doc_a"], r["doc_b"], r["jac"])
        for r in jobs.read_near_dedup_pairs(
            spark, near_dirs["pairs_dir"]
        ).collect()
    }
    assert near_got == near_want and len(near_want) > 0
    assert _exact_dedup_report(spark, seen_dir, dups_dir) == exact_want


def test_cli_bucket_by_without_count_uses_the_sizing_rule(
    spark, tmp_path, monkeypatch, capsys
):
    from micmac_li3ds_spark import session
    from tools import compact_state

    ddl = "k long, v string"
    path = str(tmp_path / "state")
    for b in range(3):
        spark.createDataFrame(
            [(b * 100 + i, f"v{i}") for i in range(100)], ddl
        ).coalesce(1).write.parquet(f"{path}/batch={b}")
    monkeypatch.setattr(session, "get_spark", lambda app: spark)

    def cli(*argv):
        monkeypatch.setattr(
            sys, "argv", ["compact_state.py", "--dir", path, "--ddl", ddl, *argv]
        )
        compact_state.main()
        return json.loads(capsys.readouterr().out)

    # default split: one small batch dir fits one split → plain
    r1 = cli("--bucket-by", "k", "--up-to", "1")
    assert r1["input_bytes"] > 0 and "bucket_by" not in r1
    assert not [n for n in os.listdir(path) if n.startswith("_GEN_META")]

    old = spark.conf.get(SPLIT_CONF)
    spark.conf.set(SPLIT_CONF, "512")
    try:
        want_bytes = _data_bytes_on_disk(path, 3)
        r2 = cli("--bucket-by", "k", "--up-to", "3")
        assert r2["input_bytes"] == want_bytes
        assert r2["bucket_by"] == "k"
        assert r2["n_buckets"] == math.ceil(want_bytes / 512) > 1
        assert _newest_meta(path) == {"bucket_by": "k", "n_buckets": r2["n_buckets"]}
    finally:
        spark.conf.set(SPLIT_CONF, old)

    # no --bucket-by: the previous _GEN_META is adopted, not re-sized
    spark.createDataFrame([(300, "v0")], ddl).write.parquet(f"{path}/batch=3")
    r3 = cli("--up-to", "4")
    assert (r3["bucket_by"], r3["n_buckets"]) == ("k", r2["n_buckets"])
    assert "input_bytes" not in r3
    assert C.resolve_state(spark, path, ddl).count() == 301
