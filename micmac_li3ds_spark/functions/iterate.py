"""One driver for every iterative fixpoint: :func:`fixpoint`.

The graph and dedup operators (connected components, k-core peeling,
BFS, PageRank, the transfo closure) are driver-side loops over a small
per-round state frame. ``fixpoint`` owns everything a round needs
besides its own plan:

* **materialisation.** Each round is stored once. By default that is an
  eager ``localCheckpoint``: O(1) plan depth, blocks kept on executors,
  and NOT replayable. If an executor holding a round's blocks dies, the
  lineage that could recompute them is gone by design, so the job fails
  and the loop restarts from round 0. That is the right default: loops
  run O(log d) rounds and a local checkpoint costs no replication.
  Passing a :class:`DurableLoopState` stores each round as a committed
  parquet round instead, and a later call with the same state resumes
  from the highest committed round (SCALE.md §15).
* **the stop test.** The aggregates a loop stops on (a changed-label
  count, a row count, an L1 residual) are read with ``df.observe`` on
  the round's own materialising job, never by a second action. The
  ``CollectMetrics`` node lands in the result stage, above every
  exchange, and Spark applies a result task's accumulator updates once
  per partition even when the task is retried, so the read is exact.
  A separate ``count()`` cost 2 Spark jobs per round: cc_fixpoint on a
  256-node chain launches 56 jobs against 74 (9 rounds, 4-core local
  session, AQE on).
* **release.** A superseded round's checkpoint blocks are freed as soon
  as its successor is materialised, so executor storage holds O(1)
  rounds however long the loop runs.
* **the accumulate-frontier shape.** With ``accumulate=True`` each
  round produces only a new frontier and the result is the union of
  all frontiers. Every ``CONSOLIDATE_EVERY`` rounds the older frontiers
  are collapsed into one checkpoint, which caps the union's plan width.

Durable rounds: round k writes ``<dir>/round=k`` (parquet, executor-
parallel), then the driver creates the empty marker ``<dir>/_COMMIT_k``.
Resume reads the highest committed round. A crash between write and
commit leaves an uncommitted directory that a retry overwrites, so a
restarted driver never observes a half-written round. Every filesystem
operation goes through the Hadoop FileSystem of the state dir's own
scheme, so with an ``s3a://`` or ``hdfs://`` dir the markers land next
to the data and a driver restarted on another host sees the same
committed rounds. ``retain`` (default 2) keeps the newest committed
rounds and prunes older ones after each commit: 10⁹ nodes × 16 B is
about 16 GB of vertex state per round, so retention caps the footprint
at ``retain`` rounds while the dominant per-round cost (the edge join)
is unchanged.
"""

from __future__ import annotations

import re
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from micmac_li3ds_spark.functions.cache_scope import scoped_release

# union-width cap of the accumulate shape: consolidate every K rounds
CONSOLIDATE_EVERY = 64


def fixpoint(
    init: DataFrame,
    step: Callable[..., DataFrame],
    *,
    observe: dict[str, Column] | None = None,
    until: Callable[[dict | None, dict], bool] | None = None,
    rounds: int | None = None,
    state: DurableLoopState | None = None,
    fail_after: int | None = None,
    accumulate: bool = False,
) -> tuple[DataFrame, int]:
    """Iterate ``step`` from ``init``; return (final frame, rounds run
    by THIS call).

    ``init`` is stored as round 0 and each ``step(prev)`` output as the
    next round. ``observe`` names aggregates read on each round's
    materialising job; ``until(prev, cur)`` gets those dicts for the
    previous round (None right after a resume) and the new one, and
    ends the loop when true. ``init`` and every step output share one
    schema: columns whose names start with ``_`` exist only for
    ``observe`` and are dropped before the round is stored. ``rounds``
    caps the loop; with no ``until`` it runs exactly that many rounds.

    ``state`` stores rounds durably and resumes from its newest
    committed round. ``fail_after`` is the crash-simulation hook: it
    raises after that many committed rounds if the loop has not
    stopped.

    ``accumulate=True`` calls ``step(frontier, union)`` and returns the
    union of ``init`` and every non-empty frontier; the loop stops at
    the first empty frontier. The union is released when the next
    registered query starts (registered callers collect it first);
    direct library callers own it."""
    if accumulate:
        observe = {"n": F.count(F.lit(1))}
        until = lambda _prev, cur: cur["n"] == 0  # noqa: E731
    resumed = state.latest_round() if state is not None else None
    if resumed is None:
        start = 0
        cur, seen = _store(init, 0, state, observe)
    else:
        start, cur, seen = resumed, state.load(resumed), None
    acc = cur  # accumulate: the union of init and every frontier
    n = 0
    while rounds is None or n < rounds:
        n += 1
        nxt, now = _store(
            step(cur, acc) if accumulate else step(cur), start + n, state, observe
        )
        done = until is not None and until(seen, now)
        seen = now
        if accumulate:
            if done:
                unpersist_local_checkpoint(nxt)  # the empty last frontier
                break
            if n % CONSOLIDATE_EVERY == 0:
                # collapse the older frontiers into one checkpoint; the
                # new frontier stays its own leaf for the next step
                old, acc = acc, _store(acc, 0, None, None)[0]
                unpersist_local_checkpoint(old)
            acc = acc.unionByName(nxt)
        elif state is None:
            unpersist_local_checkpoint(cur)
        cur = nxt
        if fail_after is not None and n >= fail_after and not done:
            raise RuntimeError(
                f"simulated driver crash after {n} committed rounds"
                f" (fail_after={fail_after}: a simulated crash; resume"
                " from the state dir)"
            )
        if done:
            break
    if not accumulate:
        return cur, n
    scoped_release(lambda: unpersist_local_checkpoint(acc))
    return acc, n


def _store(
    df: DataFrame, k: int, state: DurableLoopState | None, observe
) -> tuple[DataFrame, dict | None]:
    """Materialise round ``k``; return it with its observed aggregates."""
    obs = Observation() if observe else None
    if obs is not None:
        df = df.observe(obs, *[c.alias(name) for name, c in observe.items()])
    df = df.drop(*[c for c in df.columns if c.startswith("_")])
    if state is not None:
        out = state.save(df, k)
    else:
        out = df.localCheckpoint(eager=True)
    return out, obs.get if obs is not None else None


def unpersist_local_checkpoint(df: DataFrame) -> None:
    """Free the executor blocks of a SUPERSEDED localCheckpoint'd frame.
    ``DataFrame.unpersist()`` is a no-op here: checkpoint blocks belong
    to the internal RDD Spark materialised, not to the plan cache, so
    without this every superseded round's blocks stay on executors until
    driver GC collects the py4j references. Walks the analyzed plan and
    unpersists EVERY ``LogicalRDD`` it reaches (non-blocking), so a
    projection or a union over checkpoints frees all of them.

    Only call this on frames whose checkpoints the caller exclusively
    owns and has REPLACED: a local checkpoint's lineage is truncated by
    design, so its blocks cannot be recomputed after unpersisting.

    Best-effort: if a Spark upgrade changes the plan shape the walk
    expects, the loop must still converge, with driver GC as the slower
    backstop."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.nodeName() == "LogicalRDD":
                node.rdd().unpersist(False)
            else:
                for i in range(node.children().size()):
                    stack.append(node.children().apply(i))
    except Exception:
        pass  # plan shape changed under us: fall back to driver GC


class DurableLoopState:
    """Parquet-backed per-iteration state with atomic round commit and
    bounded retention, on any Hadoop-visible filesystem."""

    def __init__(
        self, spark: SparkSession, state_dir: str, retain: int = 2
    ):
        if retain < 1:
            raise ValueError("retain must be >= 1 (the resume round)")
        self.spark = spark
        self.dir = state_dir
        self.retain = retain
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        # resolve the FileSystem from the state dir's own scheme
        # (s3a://, hdfs://, file://, a bare local path, ...) so marker
        # ops hit the SAME store as the parquet writes
        self._fs = self._Path(state_dir).getFileSystem(
            sc._jsc.hadoopConfiguration()
        )
        self._fs.mkdirs(self._Path(state_dir))

    def _round_path(self, k: int) -> str:
        return f"{self.dir.rstrip('/')}/round={k}"

    def _marker_path(self, k: int):
        return self._Path(f"{self.dir.rstrip('/')}/_COMMIT_{k}")

    def committed_rounds(self) -> list[int]:
        """All committed round numbers, ascending (via Hadoop listStatus
        on the state dir — works on object storage, unlike listdir)."""
        rounds = []
        for st in self._fs.listStatus(self._Path(self.dir)):
            m = re.fullmatch(r"_COMMIT_(\d+)", st.getPath().getName())
            if m:
                rounds.append(int(m.group(1)))
        return sorted(rounds)

    def latest_round(self) -> int | None:
        """Highest committed round number, or None if no round finished."""
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    def load(self, k: int) -> DataFrame:
        return self.spark.read.parquet(self._round_path(k))

    def save(self, df: DataFrame, k: int) -> DataFrame:
        """Persist round ``k``'s state and return the re-read DataFrame
        (lineage now roots at the parquet scan — O(1) plan depth, same
        effect as localCheckpoint but replayable from shared storage).
        Overwrite semantics make a retry of an uncommitted round safe.
        After the commit, rounds older than the ``retain`` newest are
        pruned."""
        path = self._round_path(k)
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        # commit AFTER the write completes: a crash before this line
        # leaves the round uncommitted and a restart redoes it
        self._fs.create(self._marker_path(k), True).close()
        self._prune()
        return out

    def _prune(self) -> None:
        """Drop all but the ``retain`` newest committed rounds. Marker
        is deleted BEFORE its data dir: a crash between the two deletes
        leaves orphan data (swept below), never a marker pointing at
        missing data."""
        committed = self.committed_rounds()
        for k in committed[: -self.retain]:
            self._fs.delete(self._marker_path(k), False)
            self._fs.delete(self._Path(self._round_path(k)), True)
        # orphan sweep: a crash BETWEEN the marker delete
        # and the data delete above leaves a markerless round=k dir
        # that committed_rounds() never lists, so the loop above never
        # revisits it — it would sit below the retention horizon
        # forever and the "retain × one round" footprint bound would
        # be false after such a crash on object storage. Sweep every
        # markerless round=k dir BELOW the oldest retained committed
        # round; dirs at or above that horizon are left alone (they
        # may be the current round's in-flight uncommitted write).
        keep = committed[-self.retain :]
        if keep:
            horizon = keep[0]
            for st in self._fs.listStatus(self._Path(self.dir)):
                m = re.fullmatch(r"round=(\d+)", st.getPath().getName())
                if (
                    m
                    and int(m.group(1)) < horizon
                    and not self._fs.exists(self._marker_path(int(m.group(1))))
                ):
                    self._fs.delete(st.getPath(), True)
