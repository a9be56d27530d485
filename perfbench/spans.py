"""Spans and counts for the traced run.

A ``Tracer`` keeps every span in memory (name, start, end, parent, run
id) and writes them once, at the end of the run. A disabled tracer
records nothing, and ``install`` is only called for traced runs, so the
untraced run executes the engine's own functions with no wrappers.

``install`` rebinds a public function in *every* engine module that
holds it under the same name: the operator modules bind ``load`` with
``from micmac_li3ds_spark.tables import load``, ``streaming.jobs`` binds
``auto_compact`` and ``sources.sinks`` binds ``execute``, so patching
only the defining module would record nothing.
"""

from __future__ import annotations

import json
import sys
import time
from collections import Counter
from contextlib import contextmanager
from functools import wraps

ENGINE = "micmac_li3ds_spark"


class Tracer:
    """Nested spans of one run; counts ride on the spans as attributes.
    The spans form one stack: the engine calls micro-batches back on
    another thread only while the driver thread waits for the stream."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def check_nesting(self, slack: float = 1e-6) -> list[int]:
        """Ids of spans whose children sum past the parent's duration
        (a mis-parented or overlapping span); empty when the tree is sound."""
        child_sum: Counter = Counter()
        for s in self.spans:
            if s["parent"] is not None:
                child_sum[s["parent"]] += s["end"] - s["start"]
        return [
            s["id"]
            for s in self.spans
            if child_sum[s["id"]] > (s["end"] - s["start"]) + slack
        ]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, fh)


def _rebind(original, replacement) -> int:
    """Point every loaded engine module's reference to ``original`` at
    ``replacement``; returns how many bindings were changed."""
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(ENGINE):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                n += 1
    return n


def install(tracer: Tracer) -> dict[str, int]:
    """Wrap the layer entry points the benchmark does not call itself.

    Import the operator modules first (``registry.registry()``) so their
    by-name bindings exist to be rebound."""
    from micmac_li3ds_spark import tables
    from micmac_li3ds_spark.sources import jdbc, sinks
    from micmac_li3ds_spark.streaming import compaction, jobs

    orig_load = tables.load
    orig_execute = jdbc.execute
    orig_write_jdbc = sinks.write_jdbc
    orig_auto_compact = compaction.auto_compact
    orig_foreach = jobs.run_foreach_batch

    @wraps(orig_load)
    def load(spark, sf_dir, name):
        with tracer.span("tables.load", table=name):
            return orig_load(spark, sf_dir, name)

    @wraps(orig_execute)
    def execute(spark, cfg, *statements):
        is_merge = any(s.lstrip().upper().startswith("MERGE") for s in statements)
        with tracer.span("execute", merge=is_merge):
            return orig_execute(spark, cfg, *statements)

    @wraps(orig_write_jdbc)
    def write_jdbc(df, cfg, table, **kw):
        with tracer.span("write_jdbc", table=table):
            return orig_write_jdbc(df, cfg, table, **kw)

    @wraps(orig_auto_compact)
    def auto_compact(spark, specs, batch_id, every, *a, **kw):
        with tracer.span("auto_compact", batch=batch_id) as rec:
            out = orig_auto_compact(spark, specs, batch_id, every, *a, **kw)
            rec["folded"] = bool(out)
            return out

    @wraps(orig_foreach)
    def run_foreach_batch(stream_df, batch_fn, checkpoint):
        def traced_batch(batch_df, batch_id):
            with tracer.span("micro_batch", batch=batch_id):
                return batch_fn(batch_df, batch_id)

        return orig_foreach(stream_df, traced_batch, checkpoint)

    return {
        "load": _rebind(orig_load, load),
        "execute": _rebind(orig_execute, execute),
        "write_jdbc": _rebind(orig_write_jdbc, write_jdbc),
        "auto_compact": _rebind(orig_auto_compact, auto_compact),
        "run_foreach_batch": _rebind(orig_foreach, run_foreach_batch),
    }
