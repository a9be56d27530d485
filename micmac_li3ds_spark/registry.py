"""Query registry: the single source of truth for the driver contract.

Each operator from SURVEY.md §2 registers itself here with a name, a
callable ``(spark, sf_dir) -> DataFrame``, and (when SQL-expressible) a
DuckDB oracle SQL string. ``__spark_entry__.py`` exposes the aggregate
dicts to the driver.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: Optional[str] = None  # DuckDB SQL; None → rows-only check
    tags: tuple = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, Query] = {}

# Operator modules that self-register on import. Order mirrors the build
# milestones of SURVEY.md §7.2.
_OPERATOR_MODULES = [
    "micmac_li3ds_spark.operators.relational",
    "micmac_li3ds_spark.operators.aggregates",
    "micmac_li3ds_spark.operators.joins",
    "micmac_li3ds_spark.operators.windows",
    "micmac_li3ds_spark.operators.scalar_functions",
    "micmac_li3ds_spark.operators.setops",
    "micmac_li3ds_spark.operators.llm_text",
    "micmac_li3ds_spark.operators.llm_vector",
    "micmac_li3ds_spark.operators.etl",
    "micmac_li3ds_spark.operators.streaming_batch",
    "micmac_li3ds_spark.operators.udfs",
    "micmac_li3ds_spark.operators.scans",
    "micmac_li3ds_spark.operators.multimodal",
    "micmac_li3ds_spark.operators.analytics",
    "micmac_li3ds_spark.operators.subqueries",
    "micmac_li3ds_spark.operators.sampling",
    "micmac_li3ds_spark.operators.reshape",
    "micmac_li3ds_spark.operators.mining",
    "micmac_li3ds_spark.operators.warc",
]

_loaded = False

DRIVER_WINDOW = 50
# A query whose newest green driver row is this many rounds behind the
# newest CORRECTNESS file is forced into the window, so no attestation is
# ever more than HARD_STALE + 1 rounds old.
HARD_STALE = 5

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Fingerprint of every attested query at its newest green row, written by
# tools/record_attestations.py.
ATTESTATIONS_FILE = os.path.join(_ROOT, "ATTESTATIONS.json")


def green_rounds() -> tuple[dict[str, int], int]:
    """Newest round with a green (hash-matching) driver row per query, and
    the newest committed CORRECTNESS round."""
    latest: dict[str, int] = {}
    max_round = 0
    for path in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        max_round = max(max_round, rnd)
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if row.get("hash_match") is True and rnd > latest.get(name, 0):
                latest[name] = rnd
    return latest, max_round


def order_window(
    names: list[str],
    latest: dict[str, int],
    max_round: int,
    recorded: dict[str, str],
    current: dict[str, str],
    size: int = DRIVER_WINDOW,
) -> list[str]:
    """The ``size`` names of ``names`` (registration order) the driver
    should check next; see ``derive_window`` for the rules."""
    pos = {n: i for i, n in enumerate(names)}

    def stalest_first(group):
        return sorted(group, key=lambda n: (latest[n], pos[n]))

    never = [n for n in names if n not in latest]
    hard = stalest_first(
        n for n in names if n in latest and latest[n] <= max_round - HARD_STALE
    )
    if len(never) + len(hard) > size:
        raise RuntimeError(
            f"{len(never)} never-attested and {len(hard)} hard-stale queries "
            f"do not fit the {size}-query driver window"
        )
    rest = [n for n in names if n in latest and latest[n] > max_round - HARD_STALE]
    touched = [n for n in rest if recorded.get(n) != current[n]]
    untouched = [n for n in rest if recorded.get(n) == current[n]]
    return (never + hard + stalest_first(touched) + stalest_first(untouched))[:size]


@functools.cache
def derive_window() -> tuple[str, ...]:
    """The oracle-backed queries that lead ``queries()``.

    The driver value-checks only the first ``DRIVER_WINDOW`` entries of
    ``queries()`` each round, so the head of the registry decides which
    queries get a fresh attestation. The window is derived from the
    committed ``CORRECTNESS_r*.json`` rows (green rows only) and
    ``ATTESTATIONS.json``, in four groups:

    1. never attested;
    2. hard-stale: newest green row ≤ newest round − ``HARD_STALE``;
    3. touched: the reachable source or the oracle changed since the
       newest green row (fingerprint differs from the recorded one);
    4. everything else, stalest first.

    Groups 2–4 are ordered stalest first, ties in registration order.
    The two hard rules come first so that a burst of touched queries can
    never push an attestation past the staleness bound; if they alone
    overflow the window, this raises instead of silently breaking it.
    Fingerprints are computed once per process, on first use.
    """
    from micmac_li3ds_spark.fingerprint import fingerprints

    _ensure_loaded()
    latest, max_round = green_rounds()
    with open(ATTESTATIONS_FILE) as fh:
        recorded = {
            n: e["fingerprint"] for n, e in json.load(fh)["queries"].items()
        }
    regs = {n: q for n, q in _REGISTRY.items() if q.oracle is not None}
    current = fingerprints({n: (q.fn, q.oracle) for n, q in regs.items()}, _ROOT)
    return tuple(order_window(list(regs), latest, max_round, recorded, current))


def _ordered(regs: dict[str, Query]) -> dict[str, Query]:
    """The driver window first, then the rest in registration order."""
    window = derive_window()
    return {
        **{n: regs[n] for n in window},
        **{n: q for n, q in regs.items() if n not in window},
    }


def register(name: str, oracle: Optional[str] = None, tags: tuple = ()):
    """Decorator: register a query under ``name`` with optional oracle SQL.

    The registered callable is wrapped in a cache scope
    (functions/cache_scope.py): entering a top-level query releases the
    PREVIOUS query's scoped caches, so multi-branch operators can
    materialize shared intermediates without leaking them across a
    long-lived session. The wrapper is reentrant — registered queries
    that compose other registered queries share one scope.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        from functools import wraps

        from micmac_li3ds_spark.functions.cache_scope import query_scope

        @wraps(fn)
        def scoped(*args, **kwargs):
            with query_scope():
                return fn(*args, **kwargs)

        _REGISTRY[name] = Query(
            name=name, fn=scoped, oracle=oracle, tags=tags, doc=fn.__doc__ or ""
        )
        return scoped

    return deco


def _ensure_loaded() -> None:
    global _loaded
    if _loaded:
        return
    _loaded = True
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: q.fn for name, q in _ordered(_REGISTRY).items()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {
        name: q.oracle
        for name, q in _ordered(_REGISTRY).items()
        if q.oracle is not None
    }


def get(name: str) -> Query:
    _ensure_loaded()
    return _REGISTRY[name]


def registry() -> dict[str, Query]:
    _ensure_loaded()
    return _ordered(_REGISTRY)
