"""Registry-ordering and driver-contract invariants.

The driver's CORRECTNESS pass checks only the first ``DRIVER_WINDOW``
entries of ``queries()`` (observed in round 1: exactly the first 50
registry entries got a row). ``registry.derive_window()`` picks those
entries from the committed attestations. These tests pin the properties
that make that window worth its slots:

* the window is 50 distinct registered, oracle-backed queries and leads
  ``queries()``;
* never-attested and hard-stale queries are always in it, and a query
  whose reachable source changed since its newest green row moves ahead
  of untouched ones;
* ``ATTESTATIONS.json`` is refreshed whenever a CORRECTNESS file lands;
* no oracle-backed query emits array/map-typed columns — the driver's
  pandas canonicalizer crashes on list cells (CORRECTNESS_r01:
  ``TypeError: unhashable type: 'list'`` for q_agg_collect, q_fn_string,
  q_fn_array, q_fn_map). Complex outputs must be serialized to strings
  on both engine and oracle sides.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, DecimalType, MapType

from micmac_li3ds_spark import registry as R


def test_readme_counts_match_registry():
    """README's coverage claim must be derived from the registry, not
    hand-maintained (it drifted in round 1)."""
    import os
    import re

    readme = open(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "README.md")
    ).read()
    m = re.search(r"(\d+) registered\s*\nqueries \((\d+) with full", readme)
    assert m, "README coverage sentence not found"
    regs = R.registry()
    assert int(m.group(1)) == len(regs)
    assert int(m.group(2)) == sum(1 for q in regs.values() if q.oracle)


def test_window_names_registered_and_distinct():
    window = R.derive_window()
    assert len(window) == len(set(window)) == R.DRIVER_WINDOW
    assert set(window) <= set(R.registry())


def test_window_leads_driver_queries():
    assert list(R.all_queries())[: R.DRIVER_WINDOW] == list(R.derive_window())


def test_windowed_queries_all_have_oracles():
    regs = R.registry()
    no_oracle = [n for n in R.derive_window() if regs[n].oracle is None]
    assert not no_oracle, f"windowed queries without oracles: {no_oracle}"


def test_ordering_preserves_full_registry():
    # Reordering must not drop or duplicate anything.
    regs = R.registry()
    assert len(regs) == len(set(regs))
    assert set(regs) == set(R.all_queries())


@pytest.mark.parametrize(
    "name", sorted(n for n, q in R.registry().items() if q.oracle is not None)
)
def test_no_complex_or_decimal_output_columns(spark, sf_dir, name):
    """Oracle-backed queries must not emit array/map columns (driver
    canonicalizer crashes on list cells) NOR DecimalType columns (the
    driver hashes Python Decimal objects differently from the oracle's
    float64 — cost q_agg_grouping_sets two red rounds; a SQL literal
    like `/ 100.0` silently makes the whole expression DECIMAL).
    Schema check only — no execution."""
    df = R.get(name).fn(spark, sf_dir)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, DecimalType))
    ]
    assert not bad, (
        f"{name} emits complex/decimal columns {bad}; serialize arrays to "
        f"string, CAST decimal arithmetic AS DOUBLE"
    )


@pytest.mark.parametrize(
    "name", sorted(n for n, q in R.registry().items() if q.oracle is not None)
)
def test_oracle_output_has_no_hugeint(duck, name):
    """DuckDB SUM(integer) returns HUGEINT, which fetchdf() converts to
    float64 while Spark emits int64 — a guaranteed driver hash mismatch
    (cost q_llm_train_split and q_llm_seq_pack red rows in round 2, and
    q_agg_cube in round 1). Every oracle integer-SUM must be wrapped in
    CAST(... AS BIGINT). Checked directly on the oracle's output types
    without fetching any rows (duckdb relations bind lazily)."""
    rel = duck.sql(R.get(name).oracle)
    bad = [
        c for c, t in zip(rel.columns, rel.types) if str(t) in ("HUGEINT", "INT128")
    ]
    assert not bad, (
        f"{name} oracle emits HUGEINT columns {bad}; wrap the SUM in "
        f"CAST(... AS BIGINT)"
    )


@pytest.mark.parametrize(
    "name",
    [
        # queries with session/filesystem side effects: caches, temp
        # views, temp SQL functions, scratch sinks, Derby tables,
        # registered python data sources, iterative driver loops
        "q_jdbc_roundtrip",
        "q_sink_parquet_partitioned",
        "q_sink_orc_roundtrip",
        "q_llm_near_dedup",
        "q_llm_dedup_clusters",
        "q_llm_ngram_jaccard",
        "q_llm_decontaminate",
        "q_udf_sql",
        "q_join_lateral",
        "q_scan_python_datasource",
        "q_agg_grouping_sets",
        "q_sink_csv_roundtrip",
        "q_sink_json_roundtrip",
        "q_audit_small_files",
    ],
)
def test_side_effectful_queries_are_rerun_idempotent(spark, sf_dir, name):
    """Running a query twice in one session must return identical rows —
    leftover caches, temp objects, scratch files, or Derby state from
    the first run must not leak into the second (the driver runs many
    queries through one session)."""
    fn = R.get(name).fn
    first = sorted(map(tuple, fn(spark, sf_dir).collect()))
    second = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert first == second


def test_every_registered_query_has_oracle():
    """Global invariant since round 6: no rows-only keys anywhere —
    every registered query is value-hash checkable. A new query landing
    without an oracle fails here, not as a wasted driver slot."""
    regs = R.registry()
    no_oracle = [n for n, q in regs.items() if q.oracle is None]
    assert not no_oracle, f"queries without oracles: {no_oracle}"


def test_timing_artifact_clean():
    """The newest committed TIMING_r*.json (tools/timing_audit.py --json,
    the per-round cost gate) must record zero errors and zero
    >2x regressions vs its own baseline: a legitimate slowdown is
    committed WITH a ledger note and a fresh artifact, never silently."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    arts = glob.glob(os.path.join(repo, "TIMING_r*.json"))
    assert arts, "no TIMING_r*.json committed — run tools/timing_audit.py"
    newest = max(
        arts, key=lambda p: int(re.search(r"_r(\d+)", p).group(1))
    )
    d = json.load(open(newest))
    assert d["errors"] == {}, d["errors"]
    assert d["regressions"] == {}, d["regressions"]
    # the artifact must cover the registry of its day (tolerate queries
    # registered after the audit ran in the same round)
    assert d["n_queries"] >= 200


def test_window_contains_every_never_attested_query():
    """Birth-round attestation: a registered query with no green driver
    row yet must occupy a window slot."""
    latest, _ = R.green_rounds()
    window = R.derive_window()
    missing = [n for n in R.registry() if n not in latest and n not in window]
    assert not missing, f"never-attested queries outside the window: {missing}"


def test_window_contains_every_stale_attestation():
    """Oldest-first rotation: any query whose newest green driver row is
    ``HARD_STALE`` (5) or more rounds behind the newest CORRECTNESS file
    must be in the current window, so no attestation gets older than six
    rounds."""
    latest, max_round = R.green_rounds()
    regs = R.registry()
    window = R.derive_window()
    out = [
        n
        for n, rnd in latest.items()
        if rnd <= max_round - R.HARD_STALE and n in regs and n not in window
    ]
    assert not out, f"stale-attested queries left out of the window: {out}"


def test_attestations_file_covers_every_attested_query():
    """ATTESTATIONS.json must hold a fingerprint for every attested query
    at its newest green round. Fails as soon as a new CORRECTNESS file
    lands, until ``python tools/record_attestations.py`` is re-run."""
    import json

    latest, max_round = R.green_rounds()
    with open(R.ATTESTATIONS_FILE) as fh:
        doc = json.load(fh)
    assert doc["round"] == max_round
    regs = R.registry()
    behind = {
        n: (doc["queries"].get(n, {}).get("round"), rnd)
        for n, rnd in latest.items()
        if n in regs and doc["queries"].get(n, {}).get("round") != rnd
    }
    assert not behind, f"recorded vs newest green round: {behind}"


_SYNTH_QUERIES = """
from synthpkg import helpers
from synthpkg.helpers import shared


def q_stale(spark, sf_dir):
    return 0


def q_old(spark, sf_dir):
    return 1


def q_plain(spark, sf_dir):
    return 2


def q_a(spark, sf_dir):
    return shared(3)


def q_b(spark, sf_dir):
    return _via(4)


def _via(x):
    return helpers.shared(x) + 1
"""
_SYNTH_NAMES = ["q_stale", "q_old", "q_plain", "q_a", "q_b"]


def _synth_fingerprints(root, helper_src: str) -> dict[str, str]:
    """Fingerprints of a throwaway package ``synthpkg`` written under
    ``root``, whose oracles embed ``root`` like the fixture oracles do."""
    import importlib
    import sys

    from micmac_li3ds_spark.fingerprint import fingerprints

    pkg = root / "synthpkg"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "helpers.py").write_text(helper_src)
    (pkg / "queries.py").write_text(_SYNTH_QUERIES)

    def purge():
        for m in [m for m in sys.modules if m.split(".")[0] == "synthpkg"]:
            del sys.modules[m]

    purge()
    importlib.invalidate_caches()
    sys.path.insert(0, str(root))
    try:
        mod = importlib.import_module("synthpkg.queries")
    finally:
        sys.path.remove(str(root))
        purge()
    oracle = f"SELECT * FROM read_parquet('{root}/fixtures/t.parquet')"
    return fingerprints(
        {n: (getattr(mod, n), oracle) for n in _SYNTH_NAMES},
        str(root),
        package="synthpkg",
    )


def test_touched_helper_pulls_its_consumers_ahead(tmp_path):
    before = _synth_fingerprints(tmp_path / "v1", "def shared(x):\n    return x\n")
    after = _synth_fingerprints(tmp_path / "v2", "def shared(x):\n    return 2 * x\n")
    assert {n for n in _SYNTH_NAMES if after[n] != before[n]} == {"q_a", "q_b"}
    # docstring and comment edits are not code edits: the fingerprints,
    # and so the window, do not move
    docstring = _synth_fingerprints(
        tmp_path / "v3", 'def shared(x):\n    """Identity."""\n    return x\n'
    )
    comment = _synth_fingerprints(
        tmp_path / "v4", "def shared(x):\n    # identity\n    return x  # as is\n"
    )
    assert docstring == before and comment == before

    latest = {"q_stale": 4, "q_old": 7, "q_plain": 8, "q_a": 9, "q_b": 9}
    untouched = R.order_window(_SYNTH_NAMES, latest, 9, before, before, size=5)
    assert untouched == ["q_stale", "q_old", "q_plain", "q_a", "q_b"]
    # the consumers jump the older untouched queries, but not the
    # hard-stale one, and the untouched queries keep their order
    edited = R.order_window(_SYNTH_NAMES, latest, 9, before, after, size=5)
    assert edited == ["q_stale", "q_a", "q_b", "q_old", "q_plain"]

    with pytest.raises(RuntimeError):
        R.order_window(_SYNTH_NAMES, {"q_a": 1}, 9, before, after, size=4)


def test_fingerprint_independent_of_repo_root(tmp_path):
    src = "def shared(x):\n    return x\n"
    here = _synth_fingerprints(tmp_path / "one", src)
    moved = _synth_fingerprints(tmp_path / "elsewhere" / "two", src)
    assert here == moved
