"""Typed access to the driver corpus (TESTDATA.md / FIXTURES.md §1).

One parquet file per table. Parquet carries the schema; we still
declare expected column sets so a drifted corpus fails fast rather than
mid-query. Scans go through the parquet DataSource, which gives
predicate pushdown and column pruning for free.

Schemas are resolved once per file version. ``spark.read.parquet`` with
no schema runs a Spark job to infer it from the footer, 70-90 ms per
call; ``read_parquet`` infers a single file's schema on its first read
and hands that schema back to ``spark.read.schema(...)`` afterwards,
which starts no job. The memo is keyed by absolute path and checked
against ``(st_ino, st_size, st_mtime_ns)`` plus the session's
``spark.sql.legacy.parquet.nanosAsLong`` (the one conf that changes
what inference returns for these files): a rewritten file or a changed
conf is inferred again. It holds a Python ``StructType`` per path and
nothing else, no JVM object and no data, so it outlives a stopped
session: a catalog, not a result cache. The inferred schema stays the
source of truth. Declaring ``StructType``s by hand instead would turn a
column missing from the file into a column of nulls and lose the drift
check.

100 TB note: at scale these would be partitioned tables (events by date,
lineitem by shipdate month) registered in a metastore; the loaders keep
that behind one function so call sites don't change. Directories are
read with plain ``spark.read.parquet``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions we always broadcast in joins.
BROADCAST_TABLES = {"region", "nation"}

EXPECTED_COLUMNS = {
    "region": {"r_regionkey", "r_name"},
    "nation": {"n_nationkey", "n_name", "n_regionkey"},
    "customer": {"c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"},
    "supplier": {"s_suppkey", "s_name", "s_nationkey", "s_acctbal"},
    "part": {"p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"},
    "orders": {
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    },
    "lineitem": {
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    },
    "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
    "documents": {"doc_id", "text", "lang", "source", "n_chars"},
    "embeddings": {"vec_id", "embedding", "label"},
}


NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# absolute path -> (stat signature + nanosAsLong, inferred schema)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a file's schema once per
    file version (see the module docstring); directories are read as is."""
    path = os.path.abspath(path)
    if os.path.isdir(path):
        return spark.read.parquet(path)
    # stat before inferring: a rewrite in between leaves an entry whose
    # key no longer matches, which costs one more inference, never a
    # stale schema
    st = os.stat(path)
    key = (st.st_ino, st.st_size, st.st_mtime_ns, spark.conf.get(NANOS_AS_LONG, "false"))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table through ``read_parquet``; fail fast on
    schema drift.

    The drift check and the ``events.ts`` branch read the memoized
    schema, which is the inferred schema of the same file version, so
    the ts encoding is probed once per file version, not once per call.

    ``events.ts`` has shipped in two physical encodings across corpus
    generations: parquet timestamp[ns] (which Spark 4 refuses to read as a
    timestamp — PARQUET_TYPE_ILLEGAL — so we read nanos as long via the
    legacy conf and floor-convert, the same truncation direction DuckDB's
    ns→µs cast uses) and parquet timestamp[us] (read natively as
    TIMESTAMP_NTZ). Either way we normalize to session-tz TimestampType
    (session tz is pinned UTC, session.py) so every downstream operator
    and oracle sees one ts type regardless of corpus vintage.
    """
    if name not in EXPECTED_COLUMNS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(EXPECTED_COLUMNS)}")
    if name == "events":
        spark.conf.set(NANOS_AS_LONG, "true")
        df = read_parquet(spark, table_path(sf_dir, name))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # integer `div`, NOT `/`: float division of an epoch-ns long
            # loses low bits (|ns| > 2^53) and rounds some microseconds up
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # timestamp[us] → TIMESTAMP_NTZ; reinterpret the wall-clock in
            # the UTC session tz (no-op if already TimestampType)
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = read_parquet(spark, table_path(sf_dir, name))
    missing = EXPECTED_COLUMNS[name] - set(df.columns)
    if missing:
        raise ValueError(f"table {name} missing expected columns: {sorted(missing)}")
    return df
