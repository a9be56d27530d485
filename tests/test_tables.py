"""Corpus-encoding resilience and the per-file-version schema memo.

The driver regenerates /root/testdata between rounds and has already
shipped ``events.ts`` in two physical parquet encodings: timestamp[ns]
(Spark 4 reads it only as long via the legacy nanos-as-long conf) and
timestamp[us] (read natively as TIMESTAMP_NTZ). ``tables.load`` and the
file-stream source must normalize EVERY vintage to session-tz
TimestampType with identical values, or every events-reading query goes
red at once — as happened in CORRECTNESS_r04.

``tables.read_parquet`` infers a file's schema once per file version;
the memo tests below pin that a hit starts no Spark job, that a
rewritten file or a changed nanos-as-long conf is inferred again, and
that the drift check still fires on a hit.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.errors import AnalysisException
from pyspark.sql.types import LongType, TimestampType

from micmac_li3ds_spark.tables import NANOS_AS_LONG, load, read_parquet

_ROWS = [
    # (event_id, epoch_us, user_id, event_type, value, props)
    (1, 1_700_000_000_000_000, 10, "click", 1.5, "{}"),
    (2, 1_700_000_000_123_456, 11, "view", 2.5, "{}"),
    (3, 1_700_003_600_000_001, 10, "purchase", 3.5, "{}"),
]


def _write_events(dirpath, ts_unit: str) -> str:
    ids, us, users, types, values, props = zip(*_ROWS)
    if ts_unit == "ns":
        ts = pa.array([u * 1000 for u in us], type=pa.timestamp("ns"))
    else:
        ts = pa.array(list(us), type=pa.timestamp("us"))
    table = pa.table(
        {
            "event_id": pa.array(ids, type=pa.int64()),
            "ts": ts,
            "user_id": pa.array(users, type=pa.int64()),
            "event_type": pa.array(types, type=pa.string()),
            "value": pa.array(values, type=pa.float64()),
            "props": pa.array(props, type=pa.string()),
        }
    )
    pq.write_table(table, str(dirpath / "events.parquet"))
    return str(dirpath)


_WANT = {
    (i, datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=u))
    for i, u, *_ in _ROWS
}


def _ts_rows(df):
    return {(r.event_id, r.ts) for r in df.select("event_id", "ts").collect()}


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_load_normalizes_both_ts_encodings(spark, tmp_path, unit):
    (tmp_path / unit).mkdir(exist_ok=True)
    sf = _write_events(tmp_path / unit, ts_unit=unit)
    df = load(spark, sf, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    assert _ts_rows(df) == _WANT


def _jobs_in(spark, group, fn):
    """Run ``fn`` under its own job group; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_second_load_launches_no_spark_job(spark, tmp_path, unit):
    sf = _write_events(tmp_path, ts_unit=unit)
    first, n_first = _jobs_in(spark, f"memo-first-{unit}", lambda: load(spark, sf, "events"))
    again, n_again = _jobs_in(spark, f"memo-again-{unit}", lambda: load(spark, sf, "events"))
    assert n_first >= 1  # the first read infers: the count does see jobs
    assert n_again == 0
    assert again.schema == first.schema
    assert _ts_rows(again) == _WANT


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    sf = _write_events(tmp_path, ts_unit="ns")
    assert _ts_rows(load(spark, sf, "events")) == _WANT
    _write_events(tmp_path, ts_unit="us")  # same path, new encoding
    df = load(spark, sf, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    assert _ts_rows(df) == _WANT


def test_drift_check_fires_on_a_memo_hit(spark, tmp_path):
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], type=pa.int64())}),
        str(tmp_path / "region.parquet"),
    )
    for _ in range(2):
        with pytest.raises(ValueError, match="r_name"):
            load(spark, str(tmp_path), "region")


def test_nanos_as_long_conf_is_part_of_the_key(spark, tmp_path):
    """Spark 4 infers a timestamp[ns] column as long with the conf on and
    refuses the file with it off; a memo keyed by path alone would hand
    the long schema back with the conf off."""
    path = _write_events(tmp_path, ts_unit="ns") + "/events.parquet"
    before = spark.conf.get(NANOS_AS_LONG)
    try:
        spark.conf.set(NANOS_AS_LONG, "true")
        assert isinstance(read_parquet(spark, path).schema["ts"].dataType, LongType)
        spark.conf.set(NANOS_AS_LONG, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
        spark.conf.set(NANOS_AS_LONG, "true")
        assert isinstance(read_parquet(spark, path).schema["ts"].dataType, LongType)
    finally:
        spark.conf.set(NANOS_AS_LONG, before)


def test_stream_source_matches_batch_load(spark, tmp_path):
    """The streaming reader must agree with the batch loader row-for-row
    for the current corpus encoding (batch ≡ stream on ts itself)."""
    from micmac_li3ds_spark.streaming import jobs

    for unit in ("ns", "us"):
        d = tmp_path / f"s_{unit}"
        d.mkdir()
        sf = _write_events(d, ts_unit=unit)
        batch = {
            tuple(r)
            for r in load(spark, sf, "events").select("event_id", "ts").collect()
        }
        q = (
            jobs.read_events_stream(spark, sf)
            .select("event_id", "ts")
            .writeStream.format("memory")
            .queryName(f"t_enc_{unit}")
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        streamed = {
            tuple(r)
            for r in spark.sql(f"SELECT * FROM t_enc_{unit}").collect()
        }
        assert streamed == batch
