"""Loader resilience against testdata-generator drift.

The driver has regenerated events.parquet with different physical ts
types across rounds (TIMESTAMP(NANOS) read as long via nanosAsLong,
then TIMESTAMP_NTZ micros). ``event_ts_to_micros`` must map every
generation to the same microsecond TimestampType wall-clock so all
events operators and their DuckDB oracles stay in agreement.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.sources import load_events, load_table
from gcp_datalake_utils_spark.sources.registry import event_ts_to_micros

# one exact-microsecond instant + one with sub-microsecond nanos that
# must truncate (not round) to match DuckDB's TIMESTAMP_NS -> TIMESTAMP
_MICROS = [1700000000_000_000, 1700000123_456_789]


def _write(tmpdir: str, name: str, arr: pa.Array) -> str:
    path = os.path.join(tmpdir, name)
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": arr}),
        path)
    return path


@pytest.mark.parametrize("ts_type", ["ns", "us_ntz"])
def test_event_ts_generations_load_identically(spark, tmp_path, ts_type):
    d = str(tmp_path)
    if ts_type == "ns":
        arr = pa.array([m * 1000 + 999 for m in _MICROS],
                       pa.timestamp("ns"))
    else:
        arr = pa.array(_MICROS, pa.timestamp("us"))
    path = _write(d, "events.parquet", arr)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = event_ts_to_micros(spark.read.parquet(path))
    assert [f.dataType.typeName() for f in df.schema.fields
            if f.name == "ts"] == ["timestamp"]
    got = {r.event_id: r.ts for r in df.collect()}
    import datetime as dt
    for eid, micros in zip((1, 2), _MICROS):
        # integer timedelta arithmetic: float epoch seconds would lose
        # sub-microsecond precision at 2023-epoch magnitudes
        want = (dt.datetime(1970, 1, 1)
                + dt.timedelta(microseconds=micros))
        # exact to the microsecond: nanos truncate, micros pass through
        assert got[eid] == want, (eid, ts_type, got[eid], want)
    # load_events reads under the memoized schema, cold and warm
    for _ in range(2):
        assert sorted(load_events(spark, d).collect()) == sorted(df.collect())


def test_load_events_current_testdata_is_timestamp(spark, sf_dir):
    df = load_events(spark, sf_dir)
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    assert df.where("ts IS NULL").count() == 0


def _jobs_in(spark, fn):
    """(fn's result, number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_schema_once(spark, tmp_path, sf_dir):
    d = str(tmp_path)
    os.symlink(os.path.join(sf_dir, "region.parquet"),
               os.path.join(d, "region.parquet"))
    first, jobs = _jobs_in(spark, lambda: load_table(spark, d, "region"))
    assert jobs >= 1
    again, jobs = _jobs_in(spark, lambda: load_table(spark, d, "region"))
    assert jobs == 0
    assert again.schema == first.schema


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    d = str(tmp_path)
    path = _write(d, "events.parquet", pa.array(_MICROS, pa.int64()))
    assert load_table(spark, d, "events").columns == ["event_id", "ts"]
    # a new size: the file gained a column
    pq.write_table(pa.table({"event_id": pa.array([1], pa.int64()),
                             "ts": pa.array([0], pa.int64()),
                             "kind": pa.array(["a"])}), path)
    df, jobs = _jobs_in(spark, lambda: load_table(spark, d, "events"))
    assert jobs >= 1 and df.columns == ["event_id", "ts", "kind"]
    # the same bytes with a new mtime only
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    _, jobs = _jobs_in(spark, lambda: load_table(spark, d, "events"))
    assert jobs >= 1


def test_load_events_ts_unchanged_under_pinned_schema(spark, sf_dir):
    load_table(spark, sf_dir, "events")  # the schema memo is warm
    path = os.path.join(sf_dir, "events.parquet")
    want = event_ts_to_micros(spark.read.parquet(path))
    got = load_events(spark, sf_dir)
    assert got.schema == want.schema
    assert (sorted(got.select("event_id", "ts").collect())
            == sorted(want.select("event_id", "ts").collect()))


def test_load_table_frames_self_join(spark, sf_dir):
    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    pairs = a.join(b, a["o_orderkey"] == b["o_custkey"]).select(
        a["o_orderkey"], b["o_orderkey"].alias("other"))
    want = (a.alias("x").join(a.alias("y"),
                              F.col("x.o_orderkey") == F.col("y.o_custkey"))
            .count())
    assert pairs.count() == want
