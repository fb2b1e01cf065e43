"""Table loading (io.load): the declared-schema contract and the events
timestamp path."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from cassandra_snap_to_hadoop_spark import io as io_mod
from cassandra_snap_to_hadoop_spark.io import SCHEMAS, TABLES, load

SF = "/root/testdata/sf0.001"
_NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _fields(schema: T.StructType) -> list[tuple[str, T.DataType]]:
    return [(f.name, f.dataType) for f in schema.fields]


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_match_parquet_footers(spark, sf):
    """load() hands SCHEMAS to the reader, and with a declared schema a
    column missing from the file reads as nulls instead of failing, so
    every corpus's footer-inferred schema must equal the declared one:
    names, order and types."""
    for name in TABLES:
        inferred = spark.read.parquet(f"/root/testdata/{sf}/{name}.parquet").schema
        assert _fields(inferred) == _fields(SCHEMAS[name]), (sf, name)


def test_declared_load_runs_no_spark_job(spark):
    """A non-events load is plan construction only: no footer-inference
    job (events keeps inference by design)."""
    sc = spark.sparkContext
    group = "test_declared_load_runs_no_spark_job"
    sc.setJobGroup(group, group)
    try:
        frames = {name: load(spark, SF, name) for name in TABLES if name != "events"}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert len(frames) == len(TABLES) - 1
    for name, df in frames.items():
        assert _fields(df.schema) == _fields(SCHEMAS[name]), name


def test_events_nanos_file_loads_as_timestamp(spark, tmp_path):
    """A TIMESTAMP(NANOS) events.ts (the unit the declared-schema path
    cannot read) arrives through footer inference as int64 nanos and is
    converted to TIMESTAMP at microsecond precision."""
    nanos = [1_704_067_200_123_456_789, 1_706_572_800_000_001_999]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(nanos, pa.timestamp("ns")),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["click", "view"]),
            "value": pa.array([1.5, 2.5]),
            "props": pa.array(['{"k": 1}', '{"k": 2}']),
        }
    )
    pq.write_table(table, tmp_path / "events.parquet", version="2.6")
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == pa.timestamp("ns")

    df = load(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(r.ts for r in df.select("ts").collect())
    epoch = dt.datetime(1970, 1, 1)
    assert got == [epoch + dt.timedelta(microseconds=n // 1000) for n in nanos]


def test_timestamps_load_as_timestamp_when_ntz_inference_is_on(spark, monkeypatch):
    """On a foreign session where inferTimestampNTZ=true could not be
    overridden, declared tables still read naive micros as TIMESTAMP and
    events (footer inference) still casts its NTZ ts to TIMESTAMP."""
    want = sorted(r.l_shipdate for r in load(spark, SF, "lineitem").select("l_shipdate").collect())
    monkeypatch.setattr(io_mod, "apply_runtime_confs", lambda s: s)
    before = spark.conf.get(_NTZ_CONF)
    spark.conf.set(_NTZ_CONF, "true")
    try:
        assert dict(spark.read.parquet(f"{SF}/lineitem.parquet").dtypes)["l_shipdate"] == (
            "timestamp_ntz"
        )
        lineitem = load(spark, SF, "lineitem")
        events = load(spark, SF, "events")
        assert dict(lineitem.dtypes)["l_shipdate"] == "timestamp"
        assert dict(load(spark, SF, "orders").dtypes)["o_orderdate"] == "timestamp"
        assert dict(events.dtypes)["ts"] == "timestamp"
        assert sorted(r.l_shipdate for r in lineitem.select("l_shipdate").collect()) == want
    finally:
        spark.conf.set(_NTZ_CONF, before)
