"""Tests for the Cassandra snapshot source (A2), sinks (A3/A4), manifest
verification (A6), and incremental ingest (A5) on generated snapshot-layout
fixtures (FIXTURES.md §3.1)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cassandra_snap_to_hadoop_spark.operators.cassandra import apply_tombstones, lww_merge
from cassandra_snap_to_hadoop_spark.sources.sinks import (
    export_parquet,
    read_csv,
    read_json,
    verify_export,
)
from cassandra_snap_to_hadoop_spark.sources.snapshot import (
    incremental_new_files,
    parse_schema_cql,
    snapshot_manifest,
    snapshot_scan,
)

SCHEMA_CQL = """
CREATE TABLE ks1.events_wide (
    pk bigint,
    ck bigint,
    v1 text,
    v2 double,
    tags list<text>,
    _writetime bigint,
    _ttl int,
    _tombstone boolean,
    _seq bigint,
    PRIMARY KEY ((pk), ck)
) WITH CLUSTERING ORDER BY (ck ASC);
"""

# export_snapshot's in-flight checksum of the fixture's tag-001 LWW state
MERGED_CHECKSUM = 2987404010

CELLS_DDL = (
    "pk long, ck long, v1 string, v2 double, tags array<string>, "
    "_writetime long, _ttl int, _tombstone boolean, _seq long"
)


@pytest.fixture(scope="module")
def snapshot_fixture(spark, tmp_path_factory):
    """ks1/events_wide with two tags; tag-002 adds one overlapping gen."""
    root = str(tmp_path_factory.mktemp("snapshots"))

    def write_gen(tag: str, gen: str, rows):
        snap = os.path.join(root, "ks1", "events_wide", "snapshots", tag)
        os.makedirs(snap, exist_ok=True)
        with open(os.path.join(snap, "schema.cql"), "w") as fh:
            fh.write(SCHEMA_CQL)
        df = spark.createDataFrame(rows, CELLS_DDL)
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(snap, "_tmp"))
        # move the single part file to a stable gen-N name
        tmp = os.path.join(snap, "_tmp")
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.replace(os.path.join(tmp, part), os.path.join(snap, f"{gen}.parquet"))
        for leftover in os.listdir(tmp):
            os.remove(os.path.join(tmp, leftover))
        os.rmdir(tmp)

    gen0 = [
        (1, 1, "a", 1.0, ["t1"], 10, None, False, 1),
        (1, 2, "b", 2.0, [], 10, None, False, 2),
        (2, 1, "c", 3.0, None, 10, None, False, 3),
    ]
    gen1 = [
        (1, 1, "a2", 1.5, ["t2"], 20, None, False, 4),  # overwrites (1,1)
        (2, 1, None, None, None, 30, None, True, 5),  # tombstones (2,1)
        (3, 1, "d", 4.0, None, 20, None, False, 6),  # new row
    ]
    write_gen("tag-001", "gen-0", gen0)
    write_gen("tag-001", "gen-1", gen1)
    write_gen("tag-002", "gen-0", gen0)
    write_gen("tag-002", "gen-1", gen1)
    write_gen("tag-002", "gen-2", [(4, 1, "e", 5.0, None, 40, None, False, 7)])
    return root


def test_parse_schema_cql():
    ddl = parse_schema_cql(SCHEMA_CQL)
    assert "pk LONG" in ddl.upper() or "pk long" in ddl
    assert "tags array<string>" in ddl
    assert "_tombstone boolean" in ddl
    assert "PRIMARY" not in ddl.upper()


# Exact DDL per CREATE TABLE shape, pinned from the standalone parser that
# parse_schema_cql replaced with parse_table_meta's column list.
@pytest.mark.parametrize(
    "cql, ddl",
    [
        pytest.param(
            "CREATE TABLE ks.t (id bigint PRIMARY KEY, name text, score double);",
            "id long, name string, score double",
            id="inline_pk",
        ),
        pytest.param(
            "CREATE TABLE ks.t (a int, b text, c timestamp, v float,"
            " PRIMARY KEY ((a, b), c));",
            "a int, b string, c timestamp, v float",
            id="composite_pk",
        ),
        pytest.param(
            "CREATE TABLE ks.t (id uuid PRIMARY KEY, tags frozen<list<text>>,"
            " ids set<bigint>, attrs map<text, int>);",
            "id string, tags array<string>, ids array<long>, attrs map<string,int>",
            id="collections",
        ),
        pytest.param(
            'CREATE TABLE ks.t ("UserId" bigint, "eventTime" timestamp, v text,'
            ' PRIMARY KEY ("UserId", "eventTime"));',
            "UserId long, eventTime timestamp, v string",
            id="quoted_identifier",
        ),
        pytest.param(
            "CREATE TABLE ks.t (pk int, ck int, owner text static, v blob,"
            " PRIMARY KEY (pk, ck));",
            "pk int, ck int, owner string, v binary",
            id="static_column",
        ),
        pytest.param(
            "CREATE TABLE ks.t (pk int, ck int, v decimal, PRIMARY KEY (pk, ck))"
            " WITH CLUSTERING ORDER BY (ck DESC)"
            " AND compaction = {'class': 'LeveledCompactionStrategy'};",
            "pk int, ck int, v decimal(38,18)",
            id="with_clause_parens",
        ),
    ],
)
def test_parse_schema_cql_exact_ddl(cql, ddl):
    assert parse_schema_cql(cql) == ddl


def test_snapshot_scan_schema_and_rows(spark, snapshot_fixture):
    df = snapshot_scan(spark, snapshot_fixture, "ks1", "events_wide", "tag-001")
    assert df.count() == 6
    assert "_sstable" in df.columns
    assert dict(df.dtypes)["pk"] == "bigint"
    assert dict(df.dtypes)["tags"] == "array<string>"
    # one input partition per sstable file
    assert df.select("_sstable").distinct().count() == 2


def test_snapshot_scan_contract(spark, snapshot_fixture):
    """The scan's planning contract: one partition per data file, a size
    the planner treats as unknown (so a join with a large table shuffles
    rather than broadcasts the snapshot), and the decode visible in the
    executed plan as the ``cassandra_snapshot`` Arrow map."""
    df = snapshot_scan(spark, snapshot_fixture, "ks1", "events_wide", "tag-002")
    assert df.rdd.getNumPartitions() == 3
    default_size = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert size >= default_size
    joined = df.join(spark.range(3_000_000).withColumnRenamed("id", "pk"), "pk")
    assert "BroadcastExchange" not in joined._jdf.queryExecution().executedPlan().toString()
    assert "cassandra_snapshot" in df._jdf.queryExecution().executedPlan().toString()


def test_scan_keeps_declared_writetime(spark, snapshot_fixture):
    """A stand-in whose ``schema.cql`` declares ``_writetime`` keeps that
    one column, with its stored values, when write times are asked for."""
    df = snapshot_scan(
        spark, snapshot_fixture, "ks1", "events_wide", "tag-001", writetime="true"
    )
    assert df.columns.count("_writetime") == 1
    assert sorted((r._seq, r._writetime) for r in df.collect()) == [
        (1, 10), (2, 10), (3, 10), (4, 20), (5, 30), (6, 20)
    ]


def test_empty_snapshot_scans_and_exports(spark, tmp_path):
    """A tag with ``schema.cql`` and no data files is an empty frame of
    the declared schema, and both export modes land and verify 0 rows."""
    from cassandra_snap_to_hadoop_spark.export import export_snapshot

    snap = tmp_path / "ks1" / "events_wide" / "snapshots" / "tag-0"
    snap.mkdir(parents=True)
    (snap / "schema.cql").write_text(SCHEMA_CQL)
    df = snapshot_scan(spark, str(tmp_path), "ks1", "events_wide", "tag-0")
    assert df.count() == 0
    assert df.schema == StructType.fromDDL(f"{CELLS_DDL}, _sstable string")
    for merge in (False, True):
        out = str(tmp_path / f"out-{merge}")
        res = export_snapshot(
            spark, str(tmp_path), "ks1", "events_wide", "tag-0", out,
            merge=merge, key_cols=["pk", "ck"],
        )
        assert res["rows_exported"] == 0 and res["verified"] is True, res


def test_scan_from_any_cwd(tmp_path):
    """A session started outside the repo, with no PYTHONPATH, still
    decodes a binary snapshot: its Python workers must import the
    package without help from the environment."""
    import subprocess
    import sys

    import cassandra_snap_to_hadoop_spark
    from cassandra_snap_to_hadoop_spark.sources.snapshot import parse_table_meta
    from cassandra_snap_to_hadoop_spark.sources.sstable_na import write_na_data_db

    cql = "CREATE TABLE ks.flat (pk bigint PRIMARY KEY, name text);"
    snap = tmp_path / "data" / "ks" / "flat" / "snapshots" / "t"
    snap.mkdir(parents=True)
    (snap / "schema.cql").write_text(cql)
    parts = [
        {"key": (pk,), "deletion": None, "rows": [
            {"clustering": (), "marker_ts": 100, "cells": {"name": ("live", 100, f"n{pk}")}}]}
        for pk in (1, 2, 3)
    ]
    write_na_data_db(str(snap / "nb-1-big-Data.db"), parts, parse_table_meta(cql), version="nb")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(cassandra_snap_to_hadoop_spark.__file__)))
    script = (
        f"import sys; sys.path.insert(0, {repo!r})\n"
        "from cassandra_snap_to_hadoop_spark.session import get_spark\n"
        "from cassandra_snap_to_hadoop_spark.sources.snapshot import snapshot_scan\n"
        "spark = get_spark('any-cwd', cpus='1')\n"
        f"print('rows', snapshot_scan(spark, {str(tmp_path / 'data')!r}, 'ks', 'flat', 't').count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "rows 3" in proc.stdout.splitlines()


def test_snapshot_to_silver_pipeline(spark, snapshot_fixture):
    """The reference's whole job as one Spark plan: scan -> LWW -> tombstone."""
    df = snapshot_scan(spark, snapshot_fixture, "ks1", "events_wide", "tag-001")
    silver = apply_tombstones(lww_merge(df, ["pk", "ck"], "_writetime", "_seq"))
    got = {(r.pk, r.ck): r.v1 for r in silver.collect()}
    assert got == {(1, 1): "a2", (1, 2): "b", (3, 1): "d"}


def test_snapshot_manifest_detects_change(spark, snapshot_fixture):
    df1 = snapshot_scan(spark, snapshot_fixture, "ks1", "events_wide", "tag-001")
    m1 = snapshot_manifest(df1)
    assert m1.count() == 2
    assert m1.agg(F.sum("n_rows")).collect()[0][0] == 6


def test_incremental_ingest_only_new_files(spark, snapshot_fixture):
    df1 = snapshot_scan(spark, snapshot_fixture, "ks1", "events_wide", "tag-001")
    seen = snapshot_manifest(df1)
    new = incremental_new_files(spark, snapshot_fixture, "ks1", "events_wide", "tag-002", seen)
    rows = new.collect()
    assert {r.pk for r in rows} == {4}  # only gen-2 content is new


def test_export_and_verify_roundtrip(spark, sf_dir, tmp_path):
    from cassandra_snap_to_hadoop_spark.io import load

    li = load(spark, sf_dir, "lineitem").withColumn("ship_year", F.year("l_shipdate"))
    out = str(tmp_path / "lineitem_export")
    export_parquet(li, out, partition_by=["ship_year"], max_files_per_partition=2)
    assert verify_export(spark, li, out, ["l_orderkey", "l_linenumber"])
    # partition pruning layout exists
    years = [d for d in os.listdir(out) if d.startswith("ship_year=")]
    assert len(years) >= 5


def test_export_job_raw_and_merged(spark, snapshot_fixture, tmp_path):
    """The reference's whole CLI job through export_snapshot: raw mode
    preserves all generations + lineage; merged mode lands LWW state.  The
    summary carries the write job's in-flight checksum."""
    from cassandra_snap_to_hadoop_spark.export import export_snapshot
    from cassandra_snap_to_hadoop_spark.sources.sinks import _fingerprint

    raw = export_snapshot(
        spark, snapshot_fixture, "ks1", "events_wide", "tag-001",
        str(tmp_path / "raw"), merge=False,
    )
    # raw rows carry _sstable paths under tmp_path, so the raw checksum is
    # pinned to a second, independent evaluation of the source scan
    scan = snapshot_scan(spark, snapshot_fixture, "ks1", "events_wide", "tag-001")
    want = scan.select(*_fingerprint(scan.columns)).collect()[0]
    assert raw == {
        "mode": "raw",
        "rows_exported": 6,
        "verified": True,
        "out": str(tmp_path / "raw"),
        "observed_checksum": want.checksum,
    }
    assert want.n == 6
    merged = export_snapshot(
        spark, snapshot_fixture, "ks1", "events_wide", "tag-001",
        str(tmp_path / "merged"), merge=True, key_cols=["pk", "ck"],
    )
    assert merged == {
        "mode": "merged",
        "rows_exported": 3,
        "verified": True,
        "out": str(tmp_path / "merged"),
        "observed_checksum": MERGED_CHECKSUM,
    }
    back = {(r.pk, r.ck): r.v1 for r in spark.read.parquet(str(tmp_path / "merged")).collect()}
    assert back == {(1, 1): "a2", (1, 2): "b", (3, 1): "d"}


def test_export_cli_main(spark, snapshot_fixture, tmp_path, capsys, monkeypatch):
    """``python -m ...export`` end to end: one JSON summary line on stdout,
    exit 0; ``--no-verify`` reports ``verified: null``."""
    import json

    from cassandra_snap_to_hadoop_spark import export

    # get_spark reuses the live session; pin the core count it re-applies
    # to the test session's own
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    base = ["--data-dir", snapshot_fixture, "--keyspace", "ks1", "--table", "events_wide",
            "--tag", "tag-001", "--merge", "--key-cols", "pk", "ck"]
    for extra, verified in (([], True), (["--no-verify"], None)):
        out = str(tmp_path / f"cli{len(extra)}")
        assert export.main([*base, "--out", out, *extra]) == 0
        lines = capsys.readouterr().out.splitlines()
        assert len(lines) == 1
        assert json.loads(lines[0]) == {
            "mode": "merged",
            "rows_exported": 3,
            "verified": verified,
            "out": out,
            "observed_checksum": MERGED_CHECKSUM,
        }


def test_csv_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], "id long, s string, v double")
    csv_path, json_path = str(tmp_path / "c"), str(tmp_path / "j")
    df.write.option("header", "true").csv(csv_path)
    df.write.json(json_path)
    back_csv = read_csv(spark, csv_path, "id long, s string, v double")
    back_json = read_json(spark, json_path, "id long, s string, v double")
    expect = sorted(map(tuple, df.collect()))
    assert sorted(map(tuple, back_csv.collect())) == expect
    assert sorted(map(tuple, back_json.collect())) == expect


def test_export_observed_metrics_roundtrip(spark, sf_dir, tmp_path):
    """Observed export: in-flight count+checksum from df.observe must match
    a fresh scan of the written data, and verification must fail closed on
    a tampered expectation and on a tampered sink (one cell changed, one
    part file lost)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cassandra_snap_to_hadoop_spark.io import load
    from cassandra_snap_to_hadoop_spark.sources.sinks import (
        export_parquet_observed,
        verify_export_observed,
    )

    o = load(spark, sf_dir, "orders").withColumn("order_year", F.year("o_orderdate"))
    out = str(tmp_path / "orders_obs")
    metrics = export_parquet_observed(o, out, partition_by=["order_year"], max_files_per_partition=2)
    assert metrics[0] == o.count()
    assert verify_export_observed(spark, out, metrics, o.schema)
    # partition pruning layout exists
    years = [d for d in os.listdir(out) if d.startswith("order_year=")]
    assert len(years) >= 5
    # tampered expectation fails closed
    assert not verify_export_observed(spark, out, (metrics[0] - 1, metrics[1]), o.schema)

    part_dir = os.path.join(out, sorted(years)[0])
    part = os.path.join(part_dir, next(f for f in os.listdir(part_dir) if f.endswith(".parquet")))
    saved = str(tmp_path / "saved.parquet")
    shutil.copyfile(part, saved)
    # one cell changed: same row count, different content.  The rewrite
    # drops the local filesystem's .crc sidecar, as a foreign writer would;
    # a stale one makes the scan raise instead of reporting a mismatch.
    os.remove(os.path.join(part_dir, f".{os.path.basename(part)}.crc"))
    table = pq.read_table(part)
    i = table.schema.get_field_index("o_orderpriority")
    cells = table.column(i).to_pylist()
    cells[0] += "!"
    pq.write_table(table.set_column(i, "o_orderpriority", pa.array(cells, pa.string())), part)
    assert not verify_export_observed(spark, out, metrics, o.schema)
    shutil.copyfile(saved, part)
    assert verify_export_observed(spark, out, metrics, o.schema)
    # one part file lost
    os.remove(part)
    assert not verify_export_observed(spark, out, metrics, o.schema)


def test_export_observed_empty_frame(spark, tmp_path):
    """An export with no rows (e.g. every key tombstoned) reports (0, 0)
    in flight and still verifies against its empty sink."""
    from cassandra_snap_to_hadoop_spark.sources.sinks import (
        export_parquet_observed,
        verify_export_observed,
    )

    empty = spark.createDataFrame([], "pk long, v string")
    out = str(tmp_path / "empty")
    assert export_parquet_observed(empty, out) == (0, 0)
    assert verify_export_observed(spark, out, (0, 0), empty.schema)
