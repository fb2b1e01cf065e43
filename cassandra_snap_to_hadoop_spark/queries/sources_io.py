"""Driver-visible source/sink queries (SURVEY §2-A2..A6).

Each query stages a deterministic artifact under the repo-local scratch dir
(built once per sf_dir from the driver's own tables), drives the engine's
source/sink through it, and reduces the result to aggregates whose oracle is
plain SQL over the ORIGINAL table — so the custom DataSource, the parquet
sink, and incremental ingest are value-checked end-to-end, not just unit-
tested.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.io import load
from cassandra_snap_to_hadoop_spark.queries._util import qsum
from cassandra_snap_to_hadoop_spark.registry import register
from cassandra_snap_to_hadoop_spark.sources.sinks import export_parquet, read_json
from cassandra_snap_to_hadoop_spark.sources.snapshot import (
    incremental_new_files,
    snapshot_manifest,
    snapshot_scan,
)

_SCRATCH = Path(__file__).resolve().parents[2] / ".scratch"

EVENTS_CQL = """
CREATE TABLE harness.events (
    event_id bigint,
    ts timestamp,
    user_id bigint,
    event_type text,
    value double,
    props text,
    PRIMARY KEY ((user_id), ts, event_id)
);
"""


def _stage_dir(sf_dir: str) -> Path:
    return _SCRATCH / Path(sf_dir).name


def _write_gen(spark: SparkSession, snap: Path, gen: str, df: DataFrame) -> None:
    snap.mkdir(parents=True, exist_ok=True)
    (snap / "schema.cql").write_text(EVENTS_CQL)
    tmp = snap / "_tmp"
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.replace(tmp / part, snap / f"{gen}.parquet")
    for leftover in os.listdir(tmp):
        os.remove(tmp / leftover)
    os.rmdir(tmp)


def _stage_snapshots(spark: SparkSession, sf_dir: str) -> Path:
    """events split into snapshot generations: tag-001 = {even, odd} ids;
    tag-002 re-ships both plus a new gen-2 (ids % 10 == 0).  Idempotent."""
    root = _stage_dir(sf_dir) / "snapshots"
    marker = root / "_STAGED"
    if marker.exists():
        return root
    e = load(spark, sf_dir, "events")
    base = root / "harness" / "events" / "snapshots"
    _write_gen(spark, base / "tag-001", "gen-0", e.filter(F.col("event_id") % 2 == 0))
    _write_gen(spark, base / "tag-001", "gen-1", e.filter(F.col("event_id") % 2 == 1))
    _write_gen(spark, base / "tag-002", "gen-0", e.filter(F.col("event_id") % 2 == 0))
    _write_gen(spark, base / "tag-002", "gen-1", e.filter(F.col("event_id") % 2 == 1))
    _write_gen(spark, base / "tag-002", "gen-2", e.filter(F.col("event_id") % 10 == 0))
    marker.write_text("ok")
    return root


@register(
    "a2_snapshot_source_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total_value
    FROM events GROUP BY 1
    """,
    survey="A2",
)
def a2_snapshot_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events staged as a Cassandra snapshot layout (schema.cql + one
    parquet 'SSTable' per generation), read back through the
    ``cassandra_snapshot`` DataSource, aggregated — must equal SQL over the
    original table, proving schema parse + partition-per-file reads."""
    root = _stage_snapshots(spark, sf_dir)
    df = snapshot_scan(spark, str(root), "harness", "events", "tag-001")
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        qsum(F.col("value")).alias("total_value"),
    )


@register(
    "a3_json_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / 100.0 AS total_bal
    FROM customer GROUP BY 1
    """,
    survey="A3",
)
def a3_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer -> JSON-lines -> schema-explicit read -> aggregate."""
    path = _stage_dir(sf_dir) / "customer_json"
    if not (path / "_SUCCESS").exists():
        load(spark, sf_dir, "customer").write.mode("overwrite").json(str(path))
    back = read_json(
        spark,
        str(path),
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"), qsum(F.col("c_acctbal")).alias("total_bal")
    )


@register(
    "a3_orc_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_price
    FROM orders GROUP BY 1
    """,
    survey="A3,A4",
)
def a3_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> ORC sink -> re-scan -> aggregate.  ORC ships in Spark's
    distribution (no extra jars) and is the other columnar lake format a
    Hadoop-destined export realistically lands in; the read side gets the
    same vectorized scan + pushdown treatment as parquet."""
    path = _stage_dir(sf_dir) / "orders_orc"
    if not (path / "_SUCCESS").exists():
        load(spark, sf_dir, "orders").write.mode("overwrite").orc(str(path))
    back = spark.read.orc(str(path))
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), qsum(F.col("o_totalprice")).alias("total_price")
    )


@register(
    "a4_parquet_sink_roundtrip",
    oracle="""
    SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 AS total_price
    FROM lineitem GROUP BY 1
    """,
    survey="A4",
)
def a4_parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem exported through the partitioned sink (partitionBy ship_year,
    bounded files per partition), re-scanned, aggregated per partition key —
    checks the write path AND that partition columns round-trip."""
    path = _stage_dir(sf_dir) / "lineitem_export"
    if not (path / "_SUCCESS").exists():
        li = load(spark, sf_dir, "lineitem").withColumn(
            "ship_year", F.year("l_shipdate").cast("int")
        )
        export_parquet(li, str(path), partition_by=["ship_year"], max_files_per_partition=2)
    back = spark.read.parquet(str(path))
    return back.groupBy(F.col("ship_year").cast("int").alias("ship_year")).agg(
        F.count("*").alias("n"), qsum(F.col("l_extendedprice")).alias("total_price")
    )


@register(
    "a5_incremental_ingest",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS new_value
    FROM events WHERE event_id % 10 = 0
    """,
    survey="A5",
)
def a5_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tag-002 re-ships tag-001's SSTables plus one new generation; the
    manifest anti-join must ingest ONLY the new file's rows (ids%10==0)."""
    root = _stage_snapshots(spark, sf_dir)
    seen = snapshot_manifest(snapshot_scan(spark, str(root), "harness", "events", "tag-001"))
    new = incremental_new_files(spark, str(root), "harness", "events", "tag-002", seen)
    return new.agg(
        F.count("*").alias("n_new"),
        F.countDistinct("event_id").alias("n_ids"),
        qsum(F.col("value")).alias("new_value"),
    )


@register(
    "a6_snapshot_manifest",
    oracle="""
    SELECT CAST(2 AS BIGINT) AS n_sstables,
           CAST(COUNT(*) AS BIGINT) AS total_rows
    FROM events
    """,
    survey="A6",
)
def a6_snapshot_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-copy verification summary: the tag-001 manifest must account for
    exactly 2 SSTables covering every source row (per-file content checksums
    are engine-hash-based and covered by unit tests + the export pair
    export_parquet_observed/verify_export_observed)."""
    root = _stage_snapshots(spark, sf_dir)
    m = snapshot_manifest(snapshot_scan(spark, str(root), "harness", "events", "tag-001"))
    return m.agg(
        F.countDistinct("_sstable").alias("n_sstables"),
        F.sum("n_rows").cast("long").alias("total_rows"),
    )
