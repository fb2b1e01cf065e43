"""The reference tool's job as one command (SURVEY §3.1 -> §3.4).

``deimosfr/cassandra_snap_to_hadoop`` is invoked from cron to push a
Cassandra snapshot into HDFS; this module is that exact surface on Spark:

    python -m cassandra_snap_to_hadoop_spark.export \
        --data-dir /var/lib/cassandra/data --keyspace ks1 --table events \
        --tag snap-2026-08-13 --out hdfs://nn/warehouse/ks1/events \
        [--merge] [--asof-micros N] [--partition-by col ...] [--no-verify]

Where the reference copies raw SSTable bytes file-by-file through
``hadoop fs -put``, this job is one Spark plan: snapshot scan (per-SSTable
parallel) -> optional LWW merge + tombstone/TTL application -> partitioned
columnar write -> content-checksum verification.  Raw mode (no --merge)
preserves every generation's rows plus ``_sstable`` lineage, byte-for-byte
relocatable like the reference; merged mode lands the queryable
point-in-time state.

Verification has one tier: the write job itself fingerprints the rows it
receives (row count + order-insensitive xxhash64 checksum, taken with
``df.observe``), and one independent scan of the written sink must
reproduce both.  The source plan runs once.  ``--no-verify`` skips the
sink scan and reports ``"verified": null``.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession

from cassandra_snap_to_hadoop_spark.operators.cassandra import (
    apply_tombstones,
    apply_ttl,
    lww_merge,
)
from cassandra_snap_to_hadoop_spark.sources.sinks import (
    export_parquet_observed,
    verify_export_observed,
)
from cassandra_snap_to_hadoop_spark.sources.snapshot import snapshot_scan


def export_snapshot(
    spark: SparkSession,
    data_dir: str,
    keyspace: str,
    table: str,
    tag: str,
    out: str,
    merge: bool = False,
    key_cols: list[str] | None = None,
    asof_micros: int | None = None,
    partition_by: list[str] | None = None,
    verify: bool = True,
) -> dict:
    """Run the export; returns a summary dict: mode, rows exported and
    their in-flight checksum (as the write job observed them), whether
    the sink verified (``None`` when ``verify`` is off), and the sink."""
    df: DataFrame = snapshot_scan(spark, data_dir, keyspace, table, tag)
    mode = "raw"
    if merge:
        mode = "merged"
        if "_writetime" not in df.columns:
            # binary SSTables: ask the scan for the synthetic cell
            # timestamp; a stand-in's _writetime data column is kept
            df = snapshot_scan(spark, data_dir, keyspace, table, tag, writetime="true")
        keys = key_cols or ["pk", "ck"]
        seq = "_seq" if "_seq" in df.columns else None
        df = lww_merge(df.drop("_sstable"), keys, "_writetime", seq)
        if "_tombstone" in df.columns:
            df = apply_tombstones(df)
        if asof_micros is not None and "_ttl" in df.columns:
            df = apply_ttl(df, asof_micros)
    n, checksum = export_parquet_observed(df, out, partition_by=partition_by, mode="overwrite")
    ok = verify_export_observed(spark, out, (n, checksum), df.columns) if verify else None
    return {
        "mode": mode,
        "rows_exported": n,
        "verified": ok,
        "out": out,
        "observed_checksum": checksum,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Export a Cassandra snapshot to Hadoop-side parquet")
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--keyspace", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--tag", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--merge", action="store_true", help="LWW-merge + tombstone/TTL before writing")
    ap.add_argument("--key-cols", nargs="*", default=None)
    ap.add_argument("--asof-micros", type=int, default=None)
    ap.add_argument("--partition-by", nargs="*", default=None)
    ap.add_argument("--no-verify", action="store_true")
    args = ap.parse_args(argv)

    from cassandra_snap_to_hadoop_spark.session import get_spark

    spark = get_spark("cs2h-export")
    summary = export_snapshot(
        spark,
        args.data_dir,
        args.keyspace,
        args.table,
        args.tag,
        args.out,
        merge=args.merge,
        key_cols=args.key_cols,
        asof_micros=args.asof_micros,
        partition_by=args.partition_by,
        verify=not args.no_verify,
    )
    print(json.dumps(summary))
    return 0 if summary["verified"] in (True, None) else 1


if __name__ == "__main__":
    sys.exit(main())
