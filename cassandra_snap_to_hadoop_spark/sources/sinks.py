"""Sinks (SURVEY §2-A3/A4): the "to Hadoop" half of the reference, plus
secondary CSV/JSON ingest with explicit schemas.

The reference shells out to ``hadoop fs -put`` per file; here the sink is a
partitioned, compressed parquet write whose layout is chosen for downstream
reads: partition columns enable static + dynamic partition pruning, and a
bounded file count per partition keeps the small-file problem away from the
NameNode (the classic failure mode of file-copy ETL at scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def export_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    max_files_per_partition: int | None = None,
) -> None:
    """A4: partitioned snappy parquet export.

    ``max_files_per_partition`` repartitions by the partition columns first
    so each output directory gets a bounded number of files — at 100 TB an
    unrepartitioned write emits (shuffle partitions × partition values)
    files, which is how data lakes drown in 4 KB objects.
    """
    writer_df = df
    if partition_by and max_files_per_partition:
        writer_df = df.repartition(max_files_per_partition, *[F.col(c) for c in partition_by])
    writer = writer_df.write.mode(mode).option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _fingerprint(cols: list[str]) -> list[Column]:
    """Row count + order-insensitive content checksum over ``cols``.  The
    per-row hash is reduced mod 2^31 before summing: commutative, and the
    long accumulator cannot overflow under ANSI arithmetic at any row count
    that fits a cluster.  An empty frame checksums to 0."""
    h = F.pmod(F.xxhash64(*[F.col(c).cast("string") for c in sorted(cols)]), F.lit(2_147_483_647))
    return [F.count(F.lit(1)).alias("n"), F.coalesce(F.sum(h), F.lit(0)).alias("checksum")]


def verify_export(spark: SparkSession, df: DataFrame, path: str, key_cols: list[str]) -> bool:
    """Two-pass A6 verification for a caller that holds only the source
    frame: evaluates ``df``'s whole plan again for its fingerprint, then
    checks the sink like ``verify_export_observed``.  The export job never
    pays that second source pass; it writes through
    ``export_parquet_observed`` instead."""
    row = df.select(*_fingerprint(df.columns)).collect()[0]
    return verify_export_observed(spark, path, (row.n, row.checksum), df.columns)


def read_csv(spark: SparkSession, path: str, schema_ddl: str, **options) -> DataFrame:
    """A3: CSV ingest with an explicit schema — inference is a full extra
    pass over the data and type-unstable; the engine never uses it."""
    return spark.read.schema(schema_ddl).options(header="true", **options).csv(path)


def read_json(spark: SparkSession, path: str, schema_ddl: str, **options) -> DataFrame:
    """A3: JSON-lines ingest with an explicit schema."""
    return spark.read.schema(schema_ddl).options(**options).json(path)


def export_parquet_observed(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    max_files_per_partition: int | None = None,
) -> tuple[int, int]:
    """A4+A6 fused: export with ``df.observe`` metrics — the source-side
    row count and content checksum are accumulated BY the write job itself
    (Spark's observation API attaches aggregates to the plan without an
    extra action), so post-copy verification drops from three distributed
    passes (write + source re-scan + sink re-scan) to two.  At 100 TB the
    saved pass is hours.  Returns (n_rows, checksum) as observed in-flight.

    Failure direction: if the in-flight metrics over-count (a retried
    stage can report its rows twice), ``verify_export_observed`` fails.
    It can never make a bad sink pass: the sink side is an independent
    scan of what was written.
    """
    obs = Observation("export_metrics")
    observed = df.observe(obs, *_fingerprint(df.columns))
    export_parquet(observed, path, partition_by, mode, max_files_per_partition)
    got = obs.get
    return int(got["n"]), int(got["checksum"])


def verify_export_observed(
    spark: SparkSession, path: str, expected: tuple[int, int], cols: list[str]
) -> bool:
    """Sink-side half of the observed verification: one scan of the export,
    same commutative fingerprint, compared to the in-flight metrics."""
    row = spark.read.parquet(path).select(*_fingerprint(cols)).collect()[0]
    return (row.n, row.checksum) == tuple(expected)
