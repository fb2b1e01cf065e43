"""SparkSession factory with the engine's scale-oriented defaults.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores);
the same configs are the right starting point on a real cluster — AQE owns
runtime re-planning (partition coalescing, skew-join splitting, broadcast
conversion), Arrow backs every Python<->JVM batch transfer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Deployment profile (r12, VERDICT r11 item 3): the two 16 MB sizing knobs
# below exist to keep the KB-to-MB *local test corpus* parallel across
# cores; they would be pathological defaults on a cluster scanning TB
# tables (tiny splits, tiny reduce partitions).  They are therefore gated
# on the profile: the default "local" profile ships them (bench-comparable
# on the driver box), any other value (e.g. SPARK_GRAFT_PROFILE=cluster)
# inherits Spark's own defaults (128 MB splits, 64 MB advisory) unless the
# deployment overrides them explicitly — same env-var pattern as
# SPARK_GRAFT_CPUS.
_PROFILE = os.environ.get("SPARK_GRAFT_PROFILE", "local")

ENGINE_CONFS: dict[str, str] = {
    # AQE: runtime shuffle-partition coalescing, skew-join splitting, and
    # SMJ->broadcast conversion.  This is the 100-TB answer to skew/sizing:
    # plans are declared key-partitioned and AQE right-sizes at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime bloom-filter pushdown for selective joins (SURVEY §4).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Arrow for all pandas UDF / toPandas traffic.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic wall-clock timestamp semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Columnar parquet + pushdown are on by default; pin them explicitly so
    # a misconfigured environment can't silently disable the fast path.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Spark 4 rejects parquet TIMESTAMP(NANOS) (events.ts) outright; read the
    # raw int64 nanos and convert at the ingest boundary (io.load).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Testdata timestamps are naive micros (isAdjustedToUTC=false).  Read
    # them as TIMESTAMP (LTZ) rather than TIMESTAMP_NTZ: with the UTC
    # session timezone the instant is identical, chrono functions
    # (unix_millis, window, watermarks) stay applicable, and doing it in
    # the reader (not a cast) keeps timestamp predicate pushdown intact.
    # DuckDB reads the same files as naive timestamps, so oracle
    # comparisons agree wall-clock-for-wall-clock.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Write timestamps as INT64 micros (INT96 is deprecated and breaks
    # Arrow-based readers).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}

if _PROFILE == "local":
    # AQE coalesce target: the 64 MB default collapses the local corpus's
    # shuffles to ~6 partitions and leaves cores idle behind one straggler;
    # 16 MB keeps CPU-heavy reduce stages parallel.
    ENGINE_CONFS["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = str(16 * 1024 * 1024)
    # Scan split size: 16 MB keeps small single-file tables (the local test
    # corpus) parallel across cores.  On a cluster the default 128 MB
    # amortizes scheduling better; row-group size bounds the effective
    # minimum either way.
    ENGINE_CONFS["spark.sql.files.maxPartitionBytes"] = str(16 * 1024 * 1024)


def get_spark(app_name: str = "cs2h_spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``cpus`` only applies when no session exists yet (master is fixed at
    session creation).  Shuffle partitions default to the core count — at
    cluster scale this would instead be sized to total executor cores and
    AQE coalesces down.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Shuffle partitions follow the core count (r12, VERDICT r11 item 8):
    # a constant 32 over-parallelizes small-core runs (the c8 bench beat
    # the c32 bench on four queries purely on task overhead) and is a
    # local[32] constant at cluster scale.  AQE still right-sizes upward-
    # skewed stages; on a cluster, size this to total executor cores.
    shuffle_parts = cpus if cpus.isdigit() else str(os.cpu_count() or 32)
    # Python workers import this package by name (the snapshot decode,
    # every Python UDF); put its parent dir first on their path so a
    # session started from any cwd finds it.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_path = os.pathsep.join(p for p in (pkg_parent, os.environ.get("PYTHONPATH")) if p)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
        # Fork Python workers from this package's daemon.  Each task's
        # setup calls importlib.invalidate_caches(), which makes every
        # zipimporter re-read its archive's directory (pyspark.zip, py4j,
        # spark-core jar): 0.26-0.32 s of every Python task, measured on
        # 4 vCPU with CPython 3.11 and pyspark 4.1.
        # The daemon's workers re-read an archive only when its (mtime,
        # size, inode) stamp changed since their last re-read, so a
        # changed archive is never served stale.  Static conf: a foreign
        # session (apply_runtime_confs) cannot take it and keeps Spark's
        # own daemon.
        .config("spark.python.daemon.module", "cassandra_snap_to_hadoop_spark.worker_daemon")
    )
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's *runtime-mutable* confs to a foreign session.

    The driver harness constructs its own SparkSession; query entry points
    call this so correctness-critical settings (UTC session timezone, AQE,
    Arrow) hold regardless of who built the session.
    """
    for k, v in ENGINE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — keep whatever it has
    return spark


def drop_persisted(spark: SparkSession) -> None:
    """Unpersist every persisted RDD between queries of a sweep.

    The engine's lazy ``localCheckpoint`` lineage cuts persist their
    relation on first use; every run builds FRESH DataFrames, so the
    previous run's persisted blocks are unreachable dead weight that
    otherwise waits on the JVM ContextCleaner.  Dropping them at each
    query boundary keeps session memory flat across a sweep and
    guarantees no persisted state crosses query boundaries (the
    no-cross-run-caching contract).  Results are unaffected; call it
    outside any timed region."""
    try:
        for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist()
    except Exception:
        pass  # introspection API drift must never fail a sweep
