"""Table loading (SURVEY §2-A1): parquet scans with fixed, validated schemas.

Explicit schemas (FIXTURES.md §1-§2) mean Catalyst plans against known types
and any driver-side drift fails loudly at load, not as an oracle hash
mismatch.  Scans stay fully declarative so predicate pushdown / column
pruning reach the parquet reader (verify with ``df.explain`` →
``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_snap_to_hadoop_spark.session import apply_runtime_confs

TABLES: tuple[str, ...] = (
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

# Declared schemas (FIXTURES.md).  ``load`` hands these to the parquet reader
# for every table except ``events`` (see ``load`` for why), so a scan needs no
# footer-inference job and the column types are fixed here, not by the file.
# tests/test_io.py pins them against the footers of every corpus: with
# a declared schema a column missing from the file reads as nulls instead of
# failing, so drift must be caught by that test, not at scan time.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table.  A plain declarative parquet scan, so Catalyst can
    push filters and projections into the reader.

    Every table but ``events`` is read with its declared ``SCHEMAS`` entry:
    Spark then skips the footer-reading inference job, and the declared
    ``TimestampType`` reads naive (isAdjustedToUTC=false) micros as
    TIMESTAMP whatever ``inferTimestampNTZ`` says.

    ``events`` keeps footer inference because its stored ``ts`` unit
    varies: the corpora store micros, but a TIMESTAMP(NANOS) file is also
    supported, and a declared ``TimestampType`` fails on it with
    ``PARQUET_COLUMN_DATA_TYPE_MISMATCH``.  With ``nanosAsLong`` a NANOS
    ``ts`` arrives as int64 nanos and is converted here to TimestampType at
    microsecond precision (the same truncation DuckDB applies, so oracle
    comparisons see identical instants).
    """
    apply_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return spark.read.schema(SCHEMAS[name]).parquet(path)
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    # Defensive twin of inferTimestampNTZ=false (session.py): if the scan
    # ran on a foreign session where that conf couldn't be applied, naive
    # parquet timestamps arrive as TIMESTAMP_NTZ — reinterpret as TIMESTAMP
    # (identical instant under the UTC session timezone).  No-op when the
    # reader conf took effect, so pushdown is unaffected on our sessions.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# r12 (VERDICT r11 item 5): ``df.rdd.getNumPartitions()`` converts the plan
# to an RDD on the driver on EVERY fan_out call — harmless once, measurable
# when the same query is built repeatedly (bench re-runs, plan suite).  The
# split count of a given (application, analyzed plan, split-size conf)
# triple is deterministic, so memoize it on the plan's semantic hash; a
# stale/wrong entry could only mis-decide the repartition heuristic, never
# change results.  Keys lead with the application id and an application's
# entries are useless once it stops, so an insert evicts every other
# application's entries: the cache holds one application's plans at a time.
_FAN_OUT_CACHE: dict[tuple, int] = {}


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure enough partitions for CPU-heavy per-row work (shingling,
    hashing, vector math).

    A small parquet file arrives as ONE scan split, serializing everything
    downstream on one core regardless of cluster size.  At real scale the
    scan already yields thousands of splits and this is a no-op — the
    round-robin repartition only fires when the input is under-split.
    """
    sess = df.sparkSession
    explicit = min_partitions is not None
    target = min_partitions or sess.sparkContext.defaultParallelism
    # r12 (guide §2.4 — don't add shuffles for marginal parallelism): the
    # default heuristic now fires only when the input is SEVERELY
    # under-split (below a quarter of the core count), not merely below
    # it.  Measured: repartitioning a 4-16-split text scan to 32 costs a
    # full shuffle of the payload and made j29 SLOWER on 32 cores than 8
    # at 10x data; the 1-split local case (fan_out's reason to exist)
    # still fires.  Callers passing an explicit min_partitions keep the
    # strict threshold — they know their kernel's parallelism needs.
    floor = target if explicit else max(2, target // 4)
    key = None
    try:
        key = (
            sess.sparkContext.applicationId,
            df._jdf.queryExecution().analyzed().semanticHash(),
            sess.conf.get("spark.sql.files.maxPartitionBytes", ""),
        )
        n = _FAN_OUT_CACHE.get(key)
    except Exception:  # internal-API drift: fall back to direct computation
        n = None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            for stale in [k for k in _FAN_OUT_CACHE if k[0] != key[0]]:
                del _FAN_OUT_CACHE[stale]
            _FAN_OUT_CACHE[key] = n
    if n >= floor:
        return df
    return df.repartition(target)


class Tables:
    """Lazy per-query table accessor: ``t = Tables(spark, sf_dir); t.lineitem``."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise AttributeError(name)
        return load(self._spark, self._sf_dir, name)
