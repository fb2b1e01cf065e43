"""Cassandra snapshot source (SURVEY §2-A2, §3.4) — the reference's job
("export Cassandra snapshots to Hadoop") as a Spark scan.

Layout handled (standard ``nodetool snapshot`` output; snapshot files may
be parquet stand-ins OR real binary ``*-Data.db`` SSTables — the record
decoders slot in exactly at the per-file read seam, ``_read_file``):

    <data_dir>/<keyspace>/<table>/snapshots/<tag>/schema.cql
    <data_dir>/<keyspace>/<table>/snapshots/<tag>/gen-*.parquet
    <data_dir>/<keyspace>/<table>/snapshots/<tag>/*-Data.db

Binary SSTables are dispatched by the filename's format version through
``_READERS`` (the family table sits beside it); an unrecognized
``<xx>-<gen>-big-Data.db`` version raises an explicit unsupported-format
error rather than silently misreading.

Design for scale: the driver lists the snapshot's files and parses
``schema.cql`` (Cassandra ships it inside every snapshot since 3.0; the
schema never comes from file inference).  The scan is then one Arrow map
(``mapInArrow``, plan node ``MapInArrow cassandra_snapshot``) over an
index of one row and one partition per file — the SSTable is the
natural parallelism unit of a snapshot, so a 1000-executor cluster
decodes 1000 SSTables concurrently, each task streaming Arrow batches,
with the driver holding only the file list; rows become Arrow batches
of at most ``_BATCH_ROWS`` as they decode.  It is an Arrow map rather
than a Python DataSource because that API makes two Python planner
round trips per scan (schema, then reader and partitions) before a task
starts.  The index is RDD-backed so that the planner reports the scan's
size as unknown, as it would for any source it cannot measure: sized
from a ``range()`` it would look like a few bytes, and joins would
broadcast the whole snapshot.
"""

from __future__ import annotations

import os
import re
from itertools import islice

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cassandra_snap_to_hadoop_spark.sources.sstable import read_ka_sstable
from cassandra_snap_to_hadoop_spark.sources.sstable_compression import (
    compression_info_path_for,
    decompress_data_db,
)
from cassandra_snap_to_hadoop_spark.sources.sstable_ma import read_ma_sstable
from cassandra_snap_to_hadoop_spark.sources.sstable_na import read_na_sstable
from cassandra_snap_to_hadoop_spark.sources.sstable_oa import scan_oa_sstable

# CQL -> Spark DDL type mapping (SURVEY §1.1 table).
_CQL_TO_SPARK = {
    "text": "string",
    "ascii": "string",
    "varchar": "string",
    "int": "int",
    "bigint": "long",
    "varint": "long",
    "smallint": "short",
    "tinyint": "byte",
    "float": "float",
    "double": "double",
    "decimal": "decimal(38,18)",
    "boolean": "boolean",
    "timestamp": "timestamp",
    "date": "date",
    "time": "long",
    "uuid": "string",
    "timeuuid": "string",
    "inet": "string",
    "blob": "binary",
    "counter": "long",
}


def _cql_type_to_spark(t: str) -> str:
    """One CQL column type as a Spark DDL type: primitives through
    ``_CQL_TO_SPARK``, frozen/list/set/map collections recursively."""
    t = re.sub(r"^frozen\s*<(.*)>$", r"\1", t.strip().lower())
    coll = re.match(r"(list|set|map)\s*<(.*)>$", t)
    if coll:
        kind, inner = coll.group(1), coll.group(2)
        if kind == "map":
            k, v = [s.strip() for s in inner.split(",", 1)]
            return f"map<{_cql_type_to_spark(k)},{_cql_type_to_spark(v)}>"
        return f"array<{_cql_type_to_spark(inner)}>"
    return _CQL_TO_SPARK[t]


def _spark_ddl(columns) -> str:
    return ", ".join(f"{name} {_cql_type_to_spark(ctype)}" for name, ctype in columns)


def parse_schema_cql(cql: str) -> str:
    """Parse a snapshot's ``schema.cql`` CREATE TABLE into a Spark DDL
    schema string: :func:`parse_table_meta`'s columns rendered through
    the CQL -> Spark type mapping.  Handles primitives plus
    list/set/map/frozen collections; PRIMARY KEY clauses are layout
    metadata, not columns."""
    return _spark_ddl(parse_table_meta(cql).columns)


def parse_table_meta(cql: str):
    """Full schema metadata for the binary SSTable codec: ordered
    (column, cql_type) pairs plus the PRIMARY KEY split into partition and
    clustering columns.  Handles both the inline ``col type PRIMARY KEY``
    form and the table-level ``PRIMARY KEY ((pk1, pk2), ck1, ck2)`` form
    (parenthesized group = composite partition key)."""
    from cassandra_snap_to_hadoop_spark.sources.sstable import TableMeta

    m = re.search(r"CREATE\s+TABLE[^(]*\(", cql, re.IGNORECASE | re.DOTALL)
    if not m:
        raise ValueError("no CREATE TABLE found in schema.cql")
    # scan to the matching close paren (the WITH clause may contain parens)
    depth, start, end = 1, m.end(), None
    for i in range(m.end(), len(cql)):
        if cql[i] == "(":
            depth += 1
        elif cql[i] == ")":
            depth -= 1
            if depth == 0:
                end = i
                break
    if end is None:
        raise ValueError("unbalanced CREATE TABLE parentheses in schema.cql")
    body = cql[start:end]
    partition: list[str] = []
    clustering: list[str] = []
    pk = re.search(
        r"PRIMARY\s+KEY\s*\(\s*(\([^)]*\)|[^,()]+)\s*(?:,\s*([^)]*))?\)",
        body,
        re.IGNORECASE,
    )
    if pk:
        head = pk.group(1).strip()
        if head.startswith("("):
            partition = [c.strip().strip('"') for c in head[1:-1].split(",")]
        else:
            partition = [head.strip('"')]
        if pk.group(2):
            clustering = [
                c.strip().strip('"') for c in pk.group(2).split(",") if c.strip()
            ]
    # one nesting level is enough: PRIMARY KEY ((pk1, pk2), ck1, ...)
    body_wo_pk = re.sub(
        r",?\s*PRIMARY\s+KEY\s*\((?:[^()]|\([^)]*\))*\)",
        "",
        body,
        flags=re.IGNORECASE,
    )
    columns: list[tuple[str, str]] = []
    depth, current, fields = 0, "", []
    for ch in body_wo_pk:
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            fields.append(current)
            current = ""
        else:
            current += ch
    if current.strip():
        fields.append(current)
    for f in fields:
        f = f.strip().rstrip(",")
        if not f:
            continue
        parts = f.split(None, 1)
        if len(parts) != 2:
            continue
        name, ctype = parts
        inline_pk = re.search(r"PRIMARY\s+KEY", ctype, re.IGNORECASE)
        ctype = re.sub(
            r"\s+(static|PRIMARY\s+KEY).*$", "", ctype, flags=re.IGNORECASE
        ).strip()
        clean = name.strip('"')
        columns.append((clean, ctype.lower()))
        if inline_pk and not partition:
            partition = [clean]
    return TableMeta(columns, partition, clustering)


def _snapshot_dir(data_dir: str, keyspace: str, table: str, tag: str) -> str:
    return os.path.join(data_dir, keyspace, table, "snapshots", tag)


def _list_snapshot_files(snap_dir: str) -> list[str]:
    return sorted(
        os.path.join(snap_dir, f)
        for f in os.listdir(snap_dir)
        if f.endswith(".parquet") or f.endswith("-Data.db")
    )


_BATCH_ROWS = 8192

# The SSTable format family.  Each rung keeps the row core below it and
# adds integrity or index components around it:
#
#   version  Cassandra  module           reader checks, in order
#   ka/la    2.x        sstable.py       none (cell-oriented layout)
#   ma       3.0+       sstable_ma.py    Statistics.db stats sidecar
#   na/nb    4.x        sstable_na.py    Digest.crc32, CRC.db chunk CRCs,
#                                        checksummed Statistics.db
#   oa       5.0        sstable_oa.py    as na, plus the BTI index
#                                        (Partitions.db/Rows.db) that
#                                        drives the decode
#
# A CompressionInfo.db beside any Data.db (sstable_compression.py) means
# chunked-compressed bytes, verified and decompressed before the reader
# runs.  Every reader takes (path, meta, as_of, raw) and yields row dicts
# (``meta`` columns plus ``_writetime``).
_READERS = {
    "ma": read_ma_sstable,
    "na": read_na_sstable,
    "nb": read_na_sstable,
    "oa": scan_oa_sstable,
}


def _read_file(path: str, schema, meta, as_of: int, want_wt: bool):
    """Decode one snapshot file into Arrow batches of the scan's schema.
    ``want_wt`` asks for the SYNTHETIC ``_writetime`` column, which the
    scan only appends when ``schema.cql`` declares no ``_writetime``
    data column of its own (the parquet stand-in fixtures do)."""
    if path.endswith("-Data.db"):
        yield from _read_sstable(path, schema, meta, as_of, want_wt)
        return
    # Arrow-batch streaming read of one parquet stand-in "SSTable".
    import pyarrow as pa
    import pyarrow.parquet as pq

    skip = {"_sstable"} | ({"_writetime"} if want_wt else set())
    want = [f.name for f in schema.fields if f.name not in skip]
    table = pq.read_table(path, columns=want)
    # Spark's Arrow bridge rejects nanosecond timestamps (e.g. from
    # INT96 or TIMESTAMP(NANOS) files) — coerce to microseconds.
    for i, field in enumerate(table.schema):
        if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
            table = table.set_column(
                i, field.name, table.column(i).cast(pa.timestamp("us", field.type.tz))
            )
    tag = pa.array([path] * table.num_rows, type=pa.string())
    table = table.append_column("_sstable", tag)
    if want_wt:
        # parquet stand-ins carry no cell timestamps
        table = table.append_column(
            "_writetime", pa.array([None] * table.num_rows, type=pa.int64())
        )
    yield from table.to_batches(max_chunksize=_BATCH_ROWS)


def _read_sstable(path: str, schema, meta, as_of: int, want_wt: bool):
    """Decode one Data.db file executor-side: read it, decompress it
    when a CompressionInfo.db sits beside it, pick the reader by the
    filename's version (``<xx>-<gen>-big-Data.db``; anything else is the
    legacy ``<ks>-<table>-ka-<gen>-Data.db``), and stream its rows into
    Arrow batches."""
    import pyarrow as pa

    with open(path, "rb") as fh:
        raw = fh.read()
    if os.path.exists(compression_info_path_for(path)):
        raw = decompress_data_db(path, raw)
    base = os.path.basename(path)
    version = base.partition("-")[0]
    if version not in _READERS and re.match(r"^[a-z]{2}-\d+-big-Data\.db$", base):
        # a future format must never fall through to the 2.x parser
        raise ValueError(
            f"unsupported SSTable format version {version!r} in "
            f"{base} — this source decodes ka/la (2.x), ma (3.x), "
            f"na/nb (4.x) and oa (5.0)"
        )
    rows = iter(_READERS.get(version, read_ka_sstable)(path, meta, as_of, raw))
    arrow = pa.schema(
        [pa.field(f.name, _arrow_type(f.dataType.simpleString())) for f in schema.fields]
    )
    while chunk := list(islice(rows, _BATCH_ROWS)):
        cols = []
        for name, ctype in meta.columns:
            col = [r.get(name) for r in chunk]
            if ctype == "timestamp":  # Cassandra millis -> micros
                col = [None if v is None else v * 1000 for v in col]
            cols.append(col)
        cols.append([path] * len(chunk))
        if want_wt:
            cols.append([r["_writetime"] for r in chunk])
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
        )


_ARROW_BY_SPARK = {
    "string": "string",
    "bigint": "int64",
    "int": "int32",
    "smallint": "int16",
    "tinyint": "int8",
    "double": "float64",
    "float": "float32",
    "boolean": "bool_",
    "binary": "binary",
    "date": "date32",
}


def _arrow_type(spark_simple: str):
    import pyarrow as pa

    if spark_simple.startswith("timestamp"):
        return pa.timestamp("us")
    if spark_simple.startswith("decimal"):
        m = re.match(r"decimal\((\d+),(\d+)\)", spark_simple)
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    return getattr(pa, _ARROW_BY_SPARK[spark_simple])()


def snapshot_scan(
    spark: SparkSession,
    data_dir: str,
    keyspace: str,
    table: str,
    tag: str,
    **options: str,
) -> DataFrame:
    """A2 entry point: scan one snapshot tag as a DataFrame of the
    ``schema.cql`` columns plus ``_sstable`` (source file, so downstream
    LWW merges can audit which generation won).  Extra options:
    ``writetime="true"`` appends the per-row ``_writetime`` column (max
    surviving cell timestamp — binary SSTables only; parquet stand-ins
    yield NULL) unless ``schema.cql`` already declares one, which is
    then kept as the only ``_writetime``; ``as_of=<epoch s>`` pins the
    TTL-expiry reference instant for deterministic reads.

    The driver lists the files and parses ``schema.cql``; each file is
    then decoded by one task of the ``cassandra_snapshot`` Arrow map,
    whose size the planner reports as unknown
    (``spark.sql.defaultSizeInBytes``), so joins shuffle the snapshot
    rather than broadcast it.  A snapshot with no data files scans as an
    empty frame of the declared schema."""
    snap = _snapshot_dir(data_dir, keyspace, table, tag)
    with open(os.path.join(snap, "schema.cql")) as fh:
        cql = fh.read()
    as_of = int(options.get("as_of", 2**31 - 1))
    meta = parse_table_meta(cql)
    want_wt = (
        str(options.get("writetime", "false")).lower() == "true"
        and "_writetime" not in meta.types
    )
    ddl = _spark_ddl(meta.columns) + ", _sstable string"
    if want_wt:
        ddl += ", _writetime long"
    schema = StructType.fromDDL(ddl)
    files = _list_snapshot_files(snap)
    if not files:
        return spark.createDataFrame([], schema)

    def cassandra_snapshot(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                yield from _read_file(files[i], schema, meta, as_of, want_wt)

    # One index row and one partition per file, rebuilt as an RDD-backed
    # relation so it has no size estimate (a range() index is sized at 8
    # bytes a row).  toDF() makes the JVM rows Rows rather than Longs.
    idx = spark.range(len(files), numPartitions=len(files))._jdf.toDF()
    jdf = spark._jsparkSession.createDataFrame(idx.javaRDD(), idx.schema())
    return DataFrame(jdf, spark).mapInArrow(cassandra_snapshot, schema)


def snapshot_manifest(df: DataFrame) -> DataFrame:
    """A6: per-SSTable manifest — row counts + order-insensitive content
    checksum (sum of per-row xxhash64), the post-copy verification the
    reference performs with file listings, done on *content* instead."""
    data_cols = [c for c in df.columns if c != "_sstable"]
    # hash reduced mod 2^31 before the sum: order-insensitive and overflow-
    # safe under ANSI arithmetic at any SSTable size.
    h = F.pmod(F.xxhash64(*data_cols), F.lit(2_147_483_647))
    return df.groupBy("_sstable").agg(
        F.count("*").alias("n_rows"),
        F.sum(h).alias("content_checksum"),
    )


def incremental_new_files(
    spark: SparkSession, data_dir: str, keyspace: str, table: str, tag: str, seen_manifest: DataFrame
) -> DataFrame:
    """A5: incremental snapshot ingest — scan a new tag, keep only rows from
    SSTables not present in ``seen_manifest`` (file-level anti-join; at
    cluster scale the manifest is tiny and broadcasts)."""
    df = snapshot_scan(spark, data_dir, keyspace, table, tag)
    seen_names = seen_manifest.select(
        F.element_at(F.split(F.col("_sstable"), "/"), -1).alias("_file")
    ).distinct()
    named = df.withColumn("_file", F.element_at(F.split(F.col("_sstable"), "/"), -1))
    return named.join(F.broadcast(seen_names), "_file", "left_anti").drop("_file")
