"""Cassandra snapshot source (SURVEY §2-A2, §3.4) — the reference's job
("export Cassandra snapshots to Hadoop") as a Spark scan.

Layout handled (standard ``nodetool snapshot`` output; snapshot files may
be parquet stand-ins OR real binary ``*-Data.db`` SSTables — the record
decoders slot in exactly at the per-file read seam, ``_read_file``):

    <data_dir>/<keyspace>/<table>/snapshots/<tag>/schema.cql
    <data_dir>/<keyspace>/<table>/snapshots/<tag>/gen-*.parquet
    <data_dir>/<keyspace>/<table>/snapshots/<tag>/*-Data.db

SSTable format boundary (VERDICT r7 item 8, closed through 5.0 in
round 11): the legacy Cassandra 2.x ``ka``/``la`` cell-oriented format
is decoded by ``sources/sstable.py`` (era-correct for the reference),
the Cassandra 3.x ``ma`` row-oriented format (vints, flags, delta
timestamps) by ``sources/sstable_ma.py``, the Cassandra 4.x
``na``/``nb`` format (same row core + digest/chunk checksums verified
on read + checksummed stats metadata) by ``sources/sstable_na.py``,
and the Cassandra 5.0 ``oa`` format (extended deletion times, key-range
stats metadata, BTI trie-indexed Partitions.db/Rows.db driving the
scan) by ``sources/sstable_oa.py`` — dispatch is by the generation
filename (``oa-``/``na-``/``nb-``/``ma-<gen>-big-Data.db`` vs
``<ks>-<table>-ka-<gen>-Data.db``).  An unrecognized
``<xx>-<gen>-big-Data.db`` version raises an explicit
unsupported-format error rather than silently misreading.

Design for scale: the driver lists the snapshot's files and parses
``schema.cql`` (Cassandra ships it inside every snapshot since 3.0; the
schema never comes from file inference).  The scan is then one Arrow map
(``mapInArrow``, plan node ``MapInArrow cassandra_snapshot``) over an
index of one row and one partition per file — the SSTable is the
natural parallelism unit of a snapshot, so a 1000-executor cluster
decodes 1000 SSTables concurrently, each task streaming Arrow batches,
with the driver holding only the file list.  It is an Arrow map rather
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


def parse_schema_cql(cql: str) -> str:
    """Parse a snapshot's ``schema.cql`` CREATE TABLE into a Spark DDL
    schema string: :func:`parse_table_meta`'s columns rendered through
    the CQL -> Spark type mapping.  Handles primitives plus
    list/set/map/frozen collections; PRIMARY KEY clauses are layout
    metadata, not columns."""

    def cql_type_to_spark(t: str) -> str:
        t = t.strip().lower()
        t = re.sub(r"^frozen\s*<(.*)>$", r"\1", t)
        coll = re.match(r"(list|set|map)\s*<(.*)>$", t)
        if coll:
            kind, inner = coll.group(1), coll.group(2)
            if kind == "map":
                k, v = [s.strip() for s in inner.split(",", 1)]
                return f"map<{cql_type_to_spark(k)},{cql_type_to_spark(v)}>"
            return f"array<{cql_type_to_spark(inner)}>"
        return _CQL_TO_SPARK[t]

    return ", ".join(
        f"{name} {cql_type_to_spark(ctype)}"
        for name, ctype in parse_table_meta(cql).columns
    )


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


def _read_file(path: str, schema, meta, as_of: int, want_wt: bool):
    """Decode one snapshot file into Arrow batches of the scan's schema.
    ``_writetime`` is SYNTHETIC only when ``want_wt`` (the writetime
    option) asked for it; a source table may legitimately carry a
    _writetime DATA column (the parquet stand-in fixtures do) and must
    keep it."""
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
    yield from table.to_batches(max_chunksize=8192)


def _read_sstable(path: str, schema, meta, as_of: int, want_wt: bool):
    """Decode one Data.db file executor-side (the binary seam VERDICT
    r1-r6 tracked).  Format dispatch is by the SSTable filename's
    version component, exactly how Cassandra names generations:

    * ``oa-<gen>-big-Data.db`` — Cassandra 5.0 format
      (``sources/sstable_oa.py``; digest + chunk checksums AND both
      BTI index sidecars verified, decode driven by the
      Partitions.db trie);
    * ``na-``/``nb-<gen>-big-Data.db`` — Cassandra 4.x format
      (``sources/sstable_na.py``; digest + chunk checksums VERIFIED
      before decode, checksummed stats sidecar required);
    * ``ma-<gen>-big-Data.db`` — Cassandra 3.x row-oriented format
      (``sources/sstable_ma.py``; requires the stats sidecar);
    * any OTHER ``<xx>-<gen>-big-Data.db`` — an explicit
      unsupported-version error (a future 5.x/6.x format must never
      fall through to the 2.x cell parser and fail with a decode
      error three rows in);
    * anything else ``*-Data.db`` (``<ks>-<table>-ka-<gen>-Data.db``)
      — the legacy 2.x cell-oriented ``ka`` format
      (``sources/sstable.py``)."""
    import pyarrow as pa

    from cassandra_snap_to_hadoop_spark.sources.sstable import parse_data_db

    with open(path, "rb") as fh:
        raw = fh.read()
    # Compression is orthogonal to the row format and signalled BY
    # COMPONENT PRESENCE (exactly how real readers decide): a
    # CompressionInfo.db beside the Data.db means chunked-compressed
    # bytes — verify + decompress executor-side, then dispatch the
    # row core as usual.
    from cassandra_snap_to_hadoop_spark.sources.sstable_compression import (
        compression_info_path_for,
        decompress_data_db,
    )

    if os.path.exists(compression_info_path_for(path)):
        raw = decompress_data_db(path, raw)
    base = os.path.basename(path)
    if base.startswith("oa-"):
        from cassandra_snap_to_hadoop_spark.sources.sstable_oa import (
            scan_oa_sstable,
        )

        row_iter = scan_oa_sstable(path, meta, as_of=as_of, raw=raw)
    elif base.startswith(("na-", "nb-")):
        from cassandra_snap_to_hadoop_spark.sources.sstable_na import (
            parse_na_data_db,
            read_na_stats_db,
            stats_path_for,
            verify_na_integrity,
        )

        verify_na_integrity(path, raw)
        stats, _na_meta = read_na_stats_db(stats_path_for(path))
        row_iter = parse_na_data_db(raw, meta, stats, as_of=as_of)
    elif base.startswith("ma-"):
        from cassandra_snap_to_hadoop_spark.sources.sstable_ma import (
            parse_ma_data_db,
            read_stats_db,
            stats_path_for,
        )

        stats = read_stats_db(stats_path_for(path))
        row_iter = parse_ma_data_db(raw, meta, stats, as_of=as_of)
    else:
        m = re.match(r"^([a-z]{2})-\d+-big-Data\.db$", base)
        if m:
            raise ValueError(
                f"unsupported SSTable format version {m.group(1)!r} in "
                f"{base} — this source decodes ka/la (2.x), ma (3.x), "
                f"na/nb (4.x) and oa (5.0)"
            )
        row_iter = parse_data_db(raw, meta, as_of=as_of)
    cols: dict[str, list] = {name: [] for name, _ in meta.columns}
    wts: list = []
    n_rows = 0
    for row in row_iter:
        n_rows += 1
        for name, ctype in meta.columns:
            v = row.get(name)
            if v is not None and ctype == "timestamp":
                v = v * 1000  # Cassandra millis -> micros
            cols[name].append(v)
        wts.append(row["_writetime"])
    arrays, fields = [], []
    spark_by_name = {f.name: f for f in schema.fields}
    for name, _ in meta.columns:
        if name not in spark_by_name:
            continue
        at = _arrow_type(spark_by_name[name].dataType.simpleString())
        arrays.append(pa.array(cols[name], type=at))
        fields.append(pa.field(name, at))
    arrays.append(pa.array([path] * n_rows, type=pa.string()))
    fields.append(pa.field("_sstable", pa.string()))
    if want_wt:
        arrays.append(pa.array(wts, type=pa.int64()))
        fields.append(pa.field("_writetime", pa.int64()))
    table = pa.Table.from_arrays(arrays, schema=pa.schema(fields))
    yield from table.to_batches(max_chunksize=8192)


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
    yield NULL), ``as_of=<epoch s>`` pins the TTL-expiry reference
    instant for deterministic reads.

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
    want_wt = str(options.get("writetime", "false")).lower() == "true"
    ddl = parse_schema_cql(cql) + ", _sstable string"
    if want_wt:
        ddl += ", _writetime long"
    schema = StructType.fromDDL(ddl)
    files = _list_snapshot_files(snap)
    if not files:
        return spark.createDataFrame([], schema)
    meta = parse_table_meta(cql)

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
