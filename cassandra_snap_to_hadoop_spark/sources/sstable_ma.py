"""Modern Cassandra SSTable ``ma``-format Data.db codec (SURVEY §2-A36).

The Cassandra 3.0+ row-oriented format (CASSANDRA-8099 storage engine):
flags bytes, Cassandra vint coding, and delta-encoded
timestamps/TTLs/deletion-times against per-SSTable ``EncodingStats``
minimums.  This is the family's shared row core: ``na``/``nb`` and
``oa`` reuse it (the family table is in ``sources/snapshot.py``), and
``parse_partition_at`` is the seam the ``oa`` index-driven reader calls.

Byte layout implemented (the public 3.0 BIG-format serialization):

    partition  := <u16 key_len><key bytes>
                  <i32 localDeletionTime><i64 markedForDeleteAt>
                  unfiltered* <flags 0x01>          -- END_OF_PARTITION
    unfiltered := <u8 flags> clustering
                  <uvint body_size><uvint prev_size> body
    body       := [<uvint ts_delta>]                -- HAS_TIMESTAMP
                  cell*                             -- HAS_ALL_COLUMNS
    cell       := <u8 cell_flags>
                  [<uvint ts_delta>]                -- !USE_ROW_TIMESTAMP
                  [<uvint ldt_delta>]               -- deleted|expiring
                  [<uvint ttl_delta>]               -- expiring
                  [value]                           -- live & !empty

Clustering values serialize in blocks of 32 with an unsigned-vint header
word carrying 2 bits per column (null / empty); fixed-length CQL types
write raw bytes, variable-length types write ``<uvint len><bytes>``.
Vints are Cassandra's VIntCoding: the count of continuation bytes is the
number of leading 1-bits of the first byte (1 byte for < 2^7, 2 for
< 2^14, …, 9 for the full 64 bits).

Subset boundary (explicit, checked, documented): regular rows only — no
static rows, no range-tombstone markers, no complex (collection) columns,
no row-level deletions — and every serialized row carries the full
regular-column set (``HAS_ALL_COLUMNS``).  The decoder raises on any
construct outside the subset rather than guessing.

EncodingStats note: real ``ma`` SSTables store the stats minimums in the
SerializationHeader inside ``Statistics.db`` — a Data.db file is NOT
self-describing.  This pair mirrors that: the writer emits a sidecar
``…-Statistics.db`` holding the minimal stats triple (magic +
minTimestamp i64 + minLocalDeletionTime i32 + minTTL i32) and the reader
requires it, exactly like Cassandra requires the real component (the
full Statistics.db also carries validation/compaction metadata this
engine does not need).

The PARSER is the distributed component: the snapshot scan hands
each ``ma-*-big-Data.db`` to one scan task and decodes it
executor-side into Arrow batches (same seam as the ka branch), so a
1000-executor cluster ingests 1000 SSTables concurrently.  Reconciliation
semantics at read match the ka codec: partition deletions shadow by
timestamp, cell tombstones null their column, expiring cells null once
their localDeletionTime passes the caller-supplied ``as_of``, and
``_writetime`` is the max surviving timestamp.
"""

from __future__ import annotations

import struct
from typing import Any, Iterator

from cassandra_snap_to_hadoop_spark.sources.sstable import (
    LIVE_LDT,
    LIVE_MFDA,
    TableMeta,
    decode_value,
    encode_value,
    stats_path_for,
)

# unfiltered flags (public UnfilteredSerializer constants)
END_OF_PARTITION = 0x01
IS_MARKER = 0x02
HAS_TIMESTAMP = 0x04
HAS_TTL = 0x08
HAS_DELETION = 0x10
HAS_ALL_COLUMNS = 0x20
HAS_COMPLEX_DELETION = 0x40
EXTENSION_FLAG = 0x80

# cell flags (public Cell.Serializer constants)
CELL_IS_DELETED = 0x01
CELL_IS_EXPIRING = 0x02
CELL_HAS_EMPTY_VALUE = 0x04
CELL_USE_ROW_TIMESTAMP = 0x08
CELL_USE_ROW_TTL = 0x10

_STATS_MAGIC = b"CSTH-MA1"  # sidecar Statistics.db preamble

# CQL types with fixed-length value encodings (AbstractType.valueLengthIfFixed)
_FIXED_LEN = {
    "bigint": 8,
    "counter": 8,
    "time": 8,
    "timestamp": 8,
    "double": 8,
    "int": 4,
    "float": 4,
    "smallint": 2,
    "boolean": 1,
    "tinyint": 1,
    "uuid": 16,
    "timeuuid": 16,
}


# ------------------------------------------------------------------ vints

def encode_uvint(value: int) -> bytes:
    """Cassandra VIntCoding.writeUnsignedVInt: leading 1-bits of the first
    byte count the continuation bytes."""
    if value < 0:
        raise ValueError("unsigned vint cannot encode negative values")
    if value < 0x80:
        return bytes((value,))
    if value.bit_length() > 64:
        raise ValueError("value exceeds 64 bits")
    extra = min((value.bit_length() - 1) // 7, 8)  # continuation bytes, 1..8
    if extra == 8:
        return b"\xff" + struct.pack(">Q", value)
    mask = (0xFF << (8 - extra)) & 0xFF
    first = mask | (value >> (8 * extra))
    low = value & ((1 << (8 * extra)) - 1)
    return bytes((first,)) + low.to_bytes(extra, "big")


def decode_uvint(raw: bytes, i: int) -> tuple[int, int]:
    """Decode one unsigned vint at offset ``i``; returns (value, new_i)."""
    first = raw[i]
    extra = 0
    probe = first
    while probe & 0x80:
        extra += 1
        probe = (probe << 1) & 0xFF
    if extra == 0:
        return first, i + 1
    if extra == 8:
        return int.from_bytes(raw[i + 1 : i + 9], "big"), i + 9
    value = first & (0xFF >> extra)
    value = (value << (8 * extra)) | int.from_bytes(
        raw[i + 1 : i + 1 + extra], "big"
    )
    return value, i + 1 + extra


# ------------------------------------------------------------- stats file

class EncodingStats:
    """The minimal SerializationHeader stats triple delta encoding needs."""

    def __init__(self, min_timestamp: int, min_ldt: int, min_ttl: int):
        self.min_timestamp = min_timestamp
        self.min_ldt = min_ldt
        self.min_ttl = min_ttl


def write_stats_db(path: str, stats: EncodingStats) -> None:
    with open(path, "wb") as fh:
        fh.write(
            _STATS_MAGIC
            + struct.pack(">qii", stats.min_timestamp, stats.min_ldt, stats.min_ttl)
        )


def read_stats_db(path: str) -> EncodingStats:
    with open(path, "rb") as fh:
        raw = fh.read()
    if raw[: len(_STATS_MAGIC)] != _STATS_MAGIC:
        raise ValueError(f"not a {_STATS_MAGIC!r} stats sidecar: {path}")
    ts, ldt, ttl = struct.unpack_from(">qii", raw, len(_STATS_MAGIC))
    return EncodingStats(ts, ldt, ttl)


# ------------------------------------------------------------- clustering

def _encode_clustering(cvals: tuple, meta: TableMeta) -> bytes:
    out = bytearray()
    cols = meta.clustering
    for block in range(0, len(cols), 32):
        chunk = cols[block : block + 32]
        header = 0
        bodies: list[bytes] = []
        for j, col in enumerate(chunk):
            v = cvals[block + j]
            if v is None:
                header |= 1 << (j * 2)
                continue
            b = encode_value(meta.types[col], v)
            if len(b) == 0:
                header |= 1 << (j * 2 + 1)
                continue
            bodies.append(_frame_value(meta.types[col], b))
        out += encode_uvint(header)
        for b in bodies:
            out += b
    return bytes(out)


def _decode_clustering(raw: bytes, i: int, meta: TableMeta) -> tuple[tuple, int]:
    vals: list = []
    cols = meta.clustering
    for block in range(0, len(cols), 32):
        chunk = cols[block : block + 32]
        header, i = decode_uvint(raw, i)
        for j, col in enumerate(chunk):
            if header & (1 << (j * 2)):
                vals.append(None)
                continue
            if header & (1 << (j * 2 + 1)):
                vals.append(decode_value(meta.types[col], b""))
                continue
            t = meta.types[col].lower()
            if t in _FIXED_LEN:
                n = _FIXED_LEN[t]
                vals.append(decode_value(meta.types[col], raw[i : i + n]))
                i += n
            else:
                n, i = decode_uvint(raw, i)
                vals.append(decode_value(meta.types[col], raw[i : i + n]))
                i += n
    return tuple(vals), i


def _frame_value(cql_type: str, b: bytes) -> bytes:
    """An encoded value as serialized: raw when the type's length is
    fixed, ``<uvint len>``-prefixed otherwise."""
    if cql_type.lower() in _FIXED_LEN:
        return b
    return encode_uvint(len(b)) + b


# ------------------------------------------------- partition deletion header
#
# The 3.0/4.x big formats serialize the partition-level DeletionTime as
# <i32 localDeletionTime><i64 markedForDeleteAt>.  Cassandra 5.0's ``oa``
# widened the deletion-time domain past 2038 (the CASSANDRA-14227 class
# of changes) — same 12-byte width, unsigned 32-bit seconds — so the
# serializer/parser take a pluggable header codec; the defaults below
# keep the ma/na byte streams exactly as rounds 8-10 certified them.

def _pack_deletion(ldt: int, mfda: int) -> bytes:
    return struct.pack(">iq", ldt, mfda)


def _unpack_deletion(raw: bytes, i: int) -> tuple[tuple[int, int], int]:
    ldt, mfda = struct.unpack_from(">iq", raw, i)
    return (ldt, mfda), i + 12


# ----------------------------------------------------------------- write

def serialize_ma_partitions(
    partitions: list[dict],
    meta: TableMeta,
    *,
    pack_deletion=_pack_deletion,
    index_out: list | None = None,
) -> tuple[bytes, EncodingStats]:
    """Serialize partitions to the raw 3.0 row-oriented Data.db byte
    stream and its EncodingStats — the shared core of the ``ma`` writer
    AND the 4.x ``na``/``nb`` writer (``sources/sstable_na.py``), whose
    Data.db serialization is byte-identical to 3.0's; the 4.x format
    changes live in the integrity/metadata components around it.

    Partition dicts use the SAME vocabulary as the ka writer
    (``sources/sstable.py:write_data_db``): ``{"key": tuple,
    "deletion": (ldt, mfda) | None, "rows": [{"clustering": tuple,
    "marker_ts": int, "cells": {col: cellspec}}]}`` with cellspec
    ``("live", ts, value)`` / ``("tombstone", ts, ldt)`` /
    ``("expiring", ts, value, ttl, local_expiration_time)``.

    ``marker_ts`` maps to the 3.0 row PRIMARY KEY liveness timestamp
    (HAS_TIMESTAMP); every row must carry a cell for every regular
    column (the HAS_ALL_COLUMNS subset this codec implements).

    ``index_out`` (when a list is passed) receives one dict per
    partition — ``{"key": encoded key bytes, "offset": partition start,
    "row_offsets": [unfiltered start offsets], "end": end offset}`` —
    the exact byte positions a primary index must point at; the 5.0
    BTI-style trie writer (``sources/sstable_oa.py``) builds
    Partitions.db/Rows.db from it."""
    from cassandra_snap_to_hadoop_spark.sources.sstable import _encode_key

    # pass 1: EncodingStats minimums over everything the deltas encode
    ts_seen: list[int] = []
    ldt_seen: list[int] = []
    ttl_seen: list[int] = []
    for part in partitions:
        for row in part.get("rows", ()):
            if row.get("marker_ts") is None:
                raise ValueError("ma subset requires marker_ts (row liveness)")
            ts_seen.append(row["marker_ts"])
            if set(row.get("cells", {})) != set(meta.regular):
                raise ValueError(
                    "ma subset requires a cell per regular column "
                    f"(got {sorted(row.get('cells', {}))}, "
                    f"want {sorted(meta.regular)})"
                )
            for spec in row["cells"].values():
                ts_seen.append(spec[1])
                if spec[0] == "tombstone":
                    ldt_seen.append(spec[2])
                elif spec[0] == "expiring":
                    ttl_seen.append(spec[3])
                    ldt_seen.append(spec[4])
    stats = EncodingStats(
        min(ts_seen) if ts_seen else 0,
        min(ldt_seen) if ldt_seen else 0,
        min(ttl_seen) if ttl_seen else 0,
    )

    out = bytearray()
    for part in partitions:
        part_start = len(out)
        row_offsets: list[int] = []
        key = _encode_key(part["key"], meta)
        out += struct.pack(">H", len(key)) + key
        ldt, mfda = part.get("deletion") or (LIVE_LDT, LIVE_MFDA)
        out += pack_deletion(ldt, mfda)
        prev_size = 0
        for row in part.get("rows", ()):
            row_offsets.append(len(out))
            head = bytearray()
            head += bytes((HAS_TIMESTAMP | HAS_ALL_COLUMNS,))
            head += _encode_clustering(
                tuple(row.get("clustering", ())), meta
            )
            row_ts = row["marker_ts"]
            body = bytearray()
            body += encode_uvint(row_ts - stats.min_timestamp)
            for col in meta.regular:
                spec = row["cells"][col]
                kind, ts = spec[0], spec[1]
                flags = 0
                if kind == "tombstone":
                    flags |= CELL_IS_DELETED
                elif kind == "expiring":
                    flags |= CELL_IS_EXPIRING
                if ts == row_ts:
                    flags |= CELL_USE_ROW_TIMESTAMP
                vb = b""
                if kind in ("live", "expiring"):
                    raw_v = encode_value(meta.types[col], spec[2])
                    if len(raw_v) == 0:
                        flags |= CELL_HAS_EMPTY_VALUE
                    else:
                        vb = _frame_value(meta.types[col], raw_v)
                body += bytes((flags,))
                if not flags & CELL_USE_ROW_TIMESTAMP:
                    body += encode_uvint(ts - stats.min_timestamp)
                if kind == "tombstone":
                    body += encode_uvint(spec[2] - stats.min_ldt)
                elif kind == "expiring":
                    body += encode_uvint(spec[4] - stats.min_ldt)
                    body += encode_uvint(spec[3] - stats.min_ttl)
                body += vb
            head += encode_uvint(len(body))
            head += encode_uvint(prev_size)
            head += body
            prev_size = len(head)
            out += head
        out += bytes((END_OF_PARTITION,))
        if index_out is not None:
            index_out.append(
                {
                    "key": key,
                    "offset": part_start,
                    "row_offsets": row_offsets,
                    "end": len(out),
                }
            )
    return bytes(out), stats


def write_ma_data_db(path: str, partitions: list[dict], meta: TableMeta) -> None:
    """Serialize partitions to an ``ma``-format Data.db file plus its
    stats sidecar (see ``serialize_ma_partitions`` for the partition
    vocabulary and the subset contract)."""
    raw, stats = serialize_ma_partitions(partitions, meta)
    with open(path, "wb") as fh:
        fh.write(raw)
    write_stats_db(stats_path_for(path), stats)


# ------------------------------------------------------------------ read

def parse_partition_at(
    raw: bytes,
    i: int,
    meta: TableMeta,
    stats: EncodingStats,
    as_of: int = 2**31 - 1,
    *,
    unpack_deletion=_unpack_deletion,
    row_offsets_out: list | None = None,
) -> tuple[list[dict], int]:
    """Decode ONE partition starting at byte offset ``i``; returns the
    reconciled row dicts and the offset just past END_OF_PARTITION.
    This is the seam a primary index needs: the sequential
    ``parse_ma_data_db`` loop below and the 5.0 trie-index-driven scan
    (``sources/sstable_oa.py``) both call it — the index points here
    instead of re-walking the file.  ``row_offsets_out`` (when a list is
    passed) receives the byte offset of every unfiltered's flags byte,
    letting an index reader verify its row-index entries against the
    actual byte stream."""
    from cassandra_snap_to_hadoop_spark.sources.sstable import _decode_key

    rows: list[dict] = []
    (klen,) = struct.unpack_from(">H", raw, i)
    i += 2
    key = raw[i : i + klen]
    i += klen
    (_ldt, mfda), i = unpack_deletion(raw, i)
    part_del = mfda if mfda != LIVE_MFDA else None
    kvals = _decode_key(key, meta)
    while True:
        row_start = i
        flags = raw[i]
        i += 1
        if flags & END_OF_PARTITION:
            break
        if row_offsets_out is not None:
            row_offsets_out.append(row_start)
        if flags & (IS_MARKER | EXTENSION_FLAG):
            raise ValueError(
                "ma subset: range-tombstone markers / extended rows "
                "not supported (see sstable_ma docstring)"
            )
        if flags & (HAS_TTL | HAS_DELETION | HAS_COMPLEX_DELETION):
            raise ValueError(
                "ma subset: row-level TTL/deletion not supported"
            )
        if not flags & HAS_ALL_COLUMNS:
            raise ValueError("ma subset: column-subset rows not supported")
        cvals, i = _decode_clustering(raw, i, meta)
        _body_size, i = decode_uvint(raw, i)
        _prev_size, i = decode_uvint(raw, i)
        row_ts = None
        if flags & HAS_TIMESTAMP:
            d, i = decode_uvint(raw, i)
            row_ts = stats.min_timestamp + d
        wt = None
        if row_ts is not None and (part_del is None or row_ts > part_del):
            wt = row_ts
        cells: dict[str, Any] = {}
        for col in meta.regular:
            cflags = raw[i]
            i += 1
            if cflags & CELL_USE_ROW_TIMESTAMP:
                ts = row_ts
            else:
                d, i = decode_uvint(raw, i)
                ts = stats.min_timestamp + d
            ldt = ttl = None
            if cflags & (CELL_IS_DELETED | CELL_IS_EXPIRING):
                d, i = decode_uvint(raw, i)
                ldt = stats.min_ldt + d
            if cflags & CELL_IS_EXPIRING:
                d, i = decode_uvint(raw, i)
                ttl = stats.min_ttl + d
            value = None
            if not cflags & CELL_IS_DELETED:
                if cflags & CELL_HAS_EMPTY_VALUE:
                    value = decode_value(meta.types[col], b"")
                else:
                    t = meta.types[col].lower()
                    if t in _FIXED_LEN:
                        w = _FIXED_LEN[t]
                        value = decode_value(meta.types[col], raw[i : i + w])
                        i += w
                    else:
                        w, i = decode_uvint(raw, i)
                        value = decode_value(meta.types[col], raw[i : i + w])
                        i += w
            if part_del is not None and ts <= part_del:
                continue  # shadowed by the partition tombstone
            if wt is None or ts > wt:
                wt = ts
            if cflags & CELL_IS_DELETED:
                cells[col] = None
            elif (
                cflags & CELL_IS_EXPIRING
                and ldt is not None
                and ldt <= as_of
            ):
                cells[col] = None
            else:
                cells[col] = value
        if wt is None:
            continue  # fully shadowed row
        out = dict(zip(meta.partition, kvals))
        out.update(zip(meta.clustering, cvals))
        for col in meta.regular:
            out[col] = cells.get(col)
        out["_writetime"] = wt
        rows.append(out)
    return rows, i


def parse_ma_data_db(
    raw: bytes, meta: TableMeta, stats: EncodingStats, as_of: int = 2**31 - 1
) -> Iterator[dict]:
    """Decode one ma-format Data.db byte stream into reconciled row dicts
    (columns in ``meta`` order plus ``_writetime``) — the same output
    contract as the ka codec's ``parse_data_db``, so the snapshot scan's
    Arrow bridge is shared.  ``stats`` comes from the sidecar
    Statistics.db (``read_stats_db(stats_path_for(path))``).  This is
    the sequential scan; an index-driven scan calls
    ``parse_partition_at`` per index entry instead."""
    i, n = 0, len(raw)
    while i < n:
        rows, i = parse_partition_at(raw, i, meta, stats, as_of=as_of)
        yield from rows


def read_ma_sstable(
    path: str, meta: TableMeta, as_of: int, raw: bytes
) -> Iterator[dict]:
    """The scan's ma reader: the stats sidecar, then the row core."""
    return parse_ma_data_db(raw, meta, read_stats_db(stats_path_for(path)), as_of=as_of)
