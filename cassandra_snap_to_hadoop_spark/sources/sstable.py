"""Legacy Cassandra SSTable ``ka``-format Data.db codec (SURVEY §2-A2).

This fills the documented seam in ``sources/snapshot.py`` (VERDICT r6
item 4): the snapshot scan can now read real ``*-Data.db`` record
streams, not just parquet stand-ins.  The format implemented is the
public Cassandra 2.x (“ka”/“la”) uncompressed row-oriented layout — the
on-disk format the reference's era of ``nodetool snapshot`` produced:

    partition := <u16 key_len><key bytes>
                 <i32 localDeletionTime><i64 markedForDeleteAt>
                 cell* <u16 0x0000>                      -- empty name ends it
    cell      := <u16 name_len><composite name>
                 <u8 flags>
                 [<i32 ttl><i32 localExpirationTime>]    -- EXPIRATION_MASK
                 <i64 timestamp>
                 <i32 value_len><value bytes>            -- DeletedCell: i32 ldt

Everything is big-endian.  CQL3 cell names are CompositeType blobs:
one ``<u16 len><bytes><0x00>`` component per clustering value, then the
UTF-8 column name (empty for the row marker).  Multi-column partition
keys use the same composite encoding; single-column keys are raw bytes.
Cell flags: 0x01 deletion, 0x02 expiring, 0x04 counter (cells carry an
extra ``i64 timestampOfLastDelete``).

Semantics applied at read (the same reconciliation Cassandra performs):

* partition-level deletion shadows every cell (and row marker) whose
  timestamp is <= ``markedForDeleteAt`` — a fully-shadowed partition
  disappears;
* a deletion cell nulls its column;
* an expiring cell nulls its column once ``localExpirationTime`` passes
  the caller-supplied ``as_of`` epoch (an explicit parameter — never
  wall clock, so reads are deterministic);
* each distinct clustering prefix is one output row; the row's
  ``_writetime`` is the max surviving cell/marker timestamp.

The paired ``write_data_db`` encoder exists so tests and the registered
roundtrip queries (a33/a34) can synthesize fixtures offline — no real
SSTable binaries exist in this environment (SURVEY §0).  The PARSER is
the distributed component: the snapshot scan hands each Data.db
file to one scan task and decodes it executor-side into Arrow
batches, so a 1000-executor cluster ingests 1000 SSTables concurrently.

Scale note: one SSTable is decoded by one task.  The parser yields
partition by partition and the snapshot scan turns rows into Arrow
batches of at most 8192 rows as they decode, so the scan never
materializes the file's rows; the file's bytes are still read whole.

Format boundary: this module is the Cassandra 2.x ``ka``/``la``
decoder and the family's shared base (values, ``TableMeta``, component
paths, checked sidecars).  The family table (ka/ma/na/nb/oa) sits next
to the scan's version→reader table in ``sources/snapshot.py``.
"""

from __future__ import annotations

import struct
import zlib
from functools import partial
from typing import Any, Iterator

LIVE_LDT = 0x7FFFFFFF  # localDeletionTime sentinel for "not deleted"
LIVE_MFDA = -(2**63)  # markedForDeleteAt sentinel for "not deleted"

DELETION_MASK = 0x01
EXPIRATION_MASK = 0x02
COUNTER_MASK = 0x04


# ------------------------------------------------------------ components
#
# Every component of an SSTable sits beside its Data.db under the same
# descriptor prefix.  The checked sidecars are
# <magic> <payload> <u32 crc32(payload)>.

def component_path(data_path: str, component: str) -> str:
    """``<descriptor>-Data.db`` -> ``<descriptor>-<component>``."""
    if not data_path.endswith("-Data.db"):
        raise ValueError(f"not a Data.db path: {data_path}")
    return data_path[: -len("Data.db")] + component


stats_path_for = partial(component_path, component="Statistics.db")


def write_checked(path: str, magic: bytes, payload: bytes) -> None:
    with open(path, "wb") as fh:
        fh.write(magic + payload + struct.pack(">I", zlib.crc32(payload)))


def read_checked(path: str, magic: bytes) -> bytes:
    """The payload of a checked sidecar; raises ValueError on a wrong
    magic or a CRC32 mismatch, naming the component."""
    with open(path, "rb") as fh:
        raw = fh.read()
    if raw[: len(magic)] != magic:
        raise ValueError(f"not a {magic!r} component: {path}")
    payload, tail = raw[len(magic) : -4], raw[-4:]
    (want,) = struct.unpack(">I", tail)
    got = zlib.crc32(payload)
    if got != want:
        raise ValueError(
            f"{path.rsplit('-', 1)[-1]} checksum mismatch at {path}: "
            f"crc32 {got} != recorded {want} (component corrupt)"
        )
    return payload


# ---------------------------------------------------------------- values

def encode_value(cql_type: str, v: Any) -> bytes:
    t = cql_type.lower()
    if t in ("text", "varchar", "ascii"):
        return str(v).encode("utf-8")
    if t in ("bigint", "counter", "time"):
        return struct.pack(">q", int(v))
    if t == "int":
        return struct.pack(">i", int(v))
    if t == "double":
        return struct.pack(">d", float(v))
    if t == "float":
        return struct.pack(">f", float(v))
    if t == "boolean":
        return b"\x01" if v else b"\x00"
    if t == "timestamp":  # Cassandra stores epoch MILLIS
        return struct.pack(">q", int(v))
    if t in ("uuid", "timeuuid"):
        return bytes.fromhex(str(v).replace("-", ""))
    if t == "blob":
        return bytes(v)
    raise ValueError(f"unsupported CQL type for ka codec: {cql_type}")


def decode_value(cql_type: str, b: bytes) -> Any:
    t = cql_type.lower()
    if t in ("text", "varchar", "ascii"):
        return b.decode("utf-8")
    if t in ("bigint", "counter", "time"):
        return struct.unpack(">q", b)[0]
    if t == "int":
        return struct.unpack(">i", b)[0]
    if t == "double":
        return struct.unpack(">d", b)[0]
    if t == "float":
        return struct.unpack(">f", b)[0]
    if t == "boolean":
        return b != b"\x00"
    if t == "timestamp":
        return struct.unpack(">q", b)[0]  # epoch millis; caller scales
    if t in ("uuid", "timeuuid"):
        h = b.hex()
        return f"{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"
    if t == "blob":
        return b
    raise ValueError(f"unsupported CQL type for ka codec: {cql_type}")


# ------------------------------------------------------------ composites

def encode_composite(components: list[bytes]) -> bytes:
    out = bytearray()
    for c in components:
        out += struct.pack(">H", len(c)) + c + b"\x00"
    return bytes(out)


def decode_composite(b: bytes) -> list[bytes]:
    out, i = [], 0
    while i < len(b):
        (n,) = struct.unpack_from(">H", b, i)
        out.append(b[i + 2 : i + 2 + n])
        i += 2 + n + 1  # end-of-component byte
    return out


# ----------------------------------------------------------------- write

def write_data_db(path: str, partitions: list[dict], meta: "TableMeta") -> None:
    """Serialize partitions to a ``ka``-format Data.db file.

    Each partition dict: ``{"key": tuple, "deletion": (ldt, mfda) | None,
    "rows": [{"clustering": tuple, "marker_ts": int | None,
    "cells": {col: cellspec}}]}`` where cellspec is
    ``("live", ts, value)``, ``("tombstone", ts, local_deletion_time)``
    or ``("expiring", ts, value, ttl, local_expiration_time)``.
    """
    out = bytearray()
    for part in partitions:
        key = _encode_key(part["key"], meta)
        out += struct.pack(">H", len(key)) + key
        ldt, mfda = part.get("deletion") or (LIVE_LDT, LIVE_MFDA)
        out += struct.pack(">iq", ldt, mfda)
        for row in part.get("rows", ()):
            cvals = [
                encode_value(meta.types[c], v)
                for c, v in zip(meta.clustering, row.get("clustering", ()))
            ]
            if row.get("marker_ts") is not None:
                name = encode_composite(cvals + [b""])
                out += struct.pack(">H", len(name)) + name
                out += struct.pack(">B", 0)
                out += struct.pack(">q", row["marker_ts"])
                out += struct.pack(">i", 0)  # empty marker value
            for col, spec in row.get("cells", {}).items():
                name = encode_composite(cvals + [col.encode("utf-8")])
                out += struct.pack(">H", len(name)) + name
                if spec[0] == "live":
                    _, ts, value = spec
                    vb = encode_value(meta.types[col], value)
                    out += struct.pack(">B", 0)
                    out += struct.pack(">q", ts)
                    out += struct.pack(">i", len(vb)) + vb
                elif spec[0] == "tombstone":
                    _, ts, cell_ldt = spec
                    out += struct.pack(">B", DELETION_MASK)
                    out += struct.pack(">q", ts)
                    out += struct.pack(">i", 4) + struct.pack(">i", cell_ldt)
                elif spec[0] == "expiring":
                    _, ts, value, ttl, lexp = spec
                    vb = encode_value(meta.types[col], value)
                    out += struct.pack(">B", EXPIRATION_MASK)
                    out += struct.pack(">ii", ttl, lexp)
                    out += struct.pack(">q", ts)
                    out += struct.pack(">i", len(vb)) + vb
                else:  # pragma: no cover - writer misuse
                    raise ValueError(f"unknown cell spec {spec[0]!r}")
        out += struct.pack(">H", 0)  # end of partition
    with open(path, "wb") as fh:
        fh.write(bytes(out))


def _encode_key(key_vals: tuple, meta: "TableMeta") -> bytes:
    parts = [encode_value(meta.types[c], v) for c, v in zip(meta.partition, key_vals)]
    if len(parts) == 1:
        return parts[0]
    return encode_composite(parts)


# ------------------------------------------------------------------ read

class TableMeta:
    """Column metadata the codec needs: ordered (name, cql_type) pairs and
    the PRIMARY KEY split.  Built from a snapshot's schema.cql via
    :func:`cassandra_snap_to_hadoop_spark.sources.snapshot.parse_table_meta`.
    """

    def __init__(
        self,
        columns: list[tuple[str, str]],
        partition: list[str],
        clustering: list[str],
    ):
        self.columns = columns
        self.types = dict(columns)
        self.partition = partition
        self.clustering = clustering
        self.regular = [
            n for n, _ in columns if n not in set(partition) | set(clustering)
        ]


def parse_data_db(
    raw: bytes, meta: TableMeta, as_of: int = 2**31 - 1
) -> Iterator[dict]:
    """Decode one Data.db byte stream into reconciled row dicts (columns in
    ``meta`` order plus ``_writetime``).  ``as_of`` is the epoch second used
    to judge expiring cells — an explicit parameter for determinism.
    """
    i, n = 0, len(raw)
    while i < n:
        (klen,) = struct.unpack_from(">H", raw, i)
        i += 2
        key = raw[i : i + klen]
        i += klen
        ldt, mfda = struct.unpack_from(">iq", raw, i)
        i += 12
        part_del = mfda if mfda != LIVE_MFDA else None
        # rows keyed by clustering tuple, in first-appearance order
        rows: dict[tuple, dict] = {}
        while True:
            (nlen,) = struct.unpack_from(">H", raw, i)
            i += 2
            if nlen == 0:
                break
            name = raw[i : i + nlen]
            i += nlen
            (flags,) = struct.unpack_from(">B", raw, i)
            i += 1
            ttl = lexp = None
            if flags & COUNTER_MASK:
                i += 8  # timestampOfLastDelete — counters pass through
            if flags & EXPIRATION_MASK:
                ttl, lexp = struct.unpack_from(">ii", raw, i)
                i += 8
            (ts,) = struct.unpack_from(">q", raw, i)
            i += 8
            (vlen,) = struct.unpack_from(">i", raw, i)
            i += 4
            value = raw[i : i + vlen]
            i += vlen
            comps = decode_composite(name)
            cvals = tuple(
                decode_value(meta.types[c], b)
                for c, b in zip(meta.clustering, comps)
            )
            colname = comps[len(meta.clustering)].decode("utf-8")
            if part_del is not None and ts <= part_del:
                continue  # shadowed by the partition tombstone
            row = rows.setdefault(cvals, {"_writetime": None, "cells": {}})
            if row["_writetime"] is None or ts > row["_writetime"]:
                row["_writetime"] = ts
            if colname == "":  # row marker — existence only
                continue
            prev = row["cells"].get(colname)
            if prev is not None and prev[0] >= ts:
                continue  # older duplicate within the file: LWW keeps prev
            if flags & DELETION_MASK:
                row["cells"][colname] = (ts, None)
            elif flags & EXPIRATION_MASK and lexp is not None and lexp <= as_of:
                row["cells"][colname] = (ts, None)
            else:
                row["cells"][colname] = (ts, decode_value(meta.types[colname], value))
        kvals = _decode_key(key, meta)
        for cvals, row in rows.items():
            out = dict(zip(meta.partition, kvals))
            out.update(zip(meta.clustering, cvals))
            for col in meta.regular:
                cell = row["cells"].get(col)
                out[col] = None if cell is None else cell[1]
            out["_writetime"] = row["_writetime"]
            yield out


def read_ka_sstable(
    path: str, meta: TableMeta, as_of: int, raw: bytes
) -> Iterator[dict]:
    """The scan's ka reader: a ka SSTable has no sidecars to check."""
    return parse_data_db(raw, meta, as_of=as_of)


def _decode_key(key: bytes, meta: TableMeta) -> tuple:
    if len(meta.partition) == 1:
        return (decode_value(meta.types[meta.partition[0]], key),)
    comps = decode_composite(key)
    return tuple(
        decode_value(meta.types[c], b) for c, b in zip(meta.partition, comps)
    )
