"""Cassandra 4.x SSTable ``na``/``nb``-format codec (SURVEY §2-A40).

Third member of the format family, closing the boundary VERDICT r9
item 2 named:

* **ka / la (Cassandra 2.x)** — ``sources/sstable.py``: cell-oriented
  layout, CompositeType cell names.
* **ma (Cassandra 3.0+, CASSANDRA-8099)** — ``sources/sstable_ma.py``:
  row-oriented layout, flags bytes, vints, delta-encoded timestamps.
* **na (4.0) / nb (4.0.0+)** — HERE.  Per the public 4.0 BigFormat
  version notes, the Data.db ROW SERIALIZATION IS UNCHANGED from 3.0;
  what 4.x adds is integrity + repair metadata around it:

  - ``na``: uncompressed-chunk checksums (a ``CRC.db`` component with a
    CRC32 per fixed-size chunk of Data.db, plus a ``Digest.crc32``
    full-file CRC32 — 2.x/3.x only wrote digests for compressed
    tables), a pending-repair session id and the ``isTransient`` flag
    in the stats metadata, and a CHECKSUMMED metadata file (the 3.x
    Statistics.db had no integrity protection at all).
  - ``nb``: adds the originating host id to the stats metadata.

* **oa (Cassandra 5.0)** — ``sources/sstable_oa.py``: same row core,
  keeps this module's digest/chunk-checksum components, adds extended
  (post-2038) deletion times, key-range/partition-deletion/token-
  coverage stats metadata, and the BTI trie index
  (Partitions.db/Rows.db) that drives its reader.

This module therefore REUSES the ma row codec verbatim
(``serialize_ma_partitions`` / ``parse_ma_data_db``) and implements the
4.x deltas faithfully in miniature:

    Digest.crc32   := ASCII decimal CRC32 of the whole Data.db
                      (Cassandra writes String.valueOf(crc))
    CRC.db         := <i32 chunk_size> <u32 crc32>*  (one per chunk,
                      last chunk short — the public ChecksumWriter
                      layout for uncompressed tables)
    Statistics.db  := magic "CSTH-NA1" <version 2s>
                      <i64 minTimestamp><i32 minLDT><i32 minTTL>
                      <16B pending_repair (zeros = none)>
                      <u8 is_transient>
                      <16B host_id (zeros = none; meaningful for nb)>
                      <u32 crc32 of everything after the magic>

The sidecar keeps the fixture discipline of the ma codec: real 4.x
Statistics.db files carry four serialized metadata components; this pair
carries exactly what decoding needs (the EncodingStats triple) plus the
4.x-new fields, protected by the 4.x-new checksum.  Readers VERIFY all
three integrity surfaces before decoding a byte and raise loudly on
mismatch — integrity-on-read is the feature that distinguishes this
format, so a reader that skipped verification would miss the format's
point.

Subset boundary: identical to the ma codec (regular rows only, full
regular-column set, no markers/complex columns) — the row core is
shared, so the subset is too.

The PARSER is the distributed component: the snapshot scan hands
each ``na-*``/``nb-*-big-Data.db`` to one scan task and decodes
it executor-side into Arrow batches (the same seam as the ka and ma
branches), so a 1000-executor cluster ingests 1000 SSTables
concurrently; checksum verification is a linear scan of bytes already
in memory and happens executor-side too.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass
from typing import Any, Iterator

from cassandra_snap_to_hadoop_spark.sources.sstable import TableMeta
from cassandra_snap_to_hadoop_spark.sources.sstable_ma import (
    EncodingStats,
    parse_ma_data_db,
    serialize_ma_partitions,
)

_STATS_MAGIC = b"CSTH-NA1"
_CHUNK_SIZE = 65536  # uncompressed-chunk checksum granularity (64 KiB)
_NO_ID = b"\x00" * 16


@dataclass
class NaMetadata:
    """The 4.x-new stats-metadata fields this codec carries."""

    version: str  # "na" or "nb"
    pending_repair: bytes | None  # 16-byte session id, None = not pending
    is_transient: bool
    host_id: bytes | None  # 16-byte originating host id (nb)


def _component_path(data_path: str, suffix: str) -> str:
    if not data_path.endswith("-Data.db"):
        raise ValueError(f"not a Data.db path: {data_path}")
    return data_path[: -len("-Data.db")] + f"-{suffix}"


def stats_path_for(data_path: str) -> str:
    return _component_path(data_path, "Statistics.db")


def digest_path_for(data_path: str) -> str:
    return _component_path(data_path, "Digest.crc32")


def crc_path_for(data_path: str) -> str:
    return _component_path(data_path, "CRC.db")


# ----------------------------------------------------------------- write

def write_na_data_db(
    path: str,
    partitions: list[dict],
    meta: TableMeta,
    *,
    version: str = "na",
    pending_repair: bytes | None = None,
    is_transient: bool = False,
    host_id: bytes | None = None,
) -> None:
    """Serialize partitions (same vocabulary as the ka/ma writers) to a
    4.x SSTable: Data.db (byte-identical to the ma row serialization) +
    Digest.crc32 + CRC.db + the checksummed Statistics.db sidecar.

    ``host_id`` is only meaningful for ``nb`` (4.0.0's addition); the
    writer enforces that an ``na`` file does not carry one, mirroring
    how the real serializer gates fields on the descriptor version."""
    if version not in ("na", "nb"):
        raise ValueError(f"not a 4.x big-format version: {version!r}")
    if version == "na" and host_id is not None:
        raise ValueError("host_id is an nb-format field (4.0.0+), not na")
    for blob, name in ((pending_repair, "pending_repair"), (host_id, "host_id")):
        if blob is not None and len(blob) != 16:
            raise ValueError(f"{name} must be a 16-byte id")
    raw, stats = serialize_ma_partitions(partitions, meta)
    with open(path, "wb") as fh:
        fh.write(raw)
    with open(digest_path_for(path), "wb") as fh:
        fh.write(str(zlib.crc32(raw)).encode("ascii"))
    crc = bytearray(struct.pack(">i", _CHUNK_SIZE))
    for off in range(0, max(len(raw), 1), _CHUNK_SIZE):
        crc += struct.pack(">I", zlib.crc32(raw[off : off + _CHUNK_SIZE]))
    with open(crc_path_for(path), "wb") as fh:
        fh.write(bytes(crc))
    payload = bytearray()
    payload += version.encode("ascii")
    payload += struct.pack(">qii", stats.min_timestamp, stats.min_ldt, stats.min_ttl)
    payload += pending_repair if pending_repair is not None else _NO_ID
    payload += bytes((1 if is_transient else 0,))
    payload += host_id if host_id is not None else _NO_ID
    payload += struct.pack(">I", zlib.crc32(bytes(payload)))
    with open(stats_path_for(path), "wb") as fh:
        fh.write(_STATS_MAGIC + bytes(payload))


# ------------------------------------------------------------------ read

def read_na_stats_db(path: str) -> tuple[EncodingStats, NaMetadata]:
    """Read + CRC-verify the checksummed stats sidecar (the 4.x
    'checksummed sstable metadata' feature: a 3.x Statistics.db could
    rot silently; an na one cannot)."""
    with open(path, "rb") as fh:
        raw = fh.read()
    if raw[: len(_STATS_MAGIC)] != _STATS_MAGIC:
        raise ValueError(f"not a {_STATS_MAGIC!r} stats sidecar: {path}")
    payload, tail = raw[len(_STATS_MAGIC) : -4], raw[-4:]
    (want,) = struct.unpack(">I", tail)
    got = zlib.crc32(payload)
    if got != want:
        raise ValueError(
            f"Statistics.db checksum mismatch at {path}: "
            f"crc32 {got} != recorded {want} (metadata corrupt)"
        )
    version = payload[:2].decode("ascii")
    if version not in ("na", "nb"):
        raise ValueError(f"unknown 4.x version in stats sidecar: {version!r}")
    ts, ldt, ttl = struct.unpack_from(">qii", payload, 2)
    pr = payload[18:34]
    is_transient = bool(payload[34])
    hid = payload[35:51]
    return (
        EncodingStats(ts, ldt, ttl),
        NaMetadata(
            version=version,
            pending_repair=None if pr == _NO_ID else pr,
            is_transient=is_transient,
            host_id=None if hid == _NO_ID else hid,
        ),
    )


def verify_na_integrity(data_path: str, raw: bytes) -> None:
    """Verify the full-file digest AND every chunk checksum before any
    byte is decoded — the read-side half of the na format's
    uncompressed-chunk-checksum feature.  Raises ValueError naming the
    first failing surface (digest vs chunk index) so corruption is
    diagnosable, never silently misread."""
    with open(digest_path_for(data_path), "rb") as fh:
        want_digest = int(fh.read().decode("ascii"))
    got_digest = zlib.crc32(raw)
    if got_digest != want_digest:
        raise ValueError(
            f"Digest.crc32 mismatch for {data_path}: "
            f"crc32 {got_digest} != recorded {want_digest} (file corrupt)"
        )
    with open(crc_path_for(data_path), "rb") as fh:
        crc_raw = fh.read()
    (chunk_size,) = struct.unpack_from(">i", crc_raw, 0)
    if chunk_size <= 0:
        raise ValueError(f"CRC.db chunk size {chunk_size} invalid for {data_path}")
    n_chunks = (len(crc_raw) - 4) // 4
    want_chunks = max((len(raw) + chunk_size - 1) // chunk_size, 1)
    if n_chunks != want_chunks:
        raise ValueError(
            f"CRC.db for {data_path} carries {n_chunks} chunk checksums, "
            f"expected {want_chunks} for {len(raw)} bytes @ {chunk_size}"
        )
    for c in range(n_chunks):
        (want,) = struct.unpack_from(">I", crc_raw, 4 + 4 * c)
        got = zlib.crc32(raw[c * chunk_size : (c + 1) * chunk_size])
        if got != want:
            raise ValueError(
                f"CRC.db chunk {c} mismatch for {data_path}: "
                f"crc32 {got} != recorded {want} (chunk corrupt)"
            )


def parse_na_data_db(
    raw: bytes, meta: TableMeta, stats: EncodingStats, as_of: int = 2**31 - 1
) -> Iterator[dict[str, Any]]:
    """Decode one verified na/nb Data.db byte stream — the row core is
    3.0's, so this IS the ma parser; callers must run
    ``verify_na_integrity`` first (the snapshot scan does)."""
    return parse_ma_data_db(raw, meta, stats, as_of=as_of)
