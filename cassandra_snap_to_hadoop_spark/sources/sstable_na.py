"""Cassandra 4.x SSTable ``na``/``nb``-format codec (SURVEY §2-A40).

Per the public 4.0 BigFormat version notes, the Data.db ROW
SERIALIZATION IS UNCHANGED from 3.0; what 4.x adds is integrity +
repair metadata around it (the family table is in
``sources/snapshot.py``):

* ``na``: uncompressed-chunk checksums (a ``CRC.db`` component with a
  CRC32 per fixed-size chunk of Data.db, plus a ``Digest.crc32``
  full-file CRC32 — 2.x/3.x only wrote digests for compressed tables),
  a pending-repair session id and the ``isTransient`` flag in the stats
  metadata, and a CHECKSUMMED metadata file (the 3.x Statistics.db had
  no integrity protection at all).
* ``nb``: adds the originating host id to the stats metadata.

This module therefore REUSES the ma row codec verbatim
(``serialize_ma_partitions`` / ``parse_ma_data_db``), owns the
digest/chunk-checksum components the ``oa`` codec shares, and
implements the 4.x deltas faithfully in miniature:

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

The snapshot scan hands each ``na-*``/``nb-*-big-Data.db`` to one scan
task (``read_na_sstable``); checksum verification is a linear scan of
bytes already in memory and happens executor-side too.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass
from functools import partial
from typing import Iterator

from cassandra_snap_to_hadoop_spark.sources.sstable import (
    TableMeta,
    component_path,
    read_checked,
    stats_path_for,
    write_checked,
)
from cassandra_snap_to_hadoop_spark.sources.sstable_ma import (
    EncodingStats,
    parse_ma_data_db,
    serialize_ma_partitions,
)

_STATS_MAGIC = b"CSTH-NA1"
# version, minTimestamp, minLDT, minTTL, pending_repair, is_transient, host_id
_STATS = struct.Struct(">2sqii16s?16s")
_CHUNK_SIZE = 65536  # uncompressed-chunk checksum granularity (64 KiB)
_NO_ID = b"\x00" * 16


@dataclass
class NaMetadata:
    """The 4.x-new stats-metadata fields this codec carries."""

    version: str  # "na" or "nb"
    pending_repair: bytes | None  # 16-byte session id, None = not pending
    is_transient: bool
    host_id: bytes | None  # 16-byte originating host id (nb)


digest_path_for = partial(component_path, component="Digest.crc32")
crc_path_for = partial(component_path, component="CRC.db")


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
    write_data_with_checksums(path, raw)
    payload = _STATS.pack(
        version.encode("ascii"),
        stats.min_timestamp,
        stats.min_ldt,
        stats.min_ttl,
        pending_repair or _NO_ID,
        is_transient,
        host_id or _NO_ID,
    )
    write_checked(stats_path_for(path), _STATS_MAGIC, payload)


def write_data_with_checksums(path: str, raw: bytes) -> None:
    """Write Data.db plus its Digest.crc32 and CRC.db (na/nb and oa)."""
    with open(path, "wb") as fh:
        fh.write(raw)
    with open(digest_path_for(path), "wb") as fh:
        fh.write(str(zlib.crc32(raw)).encode("ascii"))
    crc = bytearray(struct.pack(">i", _CHUNK_SIZE))
    for off in range(0, max(len(raw), 1), _CHUNK_SIZE):
        crc += struct.pack(">I", zlib.crc32(raw[off : off + _CHUNK_SIZE]))
    with open(crc_path_for(path), "wb") as fh:
        fh.write(bytes(crc))


# ------------------------------------------------------------------ read

def read_na_stats_db(path: str) -> tuple[EncodingStats, NaMetadata]:
    """Read + CRC-verify the checksummed stats sidecar (the 4.x
    'checksummed sstable metadata' feature: a 3.x Statistics.db could
    rot silently; an na one cannot)."""
    payload = read_checked(path, _STATS_MAGIC)
    version, ts, ldt, ttl, pr, is_transient, hid = _STATS.unpack_from(payload)
    version = version.decode("ascii")
    if version not in ("na", "nb"):
        raise ValueError(f"unknown 4.x version in stats sidecar: {version!r}")
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
    check_chunk_crcs(data_path, crc_raw, raw)


def check_chunk_crcs(
    data_path: str, crc_raw: bytes, window: bytes, first_chunk: int = 0
) -> None:
    """Check each chunk of ``window`` (Data.db bytes from chunk
    ``first_chunk`` on) against its CRC.db entry; raises ValueError
    naming the first failing chunk."""
    (chunk_size,) = struct.unpack_from(">i", crc_raw, 0)
    for k, off in enumerate(range(0, max(len(window), 1), chunk_size)):
        c = first_chunk + k
        (want,) = struct.unpack_from(">I", crc_raw, 4 + 4 * c)
        got = zlib.crc32(window[off : off + chunk_size])
        if got != want:
            raise ValueError(
                f"CRC.db chunk {c} mismatch for {data_path}: "
                f"crc32 {got} != recorded {want} (chunk corrupt)"
            )


def read_na_sstable(
    path: str, meta: TableMeta, as_of: int, raw: bytes
) -> Iterator[dict]:
    """The scan's na/nb reader: digest and chunk CRCs, then the
    checksummed stats sidecar, then the shared 3.0 row core."""
    verify_na_integrity(path, raw)
    stats, _na_meta = read_na_stats_db(stats_path_for(path))
    return parse_ma_data_db(raw, meta, stats, as_of=as_of)
