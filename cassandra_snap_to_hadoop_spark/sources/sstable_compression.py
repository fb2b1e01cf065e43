"""Compressed SSTable Data.db support (SURVEY §2-A50) — the
``CompressionInfo.db`` component.

Every SSTable codec in this family so far stores Data.db uncompressed;
real Cassandra tables are almost always compressed (LZ4 by default,
``DeflateCompressor`` as the built-in alternative — which is zlib, so
this engine can implement it faithfully with the standard library).
The public on-disk scheme, in miniature:

* ``CompressionInfo.db`` records the compressor, the UNCOMPRESSED
  chunk length, the total uncompressed data length, and the offset of
  every compressed chunk inside Data.db;
* ``Data.db`` is a sequence of independently-compressed chunks, each
  followed by a 4-byte checksum of the COMPRESSED bytes (the 3.0+
  CRC32 convention) — independent chunks are what make range reads
  possible without decompressing the file.

Miniature layouts (big-endian; CRC32 = zlib.crc32):

    CompressionInfo.db := "CSTH-CMP" <u16 len><compressor name utf-8>
                          <i32 chunk_length> <i64 data_length>
                          <u32 chunk_count> <u64 offset>*
                          <u32 crc32 of everything after the magic>
    Data.db            := (<compressed chunk bytes><u32 crc32(chunk)>)*

The row core inside the decompressed stream is the shared 3.0
serialization (``sstable_ma``), with its usual stats sidecar — so this
module composes with the whole format family rather than forking it:
dispatch is BY COMPONENT PRESENCE (a ``*-CompressionInfo.db`` next to
the Data.db means compressed), exactly how real readers decide.

Readers verify the CompressionInfo CRC, every chunk's CRC, and the
reassembled length against the recorded data_length before a single
row is decoded.  Decompression happens executor-side inside the
snapshot scan's per-file scan task — at production scale
the chunk map is also what a range reader uses to seek; the full-scan
path here decompresses sequentially, which is the Spark-ingest access
pattern.
"""

from __future__ import annotations

import struct
import zlib
from functools import partial

from cassandra_snap_to_hadoop_spark.sources.sstable import (
    component_path,
    read_checked,
    write_checked,
)

_MAGIC = b"CSTH-CMP"
DEFLATE = "DeflateCompressor"
# after the compressor name: chunk_length, data_length, chunk_count
_HEAD = struct.Struct(">iqI")


compression_info_path_for = partial(component_path, component="CompressionInfo.db")


def write_compressed_data_db(
    path: str, raw: bytes, *, chunk_length: int = 4096
) -> None:
    """Compress the (already row-serialized) ``raw`` stream into
    Deflate chunks + the CompressionInfo.db sidecar."""
    if chunk_length <= 0:
        raise ValueError(f"chunk_length must be positive: {chunk_length}")
    offsets: list[int] = []
    out = bytearray()
    for off in range(0, max(len(raw), 1), chunk_length):
        offsets.append(len(out))
        comp = zlib.compress(raw[off : off + chunk_length], 6)
        out += comp
        out += struct.pack(">I", zlib.crc32(comp))
    with open(path, "wb") as fh:
        fh.write(bytes(out))
    name = DEFLATE.encode("utf-8")
    payload = struct.pack(">H", len(name)) + name
    payload += _HEAD.pack(chunk_length, len(raw), len(offsets))
    payload += struct.pack(f">{len(offsets)}Q", *offsets)
    write_checked(compression_info_path_for(path), _MAGIC, payload)


def read_compression_info(path: str) -> tuple[str, int, int, list[int]]:
    """CRC-verify and decode CompressionInfo.db → (compressor,
    chunk_length, data_length, chunk offsets)."""
    payload = read_checked(path, _MAGIC)
    (nlen,) = struct.unpack_from(">H", payload, 0)
    name = payload[2 : 2 + nlen].decode("utf-8")
    i = 2 + nlen
    chunk_length, data_length, n = _HEAD.unpack_from(payload, i)
    offsets = list(struct.unpack_from(f">{n}Q", payload, i + _HEAD.size))
    return name, chunk_length, data_length, offsets


def decompress_data_db(data_path: str, raw: bytes) -> bytes:
    """Verify + decompress a chunked Data.db back to the row stream.
    Checks: sidecar CRC, compressor support, per-chunk CRC (of the
    COMPRESSED bytes, named by chunk index on failure), offset
    consistency, and the reassembled length vs the recorded
    data_length."""
    info_path = compression_info_path_for(data_path)
    name, chunk_length, data_length, offsets = read_compression_info(info_path)
    if name != DEFLATE:
        raise ValueError(
            f"unsupported sstable compressor {name!r} (this engine "
            f"implements {DEFLATE})"
        )
    out = bytearray()
    for k, off in enumerate(offsets):
        end = offsets[k + 1] if k + 1 < len(offsets) else len(raw)
        if end - off < 4 or end > len(raw):
            raise ValueError(
                f"CompressionInfo.db offset {k} inconsistent with Data.db "
                f"size for {data_path}"
            )
        comp, tail = raw[off : end - 4], raw[end - 4 : end]
        (want,) = struct.unpack(">I", tail)
        got = zlib.crc32(comp)
        if got != want:
            raise ValueError(
                f"compressed chunk {k} mismatch for {data_path}: "
                f"crc32 {got} != recorded {want} (chunk corrupt)"
            )
        plain = zlib.decompress(comp)
        if k + 1 < len(offsets) and len(plain) != chunk_length:
            raise ValueError(
                f"chunk {k} decompressed to {len(plain)} bytes, expected "
                f"{chunk_length} for {data_path}"
            )
        out += plain
    if len(out) != data_length:
        raise ValueError(
            f"decompressed Data.db is {len(out)} bytes, CompressionInfo.db "
            f"records {data_length} for {data_path}"
        )
    return bytes(out)
