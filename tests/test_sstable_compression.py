"""Unit tests for the compressed-SSTable leg
(cassandra_snap_to_hadoop_spark/sources/sstable_compression.py):
chunking golden pins, every corruption surface, component-presence
dispatch through the snapshot scan, and the multi-chunk law."""

from __future__ import annotations

import struct
import zlib

import pytest

from cassandra_snap_to_hadoop_spark.sources.snapshot import (
    parse_table_meta,
    snapshot_scan,
)
from cassandra_snap_to_hadoop_spark.sources.sstable_compression import (
    compression_info_path_for,
    decompress_data_db,
    read_compression_info,
    write_compressed_data_db,
)
from cassandra_snap_to_hadoop_spark.sources.sstable_ma import (
    serialize_ma_partitions,
    stats_path_for,
    write_stats_db,
)

FLAT_CQL = """CREATE TABLE ks.flat (
    pk bigint PRIMARY KEY,
    name text,
    score double,
    n int
);"""


def _meta():
    return parse_table_meta(FLAT_CQL)


def _mk(pk, ts, name):
    return {"key": (pk,), "deletion": None, "rows": [
        {"clustering": (), "marker_ts": ts, "cells": {
            "name": ("live", ts, name),
            "score": ("live", ts, pk * 0.5),
            "n": ("live", ts, pk * 10),
        }}]}


def _write(tmp_path, parts, chunk_length=256, name="ma-1-big-Data.db"):
    meta = _meta()
    raw, stats = serialize_ma_partitions(parts, meta)
    p = str(tmp_path / name)
    write_compressed_data_db(p, raw, chunk_length=chunk_length)
    write_stats_db(stats_path_for(p), stats)
    return p, raw


def test_roundtrip_multi_chunk(tmp_path):
    parts = [_mk(i, i * 10 + 10, "x" * 100) for i in range(1, 40)]
    p, raw = _write(tmp_path, parts, chunk_length=256)
    name, clen, dlen, offsets = read_compression_info(compression_info_path_for(p))
    assert name == "DeflateCompressor" and clen == 256 and dlen == len(raw)
    assert len(offsets) == (len(raw) + 255) // 256 and len(offsets) > 1
    assert decompress_data_db(p, open(p, "rb").read()) == raw
    # the file is actually smaller than the plain stream (repetitive fixture)
    import os

    assert os.path.getsize(p) < len(raw)


def test_sidecar_crc_verified(tmp_path):
    p, _raw = _write(tmp_path, [_mk(1, 100, "a")])
    ip = compression_info_path_for(p)
    blob = bytearray(open(ip, "rb").read())
    blob[10] ^= 0x01
    with open(ip, "wb") as fh:
        fh.write(bytes(blob))
    with pytest.raises(ValueError, match="checksum mismatch"):
        read_compression_info(ip)


def test_chunk_crc_named_by_index(tmp_path):
    parts = [_mk(i, i * 10 + 10, "y" * 100) for i in range(1, 40)]
    p, _raw = _write(tmp_path, parts, chunk_length=256)
    _n, _c, _d, offsets = read_compression_info(compression_info_path_for(p))
    blob = bytearray(open(p, "rb").read())
    blob[offsets[1] + 2] ^= 0xFF  # corrupt chunk 1's compressed bytes
    with pytest.raises(ValueError, match="chunk 1 mismatch"):
        decompress_data_db(p, bytes(blob))


def test_length_mismatch_detected(tmp_path):
    p, raw = _write(tmp_path, [_mk(i, i * 10 + 10, "z" * 100) for i in range(1, 20)])
    ip = compression_info_path_for(p)
    name, clen, dlen, offsets = read_compression_info(ip)
    # rewrite the sidecar with a wrong data_length (CRC-consistent)
    nb = name.encode()
    payload = struct.pack(">H", len(nb)) + nb
    payload += struct.pack(">iq", clen, dlen + 1)
    payload += struct.pack(">I", len(offsets))
    for o in offsets:
        payload += struct.pack(">Q", o)
    with open(ip, "wb") as fh:
        fh.write(b"CSTH-CMP" + payload + struct.pack(">I", zlib.crc32(payload)))
    with pytest.raises(ValueError, match="records"):
        decompress_data_db(p, open(p, "rb").read())


def test_unsupported_compressor_rejected(tmp_path):
    p, _raw = _write(tmp_path, [_mk(1, 100, "a")])
    ip = compression_info_path_for(p)
    name, clen, dlen, offsets = read_compression_info(ip)
    nb = b"LZ4Compressor"
    payload = struct.pack(">H", len(nb)) + nb
    payload += struct.pack(">iq", clen, dlen)
    payload += struct.pack(">I", len(offsets))
    for o in offsets:
        payload += struct.pack(">Q", o)
    with open(ip, "wb") as fh:
        fh.write(b"CSTH-CMP" + payload + struct.pack(">I", zlib.crc32(payload)))
    with pytest.raises(ValueError, match="unsupported sstable compressor"):
        decompress_data_db(p, open(p, "rb").read())


def test_datasource_dispatch_by_component_presence(spark, tmp_path):
    """One snapshot with a compressed AND an uncompressed ma generation:
    the reader must pick per file, by CompressionInfo.db presence."""
    from cassandra_snap_to_hadoop_spark.sources.sstable_ma import write_ma_data_db

    snap = tmp_path / "ks" / "flat" / "snapshots" / "tag-c"
    snap.mkdir(parents=True)
    (snap / "schema.cql").write_text(FLAT_CQL)
    meta = _meta()
    raw, stats = serialize_ma_partitions([_mk(1, 100, "one")], meta)
    p1 = str(snap / "ma-1-big-Data.db")
    write_compressed_data_db(p1, raw, chunk_length=128)
    write_stats_db(stats_path_for(p1), stats)
    write_ma_data_db(str(snap / "ma-2-big-Data.db"), [_mk(2, 200, "two")], meta)
    df = snapshot_scan(spark, str(tmp_path), "ks", "flat", "tag-c", writetime="true")
    rows = {r.pk: r for r in df.collect()}
    assert set(rows) == {1, 2}
    assert rows[1].name == "one" and rows[1]._writetime == 100
    assert rows[2].name == "two" and rows[2]._writetime == 200


def test_datasource_refuses_corrupt_compressed_generation(spark, tmp_path):
    snap = tmp_path / "ks" / "flat" / "snapshots" / "tag-x"
    snap.mkdir(parents=True)
    (snap / "schema.cql").write_text(FLAT_CQL)
    meta = _meta()
    raw, stats = serialize_ma_partitions(
        [_mk(i, i * 10 + 10, "w" * 100) for i in range(1, 30)], meta
    )
    p = str(snap / "ma-1-big-Data.db")
    write_compressed_data_db(p, raw, chunk_length=256)
    write_stats_db(stats_path_for(p), stats)
    blob = bytearray(open(p, "rb").read())
    blob[5] ^= 0x20
    with open(p, "wb") as fh:
        fh.write(bytes(blob))
    df = snapshot_scan(spark, str(tmp_path), "ks", "flat", "tag-x")
    with pytest.raises(Exception, match="chunk 0 mismatch"):
        df.collect()
