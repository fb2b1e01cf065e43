"""Unit tests for the Cassandra 4.x na/nb SSTable codec
(cassandra_snap_to_hadoop_spark/sources/sstable_na.py) and its
DataSource integration — the 4.x leg of the format family (VERDICT r9
item 2).

The row core is the ma codec's (already golden-pinned in
tests/test_sstable_ma.py), so the pins HERE target exactly what 4.x
adds: the integrity components (Digest.crc32 / CRC.db / checksummed
Statistics.db) as golden bytes, the corruption paths (every surface must
raise BEFORE any row is yielded — integrity-on-read is the format's
feature), the na-vs-nb version gates, and the three-format mixed
snapshot through the DataSource dispatch.
"""

from __future__ import annotations

import struct
import zlib

import pytest

from cassandra_snap_to_hadoop_spark.sources.snapshot import (
    parse_table_meta,
    snapshot_scan,
)
from cassandra_snap_to_hadoop_spark.sources.sstable import write_data_db
from cassandra_snap_to_hadoop_spark.sources.sstable_ma import (
    serialize_ma_partitions,
    write_ma_data_db,
)
from cassandra_snap_to_hadoop_spark.sources.sstable_na import (
    crc_path_for,
    digest_path_for,
    read_na_stats_db,
    stats_path_for,
    verify_na_integrity,
    write_na_data_db,
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


# ---------------------------------------------------------------- golden

def test_golden_components_data_ma_identical_plus_checksums(tmp_path):
    """The na Data.db bytes must be EXACTLY the ma serialization (the
    public 4.0 format note: the row core is unchanged), and every
    integrity component must match a hand-computed zlib.crc32 — writer
    and verifier pinned against an independent recompute so they cannot
    drift together."""
    meta = _meta()
    parts = [_mk(1, 100, "one"), _mk(2, 200, "two")]
    p = str(tmp_path / "na-1-big-Data.db")
    write_na_data_db(p, parts, meta, version="na")
    raw = open(p, "rb").read()
    want_raw, stats = serialize_ma_partitions(parts, meta)
    assert raw == want_raw
    # Digest.crc32: ASCII decimal full-file CRC32
    digest = open(digest_path_for(p), "rb").read()
    assert digest == str(zlib.crc32(raw)).encode("ascii")
    # CRC.db: i32 chunk size then one u32 per 64 KiB chunk (one here)
    crc = open(crc_path_for(p), "rb").read()
    assert crc == struct.pack(">i", 65536) + struct.pack(">I", zlib.crc32(raw))
    # checksummed stats sidecar round-trips fields and verifies
    got_stats, na_meta = read_na_stats_db(stats_path_for(p))
    assert (got_stats.min_timestamp, got_stats.min_ldt, got_stats.min_ttl) == (
        stats.min_timestamp, stats.min_ldt, stats.min_ttl,
    )
    assert na_meta.version == "na"
    assert na_meta.pending_repair is None
    assert na_meta.is_transient is False
    assert na_meta.host_id is None
    verify_na_integrity(p, raw)  # must not raise


def test_multi_chunk_crc_grid(tmp_path):
    """A Data.db larger than one 64 KiB chunk gets one CRC per chunk,
    the last one short — the ChecksumWriter layout."""
    meta = _meta()
    parts = [_mk(i, i * 10 + 10, "x" * 500) for i in range(1, 301)]
    p = str(tmp_path / "na-7-big-Data.db")
    write_na_data_db(p, parts, meta, version="na")
    raw = open(p, "rb").read()
    assert len(raw) > 65536
    crc = open(crc_path_for(p), "rb").read()
    n_chunks = (len(raw) + 65535) // 65536
    assert len(crc) == 4 + 4 * n_chunks
    for c in range(n_chunks):
        (want,) = struct.unpack_from(">I", crc, 4 + 4 * c)
        assert want == zlib.crc32(raw[c * 65536 : (c + 1) * 65536])
    verify_na_integrity(p, raw)


# ------------------------------------------------------------ corruption

def test_corrupt_data_byte_fails_digest_and_chunk(tmp_path):
    meta = _meta()
    p = str(tmp_path / "na-1-big-Data.db")
    write_na_data_db(p, [_mk(1, 100, "one")], meta, version="na")
    raw = bytearray(open(p, "rb").read())
    raw[len(raw) // 2] ^= 0xFF
    with pytest.raises(ValueError, match="Digest.crc32 mismatch"):
        verify_na_integrity(p, bytes(raw))


def test_corrupt_chunk_named_by_index(tmp_path):
    """With a matching digest but a stale CRC.db chunk entry, the error
    must name the failing CHUNK (diagnosability: which 64 KiB to
    re-fetch)."""
    meta = _meta()
    parts = [_mk(i, i * 10 + 10, "y" * 500) for i in range(1, 301)]
    p = str(tmp_path / "na-2-big-Data.db")
    write_na_data_db(p, parts, meta, version="na")
    raw = open(p, "rb").read()
    crc = bytearray(open(crc_path_for(p), "rb").read())
    crc[4 + 4 * 1] ^= 0xFF  # corrupt the SECOND chunk's recorded CRC
    with open(crc_path_for(p), "wb") as fh:
        fh.write(bytes(crc))
    with pytest.raises(ValueError, match="chunk 1 mismatch"):
        verify_na_integrity(p, raw)


def test_corrupt_stats_sidecar_raises(tmp_path):
    meta = _meta()
    p = str(tmp_path / "nb-3-big-Data.db")
    write_na_data_db(p, [_mk(1, 100, "one")], meta, version="nb")
    sp = stats_path_for(p)
    blob = bytearray(open(sp, "rb").read())
    blob[12] ^= 0x01  # flip a payload bit, keep magic + recorded CRC
    with open(sp, "wb") as fh:
        fh.write(bytes(blob))
    with pytest.raises(ValueError, match="Statistics.db checksum mismatch"):
        read_na_stats_db(sp)


def test_truncated_crc_db_detected(tmp_path):
    meta = _meta()
    parts = [_mk(i, i * 10 + 10, "z" * 500) for i in range(1, 301)]
    p = str(tmp_path / "na-4-big-Data.db")
    write_na_data_db(p, parts, meta, version="na")
    raw = open(p, "rb").read()
    crc = open(crc_path_for(p), "rb").read()
    with open(crc_path_for(p), "wb") as fh:
        fh.write(crc[:-4])  # drop the last chunk's checksum
    with pytest.raises(ValueError, match="chunk checksums"):
        verify_na_integrity(p, raw)


# --------------------------------------------------------- version gates

def test_version_gates_and_id_fields(tmp_path):
    meta = _meta()
    p = str(tmp_path / "na-5-big-Data.db")
    with pytest.raises(ValueError, match="nb-format field"):
        write_na_data_db(
            p, [_mk(1, 100, "a")], meta, version="na", host_id=b"\x01" * 16
        )
    with pytest.raises(ValueError, match="4.x big-format version"):
        write_na_data_db(p, [_mk(1, 100, "a")], meta, version="oa")
    with pytest.raises(ValueError, match="16-byte id"):
        write_na_data_db(
            p, [_mk(1, 100, "a")], meta, version="na", pending_repair=b"short"
        )
    rid, hid = bytes(range(16)), bytes(range(16, 32))
    pb = str(tmp_path / "nb-6-big-Data.db")
    write_na_data_db(
        pb, [_mk(2, 200, "b")], meta,
        version="nb", pending_repair=rid, host_id=hid, is_transient=True,
    )
    _stats, na_meta = read_na_stats_db(stats_path_for(pb))
    assert na_meta.version == "nb"
    assert na_meta.pending_repair == rid
    assert na_meta.host_id == hid
    assert na_meta.is_transient is True


# ------------------------------------------------------------ datasource

@pytest.fixture(scope="module")
def tri_format_snapshot(tmp_path_factory):
    """One snapshot, THREE byte layouts: gen 1 ka, gen 2 ma, gen 3 nb —
    the mid-major-upgrade state (SSTables rewrite lazily on compaction,
    so a 2.x->3.x->4.x cluster really can hold all three)."""
    root = tmp_path_factory.mktemp("nasnap")
    snap = root / "ks" / "flat" / "snapshots" / "tag-n"
    snap.mkdir(parents=True)
    (snap / "schema.cql").write_text(FLAT_CQL)
    meta = parse_table_meta(FLAT_CQL)
    write_data_db(str(snap / "ks-flat-ka-1-Data.db"), [_mk(1, 100, "one")], meta)
    write_ma_data_db(str(snap / "ma-2-big-Data.db"), [_mk(2, 200, "two")], meta)
    write_na_data_db(
        str(snap / "nb-3-big-Data.db"),
        [_mk(3, 300, "three"), _mk(4, 400, "four")],
        meta,
        version="nb",
        host_id=bytes(range(16)),
    )
    return str(root)


def test_datasource_three_format_generations(spark, tri_format_snapshot):
    df = snapshot_scan(
        spark, tri_format_snapshot, "ks", "flat", "tag-n", writetime="true"
    )
    rows = {r.pk: r for r in df.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1]._sstable.endswith("ka-1-Data.db")
    assert rows[2]._sstable.endswith("ma-2-big-Data.db")
    assert rows[3]._sstable.endswith("nb-3-big-Data.db")
    assert rows[4].name == "four" and rows[4].score == 2.0 and rows[4].n == 40
    assert [rows[k]._writetime for k in (1, 2, 3, 4)] == [100, 200, 300, 400]
    # one InputPartition per Data.db; integrity sidecars never become
    # partitions
    assert df.rdd.getNumPartitions() == 3


def test_datasource_refuses_corrupt_na_generation(spark, tmp_path):
    """A flipped byte in an nb Data.db must fail the SCAN loudly (the
    digest check runs executor-side before decode), not decode garbage."""
    snap = tmp_path / "ks" / "flat" / "snapshots" / "tag-c"
    snap.mkdir(parents=True)
    (snap / "schema.cql").write_text(FLAT_CQL)
    meta = parse_table_meta(FLAT_CQL)
    p = str(snap / "nb-1-big-Data.db")
    write_na_data_db(p, [_mk(1, 100, "one")], meta, version="nb")
    raw = bytearray(open(p, "rb").read())
    raw[-2] ^= 0x40
    with open(p, "wb") as fh:
        fh.write(bytes(raw))
    df = snapshot_scan(spark, str(tmp_path), "ks", "flat", "tag-c")
    with pytest.raises(Exception, match="Digest.crc32 mismatch"):
        df.collect()


def test_merged_export_of_binary_sstables(spark, tmp_path):
    """``export_snapshot(merge=True)`` on binary nb SSTables: the scan must
    supply the synthetic ``_writetime`` the LWW merge orders by, so the
    sink lands each key's newest write (by cell timestamp, not by
    generation) and verifies."""
    from cassandra_snap_to_hadoop_spark.export import export_snapshot

    snap = tmp_path / "ks" / "flat" / "snapshots" / "tag-m"
    snap.mkdir(parents=True)
    (snap / "schema.cql").write_text(FLAT_CQL)
    meta = _meta()
    write_na_data_db(
        str(snap / "nb-1-big-Data.db"),
        [_mk(1, 100, "one"), _mk(2, 200, "two")],
        meta,
        version="nb",
    )
    write_na_data_db(
        str(snap / "nb-2-big-Data.db"),
        [_mk(1, 300, "uno"), _mk(2, 50, "dos"), _mk(3, 300, "three")],
        meta,
        version="nb",
    )
    out = str(tmp_path / "merged")
    res = export_snapshot(spark, str(tmp_path), "ks", "flat", "tag-m", out, merge=True, key_cols=["pk"])
    assert res["mode"] == "merged" and res["verified"] is True and res["rows_exported"] == 3
    back = {r.pk: (r.name, r._writetime) for r in spark.read.parquet(out).collect()}
    assert back == {1: ("uno", 300), 2: ("two", 200), 3: ("three", 300)}
