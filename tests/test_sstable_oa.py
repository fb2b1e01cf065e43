"""Unit tests for the Cassandra 5.0 ``oa`` SSTable codec with BTI trie
index (cassandra_snap_to_hadoop_spark/sources/sstable_oa.py +
sources/bti.py) and its snapshot-scan integration — the 5.0 leg of the
format family (VERDICT r10 item 2).

The row core is the ma codec's (golden-pinned in tests/test_sstable_ma)
and the digest/chunk components are na's (pinned in tests/test_sstable_na),
so the pins HERE target exactly what 5.0 adds: the u32 extended-deletion
partition header (incl. a post-2038 deletion time the 4.x packer cannot
represent), the widened + extended stats sidecar (key-range bounds,
partition-deletion marker, token coverage), the serialized trie itself
(every node type, prefix keys, point lookups), the index-driven scan's
cross-checks (trie-vs-data key mismatch, row-index-vs-parsed offsets,
file tiling), and the four-format mixed snapshot through the snapshot scan
dispatch including the explicit unknown-version error.
"""

from __future__ import annotations

import struct
import zlib

import pytest

from cassandra_snap_to_hadoop_spark.sources import bti
from cassandra_snap_to_hadoop_spark.sources.snapshot import (
    parse_table_meta,
    snapshot_scan,
)
from cassandra_snap_to_hadoop_spark.sources.sstable import write_data_db
from cassandra_snap_to_hadoop_spark.sources.sstable_ma import (
    serialize_ma_partitions,
    write_ma_data_db,
)
from cassandra_snap_to_hadoop_spark.sources.sstable_na import write_na_data_db
from cassandra_snap_to_hadoop_spark.sources.sstable_oa import (
    crc_path_for,
    oa_point_lookup,
    partitions_path_for,
    read_oa_stats_db,
    read_partitions_db,
    rows_path_for,
    scan_oa_sstable,
    stats_path_for,
    write_oa_data_db,
)

FLAT_CQL = """CREATE TABLE ks.flat (
    pk bigint PRIMARY KEY,
    name text,
    score double,
    n int
);"""

WIDE_CQL = """CREATE TABLE ks.wide (
    pk bigint,
    ck int,
    val text,
    PRIMARY KEY (pk, ck)
);"""


def _meta():
    return parse_table_meta(FLAT_CQL)


def _wmeta():
    return parse_table_meta(WIDE_CQL)


def _mk(pk, ts, name, deletion=None):
    return {"key": (pk,), "deletion": deletion, "rows": [
        {"clustering": (), "marker_ts": ts, "cells": {
            "name": ("live", ts, name),
            "score": ("live", ts, pk * 0.5),
            "n": ("live", ts, pk * 10),
        }}]}


def _mk_wide(pk, cks, ts0):
    return {"key": (pk,), "deletion": None, "rows": [
        {"clustering": (ck,), "marker_ts": ts0 + ck, "cells": {
            "val": ("live", ts0 + ck, f"v{pk}-{ck}"),
        }} for ck in cks]}


# ------------------------------------------------------------------- trie

def test_trie_roundtrip_all_node_types():
    """Keys chosen to force every node type: a shared multi-byte prefix
    (CHAIN), a branch with >1 transitions (SPARSE), single transitions
    (SINGLE), leaves (PAYLOAD_ONLY), and a key that is a strict prefix
    of another (payload on an internal node)."""
    items = {
        b"apple": 10,
        b"applet": 20,      # "apple" is a strict prefix
        b"apricot": 30,
        b"banana": 40,
        b"b": 50,           # payload on the branch byte itself
    }
    blob, root = bti.serialize_trie(items)
    assert bti.walk_trie(blob, root) == items
    for k, v in items.items():
        assert bti.lookup(blob, root, k) == v
    assert bti.lookup(blob, root, b"app") is None      # chain interior
    assert bti.lookup(blob, root, b"applesauce") is None
    assert bti.lookup(blob, root, b"cherry") is None
    assert bti.lookup(blob, root, b"") is None


def test_trie_rejects_duplicates_and_empty():
    with pytest.raises(ValueError, match="empty trie"):
        bti.serialize_trie({})
    blob, root = bti.serialize_trie({b"k": 1})
    assert bti.lookup(blob, root, b"k") == 1


def test_trie_dense_fanout():
    items = {bytes([b]) + b"tail": b for b in range(200)}
    blob, root = bti.serialize_trie(items)
    assert bti.walk_trie(blob, root) == items
    assert bti.lookup(blob, root, bytes([137]) + b"tail") == 137


# ----------------------------------------------------------------- golden

def test_golden_row_core_shared_headers_widened(tmp_path):
    """oa Data.db must be byte-identical to the ma serialization EXCEPT
    the 12-byte partition deletion headers: live partitions write the
    u32 sentinel 0xFFFFFFFF where 3.x/4.x write i32 0x7FFFFFFF; rows are
    untouched (the 5.0 row core is 3.0's)."""
    meta = _meta()
    parts = [_mk(1, 100, "one"), _mk(2, 200, "two")]
    p = str(tmp_path / "oa-1-big-Data.db")
    write_oa_data_db(p, parts, meta)
    raw = open(p, "rb").read()
    want_ma, _stats = serialize_ma_partitions(parts, meta)
    assert len(raw) == len(want_ma)
    diffs = [i for i, (a, b) in enumerate(zip(raw, want_ma)) if a != b]
    # each live partition header differs in exactly its first LDT byte
    # (0xFF vs 0x7F); everything else is byte-identical
    assert all(raw[i] == 0xFF and want_ma[i] == 0x7F for i in diffs)
    assert len(diffs) == 2


def test_stats_sidecar_key_range_and_markers(tmp_path):
    meta = _meta()
    parts = [
        _mk(5, 100, "five"),
        _mk(1, 200, "one", deletion=(1_700_000_000, 150)),
        _mk(9, 300, "nine"),
    ]
    p = str(tmp_path / "oa-2-big-Data.db")
    rid, hid = bytes(range(16)), bytes(range(16, 32))
    write_oa_data_db(
        p, parts, meta,
        pending_repair=rid, is_transient=True, host_id=hid,
        token_space_coverage=0.25,
    )
    stats, om = read_oa_stats_db(stats_path_for(p))
    assert om.version == "oa"
    assert om.pending_repair == rid and om.host_id == hid
    assert om.is_transient is True
    assert om.token_space_coverage == 0.25
    assert om.has_partition_deletions is True
    # improved min/max: lexicographic bounds of the encoded bigint keys
    assert om.min_key == struct.pack(">q", 1)
    assert om.max_key == struct.pack(">q", 9)
    # stats triple mirrors the shared serializer's
    _raw, want = serialize_ma_partitions(parts, meta)
    assert (stats.min_timestamp, stats.min_ldt, stats.min_ttl) == (
        want.min_timestamp, want.min_ldt, want.min_ttl,
    )


def test_extended_deletion_time_past_2038(tmp_path):
    """The headline 5.0 change: a partition deletion whose local
    deletion time is in year 2100 (4102444800 s > 2^31-1) — the 3.x/4.x
    i32 header cannot represent it; the oa u32 header must round-trip it
    and the shadowing semantics must hold."""
    meta = _meta()
    ldt_2100 = 4_102_444_800
    parts = [
        _mk(1, 100, "one", deletion=(ldt_2100, 150)),  # shadows ts<=150
        _mk(2, 200, "two"),
    ]
    with pytest.raises(struct.error):
        serialize_ma_partitions(parts, meta)  # 4.x domain really is too small
    p = str(tmp_path / "oa-3-big-Data.db")
    write_oa_data_db(p, parts, meta)
    rows = {r["pk"]: r for r in scan_oa_sstable(p, meta)}
    assert set(rows) == {2}  # pk=1's row (ts=100) is shadowed by mfda=150
    _stats, om = read_oa_stats_db(stats_path_for(p))
    assert om.has_partition_deletions is True


def test_deletion_survives_when_rows_newer(tmp_path):
    meta = _meta()
    parts = [_mk(1, 500, "survivor", deletion=(4_102_444_800, 150))]
    p = str(tmp_path / "oa-4-big-Data.db")
    write_oa_data_db(p, parts, meta)
    rows = list(scan_oa_sstable(p, meta))
    assert len(rows) == 1 and rows[0]["name"] == "survivor"
    assert rows[0]["_writetime"] == 500


# ------------------------------------------------------------- rows index

def test_rows_db_only_for_indexed_partitions(tmp_path):
    meta = _wmeta()
    parts = [
        _mk_wide(1, [10, 20, 30], 1000),  # 3 rows -> indexed
        _mk_wide(2, [5], 2000),           # 1 row  -> direct
    ]
    p = str(tmp_path / "oa-5-big-Data.db")
    write_oa_data_db(p, parts, meta, row_index_threshold=2)
    mapping = read_partitions_db(partitions_path_for(p))
    kinds = {k: v & 1 for k, v in mapping.items()}
    assert kinds[struct.pack(">q", 1)] == 1  # via Rows.db
    assert kinds[struct.pack(">q", 2)] == 0  # direct
    rows = list(scan_oa_sstable(p, meta))
    assert [(r["pk"], r["ck"], r["val"]) for r in rows] == [
        (1, 10, "v1-10"), (1, 20, "v1-20"), (1, 30, "v1-30"), (2, 5, "v2-5"),
    ]


def test_rows_db_offsets_verified_against_parse(tmp_path):
    """Corrupting a row-index offset (keeping the file CRC consistent by
    rewriting it) must be caught by the scan's cross-check against the
    offsets the parser actually visits."""
    meta = _wmeta()
    p = str(tmp_path / "oa-6-big-Data.db")
    write_oa_data_db(p, [_mk_wide(1, [1, 2, 3], 100)], meta)
    rp = rows_path_for(p)
    blob = bytearray(open(rp, "rb").read())
    payload = bytearray(blob[8:-4])
    # entry := uvint data_offset (=0x00 here), u16 n_rows, u32 root, u32 len, trie
    # row-offset payloads live inside the trie; nudge ONE trie byte that
    # encodes a small uvint payload.  Easier and robust: flip the final
    # trie byte (a root-node child offset/payload) and re-CRC.
    payload[-1] ^= 0x01
    new = blob[:8] + payload + struct.pack(">I", zlib.crc32(bytes(payload)))
    with open(rp, "wb") as fh:
        fh.write(new)
    with pytest.raises(ValueError):
        list(scan_oa_sstable(p, meta))


def test_point_lookup_wide_partition(tmp_path):
    meta = _wmeta()
    parts = [_mk_wide(k, [1, 2, 3, 4], k * 1000) for k in range(1, 6)]
    p = str(tmp_path / "oa-7-big-Data.db")
    write_oa_data_db(p, parts, meta)
    rows = oa_point_lookup(p, (3,), meta)
    assert [(r["pk"], r["ck"]) for r in rows] == [(3, 1), (3, 2), (3, 3), (3, 4)]
    assert rows[0]["val"] == "v3-1"
    assert oa_point_lookup(p, (99,), meta) == []


def test_point_lookup_verifies_covering_chunks(tmp_path):
    """Corrupt a byte inside the LAST partition: a point lookup of an
    EARLY partition (different chunk... same chunk here since the file
    is small — so it must raise) proves the covering-chunk CRC check is
    live on the seek path."""
    meta = _meta()
    parts = [_mk(i, i * 10, "x" * 50) for i in range(1, 20)]
    p = str(tmp_path / "oa-8-big-Data.db")
    write_oa_data_db(p, parts, meta)
    raw = bytearray(open(p, "rb").read())
    raw[-3] ^= 0x20
    with open(p, "wb") as fh:
        fh.write(bytes(raw))
    with pytest.raises(ValueError, match="chunk 0 mismatch"):
        oa_point_lookup(p, (1,), meta)


# ------------------------------------------------------------ corruption

def test_scan_rejects_corrupt_data(tmp_path):
    meta = _meta()
    p = str(tmp_path / "oa-9-big-Data.db")
    write_oa_data_db(p, [_mk(1, 100, "one")], meta)
    raw = bytearray(open(p, "rb").read())
    raw[len(raw) // 2] ^= 0xFF
    with open(p, "wb") as fh:
        fh.write(bytes(raw))
    with pytest.raises(ValueError, match="Digest.crc32 mismatch"):
        list(scan_oa_sstable(p, meta))


def test_scan_rejects_corrupt_partitions_db(tmp_path):
    meta = _meta()
    p = str(tmp_path / "oa-10-big-Data.db")
    write_oa_data_db(p, [_mk(1, 100, "one")], meta)
    pp = partitions_path_for(p)
    blob = bytearray(open(pp, "rb").read())
    blob[10] ^= 0x01
    with open(pp, "wb") as fh:
        fh.write(bytes(blob))
    with pytest.raises(ValueError, match="checksum mismatch"):
        list(scan_oa_sstable(p, meta))


def test_scan_rejects_index_data_key_mismatch(tmp_path):
    """Rewrite Partitions.db (CRC-consistent) so a trie key disagrees
    with the key bytes at its offset — the per-partition cross-check
    must name the mismatch."""
    meta = _meta()
    p = str(tmp_path / "oa-11-big-Data.db")
    write_oa_data_db(p, [_mk(1, 100, "one"), _mk(2, 200, "two")], meta)
    mapping = read_partitions_db(partitions_path_for(p))
    k1, k2 = struct.pack(">q", 1), struct.pack(">q", 2)
    swapped = {k1: mapping[k2], k2: mapping[k1]}  # offsets swapped
    blob, root = bti.serialize_trie(swapped)
    payload = struct.pack(">III", len(swapped), root, len(blob)) + blob
    with open(partitions_path_for(p), "wb") as fh:
        fh.write(b"CSTH-BTI" + payload + struct.pack(">I", zlib.crc32(payload)))
    with pytest.raises(ValueError, match="does not match the key bytes"):
        list(scan_oa_sstable(p, meta))


def test_scan_rejects_non_tiling_index(tmp_path):
    """Drop one partition from the index (CRC-consistent): the tiling
    check must detect bytes unreachable from the index."""
    meta = _meta()
    p = str(tmp_path / "oa-12-big-Data.db")
    write_oa_data_db(p, [_mk(1, 100, "one"), _mk(2, 200, "two")], meta)
    mapping = read_partitions_db(partitions_path_for(p))
    k2 = struct.pack(">q", 2)
    only_first = {k: v for k, v in mapping.items() if k != k2}
    blob, root = bti.serialize_trie(only_first)
    payload = struct.pack(">III", len(only_first), root, len(blob)) + blob
    with open(partitions_path_for(p), "wb") as fh:
        fh.write(b"CSTH-BTI" + payload + struct.pack(">I", zlib.crc32(payload)))
    with pytest.raises(ValueError, match="unreachable from the index"):
        list(scan_oa_sstable(p, meta))


def test_corrupt_stats_sidecar_raises(tmp_path):
    meta = _meta()
    p = str(tmp_path / "oa-13-big-Data.db")
    write_oa_data_db(p, [_mk(1, 100, "one")], meta)
    sp = stats_path_for(p)
    blob = bytearray(open(sp, "rb").read())
    blob[12] ^= 0x01
    with open(sp, "wb") as fh:
        fh.write(bytes(blob))
    with pytest.raises(ValueError, match="checksum mismatch"):
        read_oa_stats_db(sp)


def test_corrupt_chunk_named_by_index(tmp_path):
    meta = _meta()
    parts = [_mk(i, i * 10 + 10, "y" * 500) for i in range(1, 301)]
    p = str(tmp_path / "oa-14-big-Data.db")
    write_oa_data_db(p, parts, meta)
    crc = bytearray(open(crc_path_for(p), "rb").read())
    crc[4 + 4 * 1] ^= 0xFF
    with open(crc_path_for(p), "wb") as fh:
        fh.write(bytes(crc))
    with pytest.raises(ValueError, match="chunk 1 mismatch"):
        list(scan_oa_sstable(p, meta))


# ------------------------------------------------------------ datasource

@pytest.fixture(scope="module")
def quad_format_snapshot(tmp_path_factory):
    """One snapshot, FOUR byte layouts: ka + ma + nb + oa — a cluster
    that has crossed three major upgrades without full compaction."""
    root = tmp_path_factory.mktemp("oasnap")
    snap = root / "ks" / "flat" / "snapshots" / "tag-o"
    snap.mkdir(parents=True)
    (snap / "schema.cql").write_text(FLAT_CQL)
    meta = parse_table_meta(FLAT_CQL)
    write_data_db(str(snap / "ks-flat-ka-1-Data.db"), [_mk(1, 100, "one")], meta)
    write_ma_data_db(str(snap / "ma-2-big-Data.db"), [_mk(2, 200, "two")], meta)
    write_na_data_db(
        str(snap / "nb-3-big-Data.db"), [_mk(3, 300, "three")], meta, version="nb"
    )
    write_oa_data_db(
        str(snap / "oa-4-big-Data.db"),
        [_mk(4, 400, "four"), _mk(5, 500, "five")],
        meta,
        host_id=bytes(range(16)),
    )
    return str(root)


def test_datasource_four_format_generations(spark, quad_format_snapshot):
    df = snapshot_scan(
        spark, quad_format_snapshot, "ks", "flat", "tag-o", writetime="true"
    )
    rows = {r.pk: r for r in df.collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    assert rows[1]._sstable.endswith("ka-1-Data.db")
    assert rows[2]._sstable.endswith("ma-2-big-Data.db")
    assert rows[3]._sstable.endswith("nb-3-big-Data.db")
    assert rows[4]._sstable.endswith("oa-4-big-Data.db")
    assert rows[5].name == "five" and rows[5].score == 2.5 and rows[5].n == 50
    assert [rows[k]._writetime for k in (1, 2, 3, 4, 5)] == [
        100, 200, 300, 400, 500,
    ]
    assert df.rdd.getNumPartitions() == 4


def test_datasource_unknown_version_explicit_error(spark, tmp_path):
    """ADVICE r10 item 1: a future-format generation (e.g. a made-up
    'pa') must raise the explicit unsupported-version error, never fall
    through to the legacy ka parser."""
    snap = tmp_path / "ks" / "flat" / "snapshots" / "tag-u"
    snap.mkdir(parents=True)
    (snap / "schema.cql").write_text(FLAT_CQL)
    meta = parse_table_meta(FLAT_CQL)
    # valid ma bytes under a future version name: dispatch must refuse
    # based on the NAME, before any decode attempt
    write_ma_data_db(str(snap / "ma-1-big-Data.db"), [_mk(1, 100, "a")], meta)
    import shutil

    shutil.copy(snap / "ma-1-big-Data.db", snap / "pa-2-big-Data.db")
    shutil.copy(snap / "ma-1-big-Statistics.db", snap / "pa-2-big-Statistics.db")
    df = snapshot_scan(spark, str(tmp_path), "ks", "flat", "tag-u")
    with pytest.raises(Exception, match="unsupported SSTable format version"):
        df.collect()


def test_datasource_refuses_corrupt_oa_generation(spark, tmp_path):
    snap = tmp_path / "ks" / "flat" / "snapshots" / "tag-x"
    snap.mkdir(parents=True)
    (snap / "schema.cql").write_text(FLAT_CQL)
    meta = parse_table_meta(FLAT_CQL)
    p = str(snap / "oa-1-big-Data.db")
    write_oa_data_db(p, [_mk(1, 100, "one")], meta)
    raw = bytearray(open(p, "rb").read())
    raw[-2] ^= 0x40
    with open(p, "wb") as fh:
        fh.write(bytes(raw))
    df = snapshot_scan(spark, str(tmp_path), "ks", "flat", "tag-x")
    with pytest.raises(Exception, match="Digest.crc32 mismatch"):
        df.collect()
