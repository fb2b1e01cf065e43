"""Cassandra 5.0 SSTable ``oa``-format codec with a BTI-style trie
primary index (SURVEY §2-A45; VERDICT r10 item 2 — the last open rung
of the format family).

Per the public 5.0 release notes and format code, ``oa`` keeps the
shared row core (``sources/sstable_ma.py``) and the 4.x integrity
components (``sources/sstable_na.py``) and adds (the family table is in
``sources/snapshot.py``):

  - **extended deletion times** (the CASSANDRA-14227 class of changes:
    expiration/deletion survive past 2038) — the partition-header
    localDeletionTime becomes an UNSIGNED 32-bit seconds field (live
    sentinel ``0xFFFFFFFF``), and the stats sidecar widens its
    minLocalDeletionTime to i64;
  - **improved min/max** (key-range bounds in the stats metadata) —
    the sidecar records the lexicographic min/max encoded partition
    key;
  - **partition-level-deletion presence marker** in the stats metadata;
  - **token space coverage** in the stats metadata;
  - the originating **host id for all versions** (was nb-only in 4.x).

  Cassandra 5.0 also ships the **BTI primary index** (CEP-25 /
  CASSANDRA-18398): tries serialized into ``Partitions.db`` (partition
  key → data position, or → row-index position for indexed partitions)
  and ``Rows.db`` (per-partition clustering-key tries).  This codec
  writes BOTH components (trie bytes via ``sources/bti.py``) and the
  reader is INDEX-DRIVEN: the scan walks Partitions.db and seeks
  ``parse_partition_at`` to each trie payload — the sequential
  file-walk the 2.x-4.x readers do is never used for ``oa``.

Miniature file layouts (all integer fields big-endian; CRC32 =
``zlib.crc32`` of the payload between magic and trailer):

    Digest.crc32   := ASCII decimal CRC32 of Data.db        (as na)
    CRC.db         := <i32 chunk_size> <u32 crc32>*         (as na)
    Statistics.db  := "CSTH-OA1" <2s version>
                      <i64 minTimestamp><i64 minLDT><i32 minTTL>
                      <16B pending_repair><u8 is_transient><16B host_id>
                      <u16 len><min_key bytes><u16 len><max_key bytes>
                      <u8 has_partition_deletions>
                      <f64 token_space_coverage>
                      <u32 crc32>
    Partitions.db  := "CSTH-BTI" <u32 n_partitions><u32 root_off>
                      <u32 trie_len><trie bytes><u32 crc32>
                      -- trie payload = (offset << 1) | kind:
                         kind 0 → offset into Data.db (partition start)
                         kind 1 → offset into Rows.db payload (indexed)
    Rows.db        := "CSTH-RWI" entry* <u32 crc32>
    entry          := <uvint data_offset><u16 n_rows>
                      <u32 root_off><u32 trie_len><trie bytes>
                      -- trie key = clustering values, each
                         <uvint len><encode_value bytes>; payload = the
                         row's unfiltered start offset RELATIVE to the
                         partition's data_offset

Partitions with ≥ ``row_index_threshold`` rows get a Rows.db entry
(mirroring how the real formats only row-index partitions past a size
threshold); smaller partitions point straight into Data.db.

Integrity-on-read (the na discipline, extended to the index): the full
scan verifies digest + every chunk CRC + both sidecar CRCs, drives
decoding from the trie, and cross-checks — per partition — the trie key
against the key bytes actually at that offset, the Rows.db row offsets
against the offsets the parser actually visits, and finally that the
index tiles the whole file (no byte unreachable from the index, no
partition missing).  Point lookups (``oa_point_lookup``) read ONLY the
covering chunk range of the target partition's Data.db and verify
exactly those chunk CRCs — O(partition) of Data.db, not O(file) — but
they still resolve the whole index first (see ``oa_point_lookup``).

The snapshot scan hands each ``oa-*-big-Data.db`` to one scan task
(``scan_oa_sstable``).

Subset boundary: identical to the ma codec (regular rows, full regular
column set, no markers/static/complex columns) — the row core is
shared, so the subset is too.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass
from functools import partial
from typing import Any, Iterator

from cassandra_snap_to_hadoop_spark.sources import bti
from cassandra_snap_to_hadoop_spark.sources.sstable import (
    LIVE_LDT,
    TableMeta,
    _encode_key,
    component_path,
    encode_value,
    read_checked,
    stats_path_for,
    write_checked,
)
from cassandra_snap_to_hadoop_spark.sources.sstable_ma import (
    EncodingStats,
    decode_uvint,
    encode_uvint,
    parse_partition_at,
    serialize_ma_partitions,
)
from cassandra_snap_to_hadoop_spark.sources.sstable_na import (
    _NO_ID,
    check_chunk_crcs,
    crc_path_for,
    verify_na_integrity,
    write_data_with_checksums,
)

_STATS_MAGIC = b"CSTH-OA1"
# version, minTimestamp, minLDT (i64), minTTL, pending_repair,
# is_transient, host_id; the key bounds and the rest follow
_STATS_HEAD = struct.Struct(">2sqqi16s?16s")
_PARTITIONS_MAGIC = b"CSTH-BTI"
_ROWS_MAGIC = b"CSTH-RWI"
_ROWS_ENTRY = struct.Struct(">HII")  # after <uvint data_offset>: n_rows, root, trie_len
_LIVE_LDT_U32 = 0xFFFFFFFF  # oa on-disk "no partition deletion" sentinel


partitions_path_for = partial(component_path, component="Partitions.db")
rows_path_for = partial(component_path, component="Rows.db")


# -------------------------------------------------- oa deletion header codec

def _pack_deletion_oa(ldt: int, mfda: int) -> bytes:
    """The 5.0 partition DeletionTime: unsigned 32-bit localDeletionTime
    (seconds — valid past 2038, up to 2106) + i64 markedForDeleteAt.
    Same 12-byte width as 3.x/4.x, different domain."""
    u = _LIVE_LDT_U32 if ldt == LIVE_LDT else ldt
    if not 0 <= u <= 0xFFFFFFFF:
        raise ValueError(f"oa localDeletionTime out of u32 range: {ldt}")
    return struct.pack(">Iq", u, mfda)


def _unpack_deletion_oa(raw: bytes, i: int) -> tuple[tuple[int, int], int]:
    u, mfda = struct.unpack_from(">Iq", raw, i)
    return (LIVE_LDT if u == _LIVE_LDT_U32 else u, mfda), i + 12


# ------------------------------------------------------------ stats sidecar

@dataclass
class OaMetadata:
    """The oa stats-metadata fields beyond the EncodingStats triple."""

    version: str  # "oa"
    pending_repair: bytes | None
    is_transient: bool
    host_id: bytes | None
    min_key: bytes  # improved min/max: lexicographic encoded-key bounds
    max_key: bytes
    has_partition_deletions: bool  # partition-level-deletion presence marker
    token_space_coverage: float


def write_oa_stats_db(
    path: str, stats: EncodingStats, meta: OaMetadata
) -> None:
    payload = _STATS_HEAD.pack(
        meta.version.encode("ascii"),
        stats.min_timestamp,
        stats.min_ldt,
        stats.min_ttl,
        meta.pending_repair or _NO_ID,
        meta.is_transient,
        meta.host_id or _NO_ID,
    )
    payload += struct.pack(">H", len(meta.min_key)) + meta.min_key
    payload += struct.pack(">H", len(meta.max_key)) + meta.max_key
    payload += struct.pack(">?d", meta.has_partition_deletions, meta.token_space_coverage)
    write_checked(path, _STATS_MAGIC, payload)


def read_oa_stats_db(path: str) -> tuple[EncodingStats, OaMetadata]:
    payload = read_checked(path, _STATS_MAGIC)
    version, ts, ldt, ttl, pr, is_transient, hid = _STATS_HEAD.unpack_from(payload)
    version = version.decode("ascii")
    if version != "oa":
        raise ValueError(f"unknown 5.x version in stats sidecar: {version!r}")
    i = _STATS_HEAD.size
    keys = []
    for _ in range(2):  # min_key, max_key
        (n,) = struct.unpack_from(">H", payload, i)
        keys.append(payload[i + 2 : i + 2 + n])
        i += 2 + n
    min_key, max_key = keys
    has_del, coverage = struct.unpack_from(">?d", payload, i)
    return (
        EncodingStats(ts, ldt, ttl),
        OaMetadata(
            version=version,
            pending_repair=None if pr == _NO_ID else pr,
            is_transient=is_transient,
            host_id=None if hid == _NO_ID else hid,
            min_key=min_key,
            max_key=max_key,
            has_partition_deletions=has_del,
            token_space_coverage=coverage,
        ),
    )


# ----------------------------------------------------------- clustering keys

def _clustering_trie_key(cvals: tuple, meta: TableMeta) -> bytes:
    """Canonical byte key for a clustering tuple: each value
    length-prefixed (uvint) in declaration order.  NULL clustering
    values are outside the row-index subset (raise)."""
    out = bytearray()
    for col, v in zip(meta.clustering, cvals):
        if v is None:
            raise ValueError("oa row index: NULL clustering values unsupported")
        b = encode_value(meta.types[col], v)
        out += encode_uvint(len(b)) + b
    return bytes(out)


# ----------------------------------------------------------------- write

def write_oa_data_db(
    path: str,
    partitions: list[dict],
    meta: TableMeta,
    *,
    pending_repair: bytes | None = None,
    is_transient: bool = False,
    host_id: bytes | None = None,
    token_space_coverage: float = 1.0,
    row_index_threshold: int = 2,
) -> None:
    """Serialize partitions (the shared ka/ma writer vocabulary) to a
    5.0 ``oa`` SSTable: Data.db (shared row core, u32 deletion header) +
    Digest.crc32 + CRC.db + checksummed oa stats + BTI Partitions.db
    (+ Rows.db when any partition reaches ``row_index_threshold``
    rows)."""
    for blob, name in ((pending_repair, "pending_repair"), (host_id, "host_id")):
        if blob is not None and len(blob) != 16:
            raise ValueError(f"{name} must be a 16-byte id")
    index: list[dict] = []
    raw, stats = serialize_ma_partitions(
        partitions, meta, pack_deletion=_pack_deletion_oa, index_out=index
    )
    if not index:
        raise ValueError("oa writer requires at least one partition")
    write_data_with_checksums(path, raw)

    # Rows.db: one entry per row-indexed partition, then Partitions.db
    # payloads pointing either straight at Data.db or at the entry.
    rows_payload = bytearray()
    trie_items: dict[bytes, int] = {}
    for ent, part in zip(index, partitions):
        if len(ent["row_offsets"]) >= row_index_threshold and meta.clustering:
            entry_off = len(rows_payload)
            row_items = {
                _clustering_trie_key(tuple(r.get("clustering", ())), meta): off
                - ent["offset"]
                for r, off in zip(part["rows"], ent["row_offsets"])
            }
            blob, root = bti.serialize_trie(row_items)
            rows_payload += encode_uvint(ent["offset"])
            rows_payload += _ROWS_ENTRY.pack(len(ent["row_offsets"]), root, len(blob))
            rows_payload += blob
            trie_items[ent["key"]] = (entry_off << 1) | 1
        else:
            trie_items[ent["key"]] = ent["offset"] << 1
    if rows_payload:
        write_checked(rows_path_for(path), _ROWS_MAGIC, bytes(rows_payload))
    pblob, proot = bti.serialize_trie(trie_items)
    ppayload = struct.pack(">III", len(index), proot, len(pblob)) + pblob
    write_checked(partitions_path_for(path), _PARTITIONS_MAGIC, ppayload)

    keys = [ent["key"] for ent in index]
    write_oa_stats_db(
        stats_path_for(path),
        stats,
        OaMetadata(
            version="oa",
            pending_repair=pending_repair,
            is_transient=is_transient,
            host_id=host_id,
            min_key=min(keys),
            max_key=max(keys),
            has_partition_deletions=any(
                p.get("deletion") is not None for p in partitions
            ),
            token_space_coverage=token_space_coverage,
        ),
    )


# ------------------------------------------------------------------ read

def read_partitions_db(path: str) -> dict[bytes, int]:
    """CRC-verify and walk Partitions.db; returns encoded partition key
    → raw trie payload ((offset << 1) | kind).  Count consistency is
    checked here (trie walk must surface exactly n_partitions keys)."""
    payload = read_checked(path, _PARTITIONS_MAGIC)
    n, root, blob_len = struct.unpack_from(">III", payload, 0)
    blob = payload[12 : 12 + blob_len]
    mapping = bti.walk_trie(blob, root)
    if len(mapping) != n:
        raise ValueError(
            f"Partitions.db at {path} declares {n} partitions but the trie "
            f"walk surfaced {len(mapping)}"
        )
    return mapping


def _read_rows_entry(
    rows_payload: bytes, entry_off: int
) -> tuple[int, int, dict[bytes, int]]:
    """Decode one Rows.db entry: (data_offset, n_rows, clustering-key →
    relative row offset)."""
    data_off, i = decode_uvint(rows_payload, entry_off)
    n_rows, root, blob_len = _ROWS_ENTRY.unpack_from(rows_payload, i)
    i += _ROWS_ENTRY.size
    blob = rows_payload[i : i + blob_len]
    row_map = bti.walk_trie(blob, root)
    if len(row_map) != n_rows:
        raise ValueError(
            f"Rows.db entry at {entry_off} declares {n_rows} rows but the "
            f"trie walk surfaced {len(row_map)}"
        )
    return data_off, n_rows, row_map


def _resolve_index(data_path: str) -> list[tuple[int, bytes, dict | None]]:
    """Every Partitions.db entry as (Data.db offset, partition key,
    Rows.db clustering-key map or None), in file order."""
    mapping = read_partitions_db(partitions_path_for(data_path))
    rows_payload: bytes | None = None
    if any(p & 1 for p in mapping.values()):
        rows_payload = read_checked(rows_path_for(data_path), _ROWS_MAGIC)
    resolved: list[tuple[int, bytes, dict | None]] = []
    for key, payload in mapping.items():
        if payload & 1:
            data_off, _n_rows, row_map = _read_rows_entry(rows_payload, payload >> 1)
            resolved.append((data_off, key, row_map))
        else:
            resolved.append((payload >> 1, key, None))
    return sorted(resolved)


def scan_oa_sstable(
    data_path: str,
    meta: TableMeta,
    as_of: int = 2**31 - 1,
    raw: bytes | None = None,
) -> Iterator[dict[str, Any]]:
    """Index-driven verified scan of one oa SSTable (see module
    docstring for everything this checks) — the scan's oa reader.
    Yields reconciled row dicts in index order, the same output
    contract as the ka/ma/na readers."""
    if raw is None:
        with open(data_path, "rb") as fh:
            raw = fh.read()
    verify_na_integrity(data_path, raw)  # digest + every chunk CRC (as na)
    stats, oa_meta = read_oa_stats_db(stats_path_for(data_path))
    # Every trie payload is resolved up front, so the scan can verify
    # that the index tiles the file.
    prev_end = 0
    for data_off, key, row_map in _resolve_index(data_path):
        if data_off != prev_end:
            raise ValueError(
                f"Partitions.db for {data_path}: partition at {data_off} does "
                f"not abut the previous partition end {prev_end} — bytes "
                f"unreachable from the index, or index and data disagree"
            )
        (klen,) = struct.unpack_from(">H", raw, data_off)
        actual_key = raw[data_off + 2 : data_off + 2 + klen]
        if actual_key != key:
            raise ValueError(
                f"Partitions.db for {data_path}: trie key {key!r} does not "
                f"match the key bytes {actual_key!r} at offset {data_off}"
            )
        if not oa_meta.min_key <= key <= oa_meta.max_key:
            raise ValueError(
                f"stats min/max key bounds exclude partition key {key!r} "
                f"at offset {data_off} (metadata corrupt)"
            )
        row_offsets: list[int] = []
        rows, prev_end = parse_partition_at(
            raw,
            data_off,
            meta,
            stats,
            as_of=as_of,
            unpack_deletion=_unpack_deletion_oa,
            row_offsets_out=row_offsets,
        )
        if row_map is not None:
            want = sorted(row_map.values())
            got = sorted(off - data_off for off in row_offsets)
            if want != got:
                raise ValueError(
                    f"Rows.db for {data_path}: row-index offsets {want} "
                    f"disagree with parsed unfiltered offsets {got} at "
                    f"partition offset {data_off}"
                )
        yield from rows
    if prev_end != len(raw):
        raise ValueError(
            f"Partitions.db for {data_path}: index covers bytes up to "
            f"{prev_end} but Data.db has {len(raw)} — trailing bytes "
            f"unreachable from the index"
        )


def oa_point_lookup(
    data_path: str,
    key_vals: tuple,
    meta: TableMeta,
    as_of: int = 2**31 - 1,
) -> list[dict[str, Any]]:
    """Single-partition read: reads ONLY the covering chunk range of
    Data.db, verifies exactly those chunk CRCs, and parses the one
    partition.  Returns [] when the key is absent, without touching
    Data.db.

    It is not a seek.  To find the partition's end (the next partition's
    offset) it resolves the whole index through ``_resolve_index``: it
    walks every Partitions.db trie entry and decodes every Rows.db entry,
    so a lookup costs O(index) before its O(partition) Data.db read."""
    index = _resolve_index(data_path)
    key = _encode_key(key_vals, meta)
    data_off = next((off for off, k, _ in index if k == key), None)
    if data_off is None:
        return []
    # Partition end = next partition's offset or EOF.
    file_size = os.path.getsize(data_path)
    end = min((off for off, _, _ in index if off > data_off), default=file_size)

    # Read + verify only the covering chunks.
    with open(crc_path_for(data_path), "rb") as fh:
        crc_raw = fh.read()
    (chunk_size,) = struct.unpack_from(">i", crc_raw, 0)
    lo_chunk = data_off // chunk_size
    hi_chunk = (end - 1) // chunk_size if end > 0 else 0
    lo_byte = lo_chunk * chunk_size
    hi_byte = min((hi_chunk + 1) * chunk_size, file_size)
    with open(data_path, "rb") as fh:
        fh.seek(lo_byte)
        window = fh.read(hi_byte - lo_byte)
    check_chunk_crcs(data_path, crc_raw, window, lo_chunk)
    stats, _oa_meta = read_oa_stats_db(stats_path_for(data_path))
    rows, _end = parse_partition_at(
        window,
        data_off - lo_byte,
        meta,
        stats,
        as_of=as_of,
        unpack_deletion=_unpack_deletion_oa,
    )
    return rows
