"""Byte-serialized trie index — the BTI ("big trie-indexed") primary
index structure Cassandra 5.0 introduced (CEP-25 / CASSANDRA-18398,
documented publicly in the in-tree ``BtiFormat.md``), in miniature.

The real BTI replaces the 2.x-4.x ``Index.db`` + ``Summary.db`` pair
with tries serialized into ``Partitions.db`` (partition key → data/row
index position) and ``Rows.db`` (per-partition clustering key → row
position).  Lookups walk byte-transition nodes; the format defines node
types specialized by fan-out and pointer width (PAYLOAD_ONLY, SINGLE_*,
SPARSE_*, DENSE_*, LONG_DENSE…).

This module implements the same idea with four node types — enough to
be a REAL index (every lookup walks serialized bytes; nothing is
rebuilt from Data.db) while staying audit-readable:

    node    := <u8 type|flags> [payload] body
    type    := 0 PAYLOAD_ONLY  (leaf: no transitions)
               1 SINGLE        (one transition byte)
               2 SPARSE        (2..255 transitions, sorted bytes)
               3 CHAIN         (a compressed run of label bytes with a
                                single child — the path-compression the
                                real format gets from its CHAIN nodes)
    flags   := 0x80 HAS_PAYLOAD → <uvint payload> follows the type byte
    SINGLE  := <u8 byte><uvint child_abs_offset>
    SPARSE  := <u8 n> n × (<u8 byte><uvint child_abs_offset>)
    CHAIN   := <uvint label_len><label bytes><uvint child_abs_offset>

Nodes serialize post-order (children first), so child offsets are
always known absolute positions in the blob; the root offset is carried
by the enclosing file footer (``sources/sstable_oa.py``).  Payloads are
non-negative integers (byte offsets into Data.db / Rows.db).

Vint coding is shared with the SSTable row codec
(``sstable_ma.encode_uvint``) — one integer dialect across the format
family.
"""

from __future__ import annotations

from cassandra_snap_to_hadoop_spark.sources.sstable_ma import (
    decode_uvint,
    encode_uvint,
)

PAYLOAD_ONLY = 0
SINGLE = 1
SPARSE = 2
CHAIN = 3
HAS_PAYLOAD = 0x80
_TYPE_MASK = 0x7F


class _Node:
    __slots__ = ("children", "payload")

    def __init__(self) -> None:
        self.children: dict[int, _Node] = {}
        self.payload: int | None = None


def _insert(root: _Node, key: bytes, payload: int) -> None:
    node = root
    for b in key:
        node = node.children.setdefault(b, _Node())
    if node.payload is not None:
        raise ValueError(f"duplicate trie key: {key!r}")
    node.payload = payload


def _serialize(node: _Node, out: bytearray) -> int:
    """Post-order serialize; returns the node's absolute offset."""
    # Path compression: a payload-free node with exactly one child
    # collapses into a CHAIN run (children serialize first regardless).
    if node.payload is None and len(node.children) == 1:
        label = bytearray()
        cur = node
        while cur.payload is None and len(cur.children) == 1:
            b, nxt = next(iter(cur.children.items()))
            label.append(b)
            cur = nxt
        child_off = _serialize(cur, out)
        off = len(out)
        out.append(CHAIN)
        out += encode_uvint(len(label))
        out += bytes(label)
        out += encode_uvint(child_off)
        return off
    child_offs = {
        b: _serialize(child, out) for b, child in sorted(node.children.items())
    }
    off = len(out)
    if not child_offs:
        if node.payload is None:
            raise ValueError("leaf node without payload")
        out.append(PAYLOAD_ONLY | HAS_PAYLOAD)
        out += encode_uvint(node.payload)
        return off
    t = SINGLE if len(child_offs) == 1 else SPARSE
    out.append(t | (HAS_PAYLOAD if node.payload is not None else 0))
    if node.payload is not None:
        out += encode_uvint(node.payload)
    if t == SINGLE:
        ((b, c),) = child_offs.items()
        out.append(b)
        out += encode_uvint(c)
    else:
        if len(child_offs) > 255:
            raise ValueError("sparse node fan-out exceeds 255")
        out.append(len(child_offs))
        for b, c in child_offs.items():
            out.append(b)
            out += encode_uvint(c)
    return off


def serialize_trie(items: dict[bytes, int]) -> tuple[bytes, int]:
    """Serialize ``key bytes → non-negative payload`` into a trie blob;
    returns ``(blob, root_offset)``."""
    if not items:
        raise ValueError("cannot serialize an empty trie")
    for k, v in items.items():
        if v < 0:
            raise ValueError(f"negative payload for key {k!r}")
    root = _Node()
    for k in sorted(items):
        _insert(root, k, items[k])
    out = bytearray()
    root_off = _serialize(root, out)
    return bytes(out), root_off


def walk_trie(blob: bytes, root_off: int) -> dict[bytes, int]:
    """Reconstruct the full key → payload mapping by walking serialized
    nodes (the reader's bulk path: an index-driven scan visits every
    partition anyway, so it materializes the whole mapping once)."""
    out: dict[bytes, int] = {}
    stack: list[tuple[int, bytes]] = [(root_off, b"")]
    while stack:
        off, prefix = stack.pop()
        t = blob[off]
        i = off + 1
        kind = t & _TYPE_MASK
        if t & HAS_PAYLOAD:
            payload, i = decode_uvint(blob, i)
            out[prefix] = payload
        if kind == PAYLOAD_ONLY:
            if not t & HAS_PAYLOAD:
                raise ValueError(f"payload-free leaf at offset {off}")
            continue
        if kind == CHAIN:
            n, i = decode_uvint(blob, i)
            label = blob[i : i + n]
            i += n
            child, i = decode_uvint(blob, i)
            stack.append((child, prefix + label))
        elif kind == SINGLE:
            b = blob[i]
            child, i = decode_uvint(blob, i + 1)
            stack.append((child, prefix + bytes((b,))))
        elif kind == SPARSE:
            n = blob[i]
            i += 1
            for _ in range(n):
                b = blob[i]
                child, i = decode_uvint(blob, i + 1)
                stack.append((child, prefix + bytes((b,))))
        else:
            raise ValueError(f"unknown trie node type {kind} at offset {off}")
    return out


def lookup(blob: bytes, root_off: int, key: bytes) -> int | None:
    """Point lookup: descend the serialized trie byte-by-byte — an
    O(|key|) seek that never materializes the mapping.  The payload is
    the partition's start only, so ``sstable_oa.oa_point_lookup``, which
    also needs its end, resolves the whole index instead."""
    off = root_off
    pos = 0
    while True:
        t = blob[off]
        i = off + 1
        kind = t & _TYPE_MASK
        payload = None
        if t & HAS_PAYLOAD:
            payload, i = decode_uvint(blob, i)
        if pos == len(key):
            return payload
        if kind == PAYLOAD_ONLY:
            return None
        if kind == CHAIN:
            n, i = decode_uvint(blob, i)
            label = blob[i : i + n]
            i += n
            if key[pos : pos + n] != label:
                return None
            pos += n
            off, i = decode_uvint(blob, i)
        elif kind == SINGLE:
            if blob[i] != key[pos]:
                return None
            pos += 1
            off, i = decode_uvint(blob, i + 1)
        elif kind == SPARSE:
            n = blob[i]
            i += 1
            nxt = None
            for _ in range(n):
                b = blob[i]
                child, i = decode_uvint(blob, i + 1)
                if b == key[pos]:
                    nxt = child
            if nxt is None:
                return None
            pos += 1
            off = nxt
        else:
            raise ValueError(f"unknown trie node type {kind} at offset {off}")
