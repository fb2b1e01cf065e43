"""Seeded input generators for the benchmark.

Everything the benchmark feeds the program is written here from a seed:
the same ``(seed, scale)`` gives byte-identical files, a different seed a
different data set with the same shape.

* ``write_tables`` — the ten engine tables (TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings``) with the column types and
  value domains of the engine's declared schemas (``io.SCHEMAS``).
* ``write_merge_snapshot`` — a 4-generation parquet stand-in snapshot for
  the merged export: generation 0 holds every key, each later generation
  overwrites a seeded 10% of the keys, and a seeded share of those
  overwrites are tombstones.  It returns the LWW survivors the merged
  export must land.
* ``write_raw_snapshot`` — binary Cassandra 4.x ``nb`` SSTables of the
  ``orders`` rows for the raw export, written with the engine's own
  ``sources.sstable_na`` writer.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

MERGE_KEYSPACE, MERGE_TABLE = "ks_bench", "lineitem_cells"
RAW_KEYSPACE, RAW_TABLE = "ks_bench", "orders_sst"
SNAPSHOT_TAG = "bench"

MERGE_CQL = f"""CREATE TABLE {MERGE_KEYSPACE}.{MERGE_TABLE} (
    pk bigint,
    ck bigint,
    l_partkey bigint,
    l_quantity double,
    l_extendedprice double,
    l_returnflag text,
    l_shipdate timestamp,
    _writetime bigint,
    _tombstone boolean,
    _seq bigint,
    PRIMARY KEY ((pk), ck)
);
"""

RAW_CQL = f"""CREATE TABLE {RAW_KEYSPACE}.{RAW_TABLE} (
    o_orderkey bigint PRIMARY KEY,
    o_custkey bigint,
    o_orderstatus text,
    o_totalprice double,
    o_orderpriority text
);
"""

_EPOCH = dt.datetime(1970, 1, 1)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per table, so adding a column to one
    table never shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


def _micros(day: dt.datetime) -> int:
    return int((day - _EPOCH).total_seconds()) * 1_000_000


def _days(rng, lo: dt.datetime, hi: dt.datetime, n: int) -> pa.Array:
    span = (hi - lo).days
    micros = _micros(lo) + rng.integers(0, span + 1, n) * 86_400_000_000
    return pa.array(micros, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    # Fixed writer options so the bytes depend on the data alone.
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _sizes(scale: float) -> dict[str, int]:
    return {
        "customer": max(10, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(20, int(200_000 * scale)),
        "orders": max(100, int(1_500_000 * scale)),
        "lineitem": max(400, int(6_000_000 * scale)),
        "events": max(100, int(1_000_000 * scale)),
        "users": max(5, int(15_000 * scale)),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _documents(rng, n: int) -> pa.Table:
    n_words = rng.integers(9, 100, n)
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)) for k in n_words]
    # 5% near-duplicates: a copy of an earlier document plus a marker word,
    # so the dedup and similarity queries have real matches to find.
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel(), pa.float32()), 64)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": labels,
        }
    )


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten engine tables, in memory."""
    n = _sizes(scale)
    out: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    r = _rng(seed, "customer")
    k = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(k, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": r.integers(0, 25, k).astype(np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, k),
            "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, k)],
        }
    )
    r = _rng(seed, "supplier")
    k = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(k, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": r.integers(0, 25, k).astype(np.int32),
            "s_acctbal": _money(r, -999.99, 9999.99, k),
        }
    )
    r = _rng(seed, "part")
    k = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(k, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, k), r.integers(0, 8, k))
            ],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, k)],
            "p_type": [PART_TYPES[i] for i in r.integers(0, 6, k)],
            "p_size": r.integers(1, 51, k).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 2),
        }
    )
    r = _rng(seed, "orders")
    k = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(k, dtype=np.int64),
            "o_custkey": r.integers(0, n["customer"], k, dtype=np.int64),
            "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, k)],
            "o_totalprice": _money(r, 1000.0, 500_000.0, k),
            "o_orderdate": _days(r, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), k),
            "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, k)],
        }
    )
    r = _rng(seed, "lineitem")
    k = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": np.sort(r.integers(0, n["orders"], k, dtype=np.int64)),
            "l_partkey": r.integers(0, n["part"], k, dtype=np.int64),
            "l_suppkey": r.integers(0, n["supplier"], k, dtype=np.int64),
            "l_linenumber": r.integers(1, 8, k).astype(np.int32),
            "l_quantity": r.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, k),
            "l_discount": r.integers(0, 11, k) / 100.0,
            "l_tax": r.integers(0, 9, k) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, k)],
            "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, k)],
            "l_shipdate": _days(r, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), k),
        }
    )
    r = _rng(seed, "events")
    k = n["events"]
    start = _micros(dt.datetime(2024, 1, 1))
    ts = start + np.sort(r.integers(0, 30 * 86_400_000_000, k))
    out["events"] = pa.table(
        {
            "event_id": np.arange(k, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": r.integers(0, n["users"], k, dtype=np.int64),
            "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, k)],
            "value": np.round(r.exponential(50.0, k), 2),
            "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, k)],
        }
    )
    out["documents"] = _documents(_rng(seed, "documents"), n["documents"])
    out["embeddings"] = _embeddings(_rng(seed, "embeddings"), n["embeddings"])
    return out


def write_tables(seed: int, scale: float, out_dir: str) -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns row
    counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(seed, scale).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def _snapshot_dir(data_dir: str, keyspace: str, table: str) -> str:
    d = os.path.join(data_dir, keyspace, table, "snapshots", SNAPSHOT_TAG)
    os.makedirs(d, exist_ok=True)
    return d


def write_merge_snapshot(seed: int, n_keys: int, data_dir: str) -> dict:
    """Four parquet stand-in generations over ``n_keys`` (pk, ck) keys.

    Returns the input row/byte counts and ``expected``: the survivors an
    LWW merge must keep (greatest ``_writetime``, then ``_seq``, tombstones
    dropped) as a pyarrow table sorted by (pk, ck)."""
    r = _rng(seed, "merge_snapshot")
    snap = _snapshot_dir(data_dir, MERGE_KEYSPACE, MERGE_TABLE)
    with open(os.path.join(snap, "schema.cql"), "w") as fh:
        fh.write(MERGE_CQL)
    keys = np.arange(n_keys, dtype=np.int64)
    gens = []
    seq0 = 0
    for g in range(4):
        if g == 0:
            idx = keys
            tomb = np.zeros(n_keys, dtype=bool)
        else:
            idx = np.sort(r.choice(n_keys, n_keys // 10, replace=False))
            tomb = r.random(idx.size) < 0.1
        k = idx.size
        # Writetimes are coarse (whole seconds, overlapping across
        # generations) so that a later file does not always win and some
        # keys tie on writetime and fall to _seq.
        wt = (1_700_000_000 + g * 2 + r.integers(0, 4, k)) * 1_000_000
        gen = {
            "pk": idx // 4,
            "ck": idx % 4,
            "l_partkey": r.integers(0, 200_000, k, dtype=np.int64),
            "l_quantity": r.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, k),
            "l_returnflag": np.array([("A", "N", "R")[i] for i in r.integers(0, 3, k)], object),
            "l_shipdate": _micros(dt.datetime(1995, 1, 2)) + r.integers(0, 2500, k) * 86_400_000_000,
            "_writetime": wt,
            "_tombstone": tomb,
            "_seq": seq0 + r.permutation(k).astype(np.int64),
        }
        seq0 += k
        gens.append(gen)
        table = pa.table(
            {
                **{c: v for c, v in gen.items() if c not in ("l_shipdate", "l_returnflag")},
                "l_returnflag": pa.array(gen["l_returnflag"], pa.string()),
                "l_shipdate": pa.array(gen["l_shipdate"], pa.timestamp("us")),
            }
        ).select([c for c in gen])
        # Tombstones carry no payload, as a Cassandra row delete would not.
        null_payload = pa.array(tomb)
        for c in ("l_partkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"):
            i = table.schema.get_field_index(c)
            col = table.column(i)
            table = table.set_column(
                i, c, pc.if_else(null_payload, pa.scalar(None, col.type), col)
            )
        _write(table, os.path.join(snap, f"gen-{g}.parquet"))
    expected = _lww_survivors(gens)
    files = sorted(f for f in os.listdir(snap) if f.endswith(".parquet"))
    return {
        "data_dir": data_dir,
        "keyspace": MERGE_KEYSPACE,
        "table": MERGE_TABLE,
        "files": len(files),
        "rows": sum(len(g["pk"]) for g in gens),
        "bytes": sum(os.path.getsize(os.path.join(snap, f)) for f in files),
        "expected": expected,
    }


def _lww_survivors(gens: list[dict]) -> pa.Table:
    """Reference LWW merge with numpy: sort every version by
    (key, writetime, seq) and keep the last per key."""
    allv = {c: np.concatenate([g[c] for g in gens]) for c in gens[0]}
    key = allv["pk"] * 4 + allv["ck"]
    order = np.lexsort((allv["_seq"], allv["_writetime"], key))
    key_sorted = key[order]
    last = np.r_[key_sorted[1:] != key_sorted[:-1], True]
    win = order[last]
    win = win[~allv["_tombstone"][win]]
    cols = [c for c in gens[0] if c != "_tombstone"]
    return pa.table({c: allv[c][win] for c in cols}).sort_by([("pk", "ascending"), ("ck", "ascending")])


def write_raw_snapshot(seed: int, orders: pa.Table, data_dir: str, n_files: int = 4) -> dict:
    """Split ``orders`` across ``n_files`` binary ``nb`` SSTables (one
    Cassandra partition per order).  Returns input row/byte counts and the
    expected row count per SSTable file name."""
    from cassandra_snap_to_hadoop_spark.sources.snapshot import parse_table_meta
    from cassandra_snap_to_hadoop_spark.sources.sstable_na import write_na_data_db

    r = _rng(seed, "raw_snapshot")
    snap = _snapshot_dir(data_dir, RAW_KEYSPACE, RAW_TABLE)
    with open(os.path.join(snap, "schema.cql"), "w") as fh:
        fh.write(RAW_CQL)
    meta = parse_table_meta(RAW_CQL)
    cols = orders.to_pydict()
    owner = r.integers(0, n_files, orders.num_rows)
    ts = 1_700_000_000_000_000 + r.integers(0, 1_000_000, orders.num_rows)
    per_file: dict[str, int] = {}
    for f in range(n_files):
        parts = []
        for i in np.flatnonzero(owner == f):
            t = int(ts[i])
            parts.append(
                {
                    "key": (cols["o_orderkey"][i],),
                    "deletion": None,
                    "rows": [
                        {
                            "clustering": (),
                            "marker_ts": t,
                            "cells": {
                                c: ("live", t, cols[c][i])
                                for c in ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
                            },
                        }
                    ],
                }
            )
        name = f"nb-{f + 1}-big-Data.db"
        write_na_data_db(os.path.join(snap, name), parts, meta, version="nb")
        per_file[name] = len(parts)
    data_files = [f for f in os.listdir(snap) if f.endswith("-Data.db")]
    return {
        "data_dir": data_dir,
        "keyspace": RAW_KEYSPACE,
        "table": RAW_TABLE,
        "files": len(data_files),
        "rows": orders.num_rows,
        "bytes": sum(os.path.getsize(os.path.join(snap, f)) for f in data_files),
        "per_file": per_file,
    }

