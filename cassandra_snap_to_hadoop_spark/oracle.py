"""Local differential harness — mirrors the driver's correctness gate.

Runs a registered query through Spark AND its DuckDB oracle on the same
parquet, then compares row count, column names, and an order-insensitive
value multiset (floats to 9 significant digits, timestamps normalized).
Used by tests/test_parity.py and the ``python -m
cassandra_snap_to_hadoop_spark.oracle`` dev loop so oracle drift is caught
before the driver ever runs.
"""

from __future__ import annotations

import datetime as _dt
import math
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import SparkSession

from cassandra_snap_to_hadoop_spark.io import TABLES
from cassandra_snap_to_hadoop_spark.registry import REGISTRY, load_all
from cassandra_snap_to_hadoop_spark.session import drop_persisted


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Register the driver's table views over the same parquet files."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return 0.0
        return float(f"{v:.9g}")
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def _cell_sort_key(v):
    """Total order over normalized cells: None first, then grouped by a
    type tag so None-vs-float (or str-vs-num) comparisons can never raise
    — rows whose first sorted column is NULLable used to TypeError here."""
    if v is None:
        return (0, "", 0, "")
    if isinstance(v, bool):
        return (1, "num", int(v), "")
    if isinstance(v, (int, float)):
        return (1, "num", v, "")
    if isinstance(v, str):
        return (1, "str", 0, v)
    if isinstance(v, tuple):
        return (1, "tup", 0, tuple(_cell_sort_key(x) for x in v))
    return (1, type(v).__name__, 0, str(v))


def _norm_rows(rows: list[tuple], names: list[str]) -> list[tuple]:
    order = sorted(range(len(names)), key=lambda i: names[i])
    normed = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(normed, key=lambda r: tuple(_cell_sort_key(c) for c in r))


@dataclass
class ParityResult:
    name: str
    ok: bool
    mode: str  # "oracle" | "rows-only"
    spark_rows: int = 0
    oracle_rows: int = 0
    issues: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK " if self.ok else "FAIL"
        extra = "" if self.ok else " | " + "; ".join(self.issues[:3])
        return f"[{status}] {self.name} ({self.mode}, {self.spark_rows} rows){extra}"


def check_query(spark: SparkSession, name: str, sf_dir: str, con=None) -> ParityResult:
    q = load_all()[name]
    sdf = q.fn(spark, sf_dir)
    s_names = [f.lower() for f in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    if q.oracle is None:
        return ParityResult(name, len(s_rows) >= 0, "rows-only", len(s_rows), -1)

    con = con or duck_connection(sf_dir)
    rel = con.sql(q.oracle)
    o_rows = rel.fetchall()
    o_names = [c.lower() for c in rel.columns]
    o_types = [str(t).upper() for t in rel.types]

    res = ParityResult(name, True, "oracle", len(s_rows), len(o_rows))
    # DuckDB silently widens SUM(BIGINT) to HUGEINT (int128).  Python's
    # fetchall() flattens that back to int, so the value compare below
    # can't see it — but the driver's stricter value-hash serializes
    # int128 differently from Spark's int64 and fails the query (round-1
    # i7_variant lesson).  Reject the engine type before values.
    for cname, ctype in zip(o_names, o_types):
        if "HUGEINT" in ctype:
            res.ok = False
            res.issues.append(
                f"oracle col={cname} is DuckDB {ctype} (int128) — wrap in CAST(... AS BIGINT)"
            )
        # Same class of silent widening: DECIMAL literals/arithmetic (e.g.
        # CASE WHEN ... THEN 0.25) yield DECIMAL, which fetches as
        # decimal.Decimal and serializes differently from Spark's double
        # in the driver's value hash (j22 near-miss).  Registry contract
        # allows long/double/string/date only — reject at the type level.
        if "DECIMAL" in ctype:
            res.ok = False
            res.issues.append(
                f"oracle col={cname} is DuckDB {ctype} — wrap in CAST(... AS DOUBLE)"
            )
    if not res.ok:
        return res
    if sorted(s_names) != sorted(o_names):
        res.ok = False
        res.issues.append(f"columns spark={sorted(s_names)} oracle={sorted(o_names)}")
        return res
    # Python's 5 == 5.0 would hide int-vs-float divergence that a
    # stricter driver-side hash may reject — compare cell type signatures.
    def type_sig(rows: list[tuple], names: list[str]) -> dict[str, set]:
        sig: dict[str, set] = {n: set() for n in names}
        for r in rows[:100]:
            for n, v in zip(names, r):
                if v is not None:
                    sig[n].add(type(v).__name__)
        return sig

    s_sig, o_sig = type_sig(s_rows, s_names), type_sig(o_rows, o_names)
    for n in s_sig:
        if s_sig[n] and o_sig.get(n) and s_sig[n] != o_sig[n]:
            res.ok = False
            res.issues.append(f"type mismatch col={n} spark={s_sig[n]} oracle={o_sig[n]}")
    if not res.ok:
        return res
    if len(s_rows) != len(o_rows):
        res.ok = False
        res.issues.append(f"row count spark={len(s_rows)} oracle={len(o_rows)}")
        return res
    sn = _norm_rows(s_rows, s_names)
    on = _norm_rows(o_rows, o_names)
    if sn != on:
        res.ok = False
        n_bad = sum(1 for a, b in zip(sn, on) if a != b)
        first_bad = next(((a, b) for a, b in zip(sn, on) if a != b), None)
        res.issues.append(f"{n_bad}/{len(sn)} rows differ; first: spark={first_bad[0]} oracle={first_bad[1]}")
    return res


def check_all(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> list[ParityResult]:
    load_all()
    con = duck_connection(sf_dir)
    results = []
    for name in names or sorted(REGISTRY):
        try:
            results.append(check_query(spark, name, sf_dir, con))
        except Exception as exc:  # surface, don't abort the sweep
            results.append(ParityResult(name, False, "error", issues=[f"{type(exc).__name__}: {exc}"]))
        # keeps the 525-query sweep's memory flat; results are unaffected
        drop_persisted(spark)
    return results


if __name__ == "__main__":
    import sys

    from cassandra_snap_to_hadoop_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    spark = get_spark("parity")
    results = check_all(spark, sf_dir, names)
    for r in results:
        print(r)
    bad = [r for r in results if not r.ok]
    print(f"\n{len(results) - len(bad)}/{len(results)} queries match at {sf_dir}")
    sys.exit(1 if bad else 0)
