"""Shared helpers enforcing the oracle-parity rules (SURVEY §5.1).

THE FLOAT RULE (learned from a real f4 mismatch): Spark's ``round`` rounds
the *decimal string repr* of a double (BigDecimal HALF_UP) while DuckDB
rounds the *binary* value — at exact decimal boundaries (avg of two
2-decimal prices = x.xx5) they systematically disagree.  Likewise, big
double sums differ across engines by association order.  So checked queries
never round an association-sensitive aggregate; instead they use
**quantized sums**: round each row to 1/scale units (per-row IEEE ops are
bit-identical across engines), sum as exact integers, divide once.  Both
engines then emit the *same binary double*, no rounding needed.

``round4`` remains for irreducibly libm/algorithm-dependent outputs
(stddev, corr, percentile interpolation, exp/ln) where boundary hits are
measure-zero on arbitrary-precision inputs.
"""

from __future__ import annotations

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.io import Tables  # noqa: F401  (re-export)


def round2(c: Column) -> Column:
    return F.round(c, 2)


def round4(c: Column) -> Column:
    return F.round(c, 4)


def yr(c: Column) -> Column:
    return F.year(c).cast("int")


def qsum(c: Column, scale: int = 100) -> Column:
    """Quantized exact sum: per-row round to 1/scale units -> exact long sum
    -> single division.  Engine-order-independent, bit-identical to the
    DuckDB mirror ``SUM(CAST(ROUND((e)*s) AS BIGINT)) / s.0``."""
    return F.sum(F.round(c * scale).cast("long")) / F.lit(float(scale))


def qsum_over(c: Column, w: WindowSpec, scale: int = 100) -> Column:
    """Windowed quantized sum (running/sliding frames)."""
    return F.sum(F.round(c * scale).cast("long")).over(w) / F.lit(float(scale))


def qavg(c: Column, scale: int = 100) -> Column:
    """Quantized exact average: exact integer sum / (count * scale).
    DuckDB mirror: ``SUM(CAST(ROUND((e)*s) AS BIGINT)) / (COUNT(*) * s.0)``.
    NOTE: counts all rows — use only over non-null expressions."""
    return F.sum(F.round(c * scale).cast("long")) / (F.count(F.lit(1)) * F.lit(float(scale)))


def qavg_over(c: Column, w: WindowSpec, scale: int = 100) -> Column:
    return F.sum(F.round(c * scale).cast("long")).over(w) / (
        F.count(F.lit(1)).over(w) * F.lit(float(scale))
    )


def sql_qsum(expr: str, scale: int = 100) -> str:
    return f"SUM(CAST(ROUND(({expr}) * {scale}) AS BIGINT)) / {scale}.0"


def md5_coin(key: Column, b: Column) -> Column:
    """Deterministic fair coin that Spark, DuckDB, and hashlib flip
    IDENTICALLY (used by e38's bootstrap and e43's permutation signs):
    first hex digit of md5("key:b") < '8'.
    DuckDB mirror: substring(md5(CAST(k AS VARCHAR) || ':' ||
    CAST(b AS VARCHAR)), 1, 1) < '8'."""
    return (
        F.substring(
            F.md5(F.concat(key.cast("string"), F.lit(":"), b.cast("string"))), 1, 1
        )
        < "8"
    )
