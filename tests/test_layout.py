"""Physical-layout operators: Morton/Z-order correctness + locality effect,
compaction sizing + file-count behavior (operators/layout.py)."""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.io import load
from cassandra_snap_to_hadoop_spark.operators.layout import (
    compact,
    dir_bytes,
    morton32,
    morton32_py,
    target_file_count,
    zorder_layout,
)

SF = "/root/testdata/sf0.001"


def test_morton_py_reference_values():
    # Hand-checkable interleaves: x in even bits, y in odd bits.
    assert morton32_py(0, 0) == 0
    assert morton32_py(1, 0) == 1
    assert morton32_py(0, 1) == 2
    assert morton32_py(1, 1) == 3
    assert morton32_py(0b11, 0) == 0b0101
    assert morton32_py(0, 0b11) == 0b1010
    assert morton32_py(0xFFFF, 0xFFFF) == 0xFFFFFFFF
    # Interleave is a bijection on 16-bit pairs: order embeds locality.
    assert morton32_py(2, 2) == 12


def test_morton_engine_matches_python(spark):
    rows = [(x, y) for x in (0, 1, 7, 255, 65535, 70000) for y in (0, 3, 1024, 65535)]
    df = spark.createDataFrame(rows, "x: long, y: long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn("z", morton32("x % 65536", "y % 65536")).collect()
    }
    for (x, y), z in got.items():
        assert z == morton32_py(x % 65536, y % 65536), (x, y)


def test_zorder_layout_tightens_both_dimensions(spark, tmp_path):
    """Range-partitioning by the Morton key must shrink per-file bounding
    boxes in BOTH dimensions vs the unclustered layout — that's the entire
    point (min/max footer stats prune files for predicates on either
    column).

    Uses a uniform 256x256 grid so the geometry is exact: 8 equal range
    partitions of the Z-curve split near the top 3 interleaved bits
    (y7, x7, y6): ideal per-file spans are 127 in x and 63 in y while
    round-robin files each cover ~the full 0..255 range of both.
    ``repartitionByRange`` samples its boundaries, so a file can straddle
    a bit-cut — the assertions use ratios with straddle headroom.
    (Z-order only helps when both dimensions carry entropy — a dimension
    with 4 bits of range contributes 4 bits to the interleave and cannot
    tighten; that's inherent to the curve, not this implementation.)"""
    n_files = 8
    grid = (
        spark.range(256 * 256)
        .select((F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("long").alias("y"))
    )

    plain_dir = tmp_path / "plain"
    z_dir = tmp_path / "zorder"
    grid.repartition(n_files).write.parquet(str(plain_dir))
    zorder_layout(grid, "x", "y", n_files).write.parquet(str(z_dir))

    def avg_spans(d: Path) -> tuple[float, float]:
        spans_x, spans_y = [], []
        for f in sorted(d.glob("part-*.parquet")):
            t = pq.read_table(f)
            xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
            if xs:
                spans_x.append(max(xs) - min(xs))
                spans_y.append(max(ys) - min(ys))
        return sum(spans_x) / len(spans_x), sum(spans_y) / len(spans_y)

    plain_x, plain_y = avg_spans(plain_dir)
    z_x, z_y = avg_spans(z_dir)
    assert plain_x > 250 and plain_y > 250  # round-robin: no locality at all
    assert z_x < plain_x * 0.75, (z_x, plain_x)
    assert z_y < plain_y * 0.5, (z_y, plain_y)


def test_target_file_count_math():
    assert target_file_count(0) == 1
    assert target_file_count(1) == 1
    assert target_file_count(128 * 1024 * 1024) == 1
    assert target_file_count(128 * 1024 * 1024 + 1) == 2
    assert target_file_count(10 * 1024**3) == 80


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    docs = load(spark, SF, "documents")
    small = tmp_path / "small"
    compacted = tmp_path / "compacted"
    docs.repartition(64).write.parquet(str(small))
    n_small = len(list(Path(small).glob("part-*.parquet")))
    assert n_small == 64

    staged = spark.read.parquet(str(small))
    compact(staged, dir_bytes(str(small)), target_bytes=1024 * 1024).write.parquet(str(compacted))
    n_comp = len(list(Path(compacted).glob("part-*.parquet")))
    assert n_comp < n_small / 4
    assert spark.read.parquet(str(compacted)).count() == docs.count()
    # Content survives byte-for-byte (the oracle-checked invariant).
    assert (
        spark.read.parquet(str(compacted)).select(F.sum("n_chars")).first()[0]
        == docs.select(F.sum("n_chars")).first()[0]
    )


def test_a10_scratch_cleanup(spark):
    """a10's scratch staging is re-entrant: a second run after a leftover
    dir must not fail or double-count."""
    from cassandra_snap_to_hadoop_spark.queries.layout import a10_small_file_compaction

    first = a10_small_file_compaction(spark, SF).collect()
    second = a10_small_file_compaction(spark, SF).collect()
    assert first == second


def test_morton_inverse_roundtrip():
    """The interleave is a bijection: de-interleaving the code recovers
    (x, y) exactly for every corner and a lattice of interior points."""

    def deinterleave(z: int) -> tuple[int, int]:
        def compact(v: int) -> int:
            v &= 0x55555555
            v = (v | (v >> 1)) & 0x33333333
            v = (v | (v >> 2)) & 0x0F0F0F0F
            v = (v | (v >> 4)) & 0x00FF00FF
            v = (v | (v >> 8)) & 0x0000FFFF
            return v

        return compact(z), compact(z >> 1)

    pts = [0, 1, 2, 3, 255, 256, 32767, 32768, 65535]
    for x in pts:
        for y in pts:
            assert deinterleave(morton32_py(x, y)) == (x, y), (x, y)


def test_a14_reads_through_corruption(spark):
    """The corrupt file is really there and really skipped; without the
    per-read option the scan must FAIL (loss is loud by default)."""
    from pathlib import Path as _P

    from cassandra_snap_to_hadoop_spark.queries.layout import (
        _staged,
        a14_corrupt_file_tolerance,
    )

    row = a14_corrupt_file_tolerance(spark, SF).collect()[0]
    assert row["n_rows"] > 0
    # Resolve the staging dir exactly as the query does — it is keyed by a
    # fingerprint of the source parquet since the round-3 hardening.
    tol_dir = _P(_staged("a14_corrupt", SF, "documents"))
    assert (tol_dir / "part-corrupt.parquet").exists()
    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)parquet|corrupt|footer"):
        spark.read.option("ignoreCorruptFiles", "false").parquet(str(tol_dir)).count()


def test_global_rank_invariant_to_partition_count(spark):
    """global_rank must produce identical ranks at any partition count
    (offsets absorb the layout), and ranks must be a permutation of
    1..N."""
    from cassandra_snap_to_hadoop_spark.operators.layout import global_rank

    e = load(spark, SF, "events").select("event_id", "value")
    n = e.count()
    by_part = {}
    for parts in (4, 32, 512):
        ranked = global_rank(e, [F.col("value").desc(), F.col("event_id")], num_partitions=parts)
        rows = {r["event_id"]: r["global_rank"] for r in ranked.collect()}
        assert sorted(rows.values()) == list(range(1, n + 1))
        by_part[parts] = rows
    assert by_part[4] == by_part[32] == by_part[512]


def test_global_order_plans_do_not_grow_with_partition_count(spark):
    """The per-partition offsets reach the rows as a joined relation, not
    as one CASE branch per partition: the analyzed plans of global_rank
    and global_cumsum name ``__pid`` as often at 512 partitions as at 4."""
    from cassandra_snap_to_hadoop_spark.operators.layout import global_cumsum, global_rank

    e = load(spark, SF, "events").select("event_id", "value", F.lit(1).alias("one"))

    def pid_refs(df):
        return df._jdf.queryExecution().analyzed().toString().count("__pid")

    for build in (
        lambda parts: global_rank(e, ["value", "event_id"], num_partitions=parts),
        lambda parts: global_cumsum(e, ["value", "event_id"], "one", num_partitions=parts),
    ):
        assert pid_refs(build(4)) == pid_refs(build(512))


@pytest.mark.parametrize("n_rows", [0, 1, 3000])
def test_global_cumsum_matches_native_window(spark, n_rows):
    """global_cumsum equals the native unpartitioned ``row_number()`` and
    running ``SUM`` at any partition count, on empty and one-row inputs
    too (duplicate keys broken by id; negative values in the sum)."""
    from pyspark.sql import Window

    from cassandra_snap_to_hadoop_spark.operators.layout import global_cumsum

    df = spark.range(n_rows).select(
        "id", (F.col("id") * 7919 % 101).alias("k"), (F.col("id") * 31 % 17 - 5).alias("v")
    )
    w = Window.orderBy("k", "id")
    native = df.select(
        "id",
        F.row_number().over(w).alias("rnk"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    want = {r["id"]: (r["rnk"], r["cum"]) for r in native.collect()}
    assert len(want) == n_rows
    for parts in (4, 32, 512):
        got = global_cumsum(df, ["k", "id"], "v", num_partitions=parts)
        assert got.columns == ["id", "k", "v", "rnk", "cum"]
        assert {r["id"]: (r["rnk"], r["cum"]) for r in got.collect()} == want, parts


def test_local_rank_budget_guard_raises():
    """r12: a range partition holding more rows than the local-rank
    position can index must fail loudly, not corrupt ranks silently."""
    import pytest as _pytest

    from cassandra_snap_to_hadoop_spark.operators.layout import (
        _check_local_rank_budget,
    )

    _check_local_rank_budget({0: 10, 1: (1 << 33) - 1})  # at the edge: fine
    with _pytest.raises(ValueError, match="local-rank budget"):
        _check_local_rank_budget({0: 1 << 33})
    with _pytest.raises(ValueError, match="local-rank budget"):
        _check_local_rank_budget({0: 1 << 31}, limit=1 << 31)


def test_derive_range_partitions_floor_and_scaling(spark):
    """r12: the derived range-partition count uses the core count as the
    floor on small inputs (bench-comparable locally) and grows with the
    optimizer's size estimate.  An RDD-backed frame reports Spark's
    "unknown size" estimate (Long.MaxValue) and gets the floor, not 2^37
    partitions; a join product's multiplied estimate is clamped below
    2^31 (a JVM Int partition count) instead of reaching
    repartitionByRange."""
    from cassandra_snap_to_hadoop_spark.operators.layout import (
        _MAX_RANGE_PARTITIONS,
        _RANGE_PARTITION_TARGET_BYTES,
        _derive_range_partitions,
    )

    e = load(spark, SF, "events").select("event_id", "value")
    floor = spark.sparkContext.defaultParallelism
    assert _derive_range_partitions(e) == floor
    # arithmetic form: a 1 TB estimate must yield far more partitions
    big = (1 << 40) // _RANGE_PARTITION_TARGET_BYTES
    assert big > floor  # the ceil-div branch is what global_rank would use
    rdd_df = spark.createDataFrame(spark.sparkContext.parallelize([(1,), (2,)]), "x long")
    assert _derive_range_partitions(rdd_df) == floor
    r = spark.range(100000)
    cube = r.crossJoin(r.withColumnRenamed("id", "b")).crossJoin(r.withColumnRenamed("id", "c"))
    n = _derive_range_partitions(cube)
    assert floor < n <= _MAX_RANGE_PARTITIONS < 1 << 31


@pytest.mark.parametrize("parts", [0, -1, 1 << 31])
def test_range_pass_refuses_out_of_range_partition_count(spark, parts):
    """A hand-passed count outside 1..2^31-1 is refused by name instead of
    reaching repartitionByRange ("requirement failed" / Py4JError)."""
    from cassandra_snap_to_hadoop_spark.operators.layout import global_cumsum, global_rank

    df = spark.range(10).withColumn("v", F.col("id") % 3)
    with pytest.raises(ValueError, match="num_partitions"):
        global_rank(df, ["id"], num_partitions=parts)
    with pytest.raises(ValueError, match="num_partitions"):
        global_cumsum(df, ["id"], "v", num_partitions=parts)


def test_global_rank_on_rdd_backed_frame(spark):
    """global_rank over an RDD-backed frame (unknown size estimate) must
    run and return exact ranks, not die in repartitionByRange."""
    from cassandra_snap_to_hadoop_spark.operators.layout import global_rank

    vals = [(i, (i * 7919) % 101) for i in range(200)]
    df = spark.createDataFrame(spark.sparkContext.parallelize(vals), "id long, v long")
    got = {r["id"]: r["global_rank"] for r in global_rank(df, ["v", "id"]).collect()}
    want = {i: rank for rank, (i, _v) in enumerate(sorted(vals, key=lambda t: (t[1], t[0])), 1)}
    assert got == want


def test_checkpoint_observed_matches_separate_count(spark):
    """The fused probe counts exactly what a separate filter().count()
    over the same rows counts, and returns the checkpointed frame."""
    from cassandra_snap_to_hadoop_spark.operators.layout import checkpoint_observed

    df = spark.range(1000).select((F.col("id") * 37 % 101).alias("v"))
    cp, metrics = checkpoint_observed(df, F.count(F.when(F.col("v") < 30, 1)).alias("n"))
    assert metrics["n"] == df.filter(F.col("v") < 30).count() > 0
    assert cp.count() == 1000


def test_checkpoint_observed_empty_frame_returns_zero(spark):
    """An empty frame observes a zero count — the fixpoint signal — and
    the observation does not block waiting for metrics."""
    import threading

    from cassandra_snap_to_hadoop_spark.operators.layout import checkpoint_observed

    out = {}

    def run():
        empty = spark.range(10).where(F.col("id") < 0)
        cp, metrics = checkpoint_observed(empty, F.count(F.when(F.col("id") > 0, 1)).alias("n"))
        out["n"], out["rows"] = metrics["n"], cp.count()

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "checkpoint_observed blocked on an empty frame"
    assert out == {"n": 0, "rows": 0}


def test_fan_out_memoizes_split_count(spark):
    """r12: repeated fan_out of the same plan must not re-convert the plan
    to an RDD — the split count is cached on the analyzed plan's semantic
    hash."""
    from cassandra_snap_to_hadoop_spark import io as io_mod

    df = load(spark, SF, "documents").select("doc_id", "text")
    io_mod._FAN_OUT_CACHE.clear()
    out1 = io_mod.fan_out(df)
    assert len(io_mod._FAN_OUT_CACHE) == 1
    key, cached_n = next(iter(io_mod._FAN_OUT_CACHE.items()))
    out2 = io_mod.fan_out(load(spark, SF, "documents").select("doc_id", "text"))
    assert len(io_mod._FAN_OUT_CACHE) == 1  # same semantic hash -> cache hit
    assert out1.rdd.getNumPartitions() == out2.rdd.getNumPartitions()
    # An insert evicts entries keyed by any other (e.g. stopped)
    # application, so the cache cannot grow across sessions.
    stale = ("app-stopped",) + key[1:]
    io_mod._FAN_OUT_CACHE[stale] = cached_n
    io_mod.fan_out(load(spark, SF, "customer").select("c_custkey", "c_name"))
    assert stale not in io_mod._FAN_OUT_CACHE
    assert key in io_mod._FAN_OUT_CACHE and len(io_mod._FAN_OUT_CACHE) == 2
