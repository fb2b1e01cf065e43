"""Physical-layout operators: Z-order (Morton) clustering keys and
small-file compaction sizing.

Both address the same 100 TB reality: at scale the dominant cost of a scan
is how the data is *laid out*, not how the query is written.

* **Z-order**: multi-dimensional min/max data skipping.  A table range-
  partitioned and sorted by a Morton interleave of two (or more) quantized
  dimensions gives every parquet file a tight bounding box in BOTH
  dimensions, so footer min/max stats prune files for predicates on either
  column — the trick behind Delta/Iceberg ``OPTIMIZE ZORDER BY``.  The
  Morton code itself is pure integer bit arithmetic (shift/or/and magic-
  mask spreading), expressed in portable SQL so the Spark plan stays
  whole-stage-codegen and the DuckDB oracle can mirror it bit-for-bit.

* **Compaction**: long-running ingest (streaming micro-batches, per-hour
  partitions) accretes thousands of tiny files; each file costs a task,
  an open, a footer parse.  ``target_file_count`` sizes a repartition so
  output files land near a target byte size (the 128 MB HDFS-block-shaped
  sweet spot on a real cluster).
"""

from __future__ import annotations

import itertools
import math
import os

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

# Magic-mask bit spreading: 16 significant bits -> 32 bits with zeros
# interleaved (Morton/Z-curve).  Plain SQL so the identical string runs on
# Spark (via F.expr) and DuckDB (oracle mirror).
_MASKS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def spread16_sql(expr: str) -> str:
    """SQL expression spreading the low 16 bits of ``expr`` so bit i lands
    at position 2*i (BIGINT arithmetic; identical on Spark and DuckDB)."""
    e = f"(CAST({expr} AS BIGINT) & 65535)"
    for shift, mask in _MASKS:
        e = f"((({e}) | (({e}) << {shift})) & {mask})"
    return e


def morton32_sql(x_expr: str, y_expr: str) -> str:
    """32-bit Morton interleave of two 16-bit dimensions as portable SQL.

    Even bits carry ``x``, odd bits carry ``y``: locality in Z-order
    implies locality in both inputs, which is exactly what per-file
    min/max pruning needs.
    """
    return f"({spread16_sql(x_expr)} | ({spread16_sql(y_expr)} << 1))"


def morton32(x_expr: str, y_expr: str) -> Column:
    """Column form of :func:`morton32_sql` for DataFrame pipelines.
    Inputs are SQL expression strings (kept as SQL so the same text feeds
    the DuckDB oracle — no Column-to-SQL reflection, Connect-safe)."""
    return F.expr(morton32_sql(x_expr, y_expr))


def morton32_py(x: int, y: int) -> int:
    """Pure-python reference for tests (independent of both engines)."""

    def spread(v: int) -> int:
        v &= 0xFFFF
        for shift, mask in _MASKS:
            v = (v | (v << shift)) & mask
        return v

    return spread(x) | (spread(y) << 1)


def zorder_layout(df: DataFrame, x: str, y: str, num_files: int) -> DataFrame:
    """Cluster ``df`` for 2-D data skipping: range-partition then sort by
    the Morton code.  ``repartitionByRange`` samples the key distribution,
    so files get balanced row counts even when the key space is sparse;
    the within-partition sort tightens each file's bounding box further.
    Write the result with any parquet sink — footer stats do the rest.
    """
    keyed = df.withColumn("__z", morton32(x, y))
    return keyed.repartitionByRange(num_files, "__z").sortWithinPartitions("__z").drop("__z")


def target_file_count(total_bytes: int, target_bytes: int = 128 * 1024 * 1024) -> int:
    """Number of output files that lands each near ``target_bytes``."""
    return max(1, math.ceil(total_bytes / target_bytes))


def dir_bytes(path: str) -> int:
    """Total bytes of data files under a local directory (skips _SUCCESS /
    hidden).  Local-FS stand-in for the FileSystem.getContentSummary a
    cluster deployment would use."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, name))
    return total


def compact(spark_read_df: DataFrame, total_bytes: int, target_bytes: int) -> DataFrame:
    """Repartition a small-files table down to ~``target_bytes`` files.

    Round-robin repartition (no key) — compaction must not skew file sizes
    when the data is skewed, and a shuffle-free ``coalesce`` would cap
    parallelism of any computation fused upstream; at 100 TB compaction
    runs as its own job where the full shuffle is the point (it is the
    mechanism that makes output sizes uniform).
    """
    return spark_read_df.repartition(target_file_count(total_bytes, target_bytes))


# Range-partition sizing target for the two-pass global-order operators:
# ~64 MB per partition (AQE's advisory default) keeps partitions large
# enough to amortize task overhead and small enough that the local rank
# can never overflow its 33-bit row-position budget.
_RANGE_PARTITION_TARGET_BYTES = 64 * 1024 * 1024
# monotonically_increasing_id packs the within-partition row position in
# the low 33 bits; a partition with >= 2^33 rows would silently corrupt
# the local rank, so it is asserted against the per-partition counts the
# operator collects anyway.
_LOCAL_RANK_LIMIT = 1 << 33
# ...and the partition index in the high 31 bits, while repartitionByRange
# takes the count as a JVM Int: a count must stay below 2^31 or the range
# pass dies with an opaque Py4JError (a derived count is clamped, a passed
# one is refused).
_MAX_RANGE_PARTITIONS = (1 << 31) - 1


def _derive_range_partitions(df: DataFrame) -> int:
    """Scale-adaptive partition count for the range pass (r12, guide §2.2
    / VERDICT r11 item 2): derive from the optimizer's size estimate
    (bytes / 64 MB target) with the core count as the floor, instead of a
    constant 32 tuned for local[32].  At 100 TB this yields ~1.6 M
    partitions (each far below the 2^33-row local-rank budget); on the
    local corpus the size estimate is tiny so the floor (defaultParallelism)
    wins and the bench-visible plan is unchanged."""
    sess = df.sparkSession
    floor = sess.sparkContext.defaultParallelism
    try:
        # ANALYZED-plan stats, not optimizedPlan(): the size visitor walks
        # the analyzed tree without paying a full optimizer run per build
        # (measured ~0.35 s/build on e30's count path); without CBO the
        # estimate is conservative (can only overestimate), which for a
        # partition-count heuristic errs toward MORE partitions — safe.
        size = int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
        # A relation Spark cannot size (an RDD-backed frame) reports
        # spark.sql.defaultSizeInBytes (Long.MaxValue by default): that is
        # "unknown", not 8 EB, so it gets the floor.
        unknown = int(sess._jsparkSession.sessionState().conf().defaultSizeInBytes())
    except Exception:  # internal-API drift: fall back to the core floor
        return floor
    if size >= unknown:
        return floor
    # Join products multiply their inputs' estimates (a three-way crossJoin
    # of spark.range(100000) derives ~7.6e9 partitions): clamp.
    return min(_MAX_RANGE_PARTITIONS, max(floor, -(-size // _RANGE_PARTITION_TARGET_BYTES)))


def _check_local_rank_budget(counts: dict[int, int], limit: int = _LOCAL_RANK_LIMIT) -> None:
    """Fail loudly (not silently wrong) if any range partition holds more
    rows than the within-partition position can index (2^33 for the
    monotonically_increasing_id low bits; 2^31 for an int row_number)."""
    if counts and max(counts.values()) >= limit:
        raise ValueError(
            "global_rank/global_cumsum: a range partition holds more rows "
            f"than the local-rank budget ({limit}); the within-partition "
            "position would overflow. Increase num_partitions (or let it "
            "derive from input size)."
        )


def checkpoint_observed(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """Eagerly ``localCheckpoint`` ``df`` and return it together with the
    aggregate ``metrics`` (named Columns, e.g. ``F.count(...).alias("n")``)
    computed over its rows by the checkpoint job itself, as a dict keyed
    by metric name.

    This is the fused fixpoint probe of the iterative operators: the "did
    this round change anything?" count rides on the job that materializes
    the round (``Dataset.observe``) instead of running as a second job over
    the checkpoint.  An empty frame observes the aggregates of zero rows
    (0 for a count).  Failure direction: a retried stage can report its
    rows twice, so a count can only over-count; a loop that stops on 0
    then runs at most one extra no-op round and never stops early.
    """
    obs = Observation()
    return df.observe(obs, *metrics).localCheckpoint(eager=True), obs.get


def _range_pass(
    df: DataFrame,
    order_cols: list,
    num_partitions: int | None,
    val_col: str | None = None,
    limit: int = _LOCAL_RANK_LIMIT,
) -> tuple[DataFrame, DataFrame, int]:
    """First pass of the global-order operators: range-partition ``df`` on
    the order key, tag each row with its partition id ``__pid``, pin that
    layout, and collect ONE row per partition: its count (and the sum of
    ``val_col`` when given).  Returns ``(keyed, offsets, total)``:
    ``offsets`` holds each partition's exclusive prefix of the counts
    (``__ro``) and of the sums (``__so``) as a broadcast-hinted local
    relation, to be joined on ``__pid`` after the local rank or window.

    The offsets reach the rows as data, not as code.  A
    ``coalesce(when(__pid = p, lit(offset)), ...)`` chain grows the plan,
    its codegen and its Py4J calls with the partition count (at 2,000
    partitions whole-stage codegen fails with "Code grows beyond 64 KB"),
    and the derived count reaches ~1.6 M at 100 TB.  A prefix-sum window
    over the counts would be an unpartitioned window.  The relation is a
    ``LocalRelation`` (built from Arrow: no job to broadcast it); Spark
    sizes it at 20 bytes a row (28 with sums), 32 MB (45 MB) at 1.6 M
    partitions, over the 10 MB auto-broadcast threshold, hence the hint.
    """
    if num_partitions is None:
        num_partitions = _derive_range_partitions(df)
    elif not 1 <= num_partitions <= _MAX_RANGE_PARTITIONS:
        # repartitionByRange would die in the JVM instead: "requirement
        # failed" for < 1, an opaque Py4JError past Int.MaxValue.
        raise ValueError(
            f"num_partitions must be in 1..{_MAX_RANGE_PARTITIONS}, got {num_partitions}"
        )
    # localCheckpoint is CORRECTNESS here, not an optimization:
    # repartitionByRange samples its boundaries per execution, and the
    # counts job and the ranking job are separate executions — without
    # pinning the materialized partitioning they can disagree on where
    # ranges split, corrupting the offsets (caught by the sf0.01 oracle
    # gate; sf0.001's single-digit partitions masked it).
    keyed = (
        df.repartitionByRange(num_partitions, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    aggs = [F.count("*")] + ([F.sum(val_col)] if val_col else [])
    stats = sorted(tuple(r) for r in keyed.groupBy("__pid").agg(*aggs).collect())
    _check_local_rank_budget({s[0]: s[1] for s in stats}, limit)
    cols = {"__pid": pa.array([s[0] for s in stats], pa.int32())}
    for i, name in enumerate(("__ro", "__so")[: len(aggs)], 1):
        starts = list(itertools.accumulate((s[i] for s in stats), initial=0))
        cols[name] = pa.array(starts[:-1], pa.int64())
    offsets = F.broadcast(df.sparkSession.createDataFrame(pa.table(cols)))
    return keyed, offsets, sum(s[1] for s in stats)


def global_rank(
    df: DataFrame,
    order_cols: list,
    num_partitions: int | None = None,
    out_col: str = "global_rank",
    return_total: bool = False,
):
    """Scalable global ranking: total order WITHOUT the single-reducer
    trap.  ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY pulls
    the entire dataset through ONE task — the canonical scale killer for
    global ordering.  The two-pass alternative: range-partition on the
    order key (boundaries from a sample), rank locally within each sorted
    partition, then add per-partition offsets (cumulative counts of the
    preceding partitions).  Rank = offset + local rank, bit-identical to
    the naive window given a total order.

    The offsets are a broadcast local relation of |partitions| rows,
    joined on the partition id (see :func:`_range_pass` for why data and
    not a literal chain or a window).  The one collect() behind it is
    |partitions| rows — the documented exception class (driver-side
    metadata, like AQE's own stats), not a data collect.

    ``return_total=True`` additionally returns the exact total row count
    (the sum of the per-partition counts — already collected, no extra
    job), which :func:`ntile_expr` needs for closed-form bucketing.
    """
    keyed, offsets, total = _range_pass(df, order_cols, num_partitions)
    # r11 (guide §2.4 "remove shuffles outright"): the local rank used to
    # be a ``row_number() OVER (PARTITION BY __pid ...)`` window — but the
    # checkpointed RDD reports UnknownPartitioning, so Spark inserted a
    # full hash exchange of the fact relation on __pid (re-shuffling data
    # that was ALREADY laid out by the range partitioner) plus a second
    # sort.  ``sortWithinPartitions`` (no exchange) + the documented
    # ``monotonically_increasing_id`` layout — partition index in the
    # high bits, the 0-based row position within the partition in the low
    # 33 — yields the identical local rank as pure codegen arithmetic.
    # Bit-identical: the sort order and partition boundaries are pinned
    # by the checkpoint, so offset + low-bits + 1 == offset + row_number.
    # The id is taken BEFORE the join; the broadcast hash join streams
    # the sorted partitions through in order.
    local = (
        F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)) + 1
    )
    ranked = (
        keyed.sortWithinPartitions(*order_cols)
        .withColumn(out_col, local)
        .join(offsets, "__pid")
        .withColumn(out_col, (F.col("__ro") + F.col(out_col)).cast("long"))
        .drop(*offsets.columns)
    )
    if return_total:
        return ranked, total
    return ranked


def global_cumsum(
    df: DataFrame,
    order_cols: list,
    val_col: str,
    num_partitions: int | None = None,
    rank_col: str = "rnk",
    cum_col: str = "cum",
) -> DataFrame:
    """Scalable global rank + running sum over a total order — the
    cumulative-distribution building block (coverage curves, Lorenz/Gini
    inputs, CDF crossings) without the single-reducer window.

    Same two-pass shape as :func:`global_rank` (:func:`_range_pass`):
    range-partition on the order key, pin the partitioning, collect ONE
    (count, sum) pair per partition, then local windows inside each
    sorted partition plus the per-partition offsets — a broadcast local
    relation of |partitions| rows joined on the partition id — rebuild
    the exact global ``row_number`` and ``SUM ... ROWS UNBOUNDED
    PRECEDING``: bit-identical to the naive unpartitioned window because
    integer addition reassociates freely.
    """
    from pyspark.sql.window import Window

    # row_number() here is an INT window: the tighter 2^31 budget applies.
    keyed, offsets, _ = _range_pass(df, order_cols, num_partitions, val_col, limit=1 << 31)
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    return (
        keyed.withColumn(rank_col, F.row_number().over(w))
        .withColumn(cum_col, F.sum(val_col).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .join(offsets, "__pid")
        .withColumns({
            rank_col: (F.col("__ro") + F.col(rank_col)).cast("long"),
            cum_col: (F.col("__so") + F.col(cum_col)).cast("long"),
        })
        .drop(*offsets.columns)
    )


def ntile_expr(rank_col: str, n: int, k: int) -> Column:
    """SQL-standard ``ntile(k)`` bucket from a precomputed global rank.

    The standard's rule: with ``n`` rows, the first ``n mod k`` buckets
    hold ``ceil(n/k)`` rows, the rest ``floor(n/k)`` (both Spark and
    DuckDB implement exactly this), so bucket membership is pure integer
    arithmetic once the global rank and total count are known — which is
    how a 100 TB engine computes ntile WITHOUT a single-reducer sort:
    :func:`global_rank` supplies the rank, the |partitions|-sized stats
    list supplies ``n``, and this closed form supplies the bucket.
    Verified bucket-for-bucket against the native window by the shared
    ntile oracles of ``e30_equidepth_scalable`` and ``j39``.
    """
    q, r = divmod(n, k)
    rank = F.col(rank_col)
    # Integer `div`, not floor(double /): Column `/` is DOUBLE division and
    # floor of a correctly-rounded double can drift one bucket once rank
    # approaches 2^53/k — exactly the extreme-scale regime this closed form
    # is for (ADVICE r4).  Both operands are non-negative in every branch
    # that is actually selected, so `div` (truncate toward zero) == floor.
    first = (F.expr(f"({rank_col} - 1) div {q + 1}") + 1).cast("int")
    if q == 0:
        return first
    cut = r * (q + 1)
    rest = (F.lit(r) + F.expr(f"({rank_col} - 1 - {cut}) div {q}") + 1).cast("int")
    return F.when(rank <= F.lit(cut), first).otherwise(rest)
