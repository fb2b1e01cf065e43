"""Round-11 additions — the Cassandra 5.0 ``oa``/BTI half of the
SSTable format family (VERDICT r10 item 2) plus round-11 depth
operators.

a45/a46 certify the ``oa`` codec (``sources/sstable_oa.py`` +
``sources/bti.py``) end-to-end exactly the way a33/a34 certified ka
(round 7), a36/a37 certified ma (round 8) and a40/a41 certified na/nb
(round 10): the SAME bounded supplier / clustered-orders subsets, the
SAME deletion/TTL visibility rules, the SAME oracles — but the files on
disk now carry 5.0's extended (post-2038) deletion headers, the
key-range/partition-deletion/token-coverage stats metadata, and the BTI
trie index (Partitions.db/Rows.db) which the scan VERIFIES and is
DRIVEN BY (no sequential file walk).  a47 stages ONE snapshot whose
generations span all FOUR formats (ka + ma + nb + oa); a48 certifies
the 5.0-new stats metadata itself against the parquet truth.
"""

from __future__ import annotations

import shutil
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.queries.layout import _staged
from cassandra_snap_to_hadoop_spark.queries.round7 import (
    _AS_OF,
    _ORDERS_ORACLE,
    _SUPPLIER_CQL,
    _SUPPLIER_ORACLE,
    _orders_partitions,
    _orders_scan,
    _stage_snapshot,
    _supplier_partitions,
    _supplier_scan,
)
from cassandra_snap_to_hadoop_spark.queries.round10 import _HOST_ID, _REPAIR_ID
from cassandra_snap_to_hadoop_spark.registry import register
from cassandra_snap_to_hadoop_spark.session import apply_runtime_confs

# A partition-deletion localDeletionTime in year 2100 — representable by
# oa's unsigned-32-bit extended deletion domain (CASSANDRA-14227 class),
# NOT by the 2.x-4.x signed-int32 header (tests prove the 4.x packer
# rejects it).  Deletion VISIBILITY depends only on markedForDeleteAt,
# so the oracle is unchanged from a33/a36/a40 — the post-2038 value
# exercises the byte path without touching the relational truth.
_LDT_2100 = 4_102_444_800


def _stage_supplier_oa_sstables(sf_dir: str):
    """Two 5.0 generations: gen 1 with a pending-repair session id, gen 2
    with an originating host id — the same supplier truth as
    a33/a36/a40 (one oracle, FOUR byte layouts), with every partition
    deletion carrying the year-2100 extended deletion time."""
    from cassandra_snap_to_hadoop_spark.sources.sstable_oa import write_oa_data_db

    def write(snap, meta):
        gens = _supplier_partitions(sf_dir)
        for g in gens.values():
            for p in g:
                if p["deletion"] is not None:
                    p["deletion"] = (_LDT_2100, p["deletion"][1])
        write_oa_data_db(
            str(snap / "oa-1-big-Data.db"),
            gens[1],
            meta,
            pending_repair=_REPAIR_ID,
            token_space_coverage=0.5,
        )
        write_oa_data_db(
            str(snap / "oa-2-big-Data.db"),
            gens[2],
            meta,
            host_id=_HOST_ID,
            token_space_coverage=0.5,
        )

    return _stage_snapshot("a45_sstable_oa", sf_dir, "supplier", "tag-r11", write)


@register(
    "a45_sstable_oa_roundtrip",
    oracle=_SUPPLIER_ORACLE,
    survey="A45,A2,B3,B4",
)
def a45_sstable_oa_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a40's roundtrip through the Cassandra 5.0 layout: the supplier
    table re-encoded as two ``oa`` generations (``sources/sstable_oa.py``
    — the shared 3.0 row core wrapped in 5.0's extended-deletion
    headers, key-range stats metadata and BTI trie index) and scanned
    back through the snapshot scan's ``oa-`` filename dispatch.
    The oracle is IDENTICAL to a33/a36/a40's: the visibility rules are
    format-independent truth, so a hash match across all FOUR codecs
    certifies the decoders agree with the relational semantics AND each
    other.

    Beyond a40 this certifies: the unsigned-32-bit partition deletion
    header carrying a year-2100 localDeletionTime (the post-2038
    extension — the 4.x packer rejects this value, proven in
    tests/test_sstable_oa.py), the index-DRIVEN scan (every partition
    located via the Partitions.db trie, with per-partition
    trie-key-vs-data-key and whole-file tiling cross-checks), and the
    widened checksummed stats sidecar (i64 minLocalDeletionTime,
    key-range bounds, partition-deletion marker, token coverage).

    Scale shape: identical to a33/a36/a40 — staging is a bounded
    driver-side fixture encode; the SCAN is one scan task per
    Data.db decoded executor-side into Arrow batches; trie resolution
    is O(index bytes) per file, executor-side."""
    return _supplier_scan(
        spark,
        sf_dir,
        _stage_supplier_oa_sstables,
        "tag-r11",
        r"oa-(\d+)-big-Data\.db$",
    )


def _stage_orders_oa_sstables(sf_dir: str):
    """The a34/a37/a41 orders subset (orderkey % 100 == 0) as oa
    SSTables with ``row_index_threshold=1``: EVERY partition gets a
    Rows.db clustering trie, so the scan exercises the row-index
    resolution + row-offset verification path on all partitions (a45's
    key-only table exercises the direct-to-Data.db path on all of
    its)."""
    from cassandra_snap_to_hadoop_spark.sources.sstable_oa import write_oa_data_db

    def write(snap, meta):
        for g, plist in _orders_partitions(sf_dir).items():
            write_oa_data_db(
                str(snap / f"oa-{g}-big-Data.db"), plist, meta, row_index_threshold=1
            )

    return _stage_snapshot("a46_sstable_oa", sf_dir, "orders", "tag-r11", write)


@register(
    "a46_sstable_oa_clustering_scan",
    oracle=_ORDERS_ORACLE,
    survey="A46,A2,B5",
)
def a46_sstable_oa_clustering_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a41's wide-row scan through the 5.0 wrapper with the Rows.db leg
    load-bearing: every partition is row-indexed
    (``row_index_threshold=1``), so each one resolves via Partitions.db
    → Rows.db entry → per-partition clustering trie, and the scan
    VERIFIES the trie's row offsets against the unfiltered offsets the
    parser actually visits (a flipped index byte fails the scan —
    tests/test_sstable_oa.py proves it).  Clustering blocks and
    USE_ROW_TIMESTAMP cells ride the shared 3.0 row core unchanged.

    Scale shape: as a34/a37/a41 — per-file executor-side streaming
    decode; the row tries are what make single-row reads O(seek) inside
    multi-GB partitions at production scale (the BTI design's point)."""
    return _orders_scan(spark, sf_dir, _stage_orders_oa_sstables, "tag-r11")


def _stage_supplier_quad_sstables(sf_dir: str):
    """ONE snapshot directory whose generations span the ENTIRE format
    family — gen 1 ka (2.x), gen 2 ma (3.x), gen 3 nb (4.x), gen 4 oa
    (5.0) — keyed k % 4: a cluster that crossed three major upgrades
    without ever fully compacting."""
    import pyarrow.parquet as pq

    from cassandra_snap_to_hadoop_spark.sources.sstable import write_data_db
    from cassandra_snap_to_hadoop_spark.sources.sstable_ma import write_ma_data_db
    from cassandra_snap_to_hadoop_spark.sources.sstable_na import write_na_data_db
    from cassandra_snap_to_hadoop_spark.sources.sstable_oa import write_oa_data_db

    def write(snap, meta):
        t = pq.read_table(
            f"{sf_dir}/supplier.parquet",
            columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
        )
        gens: dict[int, list] = {1: [], 2: [], 3: [], 4: []}
        for k, name, nat, bal in zip(
            *(t.column(c).to_pylist() for c in t.column_names)
        ):
            ts = k * 1000
            gens[1 + k % 4].append(
                {
                    "key": (k,),
                    "deletion": None,
                    "rows": [
                        {
                            "clustering": (),
                            "marker_ts": ts,
                            "cells": {
                                "s_name": ("live", ts, name),
                                "s_nationkey": ("live", ts, nat),
                                "s_acctbal": ("live", ts, bal),
                            },
                        }
                    ],
                }
            )
        write_data_db(str(snap / "ks1-supplier-ka-1-Data.db"), gens[1], meta)
        write_ma_data_db(str(snap / "ma-2-big-Data.db"), gens[2], meta)
        write_na_data_db(str(snap / "nb-3-big-Data.db"), gens[3], meta, version="nb")
        write_oa_data_db(str(snap / "oa-4-big-Data.db"), gens[4], meta)

    return _stage_snapshot("a47_sstable_quad", sf_dir, "supplier", "tag-r11q", write)


@register(
    "a47_sstable_quad_formats",
    oracle="""
    SELECT CASE WHEN s_suppkey % 4 = 0 THEN 'ka'
                WHEN s_suppkey % 4 = 1 THEN 'ma'
                WHEN s_suppkey % 4 = 2 THEN 'nb'
                ELSE 'oa' END AS fmt,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(s_suppkey) AS BIGINT) AS sum_key,
           CAST(SUM(s_suppkey * 1000) AS BIGINT) AS sum_writetime_us,
           CAST(SUM(CAST(s_nationkey AS BIGINT)) AS BIGINT) AS sum_nation
    FROM supplier
    GROUP BY 1 ORDER BY 1
    """,
    survey="A47,A2,A6",
)
def a47_sstable_quad_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a42 extended to the FULL format family: ONE snapshot whose four
    generations are ka (2.x cell-oriented), ma (3.x vint rows), nb (4.x
    checksummed) and oa (5.0 trie-indexed) bytes of the SAME supplier
    rows (keyed k % 4), decoded by one scan through the per-file
    filename dispatch into one relation.  Grouping by decoding format
    and checksumming keys, writetimes and a value column per group
    proves each codec contributed exactly its share — four unrelated
    byte layouts, one relational truth, one oracle hash.

    Scale shape: listing assigns one scan task per generation
    file; per-file format dispatch means a real mixed snapshot with
    thousands of generations spreads across executors with no global
    format assumption anywhere in the plan."""
    from cassandra_snap_to_hadoop_spark.sources.snapshot import snapshot_scan

    apply_runtime_confs(spark)
    base = _stage_supplier_quad_sstables(sf_dir)
    df = snapshot_scan(
        spark,
        str(base),
        "ks1",
        "supplier",
        "tag-r11q",
        writetime="true",
        as_of=str(_AS_OF),
    )
    fmt = (
        F.when(F.col("_sstable").rlike(r"ka-\d+-Data\.db$"), F.lit("ka"))
        .when(F.col("_sstable").rlike(r"ma-\d+-big-Data\.db$"), F.lit("ma"))
        .when(F.col("_sstable").rlike(r"nb-\d+-big-Data\.db$"), F.lit("nb"))
        .otherwise(F.lit("oa"))
    )
    return (
        df.groupBy(fmt.alias("fmt"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("s_suppkey").cast("long").alias("sum_key"),
            F.sum("_writetime").cast("long").alias("sum_writetime_us"),
            F.sum(F.col("s_nationkey").cast("long")).cast("long").alias("sum_nation"),
        )
        .orderBy("fmt")
    )


@register(
    "a48_oa_stats_audit",
    oracle="""
    SELECT CAST(CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE 2 END AS INTEGER) AS gen,
           CAST(COUNT(*) AS BIGINT) AS n_partitions,
           CAST(MIN(s_suppkey) AS BIGINT) AS min_key,
           CAST(MAX(s_suppkey) AS BIGINT) AS max_key,
           CAST(MAX(CASE WHEN s_suppkey % 97 = 0 OR s_suppkey % 13 = 0
                         THEN 1 ELSE 0 END) AS INTEGER) AS has_part_deletions,
           CAST(0.5 AS DOUBLE) AS token_coverage
    FROM supplier
    GROUP BY 1 ORDER BY 1
    """,
    survey="A48,A6,A22",
)
def a48_oa_stats_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 5.0-new stats metadata certified against the parquet truth —
    per generation of a45's staged snapshot: the trie-declared partition
    count, the improved-min/max key-range bounds (decoded back from the
    lexicographic encoded-key bytes the sidecar records), the
    partition-level-deletion presence marker and the token-space
    coverage.  (The i64-widened minLocalDeletionTime and the year-2100
    partition-header value are pinned in tests/test_sstable_oa.py —
    they aggregate CELL deletion times, which the parquet truth does
    not model per-column, so they stay a pytest pin rather than an
    oracle column.)

    The engine side reads ONLY index/metadata components (Partitions.db
    count + Statistics.db fields — KB regardless of data size, the same
    metadata-not-data shape as a43's row-group audit); the oracle
    recomputes every figure from the full parquet relation.  A hash
    match certifies the stats WRITER (the bounds really are the min/max
    of what's in the file) and the trie count in one line.

    Scale shape: metadata-only — a production audit fans out one task
    per SSTable and aggregates; here two sidecar reads driver-side,
    exactly like the oracle's single group-by."""
    from cassandra_snap_to_hadoop_spark.sources.sstable_oa import (
        read_oa_stats_db,
        read_partitions_db,
        partitions_path_for,
        stats_path_for,
    )

    apply_runtime_confs(spark)
    base = _stage_supplier_oa_sstables(sf_dir)
    snap = base / "ks1" / "supplier" / "snapshots" / "tag-r11"
    out = []
    for gen in (1, 2):
        data_path = str(snap / f"oa-{gen}-big-Data.db")
        n_parts = len(read_partitions_db(partitions_path_for(data_path)))
        _stats, om = read_oa_stats_db(stats_path_for(data_path))
        out.append(
            (
                gen,
                n_parts,
                struct.unpack(">q", om.min_key)[0],
                struct.unpack(">q", om.max_key)[0],
                1 if om.has_partition_deletions else 0,
                om.token_space_coverage,
            )
        )
    return spark.createDataFrame(
        out,
        "gen int, n_partitions long, min_key long, max_key long,"
        " has_part_deletions int, token_coverage double",
    ).orderBy("gen")


# --------------------------------------------------------------------------
# Batch 2: nonparametric/time-series depth operators.  Same acceptance
# bar as rounds 3-10: exact-integer or shared-IEEE-chain discipline,
# DuckDB oracle, pure-Python pin, scale note per docstring.
# --------------------------------------------------------------------------

from pyspark.sql.window import Window  # noqa: E402

from cassandra_snap_to_hadoop_spark.io import Tables  # noqa: E402

# The one shared-IEEE Dickey-Fuller chain both engines run on the exact
# centered-moment integers (n, zz', zy', yy'): rho = zy'/zz',
# s^2 = (yy' - zy'^2/zz')/n/(n-2), df = rho / sqrt(n*s^2/zz').
_F62_CHAIN = """
    (CAST(zy_p AS DOUBLE) / zz_p)
    / SQRT(n_obs * ((CAST(yy_p AS DOUBLE)
                     - CAST(zy_p AS DOUBLE) * (CAST(zy_p AS DOUBLE) / zz_p))
                    / n_obs / (n_obs - 2)) / zz_p)
"""


@register(
    "f62_dickey_fuller",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS d,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                    // COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), lagged AS (
        SELECT event_type, x,
               LAG(x) OVER (PARTITION BY event_type ORDER BY d) AS z
        FROM daily
    ), pairs AS (
        SELECT event_type, (x - z) AS y, z FROM lagged WHERE z IS NOT NULL
    ), sums AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_obs,
               CAST(SUM(z) AS BIGINT) AS sz,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(z * z) AS BIGINT) AS szz,
               CAST(SUM(z * y) AS BIGINT) AS szy,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pairs GROUP BY 1
    ), primes AS (
        SELECT event_type, n_obs,
               n_obs * szz - sz * sz AS zz_p,
               n_obs * szy - sz * sy AS zy_p,
               n_obs * syy - sy * sy AS yy_p
        FROM sums
    )
    SELECT event_type, n_obs,
           CAST(zz_p AS BIGINT) AS zz_p, CAST(zy_p AS BIGINT) AS zy_p,
           CAST(yy_p AS BIGINT) AS yy_p,
           {_F62_CHAIN} AS df_stat
    FROM primes ORDER BY event_type
    """,
    survey="F62,F58,E41",
)
def f62_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test (no lag augmentation) per event type
    over the daily mean-cents series — the HYPOTHESIS-REVERSED
    complement f58's KPSS needs for the standard two-test stationarity
    protocol (DF null = unit root / non-stationary, KPSS null =
    stationary; agreement in opposite directions is the textbook
    confirmation, disagreement flags near-integration): the OLS
    regression Δx_t = α + ρ·x_{{t-1}} + ε with DF = ρ̂/se(ρ̂), compared
    against the Dickey-Fuller (NOT normal) critical values downstream.

    Exactness: the series is f58's daily mean-cents lattice; all five
    regression sums are exact BIGINTs and the centered moments
    (n·Szz − Sz² …) stay integer; ρ̂, s² and DF run ONE shared literal
    IEEE chain from those integers in both engines (the e41
    normal-equations rule).  Pinned against numpy lstsq in tests.

    Scale shape: daily pre-agg (the volume term, map-side combinable) →
    per-type LAG window on the calendar-bounded relation → one hash agg
    → 1-row-per-type fold.  The f58 shape with one extra window."""
    e = Tables(spark, sf_dir).events
    daily = e.groupBy(
        "event_type", F.expr("unix_micros(ts) DIV 86400000000").alias("d")
    ).agg(
        F.expr("SUM(CAST(ROUND(value * 100) AS BIGINT)) DIV COUNT(*)").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    pairs = (
        daily.select("event_type", "x", F.lag("x").over(w).alias("z"))
        .where(F.col("z").isNotNull())
        .select("event_type", (F.col("x") - F.col("z")).alias("y"), "z")
    )
    sums = pairs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_obs"),
        F.sum("z").cast("long").alias("sz"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("szz"),
        F.sum(F.col("z") * F.col("y")).cast("long").alias("szy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    primes = sums.select(
        "event_type", "n_obs",
        (F.col("n_obs") * F.col("szz") - F.col("sz") * F.col("sz")).alias("zz_p"),
        (F.col("n_obs") * F.col("szy") - F.col("sz") * F.col("sy")).alias("zy_p"),
        (F.col("n_obs") * F.col("syy") - F.col("sy") * F.col("sy")).alias("yy_p"),
    )
    return primes.select(
        "event_type", "n_obs",
        F.col("zz_p").cast("long").alias("zz_p"),
        F.col("zy_p").cast("long").alias("zy_p"),
        F.col("yy_p").cast("long").alias("yy_p"),
        F.expr(_F62_CHAIN).alias("df_stat"),
    ).orderBy("event_type")


# Bartlett's per-group term chain on the TWO-PASS centered integers
# (d1 = Σ(x−m), d2 = Σ(x−m)² with m the integer group mean): the
# deviation lattice bounds d2 ≤ n·max_dev² and |d1| < n, so the exact
# integers survive int64 to ~3e9 rows per group (the n·Σx² − (Σx)²
# "primes" form overflows at ~6e5 — rejected in design).  Per-group
# (n_i−1)·ln S_i² is micro-rounded from the same integers (the e105
# per-term rule) so the k-term sum is exact.
_E129_VAR = """
    ((CAST(d2 AS DOUBLE) - CAST(d1 AS DOUBLE) * d1 / n_i) / (n_i - 1))
"""
_E129_TERM = f"""
    CAST(ROUND(1000000 * (n_i - 1) * LN({_E129_VAR})) AS BIGINT)
"""
_E129_SSQ = f"""
    CAST(ROUND(1000000 * (n_i - 1) * {_E129_VAR}) AS BIGINT)
"""


@register(
    "e129_bartlett_variance",
    oracle=f"""
    WITH vals AS (
        SELECT l_returnflag AS grp,
               CAST(ROUND(l_quantity * 100) AS BIGINT) AS x
        FROM lineitem
    ), means AS (
        SELECT grp, CAST(SUM(x) // COUNT(*) AS BIGINT) AS m
        FROM vals GROUP BY 1
    ), g AS (
        SELECT v.grp, CAST(COUNT(*) AS BIGINT) AS n_i,
               CAST(SUM(v.x - mm.m) AS BIGINT) AS d1,
               CAST(SUM((v.x - mm.m) * (v.x - mm.m)) AS BIGINT) AS d2
        FROM vals v JOIN means mm ON mm.grp = v.grp
        GROUP BY 1
    ), gp AS (
        SELECT grp, n_i, {_E129_TERM} AS term_micro, {_E129_SSQ} AS ssq_micro
        FROM g
    ), pooled AS (
        SELECT CAST(SUM(n_i) AS BIGINT) AS n_tot,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(ssq_micro) AS BIGINT) AS ssq_micro,
               CAST(SUM(term_micro) AS BIGINT) AS terms_micro,
               CAST(SUM(CAST(ROUND(1000000.0 / (n_i - 1)) AS BIGINT))
                    AS BIGINT) AS inv_micro
        FROM gp
    )
    SELECT n_tot, k, terms_micro,
           -- T = [(N-k) ln Sp^2 - sum terms] / C, one shared chain from
           -- the exact micro integers above
           ((n_tot - k) * LN(CAST(ssq_micro AS DOUBLE) / 1000000
                             / (n_tot - k))
            - CAST(terms_micro AS DOUBLE) / 1000000)
           / (1 + (CAST(inv_micro AS DOUBLE) / 1000000
                   - 1.0 / (n_tot - k)) / (3 * (k - 1))) AS bartlett_t
    FROM pooled
    """,
    survey="E129,E108,E5",
)
def e129_bartlett_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of variance homogeneity across the three
    return-flag populations — the CLASSIC (normal-theory, maximally
    powerful under normality) counterpart of e108's Brown-Forsythe:
    the standard protocol runs both, Bartlett for power and BF for
    robustness, and a disagreement is itself the diagnosis (heavy
    tails).  T = [(N−k)·ln Sp² − Σ(n_i−1)·ln S_i²]/C with the usual
    Bartlett correction C = 1 + (Σ1/(n_i−1) − 1/(N−k))/(3(k−1)).

    Exactness: per-group deviations are centered on the INTEGER group
    mean (two-pass, the f58 truncating rule), so (d1, d2) are exact
    BIGINTs with an int64 budget to ~3e9 rows/group — the one-pass
    n·Σx²−(Σx)² form was rejected in design (overflows at ~6e5); each
    (n_i−1)·ln S_i² term and the pooled-SS term are micro-rounded from
    those integers (the e105 per-term rule) and integer-summed; the
    final T runs one shared literal IEEE chain.  Pinned against a
    scipy-formula python replay in tests.

    Scale shape: two map-side-combinable hash aggs (mean pass + 
    deviation pass, 3-row broadcast between) then a 3-row fold — the
    e5/e108 shape; volume enters only the scans."""
    li = Tables(spark, sf_dir).lineitem
    vals = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("x"),
    )
    means = vals.groupBy("grp").agg(
        F.expr("CAST(SUM(x) DIV COUNT(*) AS BIGINT)").alias("m")
    )
    g = (
        vals.join(F.broadcast(means), "grp")
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_i"),
            F.sum(F.col("x") - F.col("m")).cast("long").alias("d1"),
            F.sum((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")))
            .cast("long")
            .alias("d2"),
        )
    )
    gp = g.select(
        "grp", "n_i",
        F.expr(_E129_TERM).alias("term_micro"),
        F.expr(_E129_SSQ).alias("ssq_micro"),
    )
    pooled = gp.agg(
        F.sum("n_i").cast("long").alias("n_tot"),
        F.count("*").cast("long").alias("k"),
        F.sum("ssq_micro").cast("long").alias("ssq_micro"),
        F.sum("term_micro").cast("long").alias("terms_micro"),
        F.sum(F.expr("CAST(ROUND(1000000.0 / (n_i - 1)) AS BIGINT)"))
        .cast("long")
        .alias("inv_micro"),
    )
    return pooled.select(
        "n_tot", "k", "terms_micro",
        F.expr(
            "((n_tot - k) * LN(CAST(ssq_micro AS DOUBLE) / 1000000"
            " / (n_tot - k))"
            " - CAST(terms_micro AS DOUBLE) / 1000000)"
            " / (1 + (CAST(inv_micro AS DOUBLE) / 1000000"
            " - 1.0 / (n_tot - k)) / (3 * (k - 1)))"
        ).alias("bartlett_t"),
    )


@register(
    "e130_page_trend",
    oracle="""
    WITH cells AS (
        SELECT c.c_nationkey AS blk,
               CAST(SUBSTR(o.o_orderpriority, 1, 1) AS INTEGER) AS j,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), complete AS (
        SELECT blk FROM cells GROUP BY 1 HAVING COUNT(*) = 5
    ), cc AS (
        SELECT cells.* FROM cells JOIN complete USING (blk)
    ), ranked AS (
        SELECT a.blk, a.j,
               2 * SUM(CASE WHEN b.v < a.v THEN 1 ELSE 0 END)
               + SUM(CASE WHEN b.v = a.v THEN 1 ELSE 0 END) + 1 AS rank2
        FROM cc a JOIN cc b ON a.blk = b.blk
        GROUP BY 1, 2
    ), per_j AS (
        SELECT j, CAST(SUM(rank2) AS BIGINT) AS r2_sum
        FROM ranked GROUP BY 1
    ), summ AS (
        SELECT CAST((SELECT COUNT(*) FROM complete) AS BIGINT) AS b,
               CAST(SUM(j * r2_sum) AS BIGINT) AS l2
        FROM per_j
    )
    SELECT p.j, p.r2_sum, s.b, s.l2,
           -- z from the doubled-rank null moments: E[L2] = b*k(k+1)^2/2,
           -- Var[L2] = b*k^2(k+1)(k^2-1)/36, k = 5 — one shared chain
           (CAST(s.l2 AS DOUBLE) - CAST(s.b AS DOUBLE) * 5 * 36 / 2)
           / SQRT(CAST(s.b AS DOUBLE) * 25 * 6 * 24 / 36) AS z_stat
    FROM per_j p CROSS JOIN summ s
    ORDER BY p.j
    """,
    survey="E130,E103,E47",
)
def e130_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's trend test (Page 1963) for ORDERED alternatives in the
    e103 Friedman layout — the repeated-measures sibling of e47's
    Mann-Kendall and e124's Jonckheere-Terpstra (JT orders independent
    groups; Page orders TREATMENTS within blocks): with treatments
    hypothesized ordered by priority urgency (the leading digit of
    o_orderpriority, 1-URGENT … 5-LOW), L = Σ_j j·R_j concentrates
    when within-block ranks follow the hypothesized order — Friedman
    asks "any difference?", Page asks "THIS monotone difference?",
    gaining power exactly when the order is right.

    Exactness: e103's doubled-midrank lattice verbatim (rank2 =
    2·rank), so L2 = 2L is an exact BIGINT; the null moments for the
    doubled statistic (E[L2] = b·k(k+1)²/2, Var[L2] =
    b·k²(k+1)(k²−1)/36, k = 5 pinned as integer literals) feed one
    shared literal IEEE z chain.  Block sums of cents make within-block
    ties measure-zero; midranks handle the hypothetical tie exactly as
    e103 documents.  Pinned against a pure-python replay in tests.

    Scale shape: e103's — fact join → (block, treatment) hash agg →
    within-block rank join on the 25-row-per-block cell relation → KB
    folds.  Volume enters only the first agg."""
    o = Tables(spark, sf_dir).orders
    c = Tables(spark, sf_dir).customer
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("blk"),
            F.substring("o_orderpriority", 1, 1).cast("int").alias("j"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("v")
        )
        # r11 (guide §2.4): e103's cut — the ≤125-row cell grid feeds the
        # completeness agg, both self-join sides and the block count.
        .localCheckpoint(eager=False)
    )
    complete = cells.groupBy("blk").count().where(F.col("count") == 5).select("blk")
    cc = cells.join(complete, "blk")
    b_side = cc.select(
        F.col("blk").alias("blk_b"), F.col("v").alias("v_b")
    )
    ranked = (
        cc.join(b_side, F.col("blk") == F.col("blk_b"))
        .groupBy("blk", "j")
        .agg(
            (
                2 * F.sum(F.when(F.col("v_b") < F.col("v"), 1).otherwise(0))
                + F.sum(F.when(F.col("v_b") == F.col("v"), 1).otherwise(0))
                + 1
            ).alias("rank2")
        )
    )
    per_j = ranked.groupBy("j").agg(F.sum("rank2").cast("long").alias("r2_sum"))
    summ = per_j.agg(
        F.sum(F.col("j") * F.col("r2_sum")).cast("long").alias("l2")
    ).crossJoin(complete.agg(F.count("*").cast("long").alias("b")))
    return (
        per_j.crossJoin(F.broadcast(summ))
        .select(
            "j", "r2_sum", "b", "l2",
            F.expr(
                "(CAST(l2 AS DOUBLE) - CAST(b AS DOUBLE) * 5 * 36 / 2)"
                " / SQRT(CAST(b AS DOUBLE) * 25 * 6 * 24 / 36)"
            ).alias("z_stat"),
        )
        .orderBy("j")
    )


# Ansari-Bradley z chain on the exact doubled-score integers
# (w2x = Σ_X s2, s2tot = Σ_all c·s2, ss2q = Σ_all c·s2²): the
# tie-robust normal approximation E[W] = n1·s̄, Var[W] =
# n1n2(N·Σs² − (Σs)²)/(N²(N−1)) on the doubled lattice.
_E131_Z = """
    (CAST(w2x AS DOUBLE) - CAST(n1 AS DOUBLE) * s2tot / (n1 + n2))
    / SQRT(CAST(n1 AS DOUBLE) * n2
           * ((n1 + n2) * CAST(ss2q AS DOUBLE) - CAST(s2tot AS DOUBLE) * s2tot)
           / ((n1 + n2) * CAST((n1 + n2) AS DOUBLE) * (n1 + n2 - 1)))
"""


@register(
    "e131_ansari_bradley",
    oracle=f"""
    WITH hx AS (
        SELECT CAST(l_quantity AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
    ), hy AS (
        SELECT CAST(l_quantity AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1
    ), pooled AS (
        SELECT v, COALESCE(x.c, 0) AS cx, COALESCE(y.c, 0) AS cy
        FROM (SELECT v, c FROM hx) x FULL OUTER JOIN hy y USING (v)
    ), ranked AS (
        -- doubled pooled midrank (e127's lattice), then the doubled
        -- Ansari-Bradley score s2 = min(m2, 2(N+1) - m2)
        SELECT v, cx, cy,
               2 * (SUM(cx + cy) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - (cx + cy)) + (cx + cy) + 1 AS m2,
               SUM(cx + cy) OVER () AS n_tot
        FROM pooled
    ), scored AS (
        SELECT v, cx, cy,
               LEAST(m2, 2 * (n_tot + 1) - m2) AS s2
        FROM ranked
    ), summ AS (
        SELECT CAST(SUM(cx) AS BIGINT) AS n1,
               CAST(SUM(cy) AS BIGINT) AS n2,
               CAST(SUM(cx * s2) AS BIGINT) AS w2x,
               CAST(SUM((cx + cy) * s2) AS BIGINT) AS s2tot,
               CAST(SUM((cx + cy) * s2 * s2) AS BIGINT) AS ss2q
        FROM scored
    )
    SELECT n1, n2, w2x, s2tot, ss2q, {_E131_Z} AS z_stat
    FROM summ
    """,
    survey="E131,E122,E45",
)
def e131_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley rank test of SCALE (dispersion) between the R and
    A return-flag quantity populations — the scale counterpart that
    completes the nonparametric two-sample family: e45 Mann-Whitney
    tests location by rank sum, e122 Mood tests the median, e127
    Brunner-Munzel handles unequal variances, and THIS tests the
    variances themselves without normality (vs e129 Bartlett's
    normal-theory version): scores s = min(rank, N+1−rank) are small at
    both extremes, so a sample with larger spread collects a SMALLER
    score sum.

    Exactness: e127's doubled-midrank histogram lattice verbatim
    (m2 = 2·cum_before + c + 1 from one value-ordered cumsum window),
    doubled scores s2 = min(m2, 2(N+1)−m2) exact BIGINTs, and the
    tie-robust normal moments (E[W] = n1·s̄, Var[W] =
    n1n2(N·Σs²−(Σs)²)/(N²(N−1))) run one shared literal IEEE z chain
    from five exact integers.  Σc·s2² grows as N³ (the e127 rank-stat
    budget: int64 to ~2e6 rows — documented, same as e127's s2x_q).
    Pinned against a scipy-convention python replay in tests.

    Scale shape: e127's — one histogram agg per sample (map-side
    combinable, the only volume term) → value-lattice cumsum window
    (bounded by |distinct quantity| = 50) → 1-row fold."""
    li = Tables(spark, sf_dir).lineitem
    hx = (
        li.where(F.col("l_returnflag") == "R")
        .groupBy(F.col("l_quantity").cast("long").alias("v"))
        .agg(F.count("*").cast("long").alias("cx"))
    )
    hy = (
        li.where(F.col("l_returnflag") == "A")
        .groupBy(F.col("l_quantity").cast("long").alias("v"))
        .agg(F.count("*").cast("long").alias("cy"))
    )
    pooled = (
        hx.join(hy, "v", "full_outer")
        .select(
            "v",
            F.coalesce("cx", F.lit(0)).alias("cx"),
            F.coalesce("cy", F.lit(0)).alias("cy"),
        )
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    tot = pooled.agg(
        F.sum(F.col("cx") + F.col("cy")).cast("long").alias("n_tot")
    )
    ranked = pooled.crossJoin(F.broadcast(tot)).select(
        "v", "cx", "cy", "n_tot",
        (
            2 * (F.sum(F.col("cx") + F.col("cy")).over(wv) - (F.col("cx") + F.col("cy")))
            + (F.col("cx") + F.col("cy")) + 1
        ).alias("m2"),
    )
    scored = ranked.select(
        "cx", "cy",
        F.least(F.col("m2"), 2 * (F.col("n_tot") + 1) - F.col("m2")).alias("s2"),
    )
    summ = scored.agg(
        F.sum("cx").cast("long").alias("n1"),
        F.sum("cy").cast("long").alias("n2"),
        F.sum(F.col("cx") * F.col("s2")).cast("long").alias("w2x"),
        F.sum((F.col("cx") + F.col("cy")) * F.col("s2")).cast("long").alias("s2tot"),
        F.sum((F.col("cx") + F.col("cy")) * F.col("s2") * F.col("s2"))
        .cast("long")
        .alias("ss2q"),
    )
    return summ.select(
        "n1", "n2", "w2x", "s2tot", "ss2q", F.expr(_E131_Z).alias("z_stat")
    )


@register(
    "e132_stuart_maxwell",
    oracle="""
    WITH classed AS (
        -- priority class: 0 = urgent/high (1-2), 1 = medium (3),
        -- 2 = low (4-5); ord = day*1e10 + orderkey is a unique total
        -- order, so arg_min/arg_max are deterministic
        SELECT o_custkey,
               CASE WHEN CAST(SUBSTR(o_orderpriority, 1, 1) AS INTEGER) <= 2
                    THEN 0
                    WHEN CAST(SUBSTR(o_orderpriority, 1, 1) AS INTEGER) = 3
                    THEN 1 ELSE 2 END AS cls,
               (epoch_us(o_orderdate) // 86400000000) * 10000000000
                   + o_orderkey AS ord
        FROM orders
    ), paired AS (
        SELECT o_custkey,
               arg_min(cls, ord) AS a,
               arg_max(cls, ord) AS b
        FROM classed GROUP BY 1 HAVING COUNT(*) >= 2
    ), n AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM paired GROUP BY 1, 2
    ), cells AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN a = 0 THEN c END), 0) AS BIGINT) AS r0,
               CAST(COALESCE(SUM(CASE WHEN a = 1 THEN c END), 0) AS BIGINT) AS r1,
               CAST(COALESCE(SUM(CASE WHEN b = 0 THEN c END), 0) AS BIGINT) AS c0,
               CAST(COALESCE(SUM(CASE WHEN b = 1 THEN c END), 0) AS BIGINT) AS c1,
               CAST(COALESCE(SUM(CASE WHEN a = 0 AND b = 0 THEN c END), 0)
                    AS BIGINT) AS n00,
               CAST(COALESCE(SUM(CASE WHEN a = 1 AND b = 1 THEN c END), 0)
                    AS BIGINT) AS n11,
               CAST(COALESCE(SUM(CASE WHEN a = 0 AND b = 1 THEN c END), 0)
                    AS BIGINT) AS n01,
               CAST(COALESCE(SUM(CASE WHEN a = 1 AND b = 0 THEN c END), 0)
                    AS BIGINT) AS n10,
               CAST(SUM(c) AS BIGINT) AS n_pairs
        FROM n
    )
    SELECT n_pairs,
           r0 - c0 AS d0, r1 - c1 AS d1,
           r0 + c0 - 2 * n00 AS s00,
           r1 + c1 - 2 * n11 AS s11,
           -(n01 + n10) AS s01,
           -- chi2 = d' S^-1 d for the 2-dim reduced system, an EXACT
           -- rational: milli-quantized integer division
           CAST(1000 * ((r1 + c1 - 2 * n11) * (r0 - c0) * (r0 - c0)
                        - 2 * (-(n01 + n10)) * (r0 - c0) * (r1 - c1)
                        + (r0 + c0 - 2 * n00) * (r1 - c1) * (r1 - c1))
                // ((r0 + c0 - 2 * n00) * (r1 + c1 - 2 * n11)
                    - (n01 + n10) * (n01 + n10)) AS BIGINT) AS chi2_milli
    FROM cells
    """,
    survey="E132,E78,E95",
)
def e132_stuart_maxwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stuart-Maxwell test of MARGINAL HOMOGENEITY on the 3×3 paired
    table of customer priority classes (first order vs last order) —
    the k-category generalization e78's McNemar stops at 2×2: does the
    distribution of order-priority classes SHIFT between a customer's
    first and latest order, accounting for the pairing?  χ² = d'S⁻¹d
    on the reduced 2-dim difference vector (the 3rd is linearly
    dependent), df = 2 — the standard before/after categorical drift
    test for panels.

    Exactness: pairing is deterministic (arg_min/arg_max over the
    unique total order day·1e10 + orderkey); the 3×3 counts, margins,
    difference vector and covariance entries are exact BIGINTs, and
    because the 2×2 inverse has a closed form the whole χ² is an EXACT
    RATIONAL — milli-quantized integer division, no float anywhere.
    Pinned against a pure-python contingency replay in tests.

    Scale shape: one scan → per-customer min_by/max_by hash agg (the
    volume term, map-side combinable) → 9-cell agg → 1-row closed-form
    fold.  The e78 shape with a wider lattice."""
    o = Tables(spark, sf_dir).orders
    cls = (
        F.when(F.substring("o_orderpriority", 1, 1).cast("int") <= 2, 0)
        .when(F.substring("o_orderpriority", 1, 1).cast("int") == 3, 1)
        .otherwise(2)
    )
    ordc = (
        F.expr("unix_micros(o_orderdate) DIV 86400000000") * F.lit(10000000000).cast("long")
        + F.col("o_orderkey")
    )
    classed = o.select(
        "o_custkey", cls.alias("cls"), ordc.alias("ord")
    )
    paired = (
        classed.groupBy("o_custkey")
        .agg(
            F.min_by("cls", "ord").alias("a"),
            F.max_by("cls", "ord").alias("b"),
            F.count("*").alias("cnt"),
        )
        .where(F.col("cnt") >= 2)
    )
    n = paired.groupBy("a", "b").agg(F.count("*").cast("long").alias("c"))
    cells = n.agg(
        F.coalesce(F.sum(F.when(F.col("a") == 0, F.col("c"))), F.lit(0)).cast("long").alias("r0"),
        F.coalesce(F.sum(F.when(F.col("a") == 1, F.col("c"))), F.lit(0)).cast("long").alias("r1"),
        F.coalesce(F.sum(F.when(F.col("b") == 0, F.col("c"))), F.lit(0)).cast("long").alias("c0"),
        F.coalesce(F.sum(F.when(F.col("b") == 1, F.col("c"))), F.lit(0)).cast("long").alias("c1"),
        F.coalesce(F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), F.col("c"))), F.lit(0)).cast("long").alias("n00"),
        F.coalesce(F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), F.col("c"))), F.lit(0)).cast("long").alias("n11"),
        F.coalesce(F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), F.col("c"))), F.lit(0)).cast("long").alias("n01"),
        F.coalesce(F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), F.col("c"))), F.lit(0)).cast("long").alias("n10"),
        F.sum("c").cast("long").alias("n_pairs"),
    )
    return cells.select(
        "n_pairs",
        (F.col("r0") - F.col("c0")).alias("d0"),
        (F.col("r1") - F.col("c1")).alias("d1"),
        (F.col("r0") + F.col("c0") - 2 * F.col("n00")).alias("s00"),
        (F.col("r1") + F.col("c1") - 2 * F.col("n11")).alias("s11"),
        (-(F.col("n01") + F.col("n10"))).alias("s01"),
        F.expr(
            "CAST(1000 * ((r1 + c1 - 2 * n11) * (r0 - c0) * (r0 - c0)"
            " - 2 * (-(n01 + n10)) * (r0 - c0) * (r1 - c1)"
            " + (r0 + c0 - 2 * n00) * (r1 - c1) * (r1 - c1))"
            " DIV ((r0 + c0 - 2 * n00) * (r1 + c1 - 2 * n11)"
            " - (n01 + n10) * (n01 + n10)) AS BIGINT)"
        ).alias("chi2_milli"),
    )


# Shared normalized-token split (the established corpus tokenization
# both engines mirror; see operators/text.tokens).
_W11_DUCK = (
    "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
)

# The stupid-backoff score chain (Brants 2007), one literal per tier —
# 0.4 spelled CAST(2 AS DOUBLE)/5 (and 0.16 as its square) so neither
# engine parses a bare decimal literal (the e84 rule).  OOV floor tier:
# add-one on the unigram estimate over (N + V).
_J137_SCORE = """
    CASE WHEN c123 IS NOT NULL
         THEN CAST(c123 AS DOUBLE) / c12
         WHEN c23 IS NOT NULL
         THEN (CAST(2 AS DOUBLE) / 5) * (CAST(c23 AS DOUBLE) / c2)
         ELSE (CAST(2 AS DOUBLE) / 5) * (CAST(2 AS DOUBLE) / 5)
              * ((CAST(COALESCE(c3, 0) AS DOUBLE) + 1) / (nt + nv))
    END
"""


@register(
    "j137_stupid_backoff",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, {_W11_DUCK} AS w FROM documents
    ), train AS (
        SELECT doc_id, w FROM toks WHERE doc_id % 2 = 0
    ), score_docs AS (
        SELECT doc_id, source, w FROM toks WHERE doc_id % 2 = 1
    ), tri_t AS (
        SELECT w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
        FROM (SELECT w, unnest(range(1, len(w) - 1)) AS i
              FROM train WHERE len(w) >= 3)
    ), big_t AS (
        SELECT w[i] AS w1, w[i+1] AS w2
        FROM (SELECT w, unnest(range(1, len(w))) AS i
              FROM train WHERE len(w) >= 2)
    ), uni_t AS (
        SELECT unnest(w) AS w1 FROM train
    ), c_tri AS (
        SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c FROM tri_t GROUP BY 1, 2, 3
    ), c_big AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM big_t GROUP BY 1, 2
    ), c_uni AS (
        SELECT w1, CAST(COUNT(*) AS BIGINT) AS c FROM uni_t GROUP BY 1
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nt,
               CAST(COUNT(DISTINCT w1) AS BIGINT) AS nv
        FROM uni_t
    ), tri_s AS (
        SELECT doc_id, source, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
        FROM (SELECT doc_id, source, w, unnest(range(1, len(w) - 1)) AS i
              FROM score_docs WHERE len(w) >= 3)
    ), joined AS (
        SELECT s.doc_id, s.source,
               t.c AS c123, b12.c AS c12, b23.c AS c23,
               u2.c AS c2, u3.c AS c3, tot.nt, tot.nv
        FROM tri_s s
        LEFT JOIN c_tri t ON t.w1 = s.w1 AND t.w2 = s.w2 AND t.w3 = s.w3
        LEFT JOIN c_big b12 ON b12.w1 = s.w1 AND b12.w2 = s.w2
        LEFT JOIN c_big b23 ON b23.w1 = s.w2 AND b23.w2 = s.w3
        LEFT JOIN c_uni u2 ON u2.w1 = s.w2
        LEFT JOIN c_uni u3 ON u3.w1 = s.w3
        CROSS JOIN tot
    ), terms AS (
        SELECT doc_id, source,
               CASE WHEN c123 IS NOT NULL THEN 0
                    WHEN c23 IS NOT NULL THEN 1 ELSE 2 END AS tier,
               CAST(ROUND(LN({_J137_SCORE}) * 1000000) AS BIGINT) AS t_micro
        FROM joined
    )
    SELECT doc_id, source,
           CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(SUM(t_micro) AS BIGINT) AS sb_micro,
           CAST(SUM(CASE WHEN tier = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri_hits,
           CAST(SUM(CASE WHEN tier = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_big_backoffs,
           CAST(SUM(CASE WHEN tier = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni_backoffs
    FROM terms GROUP BY 1, 2
    """,
    survey="J137,J103,J41",
)
def j137_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram LM scoring (Brants et al. 2007 — the
    large-corpus LM that DROPS normalization for distributability,
    which is precisely why it suits a Spark engine): score(w3|w1w2)
    backs off trigram → 0.4·bigram → 0.16·add-one-unigram, trained on
    the even-doc_id half and scored on the odd half (same-corpus
    scoring would never exercise the backoff tiers — the j125
    discrimination rule; the per-tier hit counts in the output PROVE
    all three tiers fire).  Completes the LM ladder: j23 unigram, j41
    bigram MLE, j103 Kneser-Ney (the principled-smoothing contrast),
    j77 CCNet perplexity buckets — stupid backoff is what production
    web-scale filtering actually runs.

    Exactness: every count is an exact BIGINT; each trigram's log-score
    is micro-ROUNDed from the identical rational chain (0.4 spelled
    2/5 so no bare decimal literal parses as DECIMAL — the e84 rule)
    and integer-summed per doc (the e105 per-term rule).  Pinned
    against a pure-python LM replay in tests.

    Scale shape: n-gram hash aggs over the train half (map-side
    combinable, the volume terms) → scoring trigrams LEFT JOIN the
    count relations on gram keys — vocabulary-bounded equi joins, the
    j103/j41 shape; no windows, no pairs."""
    from cassandra_snap_to_hadoop_spark.operators.text import tokens

    d = Tables(spark, sf_dir).documents.select(
        "doc_id", "source", tokens(F.col("text")).alias("w")
    )
    train = d.where(F.col("doc_id") % 2 == 0)
    score_docs = d.where(F.col("doc_id") % 2 == 1)

    def grams(df, n, keep=()):
        cols = [F.col(c) for c in keep]
        idx = F.explode(
            F.sequence(F.lit(0), F.size("w") - F.lit(n))
        ).alias("i")
        out = df.where(F.size("w") >= n).select(*cols, "w", idx)
        sel = cols + [
            F.element_at("w", F.col("i") + F.lit(k + 1)).alias(f"w{k + 1}")
            for k in range(n)
        ]
        return out.select(*sel)

    # r11 (guide §2.4): the unigram counts feed two scoring legs and
    # the totals fold out of them (Σcu ≡ COUNT(*), COUNT(rows) ≡
    # COUNT(DISTINCT w1) — exact integers), saving the fourth tokenize
    # pass.  The tri/bigram count relations are vocabulary-sized and
    # NOT cut (c_tri has one consumer; persisting c_big costs more than
    # its one re-derivation — guide §5).
    c_tri = grams(train, 3).groupBy("w1", "w2", "w3").agg(
        F.count("*").cast("long").alias("c123")
    )
    c_big = grams(train, 2).groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("cb")
    )
    c_uni = train.select(F.explode("w").alias("w1")).groupBy("w1").agg(
        F.count("*").cast("long").alias("cu")
    ).localCheckpoint(eager=False)
    tot = c_uni.agg(
        F.sum("cu").cast("long").alias("nt"),
        F.count("*").cast("long").alias("nv"),
    )
    tri_s = grams(score_docs, 3, keep=("doc_id", "source"))
    joined = (
        tri_s.join(c_tri, ["w1", "w2", "w3"], "left")
        .join(
            c_big.select(
                F.col("w1"), F.col("w2"), F.col("cb").alias("c12")
            ),
            ["w1", "w2"],
            "left",
        )
        .join(
            c_big.select(
                F.col("w1").alias("w2"), F.col("w2").alias("w3"),
                F.col("cb").alias("c23"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(c_uni.select(F.col("w1").alias("w2"), F.col("cu").alias("c2")), ["w2"], "left")
        .join(c_uni.select(F.col("w1").alias("w3"), F.col("cu").alias("c3")), ["w3"], "left")
        .crossJoin(F.broadcast(tot))
    )
    terms = joined.select(
        "doc_id", "source",
        F.expr(
            "CASE WHEN c123 IS NOT NULL THEN 0"
            " WHEN c23 IS NOT NULL THEN 1 ELSE 2 END"
        ).alias("tier"),
        F.expr(f"CAST(ROUND(LN({_J137_SCORE}) * 1000000) AS BIGINT)").alias(
            "t_micro"
        ),
    )
    return terms.groupBy("doc_id", "source").agg(
        F.count("*").cast("long").alias("n_trigrams"),
        F.sum("t_micro").cast("long").alias("sb_micro"),
        F.sum(F.when(F.col("tier") == 0, 1).otherwise(0)).cast("long").alias("n_tri_hits"),
        F.sum(F.when(F.col("tier") == 1, 1).otherwise(0)).cast("long").alias("n_big_backoffs"),
        F.sum(F.when(F.col("tier") == 2, 1).otherwise(0)).cast("long").alias("n_uni_backoffs"),
    )


# fasttext-style hashed linear quality scorer: 1024 hash buckets, md5
# milli-weights in [-1000, 1000] (the j3-SRP md5 convention — the model
# is a deterministic public construction, so BOTH engines rebuild the
# identical weight table from first principles).
_J138_W_DUCK = (
    "CAST(CAST(('0x' || substr(md5('qw:' || CAST(h AS VARCHAR)), 1, 15))"
    " AS UBIGINT) AS BIGINT) % 2001 - 1000"
)
_J138_H_DUCK = (
    "CAST(CAST(('0x' || substr(md5('qf:' || tok), 1, 15))"
    " AS UBIGINT) AS BIGINT) % 1024"
)
# p = sigmoid(score_milli / (1000 * n_tokens)) — the mean hashed weight
# as the logit; one shared literal chain from two exact integers.
_J138_P = """
    1 / (1 + EXP(-(CAST(score_milli AS DOUBLE) / 1000 / n_tokens)))
"""


@register(
    "j138_quality_classifier",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, unnest({_W11_DUCK}) AS tok FROM documents
    ), hashed AS (
        SELECT doc_id, source, {_J138_H_DUCK} AS h FROM toks
    ), weights AS (
        SELECT t.range AS h, {_J138_W_DUCK} AS w
        FROM range(1024) t
    ), scored AS (
        SELECT hs.doc_id, hs.source,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(w.w) AS BIGINT) AS score_milli
        FROM hashed hs JOIN weights w ON w.h = hs.h
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(FLOOR({_J138_P} * 10) AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(score_milli) AS BIGINT) AS sum_score_milli,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM scored
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    survey="J138,J83,J9",
)
def j138_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality-classifier INFERENCE (the fasttext-style
    filter every web-scale curation pipeline runs — GPT-3/LLaMA-class
    quality filtering is exactly 'hash tokens into buckets, dot with a
    weight vector, sigmoid, threshold'): j83 certifies the feature-
    hashing TRANSFORM; this certifies the scoring path end-to-end —
    per-doc hashed-bag dot product, mean-weight logit, sigmoid, decile
    bucketing, per-source score distribution (the operational view: how
    much of each source survives a quality cut at any threshold).
    Weights are a deterministic public md5 construction (the j3-SRP
    convention), so both engines rebuild the identical 1024-weight
    model from first principles — inference mechanics are certified
    without shipping a learned artifact.

    Exactness: token hashes and milli-weights are exact md5-derived
    integers; per-doc (n_tokens, score_milli) are exact BIGINTs; the
    sigmoid and decile bucket run one shared literal IEEE chain from
    those two integers (identical rationals → identical doubles →
    identical FLOOR).  Pinned against a pure-python hashlib replay.

    Scale shape: token explode → 1024-row broadcast weight join →
    per-doc hash agg (map-side combinable) → per-(source, bucket) agg.
    One corpus scan, vocabulary-independent, no windows."""
    d = Tables(spark, sf_dir).documents
    from cassandra_snap_to_hadoop_spark.operators.text import tokens

    toks = d.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("tok")
    )
    hashed = toks.select(
        "doc_id", "source",
        F.expr(
            "CAST(conv(substring(md5(concat('qf:', tok)), 1, 15), 16, 10)"
            " AS BIGINT) % 1024"
        ).alias("h"),
    )
    weights = spark.range(1024).select(
        F.col("id").alias("h"),
        F.expr(
            "CAST(conv(substring(md5(concat('qw:', CAST(id AS STRING))), 1, 15),"
            " 16, 10) AS BIGINT) % 2001 - 1000"
        ).alias("w"),
    )
    scored = (
        hashed.join(F.broadcast(weights), "h")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("w").cast("long").alias("score_milli"),
        )
    )
    return (
        scored.groupBy(
            "source",
            F.expr(f"CAST(FLOOR({_J138_P} * 10) AS INT)").alias("bucket"),
        )
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("score_milli").cast("long").alias("sum_score_milli"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
        .orderBy("source", "bucket")
    )


@register(
    "b24_phi_accrual",
    oracle="""
    WITH hb AS (
        SELECT user_id % 8 AS node, epoch_us(ts) AS t
        FROM events
    ), gaps AS (
        SELECT node, t - LAG(t) OVER (PARTITION BY node ORDER BY t) AS gap
        FROM hb
    ), stats AS (
        SELECT node,
               CAST(COUNT(gap) AS BIGINT) AS n_gaps,
               CAST(SUM(gap) // COUNT(gap) AS BIGINT) AS mean_us
        FROM gaps WHERE gap IS NOT NULL GROUP BY 1
    ), lastbeat AS (
        SELECT node, CAST(MAX(t) AS BIGINT) AS last_t FROM hb GROUP BY 1
    ), now_t AS (
        SELECT CAST(MAX(t) AS BIGINT) AS now FROM hb
    )
    SELECT s.node, s.n_gaps, s.mean_us,
           CAST(n.now - l.last_t AS BIGINT) AS cur_gap_us,
           -- exponential-model phi (Hayashibara 2004 simplification):
           -- phi = -log10 P(gap >= cur) = cur / (mean * ln 10); one
           -- shared chain from exact micros integers
           CAST(ROUND(1000 * (CAST(n.now - l.last_t AS DOUBLE)
                / (CAST(s.mean_us AS DOUBLE) * LN(CAST(10 AS DOUBLE)))))
               AS BIGINT) AS phi_milli,
           CAST(CASE WHEN CAST(n.now - l.last_t AS DOUBLE)
                          / (CAST(s.mean_us AS DOUBLE)
                             * LN(CAST(10 AS DOUBLE))) >= 8
                     THEN 1 ELSE 0 END AS INTEGER) AS suspect
    FROM stats s JOIN lastbeat l ON l.node = s.node CROSS JOIN now_t n
    ORDER BY s.node
    """,
    survey="B24,B13,K15",
)
def b24_phi_accrual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The φ accrual failure detector (Hayashibara et al. 2004) —
    Cassandra's actual liveness mechanism (`phi_convict_threshold`,
    default 8): every node tracks heartbeat inter-arrival times and
    converts the CURRENT silence into a suspicion level φ =
    −log₁₀ P(gap ≥ observed), so the detector outputs a continuous
    confidence that adapts to each node's own cadence instead of a
    fixed timeout — the B-family's gossip/liveness operator beside
    b13's ring balance and b15's quorum repair.  Exponential
    inter-arrival model (the standard simplification): φ =
    gap/(mean·ln 10); heartbeats are each node's (user_id % 8) event
    stream, "now" is the global max timestamp (deterministic — the
    snapshot instant).

    Exactness: gaps, means ("truncating integer micros) and the current
    gap are exact BIGINT micros; φ_milli and the ≥8 conviction flag run
    one shared literal IEEE chain from those integers.  Pinned against
    a pure-python replay in tests.

    Scale shape: per-node LAG window (user-partitioned — the f42/k15
    class) → per-node hash agg → 8-row broadcast fold.  Volume enters
    only the scan and the partitioned window sort."""
    e = Tables(spark, sf_dir).events
    hb = e.select(
        (F.col("user_id") % 8).alias("node"),
        F.expr("unix_micros(ts)").alias("t"),
    )
    w = Window.partitionBy("node").orderBy("t")
    gaps = hb.select(
        "node", (F.col("t") - F.lag("t").over(w)).alias("gap")
    ).where(F.col("gap").isNotNull())
    stats = gaps.groupBy("node").agg(
        F.count("gap").cast("long").alias("n_gaps"),
        F.expr("CAST(SUM(gap) DIV COUNT(gap) AS BIGINT)").alias("mean_us"),
    )
    lastbeat = hb.groupBy("node").agg(F.max("t").cast("long").alias("last_t"))
    now_t = hb.agg(F.max("t").cast("long").alias("now"))
    return (
        stats.join(lastbeat, "node")
        .crossJoin(F.broadcast(now_t))
        .select(
            "node", "n_gaps", "mean_us",
            (F.col("now") - F.col("last_t")).cast("long").alias("cur_gap_us"),
            F.expr(
                "CAST(ROUND(1000 * (CAST(now - last_t AS DOUBLE)"
                " / (CAST(mean_us AS DOUBLE) * LN(CAST(10 AS DOUBLE)))))"
                " AS BIGINT)"
            ).alias("phi_milli"),
            F.expr(
                "CAST(CASE WHEN CAST(now - last_t AS DOUBLE)"
                " / (CAST(mean_us AS DOUBLE) * LN(CAST(10 AS DOUBLE))) >= 8"
                " THEN 1 ELSE 0 END AS INT)"
            ).alias("suspect"),
        )
        .orderBy("node")
    )


def _stage_commitlog_segments(sf_dir: str):
    """Two commitlog segments of deterministic post-snapshot mutations
    over the supplier base (split by key parity — replay must merge
    across segments): a STALE write that must LOSE to the base (k%2:
    s_nationkey := 999 at base_ts − 100 — the LWW discrimination
    mutation), a winning cell write (k%3: s_acctbal += 100 at +500), a
    cell tombstone (k%7: s_name at +600), and a partition delete (k%11:
    at +700, shadowing everything)."""
    import pyarrow.parquet as pq

    from cassandra_snap_to_hadoop_spark.sources.commitlog import (
        CELL_TOMBSTONE,
        CELL_WRITE,
        PARTITION_DELETE,
        write_commitlog_segment,
    )
    from cassandra_snap_to_hadoop_spark.sources.snapshot import parse_table_meta

    base = _staged("a49_commitlog", sf_dir, "supplier")
    if (base / "_SUCCESS").exists():
        return base
    shutil.rmtree(base, ignore_errors=True)
    base.mkdir(parents=True)
    meta = parse_table_meta(_SUPPLIER_CQL)
    t = pq.read_table(f"{sf_dir}/supplier.parquet", columns=["s_suppkey", "s_acctbal"])
    segs: dict[int, list] = {1: [], 2: []}
    for k, bal in zip(t.column(0).to_pylist(), t.column(1).to_pylist()):
        seg = segs[1 if k % 2 == 0 else 2]
        ts0 = k * 1000
        if k % 2 == 0:
            seg.append((ts0 - 100, CELL_WRITE, (k,), "s_nationkey", 999))
        if k % 3 == 0:
            seg.append((ts0 + 500, CELL_WRITE, (k,), "s_acctbal", bal + 100.0))
        if k % 7 == 0:
            seg.append((ts0 + 600, CELL_TOMBSTONE, (k,), "s_name"))
        if k % 11 == 0:
            seg.append((ts0 + 700, PARTITION_DELETE, (k,)))
    for sid, muts in segs.items():
        muts.sort(key=lambda m: (m[0], m[1]))
        write_commitlog_segment(
            str(base / f"CommitLog-1-{sid}.log"), sid, muts, meta
        )
    (base / "_SUCCESS").touch()
    return base


@register(
    "a49_commitlog_replay",
    oracle="""
    SELECT s_suppkey,
           CASE WHEN s_suppkey % 7 = 0 THEN NULL ELSE s_name END AS v_name,
           s_nationkey AS v_nationkey,
           CASE WHEN s_suppkey % 3 = 0 THEN s_acctbal + 100
                ELSE s_acctbal END AS v_acctbal,
           CAST(s_suppkey * 1000
                + CASE WHEN s_suppkey % 7 = 0 THEN 600
                       WHEN s_suppkey % 3 = 0 THEN 500
                       ELSE 0 END AS BIGINT) AS writetime_us
    FROM supplier WHERE s_suppkey % 11 <> 0
    """,
    survey="A49,A2,B2,B3",
)
def a49_commitlog_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time restore: snapshot + COMMITLOG REPLAY — the other
    half of the reference's job (a snapshot is a consistent cut;
    everything after it lives in the commitlog, and Cassandra's
    documented PITR is restore-snapshot-then-replay-archived-segments).
    Two CRC-framed segments (``sources/commitlog.py`` — header CRC,
    per-entry length+checksum, explicit end marker; a truncated or
    corrupt segment fails loudly, proven in tests/test_commitlog.py)
    carry four mutation classes over the supplier base: a STALE write
    that must LOSE to the snapshot (the LWW discrimination mutation — a
    replay that applied mutations unconditionally would emit 999s), a
    winning cell write, a cell tombstone, and a partition delete.

    The replay is RELATIONAL, not imperative: segments parse
    executor-side (binaryFile → one task per segment → Arrow batches),
    union with the snapshot's melted cell relation, partition deletes
    shadow by timestamp via one broadcastable join, and a single
    max_by-per-(key, column) aggregation reconciles — b2/b3's certified
    LWW semantics produced by the same declarative shapes, so a
    10k-segment archive replays as an ordinary Spark job with no
    driver-side state.

    Exactness: timestamps and ops are exact integers; values ride the
    SSTable codec's type encodings (one type system across the restore
    path); the only float is the +100.00 balance delta, the identical
    IEEE double addition in both engines.

    Scale shape: one snapshot scan + one binaryFile scan (one task per
    segment), a 3×-melt, a per-key delete agg (broadcastable — deletes
    are rare), one (key, col) hash agg, one per-key wide agg.  Two
    shuffles end to end, both on the partition key."""
    import pandas as pd

    from cassandra_snap_to_hadoop_spark.sources.commitlog import (
        parse_commitlog_segment,
    )
    from cassandra_snap_to_hadoop_spark.sources.snapshot import parse_table_meta

    apply_runtime_confs(spark)
    clog = _stage_commitlog_segments(sf_dir)
    meta = parse_table_meta(_SUPPLIER_CQL)

    mut_schema = (
        "ts long, op int, s_suppkey long, col string,"
        " v_str string, v_int int, v_dbl double"
    )

    def parse(batches):
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                for m in parse_commitlog_segment(bytes(content), meta):
                    col, v = m["col"], m["value"]
                    rows.append(
                        (
                            m["ts"],
                            m["op"],
                            m["key"][0],
                            col,
                            v if col == "s_name" else None,
                            v if col == "s_nationkey" else None,
                            v if col == "s_acctbal" else None,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["ts", "op", "s_suppkey", "col", "v_str", "v_int", "v_dbl"],
            )

    muts = (
        spark.read.format("binaryFile")
        .load(str(clog) + "/CommitLog-*.log")
        .select("content")
        .mapInPandas(parse, mut_schema)
    )
    s = Tables(spark, sf_dir).supplier
    base_cells = s.selectExpr(
        "s_suppkey",
        "s_suppkey * 1000 AS ts",
        "0 AS op",
        """stack(3,
            's_name', s_name, CAST(NULL AS INT), CAST(NULL AS DOUBLE),
            's_nationkey', CAST(NULL AS STRING), CAST(s_nationkey AS INT),
                CAST(NULL AS DOUBLE),
            's_acctbal', CAST(NULL AS STRING), CAST(NULL AS INT), s_acctbal
        ) AS (col, v_str, v_int, v_dbl)""",
    ).select("ts", "op", "s_suppkey", "col", "v_str", "v_int", "v_dbl")
    cell_events = muts.where(F.col("op") != 1).unionByName(base_cells)
    deletes = (
        muts.where(F.col("op") == 1)
        .groupBy("s_suppkey")
        .agg(F.max("ts").alias("del_ts"))
    )
    live = cell_events.join(F.broadcast(deletes), "s_suppkey", "left").where(
        F.col("del_ts").isNull() | (F.col("ts") > F.col("del_ts"))
    )
    winners = live.groupBy("s_suppkey", "col").agg(
        F.max_by(F.struct("op", "v_str", "v_int", "v_dbl"), "ts").alias("w"),
        F.max("ts").alias("wt"),
    )
    return (
        winners.groupBy("s_suppkey")
        .agg(
            F.max(
                F.when(
                    (F.col("col") == "s_name") & (F.col("w.op") == 0),
                    F.col("w.v_str"),
                )
            ).alias("v_name"),
            F.max(
                F.when(
                    (F.col("col") == "s_nationkey") & (F.col("w.op") == 0),
                    F.col("w.v_int"),
                )
            ).alias("v_nationkey"),
            F.max(
                F.when(
                    (F.col("col") == "s_acctbal") & (F.col("w.op") == 0),
                    F.col("w.v_dbl"),
                )
            ).alias("v_acctbal"),
            F.max("wt").cast("long").alias("writetime_us"),
        )
    )


def _stage_supplier_compressed_sstables(sf_dir: str):
    """Two DEFLATE-compressed ma generations of the a33/a36/a40/a45
    supplier truth (1 KiB uncompressed chunks so every SF yields a
    multi-chunk file): Data.db holds independently-compressed chunks
    each tailed by a CRC of the compressed bytes; CompressionInfo.db
    carries the chunk map.  Compression rides the 3.x (ma) generation
    tag — in our miniature family the digest/CRC.db components of 4.x+
    describe uncompressed bytes, so the compressed leg composes with
    the ma core (matching how the real formats moved chunk checksums
    INTO the compressed stream for compressed tables)."""
    from cassandra_snap_to_hadoop_spark.sources.sstable_compression import (
        write_compressed_data_db,
    )
    from cassandra_snap_to_hadoop_spark.sources.sstable_ma import (
        serialize_ma_partitions,
        stats_path_for,
        write_stats_db,
    )

    def write(snap, meta):
        for gen, parts in _supplier_partitions(sf_dir).items():
            raw, stats = serialize_ma_partitions(parts, meta)
            p = str(snap / f"ma-{gen}-big-Data.db")
            write_compressed_data_db(p, raw, chunk_length=1024)
            write_stats_db(stats_path_for(p), stats)

    return _stage_snapshot("a50_sstable_cmp", sf_dir, "supplier", "tag-r11c", write)


@register(
    "a50_sstable_compressed_roundtrip",
    oracle=_SUPPLIER_ORACLE,
    survey="A50,A2,A27,B3",
)
def a50_sstable_compressed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPRESSED-SSTable leg (``CompressionInfo.db``) — real
    Cassandra tables are compressed (LZ4 default, DeflateCompressor
    the built-in alternative this engine implements faithfully via
    zlib); every prior rung stored Data.db uncompressed.  The supplier
    truth rides DEFLATE-chunked ma generations: independently
    compressed 1 KiB chunks each tailed by a CRC of the COMPRESSED
    bytes (the 3.0+ convention), with the chunk map in the
    CRC-protected CompressionInfo.db sidecar.  Dispatch is BY
    COMPONENT PRESENCE (a CompressionInfo.db beside the Data.db),
    exactly how real readers decide — so compression composes with the
    whole format family instead of forking it.

    The oracle is the a33/a36/a40/a45 oracle VERBATIM: one hash now
    certifies FIVE byte layouts (ka / ma / nb / oa / deflate-ma) of the
    same relational truth.  The reader verifies the sidecar CRC, every
    chunk's compressed-bytes CRC (index-named on failure), offset
    consistency and the reassembled length before decoding a row —
    corruption tests in tests/test_sstable_compression.py.

    Scale shape: as every roundtrip in the family — one scan task
    per Data.db, executor-side decompress + decode into Arrow batches;
    the chunk map is what a production range read seeks with, and the
    sequential full-decompress here is the Spark-ingest access
    pattern."""
    return _supplier_scan(
        spark,
        sf_dir,
        _stage_supplier_compressed_sstables,
        "tag-r11c",
        r"ma-(\d+)-big-Data\.db$",
    )


# Welch-ANOVA per-group nano-lattice terms (1e9 — the w_i magnitudes
# are ~1e-3 on the cents-variance scale, so nano keeps 6 significant
# digits through the lattice; a DEFINED quantization shared by both
# engines and the python pin): w = n/s², wx = w·x̄, both from the e129
# two-pass centered integers.
_E133_VAR = "((CAST(d2 AS DOUBLE) - CAST(d1 AS DOUBLE) * d1 / n_i) / (n_i - 1))"
_E133_W_NANO = f"""
    CAST(ROUND(1000000000 * (n_i / {_E133_VAR})) AS BIGINT)
"""
_E133_WX_NANO = f"""
    CAST(ROUND(1000000000 * (n_i / {_E133_VAR})
         * (CAST(sx AS DOUBLE) / n_i)) AS BIGINT)
"""


@register(
    "e133_welch_anova",
    oracle=f"""
    WITH vals AS (
        SELECT l_returnflag AS grp,
               CAST(ROUND(l_quantity * 100) AS BIGINT) AS x
        FROM lineitem
    ), means AS (
        SELECT grp, CAST(SUM(x) // COUNT(*) AS BIGINT) AS m
        FROM vals GROUP BY 1
    ), g AS (
        SELECT v.grp, CAST(COUNT(*) AS BIGINT) AS n_i,
               CAST(SUM(v.x) AS BIGINT) AS sx,
               CAST(SUM(v.x - mm.m) AS BIGINT) AS d1,
               CAST(SUM((v.x - mm.m) * (v.x - mm.m)) AS BIGINT) AS d2
        FROM vals v JOIN means mm ON mm.grp = v.grp
        GROUP BY 1
    ), gw AS (
        SELECT grp, n_i, sx, d1, d2,
               {_E133_W_NANO} AS w_nano, {_E133_WX_NANO} AS wx_nano
        FROM g
    ), tot AS (
        SELECT CAST(SUM(w_nano) AS BIGINT) AS w_tot,
               CAST(SUM(wx_nano) AS BIGINT) AS wx_tot,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM gw
    ), terms AS (
        -- stage 2: per-group A/B terms against the integer totals,
        -- micro-rounded then integer-summed (the e105 rule)
        SELECT CAST(SUM(CAST(ROUND(1000000 * (CAST(w_nano AS DOUBLE) / 1000000000)
                   * ((CAST(sx AS DOUBLE) / n_i)
                      - (CAST(wx_tot AS DOUBLE) / w_tot))
                   * ((CAST(sx AS DOUBLE) / n_i)
                      - (CAST(wx_tot AS DOUBLE) / w_tot))) AS BIGINT))
                   AS BIGINT) AS a_micro,
               CAST(SUM(CAST(ROUND(1000000000
                   * (1 - CAST(w_nano AS DOUBLE) / w_tot)
                   * (1 - CAST(w_nano AS DOUBLE) / w_tot)
                   / (n_i - 1)) AS BIGINT)) AS BIGINT) AS b_nano,
               CAST(MAX(k) AS BIGINT) AS k
        FROM gw CROSS JOIN tot
    )
    SELECT k, a_micro, b_nano,
           (CAST(a_micro AS DOUBLE) / 1000000 / (k - 1))
           / (1 + (2 * CAST(k - 2 AS DOUBLE) / (k * k - 1))
                  * (CAST(b_nano AS DOUBLE) / 1000000000)) AS welch_f,
           (CAST(k * k - 1 AS DOUBLE) / 3)
           / (CAST(b_nano AS DOUBLE) / 1000000000) AS df2
    FROM terms
    """,
    survey="E133,E49,E52",
)
def e133_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA over the three return-flag
    quantity populations — the unequal-variance completion of the
    k-sample family exactly as e52's Welch t completes the t-test and
    e127's Brunner-Munzel completes Mann-Whitney: e49's classic F
    assumes a common variance (which e129/e108 exist to TEST); Welch's
    F* = Σw_i(x̄_i−x̄_w)²/(k−1) over the Satterthwaite-style correction
    needs no such assumption and is the recommended default (Delacre
    2019).  df2 = (k²−1)/(3Σ(1−w_i/W)²/(n_i−1)) emitted alongside.

    Exactness: per-group (n, Σx, d1, d2) are the e129 two-pass centered
    integers; w_i and w_i·x̄_i are nano-rounded per group and
    integer-summed, the stage-2 A/B terms are micro/nano-rounded
    against those integer totals and integer-summed (the e105 rule —
    3-double FP sums are order-nondeterministic in Spark, integer sums
    are not); the final F*/df2 run one shared literal chain.  Pinned
    against a scipy-formula python replay in tests.

    Scale shape: the e129 shape — two map-side hash aggs + 3-row
    broadcast, then two KB folds."""
    li = Tables(spark, sf_dir).lineitem
    vals = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("x"),
    )
    means = vals.groupBy("grp").agg(
        F.expr("CAST(SUM(x) DIV COUNT(*) AS BIGINT)").alias("m")
    )
    g = (
        vals.join(F.broadcast(means), "grp")
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_i"),
            F.sum("x").cast("long").alias("sx"),
            F.sum(F.col("x") - F.col("m")).cast("long").alias("d1"),
            F.sum((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")))
            .cast("long")
            .alias("d2"),
        )
    )
    gw = g.select(
        "grp", "n_i", "sx", "d1", "d2",
        F.expr(_E133_W_NANO).alias("w_nano"),
        F.expr(_E133_WX_NANO).alias("wx_nano"),
    )
    tot = gw.agg(
        F.sum("w_nano").cast("long").alias("w_tot"),
        F.sum("wx_nano").cast("long").alias("wx_tot"),
        F.count("*").cast("long").alias("k"),
    )
    terms = gw.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "CAST(ROUND(1000000 * (CAST(w_nano AS DOUBLE) / 1000000000)"
                " * ((CAST(sx AS DOUBLE) / n_i)"
                " - (CAST(wx_tot AS DOUBLE) / w_tot))"
                " * ((CAST(sx AS DOUBLE) / n_i)"
                " - (CAST(wx_tot AS DOUBLE) / w_tot))) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("a_micro"),
        F.sum(
            F.expr(
                "CAST(ROUND(1000000000"
                " * (1 - CAST(w_nano AS DOUBLE) / w_tot)"
                " * (1 - CAST(w_nano AS DOUBLE) / w_tot)"
                " / (n_i - 1)) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("b_nano"),
        F.max("k").cast("long").alias("k"),
    )
    return terms.select(
        "k", "a_micro", "b_nano",
        F.expr(
            "(CAST(a_micro AS DOUBLE) / 1000000 / (k - 1))"
            " / (1 + (2 * CAST(k - 2 AS DOUBLE) / (k * k - 1))"
            " * (CAST(b_nano AS DOUBLE) / 1000000000))"
        ).alias("welch_f"),
        F.expr(
            "(CAST(k * k - 1 AS DOUBLE) / 3)"
            " / (CAST(b_nano AS DOUBLE) / 1000000000)"
        ).alias("df2"),
    )


@register(
    "f63_croston",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS d,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), demand AS (
        -- deterministic md5 demand calendar (40% of days): the
        -- fixture's intermittency dial — the shipped events table is
        -- DENSE, and Croston on a dense series degenerates to SES
        -- (the j125 discrimination rule), so the demand days are a
        -- scale-stable public construction both engines rebuild
        SELECT event_type, d, x
        FROM daily
        WHERE CAST(CAST(('0x' || substr(md5(event_type || ':'
                   || CAST(d AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT)
              % 10 < 4
    ), numbered AS (
        SELECT event_type, d, x,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY d) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_demands,
               d - LAG(d) OVER (PARTITION BY event_type ORDER BY d) AS gap
        FROM demand
    ), chain AS (
        SELECT event_type, rn, n_demands,
               x AS z, CAST(1000 AS BIGINT) AS p
        FROM numbered WHERE rn = 1
        UNION ALL
        SELECT b.event_type, b.rn, b.n_demands,
               (b.x + 4 * c.z) // 5,
               (1000 * b.gap + 4 * c.p) // 5
        FROM chain c
        JOIN numbered b
          ON b.event_type = c.event_type AND b.rn = c.rn + 1
    )
    SELECT event_type, n_demands,
           CAST(z AS BIGINT) AS z_cents,
           CAST(p AS BIGINT) AS p_milli,
           CAST(1000000 * z // p AS BIGINT) AS rate_milli
    FROM chain WHERE rn = n_demands
    ORDER BY event_type
    """,
    survey="F63,F24,SQL-4",
)
def f63_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (1972) — THE intermittent-demand forecaster
    (sparse series with many zero periods, where SES over the raw
    series chases zeros): smooth the non-zero demand SIZES and the
    inter-demand INTERVALS separately (both SES, α = 1/5 here) and
    forecast the per-period rate z/p.  Completes the forecasting tier
    (f24/f27/f31 Holt/Holt-Winters for dense series, f28 seasonal
    decomposition) with the sparse-series member — the standard
    spare-parts/long-tail-SKU model.

    The demand calendar is a deterministic md5 thinning (40% of days,
    keyed on (type, day)) because the shipped events table is DENSE and
    Croston on a dense series degenerates to SES with p ≡ 1 — the j125
    discrimination rule; both engines rebuild the identical calendar
    from first principles (the j3-SRP md5 convention), and the pin
    asserts genuine intermittency (mean interval > 1 day for every
    type).

    Exactness: the genuinely order-dependent double recursion runs on
    the integer lattice with truncating division (z' = (x + 4z) DIV 5,
    p' = (1000·gap + 4p) DIV 5, init z₁ = x₁, p₁ = 1000 — f31's
    WITH RECURSIVE lockstep pattern exactly), so both engines iterate
    bit-identical state; the rate is an exact integer division.

    Scale shape: f31's — the demand relation is calendar-bounded
    (|types| × demand-days, KB at any corpus size), pinned to one
    partition; each UnionLoop iteration is a |types|-row frontier
    join.  Volume enters only the daily pre-agg."""
    ev = Tables(spark, sf_dir).events
    ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) DIV 86400000000").alias("d"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("x")
    ).where(
        F.expr(
            "CAST(conv(substring(md5(concat(event_type, ':',"
            " CAST(d AS STRING))), 1, 15), 16, 10) AS BIGINT) % 10 < 4"
        )
    ).coalesce(1).createOrReplaceTempView("cs2h_daily_croston")
    # r11 (the sql_api_recursive_cte/f29 treatment): materialize the
    # loop-invariant ``numbered`` once — the UnionLoop used to re-derive
    # the events scan + daily agg + md5 thinning + windows under every
    # iteration — and broadcast the KB step side.  Values and oracle
    # text unchanged.
    spark.sql(
        """
        SELECT event_type, d, x,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY d) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_demands,
               d - LAG(d) OVER (PARTITION BY event_type ORDER BY d) AS gap
        FROM cs2h_daily_croston
        """
    ).localCheckpoint(eager=False).createOrReplaceTempView("cs2h_numbered_croston")
    return spark.sql(
        """
        WITH RECURSIVE numbered AS (
            SELECT event_type, d, x, rn, n_demands, gap
            FROM cs2h_numbered_croston
        ), chain AS (
            SELECT event_type, rn, n_demands,
                   x AS z, CAST(1000 AS BIGINT) AS p
            FROM numbered WHERE rn = 1
            UNION ALL
            SELECT /*+ BROADCAST(b) */ b.event_type, b.rn, b.n_demands,
                   (b.x + 4 * c.z) DIV 5,
                   (1000 * b.gap + 4 * c.p) DIV 5
            FROM chain c
            JOIN numbered b
              ON b.event_type = c.event_type AND b.rn = c.rn + 1
        )
        SELECT event_type, n_demands,
               z AS z_cents,
               p AS p_milli,
               1000000 * z DIV p AS rate_milli
        FROM chain WHERE rn = n_demands
        ORDER BY event_type
        """
    )


def _stage_supplier_evolved_sstables(sf_dir: str):
    """Schema evolution across generations: gen 1 (even keys) was
    written BEFORE ``ALTER TABLE supplier ADD s_acctbal`` — its
    cell-addressed ka rows simply carry no s_acctbal cell, exactly how
    real old SSTables look after an ALTER (Cassandra never rewrites
    them); gen 2 (odd keys) is post-evolution with the full cell set.
    The snapshot's schema.cql records the CURRENT (evolved) schema, as
    real snapshots do."""
    import pyarrow.parquet as pq

    from cassandra_snap_to_hadoop_spark.sources.sstable import write_data_db

    def write(snap, meta):
        t = pq.read_table(
            f"{sf_dir}/supplier.parquet",
            columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
        )
        gens: dict[int, list] = {1: [], 2: []}
        for k, name, nat, bal in zip(
            *(t.column(c).to_pylist() for c in t.column_names)
        ):
            ts = k * 1000
            cells = {
                "s_name": ("live", ts, name),
                "s_nationkey": ("live", ts, nat),
            }
            if k % 2 == 1:
                cells["s_acctbal"] = ("live", ts, bal)
            gens[1 if k % 2 == 0 else 2].append(
                {
                    "key": (k,),
                    "deletion": None,
                    "rows": [{"clustering": (), "marker_ts": ts, "cells": cells}],
                }
            )
        write_data_db(str(snap / "ks1-supplier-ka-1-Data.db"), gens[1], meta)
        write_data_db(str(snap / "ks1-supplier-ka-2-Data.db"), gens[2], meta)

    return _stage_snapshot("a51_sstable_evo", sf_dir, "supplier", "tag-r11e", write)


@register(
    "a51_sstable_schema_evolution",
    oracle="""
    SELECT s_suppkey, s_name AS v_name, s_nationkey AS v_nationkey,
           CASE WHEN s_suppkey % 2 = 1 THEN s_acctbal
                ELSE CAST(NULL AS DOUBLE) END AS v_acctbal,
           CAST(s_suppkey * 1000 AS BIGINT) AS writetime_us,
           CAST(CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE 2 END AS INTEGER) AS v_gen
    FROM supplier
    """,
    survey="A51,A2,H4",
)
def a51_sstable_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution ACROSS SSTable generations — the ALTER TABLE ADD
    reality every long-lived cluster carries: Cassandra never rewrites
    old SSTables when a column is added, so a snapshot after an ALTER
    mixes generations written under different schemas, and the read
    path resolves the difference (missing cells read as NULL under the
    current schema).  Gen 1 here predates ``ADD s_acctbal`` (its
    cell-addressed ka rows carry no such cell); gen 2 is
    post-evolution; schema.cql records the CURRENT schema, as real
    snapshots do.  h4 certifies schema evolution for parquet unions —
    this certifies it at the SSTable cell level, where it is a property
    of the cell-addressed FORMAT rather than of a schema-merge option.

    The oracle recomputes the NULL pattern from the parquet truth; a
    hash match certifies that the ka decoder's sparse-cell path (absent
    cell → NULL, row liveness via the marker) agrees with relational
    semantics — the first fixture to exercise MISSING cells rather than
    tombstoned ones.

    Scale shape: the family's — one scan task per generation,
    executor-side decode; schema resolution is per-cell name dispatch,
    no plan-level cost."""
    return _supplier_scan(
        spark,
        sf_dir,
        _stage_supplier_evolved_sstables,
        "tag-r11e",
        r"ka-(\d+)-Data\.db$",
    )


# Fisher z comparison of two Pearson correlations: per-group r from the
# two-pass centered integer moments, z = atanh(r) spelled as
# 0.5*ln((1+r)/(1-r)) — one shared literal chain per group, then the
# two-sample z over sqrt(1/(n1-3) + 1/(n2-3)).
_E134_R = """
    (CAST(dxy AS DOUBLE) - CAST(dx AS DOUBLE) * dy / n_i)
    / SQRT((CAST(dxx AS DOUBLE) - CAST(dx AS DOUBLE) * dx / n_i)
           * (CAST(dyy AS DOUBLE) - CAST(dy AS DOUBLE) * dy / n_i))
"""
_E134_FZ = f"""
    (CAST(1 AS DOUBLE) / 2) * LN((1 + {_E134_R}) / (1 - {_E134_R}))
"""


@register(
    "e134_fisher_z_corr_compare",
    oracle=f"""
    WITH vals AS (
        SELECT l_returnflag AS grp,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS y
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ), means AS (
        SELECT grp, CAST(SUM(x) // COUNT(*) AS BIGINT) AS mx,
               CAST(SUM(y) // COUNT(*) AS BIGINT) AS my
        FROM vals GROUP BY 1
    ), g AS (
        SELECT v.grp, CAST(COUNT(*) AS BIGINT) AS n_i,
               CAST(SUM(v.x - m.mx) AS BIGINT) AS dx,
               CAST(SUM(v.y - m.my) AS BIGINT) AS dy,
               CAST(SUM((v.x - m.mx) * (v.x - m.mx)) AS BIGINT) AS dxx,
               CAST(SUM((v.y - m.my) * (v.y - m.my)) AS BIGINT) AS dyy,
               CAST(SUM((v.x - m.mx) * (v.y - m.my)) AS BIGINT) AS dxy
        FROM vals v JOIN means m ON m.grp = v.grp
        GROUP BY 1
    ), fz AS (
        SELECT grp, n_i,
               CAST(ROUND(1000000 * ({_E134_R})) AS BIGINT) AS r_micro,
               {_E134_FZ} AS z_f
        FROM g
    ), wide AS (
        SELECT MAX(CASE WHEN grp = 'R' THEN n_i END) AS n1,
               MAX(CASE WHEN grp = 'A' THEN n_i END) AS n2,
               MAX(CASE WHEN grp = 'R' THEN r_micro END) AS r1_micro,
               MAX(CASE WHEN grp = 'A' THEN r_micro END) AS r2_micro,
               MAX(CASE WHEN grp = 'R' THEN z_f END) AS z1,
               MAX(CASE WHEN grp = 'A' THEN z_f END) AS z2
        FROM fz
    )
    SELECT n1, n2, r1_micro, r2_micro,
           (z1 - z2) / SQRT(CAST(1 AS DOUBLE) / (n1 - 3)
                            + CAST(1 AS DOUBLE) / (n2 - 3)) AS z_stat
    FROM wide
    """,
    survey="E134,E88,E46",
)
def e134_fisher_z_corr_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher z-test for EQUALITY OF TWO CORRELATIONS — the inference
    the correlation tier computes but never tests (e46 Spearman and
    e88 partial correlation ESTIMATE; e84's DeLong compares paired
    AUCs): is corr(quantity, discount) the SAME in the R and A
    return-flag populations?  r per group → variance-stabilizing
    z = atanh(r) → two-sample z over sqrt(1/(n₁−3) + 1/(n₂−3)) — the
    standard two-independent-correlations comparison (Fisher 1921).

    Exactness: per-group moments ride the e129 two-pass integer-mean-
    centered lattice ((dx, dy, dxx, dyy, dxy) exact BIGINTs, int64 to
    ~3e9 rows/group); r, atanh and the final z run shared literal IEEE
    chains from those integers, with r also emitted micro-rounded for
    hash-stable inspection.  Pinned against numpy corrcoef + the
    textbook Fisher formula in tests.

    Scale shape: the e129 shape — two map-side hash aggs + 2-row
    broadcast + a 2-row pivot fold; volume enters only the scans."""
    li = Tables(spark, sf_dir).lineitem
    vals = li.where(F.col("l_returnflag").isin("R", "A")).select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_discount") * 100).cast("long").alias("y"),
    )
    means = vals.groupBy("grp").agg(
        F.expr("CAST(SUM(x) DIV COUNT(*) AS BIGINT)").alias("mx"),
        F.expr("CAST(SUM(y) DIV COUNT(*) AS BIGINT)").alias("my"),
    )
    g = (
        vals.join(F.broadcast(means), "grp")
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_i"),
            F.sum(F.col("x") - F.col("mx")).cast("long").alias("dx"),
            F.sum(F.col("y") - F.col("my")).cast("long").alias("dy"),
            F.sum((F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx")))
            .cast("long")
            .alias("dxx"),
            F.sum((F.col("y") - F.col("my")) * (F.col("y") - F.col("my")))
            .cast("long")
            .alias("dyy"),
            F.sum((F.col("x") - F.col("mx")) * (F.col("y") - F.col("my")))
            .cast("long")
            .alias("dxy"),
        )
    )
    fz = g.select(
        "grp", "n_i",
        F.expr(f"CAST(ROUND(1000000 * ({_E134_R})) AS BIGINT)").alias("r_micro"),
        F.expr(_E134_FZ).alias("z_f"),
    )
    wide = fz.agg(
        F.max(F.when(F.col("grp") == "R", F.col("n_i"))).alias("n1"),
        F.max(F.when(F.col("grp") == "A", F.col("n_i"))).alias("n2"),
        F.max(F.when(F.col("grp") == "R", F.col("r_micro"))).alias("r1_micro"),
        F.max(F.when(F.col("grp") == "A", F.col("r_micro"))).alias("r2_micro"),
        F.max(F.when(F.col("grp") == "R", F.col("z_f"))).alias("z1"),
        F.max(F.when(F.col("grp") == "A", F.col("z_f"))).alias("z2"),
    )
    return wide.select(
        "n1", "n2", "r1_micro", "r2_micro",
        F.expr(
            "(z1 - z2) / SQRT(CAST(1 AS DOUBLE) / (n1 - 3)"
            " + CAST(1 AS DOUBLE) / (n2 - 3))"
        ).alias("z_stat"),
    )


# RBO persistence weights p^(d-1) at p = 0.9, micro-quantized (the j134
# pinned-constant convention — asserted against 0.9**(d-1) in tests).
_J139_W = tuple(
    (d, round((0.9 ** (d - 1)) * 1_000_000)) for d in range(1, 11)
)
_J139_W_SQL = ", ".join(f"({d}, {w})" for d, w in _J139_W)


@register(
    "j139_rank_biased_overlap",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < 8
    ), pairs AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, q.qv, e.embedding AS ev
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ), scores AS (
        SELECT query_id, neighbor_id,
               CAST(SUM(ca * cb) AS BIGINT) AS dot,
               CAST(SUM((ca - cb) * (ca - cb)) AS BIGINT) AS dist2
        FROM (
            SELECT query_id, neighbor_id,
                   CAST(ROUND(CAST(u.a AS DOUBLE) * 100) AS BIGINT) AS ca,
                   CAST(ROUND(CAST(u.b AS DOUBLE) * 100) AS BIGINT) AS cb
            FROM pairs,
                 LATERAL (SELECT unnest(qv) AS a, unnest(ev) AS b,
                                 generate_subscripts(qv, 1) AS i) u
        ) GROUP BY 1, 2
    ), ranked AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, neighbor_id) AS r_dot,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dist2 ASC, neighbor_id) AS r_l2
        FROM scores
    ), w(d, w_micro) AS (VALUES {_J139_W_SQL}),
    terms AS (
        -- X_d = |top-d(dot) ∩ top-d(L2)|; per-depth term
        -- (1-p)·p^(d-1)·X_d/d on the exact integer lattice:
        -- nano units, truncating division by d then by 10 at the end
        SELECT r.query_id, w.d,
               CAST(SUM(CASE WHEN r.r_dot <= w.d AND r.r_l2 <= w.d
                             THEN 1 ELSE 0 END) AS BIGINT) AS x_d,
               w.w_micro
        FROM ranked r CROSS JOIN w
        WHERE r.r_dot <= 10 OR r.r_l2 <= 10
        GROUP BY 1, 2, 4
    )
    SELECT query_id,
           CAST(MAX(CASE WHEN d = 10 THEN x_d END) AS BIGINT) AS x10,
           CAST(SUM(1000 * w_micro * x_d // d) // 10 AS BIGINT) AS rbo_nano
    FROM terms GROUP BY 1 ORDER BY 1
    """,
    survey="J139,J135,J134",
)
def j139_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber/Moffat/Zobel 2010) between the dot-
    and L2-order retrievals — the top-weighted ranking-similarity
    metric that completes the retrieval-eval tier's comparison leg
    (j134 scores ONE ranking against labels, j135 FUSES two rankings;
    RBO measures how much two rankings AGREE, weighting the top —
    Kendall/Spearman over full lists treat depth 1 and depth 1000
    alike, which is wrong for search): truncated RBO@10 =
    (1−p)·Σ_{{d≤10}} p^{{d−1}}·|A_d ∩ B_d|/d at the standard p = 0.9.

    ENTIRELY float-free: the rankings are j135's exact centi-lattice
    integer keys with deterministic ties; the persistence weights
    p^{{d−1}} are pinned micro integers (the j134 convention, asserted
    against 0.9**(d−1) in tests); each depth term is an exact
    truncating division — no IEEE anywhere, so the hash certifies the
    metric to the last nano unit.

    Scale shape: j135's — 8 broadcast queries × corpus scan → exact
    integer scores → two rank windows → a ≤20-rows-per-query candidate
    relation × 10-row depth lattice → per-query fold.  The ANN ladder
    cuts the corpus term in production, as for every J3-family query."""
    e = Tables(spark, sf_dir).embeddings
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    pairs = q.crossJoin(
        e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ev"))
    ).where(F.col("neighbor_id") != F.col("query_id"))
    cents = pairs.select(
        "query_id", "neighbor_id",
        F.expr(
            "aggregate(zip_with(qv, ev, (a, b) ->"
            " CAST(ROUND(CAST(a AS DOUBLE) * 100) AS BIGINT)"
            " * CAST(ROUND(CAST(b AS DOUBLE) * 100) AS BIGINT)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("dot"),
        F.expr(
            "aggregate(zip_with(qv, ev, (a, b) ->"
            " (CAST(ROUND(CAST(a AS DOUBLE) * 100) AS BIGINT)"
            "  - CAST(ROUND(CAST(b AS DOUBLE) * 100) AS BIGINT))"
            " * (CAST(ROUND(CAST(a AS DOUBLE) * 100) AS BIGINT)"
            "    - CAST(ROUND(CAST(b AS DOUBLE) * 100) AS BIGINT))),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("dist2"),
    )
    wd = Window.partitionBy("query_id").orderBy(F.desc("dot"), "neighbor_id")
    wl = Window.partitionBy("query_id").orderBy(F.asc("dist2"), "neighbor_id")
    ranked = cents.select(
        "query_id", "neighbor_id",
        F.row_number().over(wd).alias("r_dot"),
        F.row_number().over(wl).alias("r_l2"),
    )
    depths = spark.createDataFrame(list(_J139_W), "d int, w_micro long")
    terms = (
        ranked.where((F.col("r_dot") <= 10) | (F.col("r_l2") <= 10))
        .crossJoin(F.broadcast(depths))
        .groupBy("query_id", "d", "w_micro")
        .agg(
            F.sum(
                F.when((F.col("r_dot") <= F.col("d")) & (F.col("r_l2") <= F.col("d")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("x_d")
        )
    )
    return (
        terms.groupBy("query_id")
        .agg(
            F.max(F.when(F.col("d") == 10, F.col("x_d"))).cast("long").alias("x10"),
            F.expr(
                "CAST(SUM(1000 * w_micro * x_d DIV d) DIV 10 AS BIGINT)"
            ).alias("rbo_nano"),
        )
        .orderBy("query_id")
    )


@register(
    "sql_api_pipe_syntax",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) // COUNT(*)
                AS BIGINT) AS avg_cents
    FROM lineitem WHERE l_quantity >= 10
    GROUP BY l_returnflag HAVING COUNT(*) > 10
    ORDER BY l_returnflag
    """,
    survey="SQL-8,SQL-2,E2",
)
def sql_api_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE syntax (`|>`) — the Spark 4.0 surface (SPARK-49555,
    from the Google 'SQL Has Problems' pipe-syntax proposal) that
    linearizes query composition: each `|>` stage consumes the previous
    relation, so filters-after-aggregates need no subquery nesting and
    EXTEND adds computed columns mid-stream.  Completes the SQL-API
    surface family (SQL-2 composed CTEs, SQL-3 parameterized, SQL-4
    recursive, SQL-5 UNPIVOT, SQL-6 GROUP BY ALL, SQL-7 IDENTIFIER):
    the query runs WHERE → EXTEND → AGGREGATE … GROUP BY → EXTEND →
    WHERE (post-aggregation, i.e. HAVING) → ORDER BY as one pipe
    chain, and the oracle is the equivalent CLASSIC nested SQL — a
    hash match certifies the two dialects produce the identical
    relation.

    Exactness: pure integer cents aggregates; avg is a truncating
    integer division.

    Scale shape: the pipe dialect is SYNTAX — Catalyst plans it
    identically to the classic form (one partial+final hash agg over
    the scan), which the matching hash indirectly demonstrates."""
    li = Tables(spark, sf_dir).lineitem
    li.createOrReplaceTempView("cs2h_pipe_lineitem")
    return spark.sql(
        """
        FROM cs2h_pipe_lineitem
        |> WHERE l_quantity >= 10
        |> EXTEND CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        |> AGGREGATE COUNT(*) AS n_rows, SUM(cents) AS sum_cents
           GROUP BY l_returnflag
        |> EXTEND CAST(sum_cents DIV n_rows AS BIGINT) AS avg_cents
        |> WHERE n_rows > 10
        |> ORDER BY l_returnflag
        """
    )
