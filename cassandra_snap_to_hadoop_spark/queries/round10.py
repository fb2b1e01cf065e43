"""Round-10 additions — the Cassandra 4.x half of the SSTable format
family (VERDICT r9 item 2) plus round-10 depth operators.

a40/a41 certify the ``na``/``nb`` codec (``sources/sstable_na.py``)
end-to-end exactly the way a33/a34 certified ka (round 7) and a36/a37
certified ma (round 8): the SAME bounded supplier / clustered-orders
subsets, the SAME deletion/TTL visibility rules, the SAME oracles — but
the files on disk now carry the 4.x integrity components (Digest.crc32,
CRC.db chunk checksums, checksummed Statistics.db with pending-repair /
isTransient / origin-host fields) which the scan VERIFIES before
decoding a byte.  a42 stages ONE snapshot whose generations span all
three formats (ka + ma + nb) and decodes them into one coherent
relation — the strongest cross-format law: three unrelated byte
layouts, one reconciled relational truth, one oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.queries.round7 import (
    _AS_OF,
    _ORDERS_ORACLE,
    _SUPPLIER_ORACLE,
    _orders_partitions,
    _orders_scan,
    _stage_snapshot,
    _supplier_partitions,
    _supplier_scan,
)
from cassandra_snap_to_hadoop_spark.registry import register
from cassandra_snap_to_hadoop_spark.session import apply_runtime_confs

# Deterministic 16-byte ids for the 4.x metadata fields (fixture
# constants, not secrets): a pending-repair session on generation 1 and
# an originating host on the nb generation.
_REPAIR_ID = bytes(range(16))
_HOST_ID = bytes(range(16, 32))


def _stage_supplier_na_sstables(sf_dir: str):
    """Two 4.x generations: gen 1 as ``na`` (with a pending-repair
    session id), gen 2 as ``nb`` (with an originating host id — the
    field nb added) — so one scan certifies both version tags, both
    sidecar field paths, and the digest/chunk verification."""
    from cassandra_snap_to_hadoop_spark.sources.sstable_na import write_na_data_db

    def write(snap, meta):
        gens = _supplier_partitions(sf_dir)
        write_na_data_db(
            str(snap / "na-1-big-Data.db"),
            gens[1],
            meta,
            version="na",
            pending_repair=_REPAIR_ID,
        )
        write_na_data_db(
            str(snap / "nb-2-big-Data.db"),
            gens[2],
            meta,
            version="nb",
            host_id=_HOST_ID,
            is_transient=False,
        )

    return _stage_snapshot("a40_sstable_na", sf_dir, "supplier", "tag-r10", write)


@register(
    "a40_sstable_na_roundtrip",
    oracle=_SUPPLIER_ORACLE,
    survey="A40,A2,B3,B4",
)
def a40_sstable_na_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a36's roundtrip through the Cassandra 4.x layout: the supplier
    table re-encoded as one ``na`` and one ``nb`` generation
    (``sources/sstable_na.py`` — the 3.0 row core plus the 4.x
    integrity components) and scanned back through the snapshot
    scan's ``na-``/``nb-`` filename dispatch, which VERIFIES the
    full-file digest and every 64 KiB chunk checksum before decoding
    (the feature 4.x added for uncompressed tables) and CRC-checks the
    stats sidecar carrying the pending-repair / isTransient /
    origin-host fields.  The oracle is IDENTICAL to a33's and a36's:
    the visibility rules are format-independent truth, so a hash match
    across all three codecs certifies the decoders agree with the
    relational semantics AND each other.

    Beyond a36 this certifies: digest + chunk-checksum verification on
    the actual decode path (corruption tests in
    tests/test_sstable_na.py prove mismatches raise before any row is
    yielded), the checksummed metadata sidecar round-trip, and the
    na-vs-nb version gate (host_id is an nb field; the writer rejects
    it on na).

    Scale shape: identical to a33/a36 — staging is a bounded
    driver-side fixture encode; the SCAN is one scan task per
    Data.db decoded executor-side into Arrow batches, with checksum
    verification a linear executor-side pass over bytes already read."""
    return _supplier_scan(
        spark,
        sf_dir,
        _stage_supplier_na_sstables,
        "tag-r10",
        r"n[ab]-(\d+)-big-Data\.db$",
    )


def _stage_orders_na_sstables(sf_dir: str):
    """The a34/a37 orders subset (orderkey % 100 == 0) as 4.x SSTables:
    partition key o_custkey, clustering o_orderkey — clustering blocks
    travel on the shared 3.0 row core, wrapped in 4.x checksums."""
    from cassandra_snap_to_hadoop_spark.sources.sstable_na import write_na_data_db

    def write(snap, meta):
        gens = _orders_partitions(sf_dir)
        write_na_data_db(str(snap / "nb-1-big-Data.db"), gens[1], meta, version="nb")
        write_na_data_db(str(snap / "nb-2-big-Data.db"), gens[2], meta, version="nb")

    return _stage_snapshot("a41_sstable_na", sf_dir, "orders", "tag-r10", write)


@register(
    "a41_sstable_na_clustering_scan",
    oracle=_ORDERS_ORACLE,
    survey="A41,A2,B5,D1",
)
def a41_sstable_na_clustering_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a37's wide-row scan through the 4.x wrapper: clustering blocks,
    multi-row partitions and USE_ROW_TIMESTAMP cells ride the shared
    3.0 row core unchanged; what this query adds over a37 is the
    end-to-end checksum gauntlet on MULTI-ROW partition files (the
    digest/chunk grid covers body-size/prev-size framing bytes too, so
    a single flipped framing byte is caught by the chunk CRC, not by a
    vint desync three rows later — tests prove the corruption paths).

    Scale shape: as a34/a37 — per-file executor-side streaming decode;
    the subset is the bounded fixture, the plan is the 100 TB plan."""
    return _orders_scan(spark, sf_dir, _stage_orders_na_sstables, "tag-r10")


def _stage_supplier_mixed_sstables(sf_dir: str):
    """ONE snapshot directory whose generations span the whole format
    family — gen 1 ka (2.x cell-oriented), gen 2 ma (3.x row-oriented),
    gen 3 nb (4.x checksummed) — keyed k % 3, the upgrade-in-progress
    cluster a real operator snapshots mid-migration."""
    import pyarrow.parquet as pq

    from cassandra_snap_to_hadoop_spark.sources.sstable import write_data_db
    from cassandra_snap_to_hadoop_spark.sources.sstable_ma import write_ma_data_db
    from cassandra_snap_to_hadoop_spark.sources.sstable_na import write_na_data_db

    def write(snap, meta):
        t = pq.read_table(
            f"{sf_dir}/supplier.parquet",
            columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
        )
        gens: dict[int, list] = {1: [], 2: [], 3: []}
        for k, name, nat, bal in zip(
            *(t.column(c).to_pylist() for c in t.column_names)
        ):
            ts = k * 1000
            gens[1 + k % 3].append(
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

    return _stage_snapshot("a42_sstable_mixed", sf_dir, "supplier", "tag-r10m", write)


@register(
    "a42_sstable_mixed_formats",
    oracle="""
    SELECT CASE WHEN s_suppkey % 3 = 0 THEN 'ka'
                WHEN s_suppkey % 3 = 1 THEN 'ma'
                ELSE 'nb' END AS fmt,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(s_suppkey) AS BIGINT) AS sum_key,
           CAST(SUM(s_suppkey * 1000) AS BIGINT) AS sum_writetime_us,
           CAST(SUM(CAST(s_nationkey AS BIGINT)) AS BIGINT) AS sum_nation
    FROM supplier
    GROUP BY 1 ORDER BY 1
    """,
    survey="A42,A2,A6",
)
def a42_sstable_mixed_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mid-migration snapshot (VERDICT r9 item 2's 'mixed' leg): ONE
    snapshot whose three generations are ka (2.x), ma (3.x) and nb
    (4.x) bytes of the SAME supplier rows (keyed k % 3), decoded by one
    scan through the per-file filename dispatch into one relation.
    Grouping by the decoding format and checksumming keys, writetimes
    and a value column per group proves each codec contributed exactly
    its share — the cross-format agreement law as a single certified
    query rather than three separate roundtrips.

    ka's cell-oriented bytes, ma's vint rows and nb's checksummed
    wrapper share NOTHING on disk but the logical rows; the oracle
    recomputes every group from the parquet truth.

    Scale shape: listing assigns one scan task per generation
    file; a real mixed snapshot with thousands of generations spreads
    across executors with per-file format dispatch — no global format
    assumption anywhere in the plan."""
    from cassandra_snap_to_hadoop_spark.sources.snapshot import snapshot_scan

    apply_runtime_confs(spark)
    base = _stage_supplier_mixed_sstables(sf_dir)
    df = snapshot_scan(
        spark,
        str(base),
        "ks1",
        "supplier",
        "tag-r10m",
        writetime="true",
        as_of=str(_AS_OF),
    )
    fmt = (
        F.when(F.col("_sstable").rlike(r"ka-\d+-Data\.db$"), F.lit("ka"))
        .when(F.col("_sstable").rlike(r"ma-\d+-big-Data\.db$"), F.lit("ma"))
        .otherwise(F.lit("nb"))
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


# --------------------------------------------------------------------------
# Batch 2: nonparametric shift/scale/trend depth operators + time-series
# diagnostics.  Same acceptance bar as rounds 3-9: exact-integer or
# shared-IEEE-chain discipline, DuckDB oracle, pure-Python third
# implementation pin, scale note per docstring.
# --------------------------------------------------------------------------

from pyspark.sql.window import Window  # noqa: E402

from cassandra_snap_to_hadoop_spark.io import Tables  # noqa: E402
from cassandra_snap_to_hadoop_spark.queries.round3 import _f15_isqrt_sql  # noqa: E402


def _isqrt_spark(v: str) -> str:
    """The shared exact-isqrt template in Spark SQL spelling (DIV)."""
    return _f15_isqrt_sql(v).replace("//", "DIV")


@register(
    "e122_mood_median_test",
    oracle=f"""
    WITH q AS (
        SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS v
        FROM lineitem
    ), hist AS (
        SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS c FROM q GROUP BY 1, 2
    ), pooled AS (
        SELECT v, CAST(SUM(c) AS BIGINT) AS gc FROM hist GROUP BY 1
    ), med AS (
        -- lower pooled median: smallest v whose cumulative count reaches
        -- half of N (2*cum >= N exactly, no float midpoint)
        SELECT MIN(v) AS m FROM (
            SELECT v, SUM(gc) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   SUM(gc) OVER () AS n
            FROM pooled
        ) WHERE 2 * cum >= n
    ), cells AS (
        SELECT grp,
               CAST(SUM(CASE WHEN v > m THEN c ELSE 0 END) AS BIGINT) AS above,
               CAST(SUM(CASE WHEN v <= m THEN c ELSE 0 END) AS BIGINT) AS at_or_below
        FROM hist CROSS JOIN med GROUP BY 1
    ), margins AS (
        SELECT CAST(SUM(above) AS BIGINT) AS tot_above,
               CAST(SUM(at_or_below) AS BIGINT) AS tot_below,
               CAST(SUM(above + at_or_below) AS BIGINT) AS n
        FROM cells
    ), terms AS (
        -- isqrt-lattice chi-square (defined contract): per-cell
        -- t = 1000*(O*N - R*C) DIV isqrt(N*R*C); term = t^2; the square
        -- of the standardized residual in milli, exact integers
        SELECT grp, above, at_or_below,
               {{T_ABOVE}} AS t_above,
               {{T_BELOW}} AS t_below
        FROM cells CROSS JOIN margins
    )
    SELECT grp, above, at_or_below,
           CAST((t_above * t_above + t_below * t_below) // 1000 AS BIGINT)
               AS chi2_contrib_milli
    FROM terms ORDER BY grp
    """.replace(
        "{T_ABOVE}",
        "(1000 * (above * n - (above + at_or_below) * tot_above)) // "
        + _f15_isqrt_sql("(n * (above + at_or_below) * tot_above)"),
    ).replace(
        "{T_BELOW}",
        "(1000 * (at_or_below * n - (above + at_or_below) * tot_below)) // "
        + _f15_isqrt_sql("(n * (above + at_or_below) * tot_below)"),
    ),
    survey="E122,E37,E23",
)
def e122_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the three return-flag groups — the
    k-sample location test that only asks "is each group's share above
    the POOLED median what chance predicts?", making it robust to any
    monotone transformation (the coarse, assumption-free sibling of
    e101's Kruskal-Wallis, which uses full ranks).

    Exactness: quantities are integers 1..50, so the pooled lower
    median is exact (smallest v with 2·cum ≥ N on the value histogram
    — the e23 weighted-median rule); the 2×k table is pure counts; the
    chi-square contribution is carried on the ISQRT LATTICE (defined
    contract): per cell t = 1000·(O·N − R·C) DIV isqrt(N·R·C), the
    milli-scaled standardized residual — exact BIGINTs where the
    textbook (O−E)²/E over a common denominator would overflow int64
    at these margins (N ≈ 6e5 ⇒ (O·N−R·C)² ≈ 1e22).  The shared
    two-sided-adjusted isqrt template (_f15_isqrt_sql) makes the root
    exact in both engines.

    Scale shape: one histogram agg on the (group, value) lattice (≤150
    rows), one calendar of window cumsums, constant-size cells — the
    corpus scan is the only volume term."""
    li = Tables(spark, sf_dir).lineitem
    hist = (
        li.select(
            F.col("l_returnflag").alias("grp"),
            F.col("l_quantity").cast("long").alias("v"),
        )
        .groupBy("grp", "v")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    pooled = hist.groupBy("v").agg(F.sum("c").alias("gc"))
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    med = (
        pooled.select(
            "v",
            F.sum("gc").over(wcum).alias("cum"),
            F.sum("gc").over(Window.partitionBy()).alias("n"),
        )
        .where(2 * F.col("cum") >= F.col("n"))
        .agg(F.min("v").alias("m"))
    )
    cells = (
        hist.crossJoin(F.broadcast(med))
        .groupBy("grp")
        .agg(
            F.sum(F.when(F.col("v") > F.col("m"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("above"),
            F.sum(F.when(F.col("v") <= F.col("m"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("at_or_below"),
        )
    )
    margins = cells.agg(
        F.sum("above").cast("long").alias("tot_above"),
        F.sum("at_or_below").cast("long").alias("tot_below"),
        F.sum(F.col("above") + F.col("at_or_below")).cast("long").alias("n"),
    )
    t_above = (
        "(1000 * (above * n - (above + at_or_below) * tot_above)) DIV "
        + _isqrt_spark("(n * (above + at_or_below) * tot_above)")
    )
    t_below = (
        "(1000 * (at_or_below * n - (above + at_or_below) * tot_below)) DIV "
        + _isqrt_spark("(n * (above + at_or_below) * tot_below)")
    )
    return (
        cells.crossJoin(F.broadcast(margins))
        .select(
            "grp", "above", "at_or_below",
            F.expr(t_above).alias("ta"),
            F.expr(t_below).alias("tb"),
        )
        .select(
            "grp", "above", "at_or_below",
            F.expr("CAST((ta * ta + tb * tb) DIV 1000 AS BIGINT)").alias(
                "chi2_contrib_milli"
            ),
        )
        .orderBy("grp")
    )


@register(
    "e123_hodges_lehmann",
    oracle="""
    WITH hx AS (
        -- the treated sample carries an INJECTED uniform 0..6 shift
        -- (mean 3) so the estimator has a known truth to recover — the
        -- j125 fixture-discrimination lesson (R vs A quantities alone
        -- are identically distributed and HL would be a degenerate 0)
        SELECT CAST(l_quantity AS BIGINT) + l_partkey % 7 AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
    ), hy AS (
        SELECT CAST(l_quantity AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1
    ), diffs AS (
        SELECT hx.v - hy.v AS d, CAST(SUM(hx.c * hy.c) AS BIGINT) AS w
        FROM hx CROSS JOIN hy GROUP BY 1
    ), tot AS (SELECT CAST(SUM(w) AS BIGINT) AS n_pairs FROM diffs),
    cum AS (
        SELECT d, w, SUM(w) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
        FROM diffs
    )
    SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM hx) AS n_x,
           (SELECT CAST(SUM(c) AS BIGINT) FROM hy) AS n_y,
           tot.n_pairs,
           (SELECT MIN(d) FROM cum CROSS JOIN tot
            WHERE 2 * cw >= tot.n_pairs) AS hl_shift
    FROM tot
    """,
    survey="E123,E45,E23",
)
def e123_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann shift estimator between the 'R' and 'A'
    return-flag quantity samples (the 'R' side carrying an injected
    uniform 0..6 shift, mean 3, so the known truth is recoverable) —
    the median of ALL n_x·n_y pairwise
    differences x_i − y_j, the robust location-shift companion of
    e45's Mann-Whitney (MWU tests whether a shift exists; HL says HOW
    BIG it is, with 0.955 asymptotic efficiency vs the mean on normal
    data and full outlier resistance).

    The n_x·n_y ≈ 4e10 pair space never materializes: quantities live
    on a ≤50-value integer lattice, so the pairwise-difference
    DISTRIBUTION is the cross of two ≤50-row histograms with weight
    cx·cy per (v_x − v_y) cell (≤99 distinct differences), and the
    median is the e23 weighted-median rule on that lattice — the lower
    weighted median (smallest d with 2·cum ≥ n_pairs), fully exact
    BIGINT.

    Scale shape: two histogram aggs (one corpus scan), a ≤50×50
    broadcast cross, one window cumsum over ≤99 rows — at any corpus
    size the pair term is |domain|², never n²."""
    li = Tables(spark, sf_dir).lineitem
    # r11 (guide §2.4): each ≤50-row histogram feeds the pairwise cross
    # AND its sample-size fold — cut both so lineitem scans twice, not 4×.
    hx = (
        li.where(F.col("l_returnflag") == "R")
        .groupBy(
            (F.col("l_quantity").cast("long") + F.col("l_partkey") % 7).alias("v")
        )
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    hy = (
        li.where(F.col("l_returnflag") == "A")
        .groupBy(F.col("l_quantity").cast("long").alias("v"))
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    diffs = (
        hx.select(F.col("v").alias("vx"), F.col("c").alias("cx"))
        .crossJoin(F.broadcast(hy.select(F.col("v").alias("vy"), F.col("c").alias("cy"))))
        .groupBy((F.col("vx") - F.col("vy")).alias("d"))
        .agg(F.sum(F.col("cx") * F.col("cy")).cast("long").alias("w"))
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = diffs.select("d", "w", F.sum("w").over(wcum).alias("cw"))
    tot = diffs.agg(F.sum("w").cast("long").alias("n_pairs"))
    nx = hx.agg(F.sum("c").cast("long").alias("n_x"))
    ny = hy.agg(F.sum("c").cast("long").alias("n_y"))
    hl = (
        cum.crossJoin(F.broadcast(tot))
        .where(2 * F.col("cw") >= F.col("n_pairs"))
        .agg(F.min("d").alias("hl_shift"))
    )
    return (
        nx.crossJoin(F.broadcast(ny))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(hl))
        .select("n_x", "n_y", "n_pairs", "hl_shift")
    )


@register(
    "e124_jonckheere_terpstra",
    oracle="""
    WITH q AS (
        -- injected +g-1 location shift: the monotone truth is known,
        -- so the z statistic must come out large-positive
        SELECT CAST(l_linenumber AS BIGINT) AS g,
               CAST(l_quantity AS BIGINT) + l_linenumber - 1 AS v
        FROM lineitem WHERE l_linenumber <= 4
    ), hist AS (
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM q GROUP BY 1, 2
    ), sizes AS (
        SELECT g, CAST(SUM(c) AS BIGINT) AS n_g FROM hist GROUP BY 1
    ), pairs AS (
        -- 2U per ordered group pair (i < j): wins count 2, ties count 1
        -- — integer throughout, via the two histograms' value cross
        SELECT CAST(SUM(CASE WHEN a.v < b.v THEN 2 * a.c * b.c
                             WHEN a.v = b.v THEN a.c * b.c
                             ELSE 0 END) AS BIGINT) AS u2
        FROM hist a JOIN hist b ON a.g < b.g
    ), moments AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(SUM(n_g * n_g) AS BIGINT) AS sum_n2,
               CAST(SUM(n_g * n_g * (2 * n_g + 3)) AS BIGINT) AS sum_n23
        FROM sizes
    )
    SELECT u2,
           (n * n - sum_n2) AS mu4,
           (n * n * (2 * n + 3) - sum_n23) AS var72,
           -- shared-IEEE z: exact integer inputs, identical expression
           -- in both engines; U = u2/2, mu = mu4/4, so
           -- U - mu = (2*u2 - mu4)/4
           (CAST(2 * u2 - (n * n - sum_n2) AS DOUBLE) / 4.0)
               / SQRT(CAST(n * n * (2 * n + 3) - sum_n23 AS DOUBLE) / 72.0)
               AS z_stat
    FROM pairs CROSS JOIN moments
    """,
    survey="E124,E45,E47",
)
def e124_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative trend test across the
    ordered line positions 1..4 — the k-sample test e101's
    Kruskal-Wallis cannot state: KW asks "do the groups differ AT ALL",
    JT asks "do they INCREASE in the given order", pooling every
    pairwise Mann-Whitney U_ij for i < j (strictly more powerful when
    the alternative really is monotone — the dose-response situation).
    The fixture injects a +g−1 location shift per group so the monotone
    truth is known and the z must come out large-positive (the j125
    discrimination rule).

    Exactness: quantities + shifts live on an integer lattice, so every
    U_ij is the cross of two value histograms — 2U carried as exact
    BIGINT (wins 2, ties 1); the null moments μ = (N² − Σn_g²)/4 and
    σ² = (N²(2N+3) − Σn_g²(2n_g+3))/72 are exact integer numerators
    over fixed denominators; only the final z divides, as the SAME IEEE
    expression from identical integers in both engines (the e45/e52
    shared-chain rule).

    Scale shape: one histogram agg on the (group, value) lattice (≤4 ×
    ~54 rows), one tiny histogram-pair join, two 1-row folds — the
    corpus scan is the only volume term, exactly e122's shape."""
    li = Tables(spark, sf_dir).lineitem
    hist = (
        li.where(F.col("l_linenumber") <= 4)
        .groupBy(
            F.col("l_linenumber").cast("long").alias("g"),
            (
                F.col("l_quantity").cast("long")
                + F.col("l_linenumber").cast("long")
                - 1
            ).alias("v"),
        )
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    sizes = hist.groupBy("g").agg(F.sum("c").cast("long").alias("n_g"))
    a = hist.select(F.col("g").alias("ga"), F.col("v").alias("va"), F.col("c").alias("ca"))
    b = hist.select(F.col("g").alias("gb"), F.col("v").alias("vb"), F.col("c").alias("cb"))
    pairs = (
        a.join(F.broadcast(b), F.col("ga") < F.col("gb"))
        .agg(
            F.sum(
                F.when(F.col("va") < F.col("vb"), 2 * F.col("ca") * F.col("cb"))
                .when(F.col("va") == F.col("vb"), F.col("ca") * F.col("cb"))
                .otherwise(0)
            )
            .cast("long")
            .alias("u2")
        )
    )
    moments = sizes.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum(F.col("n_g") * F.col("n_g")).cast("long").alias("sum_n2"),
        F.sum(F.col("n_g") * F.col("n_g") * (2 * F.col("n_g") + 3))
        .cast("long")
        .alias("sum_n23"),
    )
    return pairs.crossJoin(F.broadcast(moments)).select(
        "u2",
        F.expr("n * n - sum_n2").alias("mu4"),
        F.expr("n * n * (2 * n + 3) - sum_n23").alias("var72"),
        F.expr(
            "(CAST(2 * u2 - (n * n - sum_n2) AS DOUBLE) / 4.0)"
            " / SQRT(CAST(n * n * (2 * n + 3) - sum_n23 AS DOUBLE) / 72.0)"
        ).alias("z_stat"),
    )


@register(
    "f55_kuiper_two_sample",
    oracle="""
    WITH e AS (
        SELECT event_type, CAST(ROUND(value) AS BIGINT) AS v FROM events
    ), counts AS (
        SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM e GROUP BY 1, 2
    ), tot AS (
        SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_s FROM counts GROUP BY 1
    ), vals AS (
        SELECT v, CAST(SUM(c) AS BIGINT) AS gc FROM counts GROUP BY 1
    ), gcum AS (
        SELECT v, CAST(SUM(gc) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS gcum
        FROM vals
    ), n AS (SELECT CAST(SUM(c) AS BIGINT) AS N FROM counts),
    grid AS (
        SELECT t.event_type, t.n_s, g.v, g.gcum FROM tot t CROSS JOIN gcum g
    ), cum AS (
        SELECT gr.event_type, gr.n_s, gr.v, gr.gcum,
               CAST(SUM(COALESCE(c.c, 0)) OVER (PARTITION BY gr.event_type
                   ORDER BY gr.v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_s
        FROM grid gr LEFT JOIN counts c
          ON c.event_type = gr.event_type AND c.v = gr.v
    ), d AS (
        SELECT event_type, n_s, N,
               CAST(MAX(cum_s * (N - n_s) - (gcum - cum_s) * n_s) AS BIGINT)
                   AS dplus_num,
               CAST(MAX((gcum - cum_s) * n_s - cum_s * (N - n_s)) AS BIGINT)
                   AS dminus_num
        FROM cum CROSS JOIN n GROUP BY 1, 2, 3
    )
    SELECT event_type, n_s AS n_source, (N - n_s) AS n_rest,
           GREATEST(dplus_num, 0) AS dplus_num,
           GREATEST(dminus_num, 0) AS dminus_num,
           (GREATEST(dplus_num, 0) + GREATEST(dminus_num, 0))
               / (CAST(n_s AS DOUBLE) * (N - n_s)) AS v_stat
    FROM d ORDER BY event_type
    """,
    survey="F55,E36,F3",
)
def f55_kuiper_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper two-sample statistic per event type vs the rest of the
    corpus: V = D⁺ + D⁻, the cyclic-invariant refinement of e36's KS —
    KS's sup|F₁ − F₂| is blind to distributions that differ in BOTH
    tails with opposite signs (and under-weights the tails generally);
    Kuiper adds the two one-sided suprema, giving equal sensitivity at
    every quantile and invariance under cyclic shifts (the classic use:
    time-of-day/periodic drift, exactly the events workload).

    Machinery is e36's integer grid verbatim: per-(type, value) counts,
    global value grid via window cumsums, ECDF comparison on the exact
    integer numerator cum_s·(N−n_s) − (gcum−cum_s)·n_s — D⁺ and D⁻ are
    its max and the max of its negation (floored at 0: one-sided
    suprema are nonnegative by F(-∞)=0), and only the final V divides,
    identically in both engines.

    Scale shape: e36's — one hash agg to the (type × distinct-value)
    grid, window cumsums on the grid, never a row-level sort."""
    e = Tables(spark, sf_dir).events
    counts = (
        e.groupBy(
            "event_type", F.round("value").cast("long").alias("v")
        )
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = counts.groupBy("event_type").agg(F.sum("c").alias("n_s"))
    gl = counts.groupBy("v").agg(F.sum("c").alias("gc"))
    wg = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    pts = (
        gl.withColumn("gcum", F.sum("gc").over(wg))
        .agg(F.sort_array(F.collect_list(F.struct("v", "gcum"))).alias("pts"))
    )
    ntot = counts.agg(F.sum("c").alias("N"))
    grid = (
        tot.crossJoin(F.broadcast(pts))
        .select("event_type", "n_s", F.explode("pts").alias("p"))
        .select(
            "event_type", "n_s",
            F.col("p.v").alias("v"), F.col("p.gcum").alias("gcum"),
        )
    )
    ws = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.join(counts, ["event_type", "v"], "left").withColumn(
        "cum_s", F.sum(F.coalesce(F.col("c"), F.lit(0))).over(ws)
    )
    diff = F.col("cum_s") * (F.col("N") - F.col("n_s")) - (
        F.col("gcum") - F.col("cum_s")
    ) * F.col("n_s")
    d = (
        cum.crossJoin(F.broadcast(ntot))
        .groupBy("event_type", "n_s", "N")
        .agg(
            F.max(diff).cast("long").alias("dp"),
            F.max(-diff).cast("long").alias("dm"),
        )
    )
    return d.select(
        "event_type",
        F.col("n_s").alias("n_source"),
        (F.col("N") - F.col("n_s")).alias("n_rest"),
        F.greatest(F.col("dp"), F.lit(0)).alias("dplus_num"),
        F.greatest(F.col("dm"), F.lit(0)).alias("dminus_num"),
        (
            (F.greatest(F.col("dp"), F.lit(0)) + F.greatest(F.col("dm"), F.lit(0)))
            / (F.col("n_s").cast("double") * (F.col("N") - F.col("n_s")))
        ).alias("v_stat"),
    ).orderBy("event_type")


@register(
    "f56_variance_ratio",
    oracle="""
    WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS d,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), numbered AS (
        SELECT event_type, x,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn
        FROM daily
    ), d1 AS (
        SELECT event_type,
               x - LAG(x) OVER (PARTITION BY event_type ORDER BY rn) AS r
        FROM numbered
    ), d5 AS (
        SELECT event_type,
               x - LAG(x, 5) OVER (PARTITION BY event_type ORDER BY rn) AS r
        FROM numbered
    ), s1 AS (
        SELECT event_type, CAST(COUNT(r) AS BIGINT) AS n1,
               CAST(SUM(r) AS BIGINT) AS s, CAST(SUM(r * r) AS BIGINT) AS q
        FROM d1 WHERE r IS NOT NULL GROUP BY 1
    ), s5 AS (
        SELECT event_type, CAST(COUNT(r) AS BIGINT) AS n5,
               CAST(SUM(r) AS BIGINT) AS s, CAST(SUM(r * r) AS BIGINT) AS q
        FROM d5 WHERE r IS NOT NULL GROUP BY 1
    )
    SELECT s1.event_type, s1.n1, s5.n5,
           (s1.n1 * s1.q - s1.s * s1.s) AS v1_num,
           (s5.n5 * s5.q - s5.s * s5.s) AS v5_num,
           -- VR(5) = var(5-day diffs) / (5 * var(1-day diffs)); exact
           -- integer numerators over n^2 denominators, one shared-IEEE
           -- division at the end
           CAST(s5.n5 * s5.q - s5.s * s5.s AS DOUBLE) * s1.n1 * s1.n1
               / (5.0 * CAST(s1.n1 * s1.q - s1.s * s1.s AS DOUBLE)
                  * s5.n5 * s5.n5) AS vr5
    FROM s1 JOIN s5 USING (event_type) ORDER BY event_type
    """,
    survey="F56,F26,F2",
)
def f56_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance ratio VR(5) per event type over the daily
    total-cents series — the random-walk diagnostic: under an i.i.d.
    increment null, the variance of 5-day differences is exactly 5× the
    variance of 1-day differences, so VR(5) ≈ 1; VR > 1 flags positive
    serial correlation (trending), VR < 1 mean reversion.  Complements
    f38's ACF (per-lag correlations) with the single
    aggregated-horizon statistic the econometrics literature actually
    tests.

    Exactness: daily sums are integer cents; 1-day and 5-day
    differences are LAG windows on the integer lattice; each variance
    is the exact integer numerator n·Σr² − (Σr)² over n²; the single
    final division is the same IEEE expression from identical integers
    in both engines.

    Scale shape: one daily pre-agg (the only volume term) then
    calendar-bounded per-type windows and a 5-row join — f54's daily
    lattice discipline."""
    e = Tables(spark, sf_dir).events
    daily = e.groupBy(
        "event_type", F.expr("unix_micros(ts) DIV 86400000000").alias("d")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    w = Window.partitionBy("event_type").orderBy("d")
    diffs = daily.select(
        "event_type",
        (F.col("x") - F.lag("x", 1).over(w)).alias("r1"),
        (F.col("x") - F.lag("x", 5).over(w)).alias("r5"),
    )
    s1 = diffs.where(F.col("r1").isNotNull()).groupBy("event_type").agg(
        F.count("r1").cast("long").alias("n1"),
        F.sum("r1").cast("long").alias("s1"),
        F.sum(F.col("r1") * F.col("r1")).cast("long").alias("q1"),
    )
    s5 = diffs.where(F.col("r5").isNotNull()).groupBy("event_type").agg(
        F.count("r5").cast("long").alias("n5"),
        F.sum("r5").cast("long").alias("s5"),
        F.sum(F.col("r5") * F.col("r5")).cast("long").alias("q5"),
    )
    return (
        s1.join(s5, "event_type")
        .select(
            "event_type", "n1", "n5",
            F.expr("n1 * q1 - s1 * s1").alias("v1_num"),
            F.expr("n5 * q5 - s5 * s5").alias("v5_num"),
            F.expr(
                "CAST(n5 * q5 - s5 * s5 AS DOUBLE) * n1 * n1"
                " / (5.0 * CAST(n1 * q1 - s1 * s1 AS DOUBLE) * n5 * n5)"
            ).alias("vr5"),
        )
        .orderBy("event_type")
    )


@register(
    "f57_cox_stuart_trend",
    oracle="""
    WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS d,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), numbered AS (
        SELECT event_type, x,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
                    AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM daily
    ), paired AS (
        -- pair t with t + floor(n/2): first half vs second half, the
        -- middle element dropped when n is odd
        SELECT a.event_type,
               CASE WHEN b.x > a.x THEN 1 ELSE 0 END AS plus,
               CASE WHEN b.x < a.x THEN 1 ELSE 0 END AS minus
        FROM numbered a
        JOIN numbered b ON b.event_type = a.event_type
                       AND b.rn = a.rn + a.n // 2
        WHERE a.rn <= a.n // 2
    )
    SELECT event_type,
           CAST(SUM(plus) AS BIGINT) AS n_plus,
           CAST(SUM(minus) AS BIGINT) AS n_minus,
           CAST(SUM(plus + minus) AS BIGINT) AS n_pairs,
           -- sign-test z with identical IEEE spelling in both engines
           CASE WHEN SUM(plus + minus) > 0
                THEN (CAST(2 * SUM(plus) - SUM(plus + minus) AS DOUBLE))
                     / SQRT(CAST(SUM(plus + minus) AS DOUBLE))
                ELSE NULL END AS z_stat
    FROM paired GROUP BY event_type ORDER BY event_type
    """,
    survey="F57,E47,F2",
)
def f57_cox_stuart_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox-Stuart trend test per event type — the sign test applied to
    (x_t, x_{t+n/2}) pairs: a monotone trend makes the second half
    systematically exceed the first.  The assumption-free quick check
    beside e47's Mann-Kendall (which uses ALL O(n²) pairs; Cox-Stuart
    uses n/2 independent pairs, trading power for a clean binomial
    null and O(n) cost).

    Exactness: daily cents are integers; pairing is one self-join on
    rn + n//2 (ties drop, the standard rule); the z statistic
    (2·n⁺ − m)/√m is the same IEEE expression from identical integers
    in both engines.

    Scale shape: daily pre-agg → per-type row numbering → one
    calendar-bounded equi self-join — no full-series state anywhere."""
    e = Tables(spark, sf_dir).events
    daily = e.groupBy(
        "event_type", F.expr("unix_micros(ts) DIV 86400000000").alias("d")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    w = Window.partitionBy("event_type").orderBy("d")
    numbered = daily.select(
        "event_type", "x",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).cast("long").alias("n"),
    )
    a = numbered.select(
        "event_type", F.col("x").alias("xa"), "rn", "n"
    ).where(F.col("rn") <= F.expr("n DIV 2"))
    b = numbered.select(
        F.col("event_type").alias("eb"), F.col("x").alias("xb"),
        F.col("rn").alias("rnb"),
    )
    paired = a.join(
        b,
        (F.col("eb") == F.col("event_type"))
        & (F.col("rnb") == F.col("rn") + F.expr("n DIV 2")),
    )
    return (
        paired.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("xb") > F.col("xa"), 1).otherwise(0))
            .cast("long")
            .alias("n_plus"),
            F.sum(F.when(F.col("xb") < F.col("xa"), 1).otherwise(0))
            .cast("long")
            .alias("n_minus"),
        )
        .select(
            "event_type", "n_plus", "n_minus",
            (F.col("n_plus") + F.col("n_minus")).alias("n_pairs"),
            F.expr(
                "CASE WHEN n_plus + n_minus > 0"
                " THEN CAST(2 * n_plus - (n_plus + n_minus) AS DOUBLE)"
                " / SQRT(CAST(n_plus + n_minus AS DOUBLE))"
                " ELSE NULL END"
            ).alias("z_stat"),
        )
        .orderBy("event_type")
    )


@register(
    "f58_kpss_level",
    oracle="""
    WITH daily AS (
        -- daily MEAN cents (truncating): magnitudes independent of
        -- per-day event volume, the overflow-proof lattice (an n-scaled
        -- daily-SUM variant left int64 at sf0.1 already — 1000·ΣS² needs
        -- the 2800x headroom means provide)
        SELECT event_type, epoch_us(ts) // 86400000000 AS d,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                    // COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), numbered AS (
        SELECT event_type, d, x,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
               CAST(SUM(x) OVER (PARTITION BY event_type)
                    // COUNT(*) OVER (PARTITION BY event_type)
                    AS BIGINT) AS mu
        FROM daily
    ), partials AS (
        -- truncating-mean-centered partial sums: residual drift < n per
        -- step, a DEFINED contract shared by both engines
        SELECT event_type, n,
               CAST(SUM(x - mu) OVER (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS snum,
               (x - mu) AS dev
        FROM numbered
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
           CAST(SUM(snum * snum) AS BIGINT) AS sum_s2,
           CAST(SUM(dev * dev) AS BIGINT) AS sum_dev2,
           -- eta = sum(S_t^2) / (n^2 sigma^2) with sigma^2 = sum(dev^2)/n
           -- => eta_milli = 1000 * sum(S^2) DIV (n * sum(dev^2)), exact
           CASE WHEN SUM(dev * dev) > 0
                THEN CAST(1000 * SUM(snum * snum)
                          // (MAX(n) * SUM(dev * dev)) AS BIGINT)
                ELSE NULL END AS kpss_milli
    FROM partials GROUP BY event_type ORDER BY event_type
    """,
    survey="F58,F47,F3",
)
def f58_kpss_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity statistic per event type (Kwiatkowski-
    Phillips-Schmidt-Shin, lag-0 short-run variance): η = Σ S_t² /
    (n²·σ̂²) over demeaned partial sums — the null-reversed complement
    of the unit-root family (KPSS's NULL is stationarity, so it pairs
    with drift detectors f47/f42 as the 'has the level actually moved'
    certificate) and the natural closing member of the
    partial-sum tier (f29 CUSUM accumulates, KPSS squares and
    normalizes the same walk).

    Exactness + budget (the e119/e118 lesson applied BEFORE shipping:
    a daily-SUM n-scaled lattice already left int64 at sf0.1): the
    series is the daily MEAN cents (truncating — volume-independent
    magnitudes, ≤ max value·100 forever), centering subtracts the
    truncating integer mean (residual drift < n per step, a defined
    contract), and η_milli = 1000·ΣS_t² DIV (n·Σdev²) is exact BIGINT
    with |S_t| ≤ n·max|dev| ≈ 30·5.6e4 ⇒ 1000·ΣS² ≈ 1e17, 90×
    headroom at any corpus volume.

    Scale shape: daily pre-agg (volume term) → calendar-bounded
    per-type windows → one agg; no recursion, no pandas."""
    e = Tables(spark, sf_dir).events
    daily = e.groupBy(
        "event_type", F.expr("unix_micros(ts) DIV 86400000000").alias("d")
    ).agg(
        F.expr(
            "SUM(CAST(ROUND(value * 100) AS BIGINT)) DIV COUNT(*)"
        ).alias("x")
    )
    wp = Window.partitionBy("event_type")
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    numbered = daily.select(
        "event_type", "d", "x",
        F.count("*").over(wp).cast("long").alias("n"),
        F.expr(
            "SUM(x) OVER (PARTITION BY event_type)"
            " DIV COUNT(*) OVER (PARTITION BY event_type)"
        ).alias("mu"),
    )
    partials = numbered.select(
        "event_type", "n",
        F.sum(F.col("x") - F.col("mu")).over(wcum).alias("snum"),
        (F.col("x") - F.col("mu")).alias("dev"),
    )
    return (
        partials.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_days"),
            F.sum(F.col("snum") * F.col("snum")).cast("long").alias("sum_s2"),
            F.sum(F.col("dev") * F.col("dev")).cast("long").alias("sum_dev2"),
        )
        .select(
            "event_type", "n_days", "sum_s2", "sum_dev2",
            F.expr(
                "CASE WHEN sum_dev2 > 0"
                " THEN CAST(1000 * sum_s2 DIV (n_days * sum_dev2)"
                " AS BIGINT) ELSE NULL END"
            ).alias("kpss_milli"),
        )
        .orderBy("event_type")
    )


@register(
    "j132_temperature_sampling",
    oracle=f"""
    WITH toks AS (
        SELECT source,
               CAST(SUM(len(string_split(trim(regexp_replace(lower(text),
                        '\\s+', ' ', 'g')), ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1
    ), r AS (
        -- r_s = isqrt(n_s * 1e6) = 1000*sqrt(n_s) exactly: tau = 1/2
        -- temperature weights on the exact integer-sqrt lattice
        SELECT source, n_tokens,
               {{ISQRT}} AS r_s
        FROM toks
    ), tot AS (
        SELECT CAST(SUM(r_s) AS BIGINT) AS r_tot,
               CAST(SUM(n_tokens) AS BIGINT) AS t_tot
        FROM r
    )
    SELECT source, n_tokens, r_s,
           CAST(1000000 * r_s // r_tot AS BIGINT) AS w_ppm,
           -- effective epochs over one full-corpus pass at the weighted
           -- mixture: epochs = w_s * T_total / n_s (milli)
           CAST(1000 * r_s * (t_tot // 1000) // GREATEST(r_tot // 1000, 1)
                // n_tokens AS BIGINT) AS epochs_milli
    FROM r CROSS JOIN tot ORDER BY source
    """.replace("{ISQRT}", _f15_isqrt_sql("(n_tokens * 1000000)")),
    survey="J132,J43,J8",
)
def j132_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling weights at τ = 1/2 — the
    standard multilingual/multi-source LM recipe (sample source s with
    probability ∝ n_s^τ, τ < 1 upweighting low-resource sources; mC4,
    PaLM and XLM-R all train on exactly this family): per-source token
    counts → w_s ∝ √n_s → parts-per-million weights plus the quantity
    an engineer actually budgets with, the EFFECTIVE EPOCH count
    (w_s·T/n_s — how many times the weighted mixture passes over each
    source per corpus-sized batch; small sources repeat, the known
    overfitting dial).  Complements j43 (who samples) and j122 (token
    budgets) with the WEIGHTING law itself.

    Exactness: τ = 1/2 makes the power an integer sqrt —
    r_s = isqrt(n_s·10⁶) = 1000·√n_s EXACTLY via the shared adjusted
    FLOOR∘SQRT template — so weights are pure integer ratios; the
    epoch division ladder pre-shrinks T and R by 1000 each (documented
    truncation, keeps r_s·T inside int64 for corpora to ~10¹³ tokens).

    Scale shape: one tokenize scan (the volume term) → per-source agg
    (≤ sources rows) → two 1-row folds; the weighting is free at any
    corpus size."""
    from cassandra_snap_to_hadoop_spark.operators.text import tokens

    d = Tables(spark, sf_dir).documents
    toks = d.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("n_tokens")
    )
    r = toks.select(
        "source", "n_tokens",
        F.expr(_isqrt_spark("(n_tokens * 1000000)")).alias("r_s"),
    )
    tot = r.agg(
        F.sum("r_s").cast("long").alias("r_tot"),
        F.sum("n_tokens").cast("long").alias("t_tot"),
    )
    return (
        r.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_tokens", "r_s",
            F.expr("CAST(1000000 * r_s DIV r_tot AS BIGINT)").alias("w_ppm"),
            F.expr(
                "CAST(1000 * r_s * (t_tot DIV 1000) DIV GREATEST(r_tot DIV 1000, 1)"
                " DIV n_tokens AS BIGINT)"
            ).alias("epochs_milli"),
        )
        .orderBy("source")
    )


# NetworkTopologyStrategy fixture ring: 12 vnode positions on a 1200-token
# ring (position p owns tokens [100*p, 100*(p+1))); node placement is
# deliberately NOT rack-alternating so the rack-aware walk must actually
# SKIP same-rack neighbours (positions 0-1 share rack 0 via nodes 0 and 3).
_B22_RING = (
    # (position, node); rack = node % 3
    (0, 0), (1, 3), (2, 1), (3, 4), (4, 2), (5, 5),
    (6, 0), (7, 1), (8, 3), (9, 2), (10, 4), (11, 5),
)
_B22_RING_SQL = ", ".join(f"({p}, {n}, {n % 3})" for p, n in _B22_RING)


@register(
    "b22_rack_aware_placement",
    oracle=f"""
    WITH ring(pos, node, rack) AS (VALUES {_B22_RING_SQL}),
    keyed AS (
        -- Row identity for the per-rack rank below (ADVICE r10 item 3):
        -- the synthetic lineitem has NO unique physical row id —
        -- (l_orderkey, l_linenumber) itself collides — so the window
        -- partitions on the FINEST available composite
        -- (l_orderkey, l_linenumber, cents); rows identical in all
        -- three are intentionally counted once (documented
        -- distinct-row semantics, exact at every shipped SF where the
        -- composite is row-unique — asserted by the 3x-total law in
        -- tests/test_round10.py).
        SELECT l_orderkey, l_linenumber,
               l_orderkey % 1200 AS token,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    ), walk AS (
        -- clockwise walk from each key's segment: distance in ring
        -- positions, wrapping modulo 12
        SELECT k.l_orderkey, k.l_linenumber, k.token, k.cents,
               r.node, r.rack,
               (r.pos - (k.token // 100) + 12) % 12 AS dist
        FROM keyed k CROSS JOIN ring r
    ), first_per_rack AS (
        -- NetworkTopologyStrategy, RF = 3 = #racks: the replica set is
        -- the FIRST node of each rack in walk order, per distinct row
        SELECT token, cents, node, rack, dist,
               ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey, l_linenumber, cents, rack
                   ORDER BY dist) AS rk
        FROM walk
    )
    SELECT node, CAST(node % 3 AS BIGINT) AS rack,
           CAST(COUNT(*) AS BIGINT) AS n_replica_rows,
           CAST(SUM(cents) AS BIGINT) AS bytes_proxy_cents,
           CAST(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_primary_rows
    FROM first_per_rack WHERE rk = 1
    GROUP BY node ORDER BY node
    """,
    survey="B22,B1,B13",
)
def b22_rack_aware_placement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rack-aware replica placement (NetworkTopologyStrategy, single DC,
    RF = 3 over 3 racks) — the placement rule b1/b13/b21's
    SimpleStrategy tier cannot state: replicas are NOT the next RF
    nodes clockwise but the first node of EACH RACK encountered
    clockwise, so two adjacent same-rack vnodes never hold the same
    partition (the rack-failure-domain guarantee `nodetool status`
    reports as effective ownership).  The 12-vnode fixture ring
    deliberately places same-rack nodes adjacently (positions 0-1 are
    both rack 0), so the walk MUST skip — a ring where racks alternate
    would make the naive next-RF rule accidentally correct and prove
    nothing (the j125 discrimination rule).

    With RF = #racks the greedy rack-aware walk reduces EXACTLY to
    'first node per rack in walk order' — a rank-1-per-rack window over
    the key×ring cross, no recursion (the general RF < #racks walk
    would need the b17-class lockstep; documented boundary).  Output:
    per-node replicated row count, bytes proxy, and primary-range rows
    (dist = 0), the balance sheet a capacity planner reads.

    Scale shape: the ring is a 12-row VALUES literal — the key×ring
    cross is a broadcast of 12 rows (Σ 12·|keys|, then rank-filtered),
    and every aggregate distributes on the token; placement never
    needs driver state.  Law pinned in tests: every token gets exactly
    3 replicas on 3 distinct racks."""
    li = Tables(spark, sf_dir).lineitem
    # Per-rack rank on the FINEST available row identity
    # (l_orderkey, l_linenumber, cents) — the synthetic lineitem has no
    # unique physical row id, so rows identical in all three count once
    # (documented distinct-row semantics; exact per-row at every
    # shipped SF, asserted by the 3x-total law in tests/test_round10)
    # — ADVICE r10 item 3.
    keyed = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_orderkey") % 1200).alias("token"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    # r11 (guide §2.3 "shuffle keys, not payloads"): the rack-aware walk
    # is a pure function of ``token DIV 100`` (12 values) — the old
    # key×ring cross fed a 12·n-row sort window keyed by the full row
    # identity just to pick each rack's min-dist ring row.  Enumerating
    # the walk per (tok100, rack) driver-side (36 integer rows, same
    # min-dist rule, dists are distinct within a rack so no tie exists)
    # and broadcast-joining it onto the DISTINCT row identities (the
    # window's partition key collapsed duplicates; distinct() is the
    # same collapse) keeps every output value identical while the one
    # data-sized exchange carries n distinct skinny rows instead of a
    # 12·n-row window sort.
    place = spark.createDataFrame(
        [
            (t, node, rack, dist)
            for t in range(12)
            for rack in (0, 1, 2)
            for dist, node in [
                min(
                    ((p - t + 12) % 12, n)
                    for p, n in _B22_RING
                    if n % 3 == rack
                )
            ]
        ],
        "tok100 int, node int, rack int, dist int",
    )
    fpr = keyed.distinct().join(
        F.broadcast(place),
        (F.col("token") / 100).cast("int") == F.col("tok100"),
    )
    return (
        fpr.groupBy("node")
        .agg(
            F.count("*").cast("long").alias("n_replica_rows"),
            F.sum("cents").cast("long").alias("bytes_proxy_cents"),
            F.sum(F.when(F.col("dist") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_primary_rows"),
        )
        .select(
            "node",
            (F.col("node") % 3).cast("long").alias("rack"),
            "n_replica_rows", "bytes_proxy_cents", "n_primary_rows",
        )
        .orderBy("node")
    )


@register(
    "sql_api_identifier",
    oracle="""
    SELECT o_orderpriority AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    survey="SQL-7,SQL-3,E2",
)
def sql_api_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() clause (§3.3 API depth, SQL-7): the query text
    parameterizes TABLE AND COLUMN NAMES — not just values (SQL-3's
    named parameters) — through the identifier-safe constructor, the
    injection-proof front door for templated analytics over dynamic
    schemas ('group this table by that column') that string-formatted
    SQL does with quoting bugs.  Binding happens at parse time, so
    Catalyst sees ordinary references: same pushed filters, same plan
    as the inlined query; a value that is not a valid identifier is a
    parse error, never an injection.

    The oracle states the same query with the identifiers inlined."""
    from cassandra_snap_to_hadoop_spark.io import load

    load(spark, sf_dir, "orders").createOrReplaceTempView("cs2h_orders_ident")
    return spark.sql(
        """
        SELECT IDENTIFIER(:grp_col) AS grp,
               COUNT(*) AS n,
               SUM(CAST(ROUND(IDENTIFIER(:val_col) * 100) AS BIGINT))
                   AS total_cents
        FROM IDENTIFIER(:tbl)
        GROUP BY 1 ORDER BY 1
        """,
        args={
            "grp_col": "o_orderpriority",
            "val_col": "o_totalprice",
            "tbl": "cs2h_orders_ident",
        },
    )


@register(
    "e125_cliffs_delta",
    oracle="""
    WITH hx AS (
        SELECT CAST(l_quantity AS BIGINT) + l_partkey % 7 AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
    ), hy AS (
        SELECT CAST(l_quantity AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1
    ), cross_counts AS (
        SELECT CAST(SUM(CASE WHEN hx.v > hy.v THEN hx.c * hy.c ELSE 0 END)
                    AS BIGINT) AS gt,
               CAST(SUM(CASE WHEN hx.v < hy.v THEN hx.c * hy.c ELSE 0 END)
                    AS BIGINT) AS lt,
               CAST(SUM(CASE WHEN hx.v = hy.v THEN hx.c * hy.c ELSE 0 END)
                    AS BIGINT) AS eq
        FROM hx CROSS JOIN hy
    )
    SELECT gt, lt, eq, (gt + lt + eq) AS n_pairs,
           CAST(1000 * (gt - lt) // (gt + lt + eq) AS BIGINT) AS delta_milli
    FROM cross_counts
    """,
    survey="E125,E45,E100",
)
def e125_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between the shifted-'R' and 'A' quantity samples —
    the ORDINAL effect size the parametric tier (e100's Cohen's d)
    mis-states for non-normal data: δ = P(x>y) − P(x<y), the
    probability-of-superiority difference, invariant to any monotone
    transform and the standard companion to a Mann-Whitney rejection
    ("significant, but how big?"; |δ| < .147 negligible / .33 small /
    .474 medium per Romano's thresholds).  Same injected +0..6 shift as
    e123, so the known truth is a positive medium-size δ — the pinned
    discrimination.

    Exactness: the ≤57×50 histogram cross counts gt/lt/eq pairs as
    exact BIGINTs (never materializing n_x·n_y rows) and
    δ_milli = 1000·(gt − lt) DIV n_pairs is pure integer.

    Scale shape: e123's — two histogram aggs on the value lattice, a
    broadcast cross, one fold; pair term is domain², never n²."""
    li = Tables(spark, sf_dir).lineitem
    # r11 (guide §2.4): each ≤50-row histogram feeds the pairwise cross
    # AND its sample-size fold — cut both so lineitem scans twice, not 4×.
    hx = (
        li.where(F.col("l_returnflag") == "R")
        .groupBy(
            (F.col("l_quantity").cast("long") + F.col("l_partkey") % 7).alias("v")
        )
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    hy = (
        li.where(F.col("l_returnflag") == "A")
        .groupBy(F.col("l_quantity").cast("long").alias("v"))
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    cx = hx.select(F.col("v").alias("vx"), F.col("c").alias("cx")).crossJoin(
        F.broadcast(hy.select(F.col("v").alias("vy"), F.col("c").alias("cy")))
    )
    return cx.agg(
        F.sum(F.when(F.col("vx") > F.col("vy"), F.col("cx") * F.col("cy")).otherwise(0))
        .cast("long")
        .alias("gt"),
        F.sum(F.when(F.col("vx") < F.col("vy"), F.col("cx") * F.col("cy")).otherwise(0))
        .cast("long")
        .alias("lt"),
        F.sum(F.when(F.col("vx") == F.col("vy"), F.col("cx") * F.col("cy")).otherwise(0))
        .cast("long")
        .alias("eq"),
    ).select(
        "gt", "lt", "eq",
        (F.col("gt") + F.col("lt") + F.col("eq")).alias("n_pairs"),
        F.expr("CAST(1000 * (gt - lt) DIV (gt + lt + eq) AS BIGINT)").alias(
            "delta_milli"
        ),
    )


# f59's per-window detrended RSS on the dollar-profile lattice:
# RSS = (N1*D - N2^2) / (w*D) with N1 = w*Syy - Sy^2, N2 = w*Sky - Sk*Sy,
# D = w*Skk - Sk^2 (the pure-k moment, constant per w).  ln(3)^-1 ladder
# shared with f54.
_F59_LN9 = "CAST('2.1972245773362196' AS DOUBLE)"  # ln(9) = 2*ln(3)


@register(
    "f59_dfa_alpha",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                    // COUNT(*) // 100 AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), numbered AS (
        SELECT event_type, x,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn,
               CAST(SUM(x) OVER (PARTITION BY event_type)
                    // COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS mu
        FROM daily
    ), profile AS (
        -- DFA step 1: the integrated mean-centered profile
        SELECT event_type, rn,
               CAST(SUM(x - mu) OVER (PARTITION BY event_type ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS y
        FROM numbered
    ), winsz AS (SELECT unnest([8, 24]) AS w), cells AS (
        SELECT p.event_type, ws.w, (p.rn - 1) // ws.w AS wid,
               ((p.rn - 1) % ws.w) + 1 AS k, p.y
        FROM profile p CROSS JOIN winsz ws
    ), complete AS (
        SELECT event_type, w, wid FROM cells
        GROUP BY 1, 2, 3 HAVING COUNT(*) = w
    ), wstats AS (
        SELECT c.event_type, c.w, c.wid,
               CAST(SUM(c.y) AS BIGINT) AS sy,
               CAST(SUM(c.y * c.y) AS BIGINT) AS syy,
               CAST(SUM(c.k * c.y) AS BIGINT) AS sky,
               CAST(SUM(c.k) AS BIGINT) AS sk,
               CAST(SUM(c.k * c.k) AS BIGINT) AS skk
        FROM cells c JOIN complete USING (event_type, w, wid)
        GROUP BY 1, 2, 3
    ), rss AS (
        -- micro-scaled per-window detrended RSS (exact integer ladder)
        SELECT event_type, w,
               CAST(1000000 * ((w * syy - sy * sy) * (w * skk - sk * sk)
                               - (w * sky - sk * sy) * (w * sky - sk * sy))
                    // (w * (w * skk - sk * sk)) AS BIGINT) AS rss_micro
        FROM wstats
    ), agg AS (
        SELECT event_type, w,
               CAST(SUM(rss_micro) // COUNT(*) AS BIGINT) AS f2,
               CAST(COUNT(*) AS BIGINT) AS n_windows
        FROM rss GROUP BY 1, 2
    ), wide AS (
        SELECT a8.event_type, a8.f2 AS f2_w8, a8.n_windows AS n_w8,
               a24.f2 AS f2_w24, a24.n_windows AS n_w24
        FROM (SELECT * FROM agg WHERE w = 8) a8
        JOIN (SELECT * FROM agg WHERE w = 24) a24 USING (event_type)
    )
    SELECT event_type, n_w8, f2_w8, n_w24, f2_w24,
           CASE WHEN f2_w8 > 0 AND f2_w24 > 0
                THEN CAST(ROUND(1000 * LN(CAST(f2_w24 AS DOUBLE) / f2_w8)
                          / {_F59_LN9}) AS BIGINT)
                ELSE NULL END AS dfa_alpha_milli
    FROM wide ORDER BY event_type
    """,
    survey="F59,F54,E41",
)
def f59_dfa_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended fluctuation analysis (Peng et al. 1994) per event type
    — f54's Hurst R/S with the detrending step that makes the exponent
    robust to NON-STATIONARY trends (the reason DFA displaced R/S in
    physiology and network telemetry): integrate the mean-centered
    daily series into a profile, split into windows of w ∈ {{8, 24}},
    LINEARLY DETREND each window (per-window OLS — e41's sufficient-
    statistic normal equations), and read the scaling exponent α from
    F²(24)/F²(8) on the ln(3) ladder (24/8 = 3, the f54 rule;
    α ≈ 0.5 uncorrelated, > 0.5 persistent, ≈ 1.5 Brownian).

    Exactness: the profile rides a DOLLAR lattice (daily mean cents
    DIV 100 — the f58-class budget decision: cent profiles push
    N2² ≈ (w·Sky)² past int64, dollars give 150× headroom), and the
    per-window residual sum of squares is the exact integer ladder
    RSS·(w·D) = (w·Syy − Sy²)·D − (w·Sky − Sk·Sy)² with
    D = w·Skk − Sk² the pure-k moment — micro-scaled by ONE division.
    Only the final α takes a ln, as the same IEEE expression from
    identical integers (the f54 ladder verbatim, ln(9) a shared string
    literal per the e84 decimal rule).

    Scale shape: f54's — daily pre-agg (the volume term) →
    calendar-bounded per-(type, w, window) cells → hash aggs; windows =
    types × days ÷ w, flat in corpus volume (f54's series-count axis)."""
    e = Tables(spark, sf_dir).events
    daily = e.groupBy(
        "event_type", F.expr("unix_micros(ts) DIV 86400000000").alias("day")
    ).agg(
        F.expr(
            "SUM(CAST(ROUND(value * 100) AS BIGINT)) DIV COUNT(*) DIV 100"
        ).alias("x")
    )
    wp = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("day")
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    numbered = daily.select(
        "event_type", "x",
        F.row_number().over(wo).alias("rn"),
        F.expr(
            "SUM(x) OVER (PARTITION BY event_type)"
            " DIV COUNT(*) OVER (PARTITION BY event_type)"
        ).alias("mu"),
    )
    profile = numbered.select(
        "event_type", "rn",
        F.sum(F.col("x") - F.col("mu"))
        .over(
            Window.partitionBy("event_type")
            .orderBy("rn")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("y"),
    )
    winsz = spark.range(2).select(
        F.when(F.col("id") == 0, 8).otherwise(24).cast("long").alias("w")
    )
    cells = profile.crossJoin(F.broadcast(winsz)).select(
        "event_type", "w",
        F.expr("(rn - 1) DIV w").alias("wid"),
        F.expr("((rn - 1) % w) + 1").alias("k"),
        "y",
    )
    # r11 (guide §2.4): the oracle's ``complete`` CTE (groups HAVING
    # COUNT(*) = w) joined back onto cells only to drop incomplete tail
    # windows — filtering whole groups, never rows, so the identical
    # moments fall out of ONE aggregation with the count kept as a
    # HAVING-style post-filter (plan: the cells subtree + the self-join's
    # two exchanges disappear).
    wstats = (
        cells.groupBy("event_type", "w", "wid")
        .agg(
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
            F.sum(F.col("k") * F.col("y")).cast("long").alias("sky"),
            F.sum("k").cast("long").alias("sk"),
            F.sum(F.col("k") * F.col("k")).cast("long").alias("skk"),
            F.count("*").alias("cnt"),
        )
        .where(F.col("cnt") == F.col("w"))
        .drop("cnt")
    )
    rss = wstats.select(
        "event_type", "w",
        F.expr(
            "CAST(1000000 * ((w * syy - sy * sy) * (w * skk - sk * sk)"
            " - (w * sky - sk * sy) * (w * sky - sk * sy))"
            " DIV (w * (w * skk - sk * sk)) AS BIGINT)"
        ).alias("rss_micro"),
    )
    agg = rss.groupBy("event_type", "w").agg(
        F.expr("CAST(SUM(rss_micro) DIV COUNT(*) AS BIGINT)").alias("f2"),
        F.count("*").cast("long").alias("n_windows"),
    )
    # r11 (guide §2.4): the w=8 / w=24 legs used to split ``agg`` and
    # inner-join the halves back on event_type — re-deriving the whole
    # events subtree per leg.  One conditional pivot over the tiny agg
    # relation is identical (the IS NOT NULL filter reproduces the inner
    # join: a type missing either leg is dropped).
    wide = (
        agg.groupBy("event_type")
        .agg(
            F.max(F.when(F.col("w") == 8, F.col("f2"))).alias("f2_w8"),
            F.max(F.when(F.col("w") == 8, F.col("n_windows"))).alias("n_w8"),
            F.max(F.when(F.col("w") == 24, F.col("f2"))).alias("f2_w24"),
            F.max(F.when(F.col("w") == 24, F.col("n_windows"))).alias("n_w24"),
        )
        .where(F.col("n_w8").isNotNull() & F.col("n_w24").isNotNull())
    )
    return (
        wide
        .select(
            "event_type", "n_w8", "f2_w8", "n_w24", "f2_w24",
            F.expr(
                "CASE WHEN f2_w8 > 0 AND f2_w24 > 0"
                " THEN CAST(ROUND(1000 * LN(CAST(f2_w24 AS DOUBLE) / f2_w8)"
                f" / {_F59_LN9}) AS BIGINT)"
                " ELSE NULL END"
            ).alias("dfa_alpha_milli"),
        )
        .orderBy("event_type")
    )


@register(
    "b23_vnode_ownership",
    oracle="""
    WITH cfg(n_vnodes) AS (VALUES (1), (16)),
    vnodes AS (
        -- 6 nodes x V vnodes; token = md5-derived 60-bit position, the
        -- b13/j64 md5 lattice (deterministic, both engines identical)
        SELECT cfg.n_vnodes, n.n AS node, v.v AS vnode,
               CAST(CAST(('0x' || substr(md5('vn-' || n.n || '-' || v.v),
                                         1, 15)) AS UBIGINT) AS BIGINT)
                   AS token
        FROM cfg,
             (SELECT unnest(range(0, 6)) AS n) n,
             (SELECT unnest(range(0, 16)) AS v) v
        WHERE v.v < cfg.n_vnodes
    ), gaps AS (
        -- ownership of a vnode = clockwise gap from its PREDECESSOR on
        -- the 2^60 ring (wraparound handled by adding the ring size to
        -- the first token's gap)
        SELECT n_vnodes, node, token,
               token - COALESCE(LAG(token) OVER (PARTITION BY n_vnodes
                                                 ORDER BY token),
                                MAX(token) OVER (PARTITION BY n_vnodes)
                                - (CAST(1 AS BIGINT) << 60))
                   AS owned
        FROM vnodes
    ), per_node AS (
        SELECT n_vnodes, node,
               CAST(SUM(owned) AS BIGINT) AS owned_tokens,
               CAST(COUNT(*) AS BIGINT) AS vnode_count
        FROM gaps GROUP BY 1, 2
    )
    SELECT n_vnodes, node, vnode_count,
           -- divide-first ppm: 1e6*owned overflows int64 (owned can be
           -- ~2^60); ppm = owned DIV (2^60 DIV 1e6), defined identically
           -- in both engines
           CAST(owned_tokens // ((CAST(1 AS BIGINT) << 60) // 1000000)
                AS BIGINT) AS owned_ppm
    FROM per_node ORDER BY n_vnodes, node
    """,
    survey="B23,B13,B21",
)
def b23_vnode_ownership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vnode ownership variance — WHY Cassandra defaults to virtual
    nodes: with one token per node, random placement gives wildly
    unequal ring shares (the max/min ownership ratio can be several×);
    with V vnodes per node each node's share is a SUM of V independent
    gaps, and the relative spread shrinks ~1/√V — `nodetool status`'s
    'Owns %' column, computed from first principles.  Both configs
    (V = 1 and V = 16 — 16 is Cassandra 4.0's num_tokens default) for
    the same 6 nodes on one md5-derived 60-bit ring, so the
    variance-reduction law is visible in one relation (and pinned in
    tests: ppm spread at V=16 strictly below V=1; the law is
    statistical, and V=4 on THIS draw actually violates it — which is
    exactly why the default moved to 16, not 4).

    Exactness: tokens are the b13/j64 md5 60-bit lattice (identical
    text → identical token in both engines); ownership is the clockwise
    gap to the predecessor with the wraparound gap assigned to the
    first token; ppm by integer division of 2^60.  Zero floats.

    Scale shape: the ring is 6–96 rows — everything is KB; the
    operator exists for its LAW, not its volume (the placement itself
    applied to data is b1/b21/b22's job)."""
    cfg = spark.range(2).select(
        F.when(F.col("id") == 0, 1).otherwise(16).cast("int").alias("n_vnodes")
    )
    nodes = spark.range(6).select(F.col("id").cast("int").alias("node"))
    vn = spark.range(16).select(F.col("id").cast("int").alias("vnode"))
    vnodes = (
        cfg.crossJoin(nodes)
        .crossJoin(vn)
        .where(F.col("vnode") < F.col("n_vnodes"))
        .select(
            "n_vnodes", "node", "vnode",
            F.expr(
                "CAST(CONV(substr(md5(CONCAT('vn-', node, '-', vnode)), 1, 15),"
                " 16, 10) AS BIGINT)"
            ).alias("token"),
        )
    )
    wr = Window.partitionBy("n_vnodes").orderBy("token")
    wall = Window.partitionBy("n_vnodes")
    gaps = vnodes.select(
        "n_vnodes", "node", "token",
        (
            F.col("token")
            - F.coalesce(
                F.lag("token").over(wr),
                F.max("token").over(wall) - F.expr("CAST(1 AS BIGINT) << 60"),
            )
        ).alias("owned"),
    )
    return (
        gaps.groupBy("n_vnodes", "node")
        .agg(
            F.sum("owned").cast("long").alias("owned_tokens"),
            F.count("*").cast("long").alias("vnode_count"),
        )
        .select(
            "n_vnodes", "node", "vnode_count",
            F.expr(
                "CAST(owned_tokens DIV ((CAST(1 AS BIGINT) << 60)"
                " DIV 1000000) AS BIGINT)"
            ).alias("owned_ppm"),
        )
        .orderBy("n_vnodes", "node")
    )


# a43's fixture is SF-INDEPENDENT (deterministic synthetic content at a
# fixed scratch path) because the oracle's parquet_metadata() needs a
# literal file path — the registry oracle string carries no sf_dir
# substitution by design.
_A43_FIXTURE = str(
    __import__("pathlib").Path(__file__).resolve().parents[2]
    / ".scratch"
    / "a43_rowgroup_fixture.parquet"
)


def _stage_a43_fixture() -> str:
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(_A43_FIXTURE):
        return _A43_FIXTURE
    os.makedirs(os.path.dirname(_A43_FIXTURE), exist_ok=True)
    n = 60_000
    tbl = pa.table(
        {
            "id": pa.array(range(n), pa.int64()),
            "val": pa.array([(i * 37) % 1000 for i in range(n)], pa.int64()),
            "name": pa.array([f"row-{i % 97}" for i in range(n)], pa.string()),
        }
    )
    tmp = _A43_FIXTURE + ".tmp"
    pq.write_table(tbl, tmp, row_group_size=20_000, compression="snappy")
    os.replace(tmp, _A43_FIXTURE)
    return _A43_FIXTURE


@register(
    "a43_parquet_rowgroup_audit",
    oracle=f"""
    SELECT row_group_id,
           CAST(MAX(row_group_num_rows) AS BIGINT) AS num_rows,
           CAST(COUNT(*) AS BIGINT) AS n_columns,
           CAST(SUM(total_compressed_size) AS BIGINT) AS compressed_bytes,
           CAST(SUM(total_uncompressed_size) AS BIGINT) AS uncompressed_bytes
    FROM parquet_metadata('{_A43_FIXTURE}')
    GROUP BY 1 ORDER BY 1
    """,
    survey="A43,A35,A38",
)
def a43_parquet_rowgroup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet ROW-GROUP audit — the physical numbers behind every Spark
    split decision: row groups are the scan parallelism unit
    (`files.maxPartitionBytes` slices at row-group boundaries), their
    compressed size decides whether a 128 MB partition holds one group
    or forty, and the per-group compression ratio is the dial for
    `parquet.block.size` at write time.  a35/a38 audit LOGICAL layout
    (bloom skipping, partition sizes); this reads the container format
    itself — the compaction planner's other input.

    Both engines read the SAME file bytes through independent parquet
    implementations (pyarrow's C++ metadata reader vs DuckDB's native
    ``parquet_metadata()``), so the hash match certifies the footer
    parse, not a shared code path.  The subject is a deterministic
    synthetic 60k-row/3-row-group fixture at a FIXED scratch path
    (sf-independent) because the oracle needs a literal path — the
    registry carries no sf_dir substitution; engine staging is
    write-to-tmp + atomic rename, idempotent across engines/sessions.

    Scale shape: metadata-only — the footer is KB regardless of data
    size (parquet's design); a real audit fans out one task per file;
    here one fixture file read driver-side exactly like the oracle."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(_stage_a43_fixture()).metadata
    rows = []
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        comp = sum(rg.column(c).total_compressed_size for c in range(rg.num_columns))
        uncomp = sum(
            rg.column(c).total_uncompressed_size for c in range(rg.num_columns)
        )
        rows.append((g, rg.num_rows, rg.num_columns, comp, uncomp))
    return spark.createDataFrame(
        rows,
        "row_group_id long, num_rows long, n_columns long,"
        " compressed_bytes long, uncompressed_bytes long",
    ).orderBy("row_group_id")


from cassandra_snap_to_hadoop_spark.io import fan_out  # noqa: E402
from cassandra_snap_to_hadoop_spark.queries.round4c import (  # noqa: E402
    _MH_BANDS,
    _MH_N,
    _MH_ROWS,
    _NORM,
    _SHINGLES,
    _mh_sql_hash,
)


@register(
    "j133_minhash_error_audit",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS sh FROM toks
    ), mh AS (
        SELECT doc_id,
               {", ".join(f"MIN({_mh_sql_hash(i)}) AS mh_{i}" for i in range(_MH_N))}
        FROM sh GROUP BY 1
    ), bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, concat_ws('|', "
            + ", ".join(f"mh_{b * _MH_ROWS + r}" for r in range(_MH_ROWS))
            + ") AS bkey FROM mh"
            for b in range(_MH_BANDS)
        )}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ), matches AS (
        SELECT c.id_a, c.id_b,
               ({" + ".join(
                   f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END"
                   for i in range(_MH_N)
               )}) AS mh_matches
        FROM cand c JOIN mh a ON a.doc_id = c.id_a
        JOIN mh b ON b.doc_id = c.id_b
    ), sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY 1
    ), inter AS (
        SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
        GROUP BY 1, 2
    ), per_pair AS (
        SELECT m.mh_matches,
               CAST(1000 * COALESCE(i.inter, 0)
                    // (sa.sz + sb.sz - COALESCE(i.inter, 0)) AS BIGINT)
                   AS exact_milli
        FROM matches m
        LEFT JOIN inter i ON i.id_a = m.id_a AND i.id_b = m.id_b
        JOIN sizes sa ON sa.doc_id = m.id_a
        JOIN sizes sb ON sb.doc_id = m.id_b
    )
    SELECT CAST(mh_matches AS BIGINT) AS mh_matches,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(1000 * mh_matches // {_MH_N} AS BIGINT) AS est_milli,
           CAST(SUM(exact_milli) // COUNT(*) AS BIGINT) AS mean_exact_milli
    FROM per_pair GROUP BY mh_matches ORDER BY 1
    """,
    survey="J133,J2,J97",
)
def j133_minhash_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator CALIBRATION audit — the self-evaluation j97's
    S-curve (collision probability vs true Jaccard) leaves out: per
    LSH candidate pair, how does the signature's point estimate
    (matching components / k — an unbiased estimator with variance
    J(1−J)/k) track the EXACT shingle Jaccard?  Grouped by match count,
    the output is the calibration curve E[J | matches] vs matches/16 —
    the measurement that justifies (or indicts) a chosen k before
    anyone trusts signature-only dedup decisions at 100 TB, where exact
    verification of every candidate is the expensive step this
    estimator exists to skip.

    Machinery: the j2-md5 pipeline verbatim (16 md5-derived 60-bit
    permutations, 4×4 banding, bucket-join candidates) plus a
    per-component signature-equality count and the exact-Jaccard
    verification join; per-pair exact_milli is integer (1000·∩ DIV ∪)
    and the per-bucket mean is an integer mean of integers — zero
    floats anywhere.

    Scale shape: j2's — signature agg (one shuffle), banded bucket
    join (never all-pairs), verification join on candidates only; the
    audit adds one 16-term codegen sum per candidate."""
    from cassandra_snap_to_hadoop_spark.operators.dedup import (
        blocked_pairs,
        md5_minhash_bands,
        shingles,
    )

    d = Tables(spark, sf_dir).documents
    # r11 (guide §2.4): the shingle explode fed mh + three ex.distinct()
    # consumers (sizes/ea/eb), and mh/cand each feed two joins — fully
    # lazy that re-derived the tokenize+explode subtree per consumer
    # (26 Exchanges).  Lazy (persist-backed) cuts: ex once, its distinct
    # once, the 17-long signature relation once, the candidate pairs once.
    ex = fan_out(d).select(
        "doc_id", F.explode(shingles(F.col("text"), 3)).alias("sh")
    ).localCheckpoint(eager=False)
    exd = ex.distinct().localCheckpoint(eager=False)

    def h(i: int) -> F.Column:
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh"))), 1, 15), 16, 10
        ).cast("long")

    mh = ex.groupBy("doc_id").agg(
        *[F.min(h(i)).alias(f"mh_{i}") for i in range(_MH_N)]
    ).localCheckpoint(eager=False)
    # r11 (guide §2.4): both self-join sides — cut once.
    bands = md5_minhash_bands(d, n_hashes=_MH_N, rows_per_band=_MH_ROWS).localCheckpoint(
        eager=False
    )
    cand = (
        blocked_pairs(bands, "doc_id", ["band", "bkey"])
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    ma = mh.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(_MH_N)],
    )
    mb = mh.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(_MH_N)],
    )
    match_expr = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(_MH_N)
    )
    matches = (
        cand.join(ma, "id_a").join(mb, "id_b")
        .select("id_a", "id_b", match_expr.alias("mh_matches"))
    )
    sizes = exd.groupBy("doc_id").agg(F.count("*").cast("long").alias("sz"))
    ea = exd.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    eb = exd.select(F.col("doc_id").alias("eb_id"), F.col("sh").alias("sh_b"))
    inter = (
        cand.join(ea, "id_a")
        .join(eb, (F.col("id_b") == F.col("eb_id")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    per_pair = (
        matches.join(inter, ["id_a", "id_b"], "left")
        .join(
            sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"),
            "id_b",
        )
        .select(
            "mh_matches",
            F.expr(
                "CAST(1000 * COALESCE(inter, 0)"
                " DIV (sz_a + sz_b - COALESCE(inter, 0)) AS BIGINT)"
            ).alias("exact_milli"),
        )
    )
    return (
        per_pair.groupBy(F.col("mh_matches").cast("long").alias("mh_matches"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr("CAST(SUM(exact_milli) DIV COUNT(*) AS BIGINT)").alias(
                "mean_exact_milli"
            ),
        )
        .select(
            "mh_matches", "n_pairs",
            F.expr(f"CAST(1000 * mh_matches DIV {_MH_N} AS BIGINT)").alias(
                "est_milli"
            ),
            "mean_exact_milli",
        )
        .orderBy("mh_matches")
    )


from cassandra_snap_to_hadoop_spark.queries.round5 import _PERIODS  # noqa: E402

# ln(5) for the f60 normalization (5 candidate periods), a shared string
# literal per the e84 decimal rule.
_F60_LN_K = "CAST('1.6094379124341003' AS DOUBLE)"

# The pinned Fourier factor table shared with f34 (ADVICE r10 item 4 —
# see queries/round5.py FOURIER_MICRO for the rationale): both queries
# run the SAME exact integer lattice, so f60's entropy fold remains a
# pure function of f34's certified powers.
from cassandra_snap_to_hadoop_spark.queries.round5 import (  # noqa: E402
    FOURIER_MICRO as _F60_FOURIER,
    FOURIER_SQL as _F60_FOURIER_SQL,
)


@register(
    "f60_spectral_entropy",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
    ), spine AS (
        SELECT b.event_type, b.d0 + s.range AS day, s.range AS t
        FROM bounds b CROSS JOIN range(0, 100000) s
        WHERE b.d0 + s.range <= b.d1
    ), filled AS (
        SELECT s.event_type, s.t, COALESCE(d.n, 0) AS n
        FROM spine s LEFT JOIN daily d
          ON d.event_type = s.event_type AND d.day = s.day
    ), fc(period, r, c, s) AS (VALUES {_F60_FOURIER_SQL}),
    terms AS (
        -- exact integer products against the pinned factor table: the
        -- join key t % period selects the one factor row per period
        SELECT f.event_type, fc.period,
               CAST(f.n * fc.c AS BIGINT) AS ct,
               CAST(f.n * fc.s AS BIGINT) AS st
        FROM filled f JOIN fc ON fc.r = f.t % fc.period
    ), sums AS (
        SELECT event_type, period,
               CAST(SUM(ct) // 1000 AS BIGINT) AS c_milli,
               CAST(SUM(st) // 1000 AS BIGINT) AS s_milli
        FROM terms GROUP BY 1, 2
    ), pw AS (
        SELECT event_type, period,
               c_milli * c_milli + s_milli * s_milli AS power,
               CAST(SUM(c_milli * c_milli + s_milli * s_milli)
                    OVER (PARTITION BY event_type) AS BIGINT) AS total
        FROM sums
    ), ent_terms AS (
        -- per-period micro-quantized -p*ln(p) (the e105 per-term rule:
        -- round each term identically in both engines, THEN integer-sum)
        SELECT event_type,
               CASE WHEN power > 0 AND power < total
                    THEN CAST(ROUND(-1000000.0 * (CAST(power AS DOUBLE) / total)
                              * LN(CAST(power AS DOUBLE) / total)) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS e_micro
        FROM pw
    )
    SELECT event_type,
           CAST(SUM(e_micro) AS BIGINT) AS entropy_micro,
           CAST(ROUND(1000.0 * SUM(e_micro) / (1000000.0 * {_F60_LN_K}))
                AS BIGINT) AS flatness_milli
    FROM ent_terms GROUP BY event_type ORDER BY event_type
    """,
    survey="F60,F34,J106",
)
def f60_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral entropy / flatness per event type over f34's candidate-
    period periodogram: H = −Σ p·ln p of the NORMALIZED power
    distribution, scaled by ln(K) into [0, 1] — the one-number
    'how periodic is this series' gauge (flatness → 1 means white-ish
    power spread, → 0 means one period dominates), the spectral sibling
    of j106's token entropy and the summary f34's per-period ranking
    feeds but cannot state itself.

    Exactness: the Fourier factors are PRE-TABULATED micro integers
    (cos/sin of 2πr/p for the 59 (p, r mod p) lattice points, computed
    once driver-side and injected into both engines — ADVICE r10
    item 4: no per-row libm call can 1-ulp-diverge between platforms),
    so each term is the exact integer product n·c, milli-rescaled
    before squaring; the entropy terms take the ONLY float step per
    period — micro-quantized −p·ln p, ROUNDed identically in both
    engines from identical integers (the e105 per-term rule), then
    integer-summed; the final ln(K) normalization is one shared-IEEE
    division with ln(5) a shared string literal (the e84 decimal
    rule).

    Scale shape: f34's — daily pre-agg (the volume term) →
    calendar-bounded spine → 5-period term explode → hash aggs; the
    entropy adds one window sum and a 5-row fold per type."""
    e = Tables(spark, sf_dir).events
    daily = e.groupBy(
        "event_type", F.expr("unix_micros(ts) DIV 86400000000").alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    bounds = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = (
        bounds.select(
            "event_type", "d0", "d1",
            F.explode(F.sequence(F.lit(0), F.col("d1") - F.col("d0"))).alias("t"),
        )
        .select("event_type", (F.col("d0") + F.col("t")).alias("day"), "t")
    )
    filled = spine.join(daily, ["event_type", "day"], "left").select(
        "event_type", "t", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    fourier = spark.createDataFrame(
        list(_F60_FOURIER), "period int, r int, c long, s long"
    )
    terms = (
        filled.crossJoin(
            F.broadcast(
                spark.createDataFrame([(p,) for p in _PERIODS], "period int")
            )
        )
        .withColumn("r", F.col("t") % F.col("period"))
        .join(F.broadcast(fourier), ["period", "r"])
        .select(
            "event_type", "period",
            (F.col("n") * F.col("c")).cast("long").alias("ct"),
            (F.col("n") * F.col("s")).cast("long").alias("st"),
        )
    )
    sums = terms.groupBy("event_type", "period").agg(
        F.expr("CAST(SUM(ct) DIV 1000 AS BIGINT)").alias("c_milli"),
        F.expr("CAST(SUM(st) DIV 1000 AS BIGINT)").alias("s_milli"),
    )
    pw = sums.select(
        "event_type", "period",
        (F.col("c_milli") * F.col("c_milli") + F.col("s_milli") * F.col("s_milli"))
        .alias("power"),
    ).withColumn(
        "total", F.sum("power").over(Window.partitionBy("event_type"))
    )
    ent = pw.select(
        "event_type",
        F.expr(
            "CASE WHEN power > 0 AND power < total"
            " THEN CAST(ROUND(-1000000.0 * (CAST(power AS DOUBLE) / total)"
            " * LN(CAST(power AS DOUBLE) / total)) AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("e_micro"),
    )
    return (
        ent.groupBy("event_type")
        .agg(F.sum("e_micro").cast("long").alias("entropy_micro"))
        .select(
            "event_type", "entropy_micro",
            F.expr(
                "CAST(ROUND(1000.0 * entropy_micro"
                f" / (1000000.0 * {_F60_LN_K})) AS BIGINT)"
            ).alias("flatness_milli"),
        )
        .orderBy("event_type")
    )


@register(
    "f61_sample_entropy",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS d,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                    // COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), numbered AS (
        SELECT event_type, x,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn
        FROM daily
    ), emb AS (
        -- m = 2 embedding with the m+1-th point carried for the A count
        SELECT event_type, rn, x AS x0,
               LEAD(x, 1) OVER (PARTITION BY event_type ORDER BY rn) AS x1,
               LEAD(x, 2) OVER (PARTITION BY event_type ORDER BY rn) AS x2
        FROM numbered
    ), calib AS (
        SELECT n.event_type,
               {_f15_isqrt_sql(
                   "((COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))"
                   " // (COUNT(*) * GREATEST(COUNT(*) - 1, 1)))"
               )} // 2 AS r
        FROM numbered n GROUP BY 1
    ), pairs AS (
        SELECT a.event_type,
               CASE WHEN GREATEST(ABS(a.x0 - b.x0), ABS(a.x1 - b.x1)) <= c.r
                    THEN 1 ELSE 0 END AS m2,
               CASE WHEN GREATEST(ABS(a.x0 - b.x0), ABS(a.x1 - b.x1),
                                  ABS(a.x2 - b.x2)) <= c.r
                    THEN 1 ELSE 0 END AS m3
        FROM emb a
        JOIN emb b ON b.event_type = a.event_type AND b.rn > a.rn
        JOIN calib c ON c.event_type = a.event_type
        WHERE a.x2 IS NOT NULL AND b.x2 IS NOT NULL
    )
    SELECT event_type,
           CAST(SUM(m2) AS BIGINT) AS b_count,
           CAST(SUM(m3) AS BIGINT) AS a_count,
           CASE WHEN SUM(m3) > 0 AND SUM(m2) > 0
                THEN CAST(ROUND(-1000.0 * LN(CAST(SUM(m3) AS DOUBLE)
                                             / SUM(m2))) AS BIGINT)
                ELSE NULL END AS sampen_milli
    FROM pairs GROUP BY event_type ORDER BY event_type
    """,
    survey="F61,F49,F15",
)
def f61_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy (Richman & Moorman 2000) per event type over the
    daily mean-cents series — the regularity gauge f49's permutation
    entropy approximates ordinally: SampEn(m=2, r=σ/2) =
    −ln(A/B), where B counts template pairs matching for 2 consecutive
    points within tolerance r (Chebyshev distance) and A those still
    matching at 3 — LOW SampEn = self-similar/regular series, HIGH =
    unpredictable.  Unlike approximate entropy it excludes
    self-matches, making A/B an unbiased conditional-repeat estimate.
    r = σ/2 rather than the textbook 0.2σ: with only ~28 templates per
    30-day series the 0.2σ tolerance measured A = 0 for 4 of 5 types
    (a non-discriminating fixture, the j125 rule); the r dial is
    series-length-dependent and σ/2 yields nonzero A/B everywhere at
    every SF — checked BEFORE registration.

    Exactness: the series is f58's daily mean-cents lattice; the
    tolerance is the exact integer σ/5 via the shared adjusted-isqrt
    template (f15's calibration rule); match counts are exact integer
    pair counts (the m=3 templates restrict both sides, the standard
    N−m convention); only the final −ln(A/B) is float, the same IEEE
    expression from identical integers.

    Scale shape: daily pre-agg (volume term) → per-type LEAD windows →
    ONE within-type pair join over ≤n_days rows per type (30² = 450
    pairs — calendar-bounded forever, the f54/f59 axis), one agg."""
    e = Tables(spark, sf_dir).events
    daily = e.groupBy(
        "event_type", F.expr("unix_micros(ts) DIV 86400000000").alias("d")
    ).agg(
        F.expr("SUM(CAST(ROUND(value * 100) AS BIGINT)) DIV COUNT(*)").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    numbered = daily.select(
        "event_type", "x", F.row_number().over(w).alias("rn")
    )
    emb = numbered.select(
        "event_type", "rn",
        F.col("x").alias("x0"),
        F.lead("x", 1).over(Window.partitionBy("event_type").orderBy("rn")).alias("x1"),
        F.lead("x", 2).over(Window.partitionBy("event_type").orderBy("rn")).alias("x2"),
    )
    isq = _isqrt_spark(
        "((COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))"
        " DIV (COUNT(*) * GREATEST(COUNT(*) - 1, 1)))"
    )
    calib = numbered.groupBy("event_type").agg(
        F.expr(f"{isq} DIV 2").alias("r")
    )
    a = emb.where(F.col("x2").isNotNull()).select(
        "event_type", F.col("rn").alias("rna"),
        F.col("x0").alias("a0"), F.col("x1").alias("a1"), F.col("x2").alias("a2"),
    )
    b = emb.where(F.col("x2").isNotNull()).select(
        F.col("event_type").alias("etb"), F.col("rn").alias("rnb"),
        F.col("x0").alias("b0"), F.col("x1").alias("b1"), F.col("x2").alias("b2"),
    )
    pairs = (
        a.join(
            b,
            (F.col("etb") == F.col("event_type")) & (F.col("rnb") > F.col("rna")),
        )
        .join(F.broadcast(calib), "event_type")
        .select(
            "event_type",
            F.when(
                F.greatest(
                    F.abs(F.col("a0") - F.col("b0")),
                    F.abs(F.col("a1") - F.col("b1")),
                )
                <= F.col("r"),
                1,
            )
            .otherwise(0)
            .alias("m2"),
            F.when(
                F.greatest(
                    F.abs(F.col("a0") - F.col("b0")),
                    F.abs(F.col("a1") - F.col("b1")),
                    F.abs(F.col("a2") - F.col("b2")),
                )
                <= F.col("r"),
                1,
            )
            .otherwise(0)
            .alias("m3"),
        )
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.sum("m2").cast("long").alias("b_count"),
            F.sum("m3").cast("long").alias("a_count"),
        )
        .select(
            "event_type", "b_count", "a_count",
            F.expr(
                "CASE WHEN a_count > 0 AND b_count > 0"
                " THEN CAST(ROUND(-1000.0 * LN(CAST(a_count AS DOUBLE)"
                " / b_count)) AS BIGINT) ELSE NULL END"
            ).alias("sampen_milli"),
        )
        .orderBy("event_type")
    )


@register(
    "d28_asof_tolerance_join",
    oracle="""
    WITH purchases AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), views AS (
        SELECT user_id, ts FROM events WHERE event_type = 'view'
    ), matched AS (
        SELECT p.event_id, p.user_id, p.ts AS p_ts, v.ts AS v_ts
        FROM purchases p ASOF LEFT JOIN views v
          ON p.user_id = v.user_id AND p.ts >= v.ts
    )
    SELECT event_id, user_id,
           CASE WHEN v_ts IS NOT NULL
                 AND epoch_us(p_ts) - epoch_us(v_ts) <= 172800000000
                THEN CAST(epoch_ms(v_ts) AS BIGINT) ELSE NULL END
               AS last_view_ms,
           CASE WHEN v_ts IS NOT NULL
                 AND epoch_us(p_ts) - epoch_us(v_ts) <= 172800000000
                THEN CAST((epoch_us(p_ts) - epoch_us(v_ts)) // 1000 AS BIGINT)
                ELSE NULL END AS staleness_ms
    FROM matched
    """,
    survey="D28,D7,D17",
)
def d28_asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS TOLERANCE (pandas merge_asof's
    ``tolerance``, kdb's windowed aj) — the production refinement d7
    lacks: a purchase only attributes to the user's latest prior view
    if it happened within 48 hours (the median prior-view staleness on
    this corpus is ~34 h, so the window splits the population
    meaningfully — measured before registration, the j125 rule); a
    9-day-old view is not 'the view that led to this purchase', it is
    noise that a plain as-of would silently promote into
    attribution.  NULLs beyond tolerance make
    the miss EXPLICIT (feeding the funnel's 'organic' bucket), and the
    surfaced staleness is the distribution an attribution modeler
    actually tunes the window on.

    Semantics: match = latest view with v.ts ≤ p.ts (d7's ≥ rule),
    kept only if p.ts − v.ts ≤ 48 h — tolerance FILTERS the match, it
    does not fall through to an older one (merge_asof's rule; an
    older view is even staler).  The engine is d7's union + one-window
    shape with the tolerance as a post-filter on the matched
    timestamp — still ONE shuffle, no pairwise blowup; the oracle
    states it as ASOF LEFT JOIN + the same CASE.

    Scale shape: d7's — union, single window partitioned by user, one
    filter; tolerance adds zero shuffles."""
    e = Tables(spark, sf_dir).events
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts",
        F.lit(1).alias("is_p"),
        F.lit(None).cast("long").alias("view_us"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id", "ts",
        F.lit(0).alias("is_p"),
        F.unix_micros("ts").alias("view_us"),
    )
    unioned = purchases.unionByName(views)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        unioned.withColumn(
            "last_view_us", F.last("view_us", ignorenulls=True).over(w)
        )
        .filter(F.col("is_p") == 1)
        .select(
            "event_id", "user_id",
            F.unix_micros("ts").alias("p_us"),
            "last_view_us",
        )
    )
    in_tol = F.col("last_view_us").isNotNull() & (
        F.col("p_us") - F.col("last_view_us") <= 172_800_000_000
    )
    return matched.select(
        "event_id", "user_id",
        F.when(in_tol, F.expr("last_view_us DIV 1000")).alias("last_view_ms"),
        F.when(in_tol, F.expr("(p_us - last_view_us) DIV 1000")).alias(
            "staleness_ms"
        ),
    )


@register(
    "e126_theil_u",
    oracle="""
    WITH cells AS (
        -- X = quantity decade bucket, Y = exact quantity: Y DETERMINES
        -- X (U(X|Y) = 1) but X only narrows Y (U(Y|X) < 1) — the
        -- asymmetry IS the operator's point, and a (returnflag,
        -- linestatus) pair measured independent (U = 0, degenerate)
        -- was rejected before registration (the j125 rule)
        SELECT CAST(l_quantity AS BIGINT) // 10 AS x,
               CAST(l_quantity AS BIGINT) AS y,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2
    ), margins AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells
    ), hx AS (
        SELECT CAST(COALESCE(SUM(CAST(ROUND(-1000000.0
                    * (CAST(cx AS DOUBLE) / n)
                    * LN(CAST(cx AS DOUBLE) / n)) AS BIGINT)), 0) AS BIGINT)
                   AS hx_micro
        FROM (SELECT x, SUM(c) AS cx FROM cells GROUP BY 1) g
        CROSS JOIN margins WHERE cx > 0 AND cx < n
    ), hy AS (
        SELECT CAST(COALESCE(SUM(CAST(ROUND(-1000000.0
                    * (CAST(cy AS DOUBLE) / n)
                    * LN(CAST(cy AS DOUBLE) / n)) AS BIGINT)), 0) AS BIGINT)
                   AS hy_micro
        FROM (SELECT y, SUM(c) AS cy FROM cells GROUP BY 1) g
        CROSS JOIN margins WHERE cy > 0 AND cy < n
    ), hx_given_y AS (
        SELECT CAST(COALESCE(SUM(CAST(ROUND(-1000000.0
                    * (CAST(c AS DOUBLE) / n)
                    * LN(CAST(c AS DOUBLE) / cy)) AS BIGINT)), 0) AS BIGINT)
                   AS hxy_micro
        FROM cells
        JOIN (SELECT y, SUM(c) AS cy FROM cells GROUP BY 1) gy USING (y)
        CROSS JOIN margins WHERE c > 0 AND c < cy
    ), hy_given_x AS (
        SELECT CAST(COALESCE(SUM(CAST(ROUND(-1000000.0
                    * (CAST(c AS DOUBLE) / n)
                    * LN(CAST(c AS DOUBLE) / cx)) AS BIGINT)), 0) AS BIGINT)
                   AS hyx_micro
        FROM cells
        JOIN (SELECT x, SUM(c) AS cx FROM cells GROUP BY 1) gx USING (x)
        CROSS JOIN margins WHERE c > 0 AND c < cx
    )
    SELECT hx_micro, hy_micro, hxy_micro, hyx_micro,
           CASE WHEN hx_micro > 0
                THEN CAST(1000 * (hx_micro - hxy_micro) // hx_micro AS BIGINT)
                ELSE NULL END AS u_x_given_y_milli,
           CASE WHEN hy_micro > 0
                THEN CAST(1000 * (hy_micro - hyx_micro) // hy_micro AS BIGINT)
                ELSE NULL END AS u_y_given_x_milli
    FROM hx CROSS JOIN hy CROSS JOIN hx_given_y CROSS JOIN hy_given_x
    """,
    survey="E126,E71,J106",
)
def e126_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient, BOTH directions, for the
    (quantity-decade-bucket, exact-quantity) pair — the ASYMMETRIC
    categorical association e71's Cramér's V cannot state: U(X|Y)
    answers "what fraction of X's entropy does knowing Y remove" and
    U(X|Y) ≠ U(Y|X).  The fixture makes the asymmetry the pinned
    truth: the exact quantity DETERMINES its decade bucket
    (U(X|Y) = 1000 milli exactly — every conditional cell entropy is
    zero), while the bucket only narrows the quantity to ~10 values
    (U(Y|X) ≈ 1 − ln(10)/ln(50) ≈ 0.41).  The first fixture attempted
    here, (returnflag, linestatus), measured INDEPENDENT on this
    corpus (U = 0 both ways — degenerate) and was rejected before
    registration, the j125 discrimination rule.

    Exactness: the e105/f60 per-term micro rule — every −p·ln p and
    conditional term ROUNDed to integer micro-nats identically in
    both engines from identical counts, then integer-summed; both
    U_milli values are pure integer ratios of those sums.

    Scale shape: one contingency hash agg (≤50 cells on the quantity
    lattice) + KB folds; the corpus scan is the only volume term."""
    li = Tables(spark, sf_dir).lineitem
    cells = (
        li.groupBy(
            F.expr("CAST(l_quantity AS BIGINT) DIV 10").alias("x"),
            F.col("l_quantity").cast("long").alias("y"),
        )
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    n_df = cells.agg(F.sum("c").cast("long").alias("n"))

    def _ent(df, cnt_col: str, denom_col: str, out: str):
        return df.where(
            (F.col(cnt_col) > 0) & (F.col(cnt_col) < F.col(denom_col))
        ).select(
            F.expr(
                f"CAST(ROUND(-1000000.0 * (CAST({cnt_col} AS DOUBLE) / n)"
                f" * LN(CAST({cnt_col} AS DOUBLE) / {denom_col})) AS BIGINT)"
            ).alias("t")
        ).agg(F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias(out))

    gx = cells.groupBy("x").agg(F.sum("c").alias("cx"))
    gy = cells.groupBy("y").agg(F.sum("c").alias("cy"))
    hx = _ent(gx.crossJoin(F.broadcast(n_df)).withColumn("nn", F.col("n")),
              "cx", "nn", "hx_micro")
    hy = _ent(gy.crossJoin(F.broadcast(n_df)).withColumn("nn", F.col("n")),
              "cy", "nn", "hy_micro")
    hxy = _ent(
        cells.join(gy, "y").crossJoin(F.broadcast(n_df)), "c", "cy", "hxy_micro"
    )
    hyx = _ent(
        cells.join(gx, "x").crossJoin(F.broadcast(n_df)), "c", "cx", "hyx_micro"
    )
    return (
        hx.crossJoin(F.broadcast(hy))
        .crossJoin(F.broadcast(hxy))
        .crossJoin(F.broadcast(hyx))
        .select(
            "hx_micro", "hy_micro", "hxy_micro", "hyx_micro",
            F.expr(
                "CASE WHEN hx_micro > 0 THEN CAST(1000 * (hx_micro - hxy_micro)"
                " DIV hx_micro AS BIGINT) ELSE NULL END"
            ).alias("u_x_given_y_milli"),
            F.expr(
                "CASE WHEN hy_micro > 0 THEN CAST(1000 * (hy_micro - hyx_micro)"
                " DIV hy_micro AS BIGINT) ELSE NULL END"
            ).alias("u_y_given_x_milli"),
        )
    )


@register(
    "e127_brunner_munzel",
    oracle="""
    WITH hx AS (
        SELECT CAST(l_quantity AS BIGINT) + l_partkey % 7 AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
    ), hy AS (
        SELECT CAST(l_quantity AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1
    ), pooled AS (
        SELECT v, COALESCE(x.c, 0) AS cx, COALESCE(y.c, 0) AS cy
        FROM (SELECT v, c FROM hx) x FULL OUTER JOIN hy y USING (v)
    ), ranked AS (
        -- doubled POOLED midrank per value: 2*cum_before + c + 1
        SELECT v, cx, cy,
               2 * (SUM(cx + cy) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - (cx + cy)) + (cx + cy) + 1 AS m2,
               2 * (SUM(cx) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - cx) + cx + 1 AS w2x,
               2 * (SUM(cy) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - cy) + cy + 1 AS w2y
        FROM pooled
    ), sizes AS (
        SELECT CAST(SUM(cx) AS BIGINT) AS n1, CAST(SUM(cy) AS BIGINT) AS n2,
               CAST(SUM(cx * m2) AS BIGINT) AS t1,
               CAST(SUM(cy * m2) AS BIGINT) AS t2
        FROM ranked
    ), devs AS (
        -- truncating-mean-centered doubled rank deviations per sample
        -- (a DEFINED lattice: T DIV n replaces the rational mean; the
        -- residual bias < 1 doubled-rank unit per member)
        SELECT CAST(SUM(cx * POWER_INT) AS BIGINT) AS s2x_q,
               CAST(SUM(cy * POWER_INT2) AS BIGINT) AS s2y_q
        FROM (
            SELECT r.cx, r.cy,
                   (r.m2 - r.w2x - (s.t1 // s.n1 - (s.n1 + 1)))
                   * (r.m2 - r.w2x - (s.t1 // s.n1 - (s.n1 + 1)))
                       AS POWER_INT,
                   (r.m2 - r.w2y - (s.t2 // s.n2 - (s.n2 + 1)))
                   * (r.m2 - r.w2y - (s.t2 // s.n2 - (s.n2 + 1)))
                       AS POWER_INT2
            FROM ranked r CROSS JOIN sizes s
        )
    )
    SELECT s.n1, s.n2, s.t1, s.t2, d.s2x_q, d.s2y_q,
           -- p_hat = (mean pooled rank of Y - (n2+1)/2) / n1, doubled
           -- lattice: milli = 1000 * (T2/n2*... ) — shared-IEEE from
           -- exact integers
           1000.0 * (CAST(s.t2 AS DOUBLE) / s.n2 - (s.n2 + 1))
               / (2.0 * s.n1) AS p_hat_milli,
           -- Brunner-Munzel W: (t2/n2 - t1/n1)/2 over the pooled-rank
           -- variance estimate (doubled-lattice quarters cancel)
           ((CAST(s.t2 AS DOUBLE) / s.n2 - CAST(s.t1 AS DOUBLE) / s.n1) / 2.0)
               / SQRT((s.n1 + s.n2)
                      * (CAST(d.s2x_q AS DOUBLE) / (4.0 * (s.n1 - 1) * s.n1)
                         / s.n2 / s.n2
                         + CAST(d.s2y_q AS DOUBLE) / (4.0 * (s.n2 - 1) * s.n2)
                         / s.n1 / s.n1)
                      * (s.n1 + s.n2)) AS w_stat
    FROM sizes s CROSS JOIN devs d
    """,
    survey="E127,E45,E52",
)
def e127_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel test between the shifted-'R' and 'A' quantity
    samples — the modern replacement for Mann-Whitney under UNEQUAL
    VARIANCES (the nonparametric Behrens-Fisher problem): e45's U test
    assumes exchangeable spread under H0 and mis-sizes otherwise; BM
    studentizes the relative effect p̂ = P(X < Y) + ½P(X = Y) with
    per-sample rank variances, staying valid when the two samples'
    shapes differ (R's brunnermunzel, scipy ≥1.2 — the recommended
    default in the methodological literature since Brunner-Munzel
    2000).

    Exactness: midranks (the tie-correct rank value) live on the
    DOUBLED integer lattice — pooled midrank2 = 2·cum_before + c + 1
    and the within-sample analogues are exact BIGINTs from histogram
    window cumsums; rank-variance sums use truncating-mean centering
    (T DIV n, bias < 1 doubled-rank unit per member — a defined
    lattice, the f58 rule); p̂ and W are the same IEEE expressions from
    identical integers in both engines.

    Scale shape: e122's — one (sample, value) histogram agg, window
    cumsums over the ≤57-value grid, two 1-row folds; the corpus scan
    is the only volume term."""
    li = Tables(spark, sf_dir).lineitem
    # r11 optimization (guide §1.1 first-principles): ONE scan builds both
    # sample histograms via conditional aggregation (formerly two filtered
    # scans + a full-outer join; a value present in only one sample gets 0
    # in the other — identical to the old COALESCE), and the ≤57-row
    # ranked grid checkpoints eagerly so the two downstream folds (sizes,
    # devs) read it instead of re-deriving the scan subtree (the plan held
    # SIX Scan nodes; now one).
    pooled = (
        li.where(F.col("l_returnflag").isin("R", "A"))
        .groupBy(
            F.when(
                F.col("l_returnflag") == "R",
                F.col("l_quantity").cast("long") + F.col("l_partkey") % 7,
            )
            .otherwise(F.col("l_quantity").cast("long"))
            .alias("v")
        )
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("cx"),
            F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0))
            .cast("long")
            .alias("cy"),
        )
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ranked = pooled.select(
        "v", "cx", "cy",
        (
            2 * (F.sum(F.col("cx") + F.col("cy")).over(wv) - (F.col("cx") + F.col("cy")))
            + (F.col("cx") + F.col("cy"))
            + 1
        ).alias("m2"),
        (2 * (F.sum("cx").over(wv) - F.col("cx")) + F.col("cx") + 1).alias("w2x"),
        (2 * (F.sum("cy").over(wv) - F.col("cy")) + F.col("cy") + 1).alias("w2y"),
    ).localCheckpoint(eager=True)
    sizes = ranked.agg(
        F.sum("cx").cast("long").alias("n1"),
        F.sum("cy").cast("long").alias("n2"),
        F.sum(F.col("cx") * F.col("m2")).cast("long").alias("t1"),
        F.sum(F.col("cy") * F.col("m2")).cast("long").alias("t2"),
    )
    devs = (
        ranked.crossJoin(F.broadcast(sizes))
        .select(
            (
                F.col("cx")
                * F.expr(
                    "(m2 - w2x - (t1 DIV n1 - (n1 + 1)))"
                    " * (m2 - w2x - (t1 DIV n1 - (n1 + 1)))"
                )
            ).alias("qx"),
            (
                F.col("cy")
                * F.expr(
                    "(m2 - w2y - (t2 DIV n2 - (n2 + 1)))"
                    " * (m2 - w2y - (t2 DIV n2 - (n2 + 1)))"
                )
            ).alias("qy"),
        )
        .agg(
            F.sum("qx").cast("long").alias("s2x_q"),
            F.sum("qy").cast("long").alias("s2y_q"),
        )
    )
    return sizes.crossJoin(F.broadcast(devs)).select(
        "n1", "n2", "t1", "t2", "s2x_q", "s2y_q",
        F.expr(
            "1000.0 * (CAST(t2 AS DOUBLE) / n2 - (n2 + 1)) / (2.0 * n1)"
        ).alias("p_hat_milli"),
        F.expr(
            "((CAST(t2 AS DOUBLE) / n2 - CAST(t1 AS DOUBLE) / n1) / 2.0)"
            " / SQRT((n1 + n2)"
            " * (CAST(s2x_q AS DOUBLE) / (4.0 * (n1 - 1) * n1) / n2 / n2"
            "    + CAST(s2y_q AS DOUBLE) / (4.0 * (n2 - 1) * n2) / n1 / n1)"
            " * (n1 + n2))"
        ).alias("w_stat"),
    )


# nDCG@10 rank discounts: D(i) = round(1e6 / log2(i+1)) — EXACT integer
# constants, so the whole metric is float-free (computed once, pinned by
# tests against math.log2).
_J134_DISCOUNTS = (
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
)
_J134_DISC_SQL = ", ".join(
    f"({i + 1}, {d})" for i, d in enumerate(_J134_DISCOUNTS)
)


@register(
    "j134_ndcg_retrieval",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, label AS qlabel, embedding AS qv
        FROM embeddings WHERE vec_id < 8
    ), pairs AS (
        SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id,
               e.label AS nlabel, q.qv, e.embedding AS ev
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ), dots AS (
        -- exact centi-lattice dot (the j131 quantization contract)
        SELECT query_id, qlabel, neighbor_id, nlabel,
               CAST(SUM(CAST(ROUND(CAST(u.a AS DOUBLE) * 100) AS BIGINT)
                        * CAST(ROUND(CAST(u.b AS DOUBLE) * 100) AS BIGINT))
                    AS BIGINT) AS dot
        FROM pairs,
             LATERAL (SELECT unnest(qv) AS a, unnest(ev) AS b,
                             generate_subscripts(qv, 1) AS i) u
        GROUP BY 1, 2, 3, 4
    ), ranked AS (
        SELECT query_id,
               CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END AS rel,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, neighbor_id) AS rn
        FROM dots
    ), topk AS (
        SELECT r.query_id, r.rel, d.disc
        FROM ranked r JOIN (VALUES {_J134_DISC_SQL}) AS d(rn, disc)
          ON d.rn = r.rn
    ), dcg AS (
        SELECT query_id,
               CAST(SUM(rel * disc) AS BIGINT) AS dcg_micro,
               CAST(SUM(rel) AS BIGINT) AS n_rel_topk
        FROM topk GROUP BY 1
    ), nrel AS (
        SELECT query_id, CAST(SUM(rel) AS BIGINT) AS n_rel
        FROM ranked GROUP BY 1
    ), idcg AS (
        -- ideal DCG: all relevant docs packed into the top ranks
        SELECT n.query_id,
               CAST(SUM(d.disc) AS BIGINT) AS idcg_micro
        FROM nrel n JOIN (VALUES {_J134_DISC_SQL}) AS d(rn, disc)
          ON d.rn <= LEAST(n.n_rel, 10)
        GROUP BY 1
    )
    SELECT d.query_id, d.n_rel_topk, n.n_rel, d.dcg_micro, i.idcg_micro,
           CAST(1000 * d.dcg_micro // i.idcg_micro AS BIGINT) AS ndcg_milli
    FROM dcg d JOIN nrel n USING (query_id) JOIN idcg i USING (query_id)
    ORDER BY d.query_id
    """,
    survey="J134,J3,E62",
)
def j134_ndcg_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 retrieval evaluation for the 8 probe queries over the
    exact centi-lattice cosine ranking (label match = binary
    relevance) — the GRADED-position metric the eval tier lacks: e62's
    ROC/AUC scores a classifier's ordering globally, j121's MMR
    *selects* a ranking; nDCG scores a RANKING where position matters
    logarithmically, the standard retrieval-quality number every
    embedding-search dial (j3's IVF/LSH tiers) is ultimately tuned
    against.

    Float-free by construction: rank discounts 1/log₂(i+1) are
    pre-quantized micro-integer CONSTANTS (pinned against math.log2 in
    tests), relevance is binary, the ranking key is the exact integer
    centi dot (deterministic ties by neighbor id), and
    nDCG_milli = 1000·DCG DIV IDCG — the entire metric is integer
    arithmetic over an integer ordering.

    Scale shape: 8 broadcast queries × corpus scan → exact dot (j3's
    brute tier; the IVF/LSH preselect is the production dial) →
    per-query top-10 window → constant-size discount join; the eval is
    O(queries × corpus) with the documented ANN ladder cutting the
    corpus term."""
    e = Tables(spark, sf_dir).embeddings
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qv"),
    )
    pairs = e.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("query_id"))
    dot = F.aggregate(
        F.zip_with(
            "qv", "embedding",
            lambda a, b: F.round(a.cast("double") * 100).cast("long")
            * F.round(b.cast("double") * 100).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dots = pairs.select(
        "query_id", "qlabel",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nlabel"),
        dot.alias("dot"),
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    ranked = dots.select(
        "query_id",
        F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0).alias("rel"),
        F.row_number().over(wr).alias("rn"),
    )
    disc = spark.createDataFrame(
        [(i + 1, d) for i, d in enumerate(_J134_DISCOUNTS)], "rn int, disc long"
    )
    topk = ranked.join(F.broadcast(disc), "rn")
    dcg = topk.groupBy("query_id").agg(
        F.sum(F.col("rel") * F.col("disc")).cast("long").alias("dcg_micro"),
        F.sum("rel").cast("long").alias("n_rel_topk"),
    )
    nrel = ranked.groupBy("query_id").agg(F.sum("rel").cast("long").alias("n_rel"))
    idcg = (
        nrel.join(
            F.broadcast(disc),
            F.col("rn") <= F.least(F.col("n_rel"), F.lit(10)),
        )
        .groupBy("query_id")
        .agg(F.sum("disc").cast("long").alias("idcg_micro"))
    )
    return (
        dcg.join(nrel, "query_id")
        .join(idcg, "query_id")
        .select(
            "query_id", "n_rel_topk", "n_rel", "dcg_micro", "idcg_micro",
            F.expr("CAST(1000 * dcg_micro DIV idcg_micro AS BIGINT)").alias(
                "ndcg_milli"
            ),
        )
        .orderBy("query_id")
    )


@register(
    "a44_lcs_level_audit",
    oracle="""
    WITH files AS (
        -- per-day "sstable" stats (the a29/a31 convention): size proxy
        -- + token coverage (orderkey % 1000 range)
        SELECT epoch_us(l_shipdate) // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(l_orderkey % 1000) AS BIGINT) AS tok_lo,
               CAST(MAX(l_orderkey % 1000) AS BIGINT) AS tok_hi
        FROM lineitem GROUP BY 1
    ), leveled AS (
        -- LCS assignment: newest-first file rank f; L1 holds 10 files,
        -- L2 the next 100, L3 the next 1000 (the 10x fanout law)
        SELECT *,
               CASE WHEN f <= 10 THEN 1
                    WHEN f <= 110 THEN 2
                    WHEN f <= 1110 THEN 3 ELSE 4 END AS lvl
        FROM (SELECT files.*, ROW_NUMBER() OVER (ORDER BY day DESC) AS f
              FROM files)
    ), ovl AS (
        -- the LCS INVARIANT: within a level (L1+), files must not
        -- overlap in token space; count adjacent overlaps in
        -- range-start order — each one is compaction work
        -- (CTE named ovl: OVERLAPS is a reserved word in DuckDB)
        SELECT lvl,
               CAST(SUM(CASE WHEN prev_hi IS NOT NULL
                              AND prev_hi >= tok_lo THEN 1 ELSE 0 END)
                    AS BIGINT) AS overlap_pairs
        FROM (
            SELECT lvl, tok_lo,
                   LAG(tok_hi) OVER (PARTITION BY lvl
                                     ORDER BY tok_lo, day) AS prev_hi
            FROM leveled
        ) GROUP BY 1
    )
    SELECT l.lvl,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(l.n_rows) AS BIGINT) AS rows_total,
           CAST(CASE WHEN l.lvl = 1 THEN 10
                     WHEN l.lvl = 2 THEN 100
                     WHEN l.lvl = 3 THEN 1000 ELSE 10000 END AS BIGINT)
               AS capacity_files,
           CAST(1000000 * COUNT(*)
                // CASE WHEN l.lvl = 1 THEN 10
                        WHEN l.lvl = 2 THEN 100
                        WHEN l.lvl = 3 THEN 1000 ELSE 10000 END AS BIGINT)
               AS fill_ppm,
           CAST(MAX(o.overlap_pairs) AS BIGINT) AS overlap_pairs
    FROM leveled l JOIN ovl o USING (lvl)
    GROUP BY l.lvl ORDER BY l.lvl
    """,
    survey="A44,A31,A29",
)
def a44_lcs_level_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leveled-compaction (LCS) audit — the strategy tier a31's STCS
    audit leaves open: LCS caps each level at 10^L fixed-size sstables
    and guarantees NON-OVERLAPPING token ranges within a level (one
    read touches ≤ L files instead of every tier), at the price of
    re-sorting on promotion.  The audit assigns the per-day 'sstable'
    relation (the a29/a31 size-proxy convention) newest-first into the
    10×-fanout levels and reports per level: file count vs capacity,
    fill ppm, and the INVARIANT VIOLATIONS — adjacent token-range
    overlaps in range-start order, each one promotion/compaction work.
    Time-partitioned files all span the full token ring (they were
    written by time, not token), so L1+ shows overlaps ≈ files − 1:
    exactly the write-amplification LCS pays on ingest-heavy
    workloads, which is WHY STCS is the default for the snapshot-ETL
    write pattern — the audit quantifies the trade.

    Exactness: levels, capacities, fill ppm and overlap counts are
    pure integer/window arithmetic on exact per-day aggregates.

    Scale shape: one map-side-combinable hash agg to per-day stats
    (metadata scale), a ≤4-level window + agg — data volume only
    enters the first agg."""
    li = Tables(spark, sf_dir).lineitem
    files = li.groupBy(
        F.expr("unix_micros(l_shipdate) DIV 86400000000").alias("day")
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min(F.col("l_orderkey") % 1000).cast("long").alias("tok_lo"),
        F.max(F.col("l_orderkey") % 1000).cast("long").alias("tok_hi"),
    )
    leveled = files.withColumn(
        "f", F.row_number().over(Window.orderBy(F.desc("day")))
    ).withColumn(
        "lvl",
        F.when(F.col("f") <= 10, 1)
        .when(F.col("f") <= 110, 2)
        .when(F.col("f") <= 1110, 3)
        .otherwise(4),
    )
    wo = Window.partitionBy("lvl").orderBy("tok_lo", "day")
    overlaps = (
        leveled.withColumn("prev_hi", F.lag("tok_hi").over(wo))
        .groupBy("lvl")
        .agg(
            F.sum(
                F.when(
                    F.col("prev_hi").isNotNull()
                    & (F.col("prev_hi") >= F.col("tok_lo")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("overlap_pairs")
        )
    )
    cap = (
        F.when(F.col("lvl") == 1, 10)
        .when(F.col("lvl") == 2, 100)
        .when(F.col("lvl") == 3, 1000)
        .otherwise(10000)
        .cast("long")
    )
    return (
        leveled.groupBy("lvl")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum("n_rows").cast("long").alias("rows_total"),
        )
        .join(overlaps, "lvl")
        .select(
            "lvl", "n_files", "rows_total",
            cap.alias("capacity_files"),
            F.expr(
                "CAST(1000000 * n_files DIV CASE WHEN lvl = 1 THEN 10"
                " WHEN lvl = 2 THEN 100 WHEN lvl = 3 THEN 1000"
                " ELSE 10000 END AS BIGINT)"
            ).alias("fill_ppm"),
            "overlap_pairs",
        )
        .orderBy("lvl")
    )


@register(
    "j135_rrf_fusion",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < 8
    ), pairs AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, q.qv, e.embedding AS ev
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ), scores AS (
        -- two EXACT integer retrieval keys over the centi lattice:
        -- dot (cosine-numerator order) and squared L2 distance
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
    ), fused AS (
        -- RRF with k = 60 (Cormack et al. 2009): per-ranking
        -- contribution 1e6 DIV (60 + rank), exact integer
        SELECT query_id, neighbor_id, r_dot, r_l2,
               (1000000 // (60 + r_dot) + 1000000 // (60 + r_l2))
                   AS rrf_micro
        FROM ranked
    )
    SELECT query_id, neighbor_id,
           CAST(r_dot AS BIGINT) AS r_dot, CAST(r_l2 AS BIGINT) AS r_l2,
           CAST(rrf_micro AS BIGINT) AS rrf_micro,
           CAST(rn AS INTEGER) AS fused_rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY rrf_micro DESC, neighbor_id)
                      AS rn
        FROM fused
    ) WHERE rn <= 5
    ORDER BY query_id, fused_rank
    """,
    survey="J135,J3,J121",
)
def j135_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of two
    retrieval rankings — THE hybrid-search combiner (every
    vector+keyword engine ships it) the retrieval tier lacked: j3
    ranks, j121 diversifies, j134 evaluates; RRF MERGES rankings
    without score calibration, because 1/(k + rank) depends only on
    positions.  Here the two rankings are inner-product order and
    L2-distance order over the same centi lattice — genuinely
    different orders on unnormalized vectors (norms matter for dot,
    not for relative distance) — fused with the canonical k = 60.

    Float-free: both ranking keys are exact BIGINTs (dot and squared
    L2 share one quantized explode), ranks are deterministic
    (tie → neighbor id), and each RRF contribution is
    1e6 DIV (60 + rank) — exact integer division, so the fused order
    is bit-reproducible in both engines.

    Scale shape: j134's — 8 broadcast queries × corpus scan, ONE
    quantized explode feeding both keys, two per-query rank windows,
    top-5 cut; the ANN ladder preselects candidates in production."""
    e = Tables(spark, sf_dir).embeddings
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    pairs = e.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("query_id"))
    quant = F.zip_with(
        "qv", "embedding",
        lambda a, b: F.struct(
            F.round(a.cast("double") * 100).cast("long").alias("ca"),
            F.round(b.cast("double") * 100).cast("long").alias("cb"),
        ),
    )
    scores = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.aggregate(
            quant, F.lit(0).cast("long"), lambda acc, s: acc + s.ca * s.cb
        ).alias("dot"),
        F.aggregate(
            quant,
            F.lit(0).cast("long"),
            lambda acc, s: acc + (s.ca - s.cb) * (s.ca - s.cb),
        ).alias("dist2"),
    )
    ranked = scores.select(
        "query_id", "neighbor_id",
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                F.desc("dot"), F.asc("neighbor_id")
            )
        )
        .alias("r_dot"),
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                F.asc("dist2"), F.asc("neighbor_id")
            )
        )
        .alias("r_l2"),
    )
    fused = ranked.select(
        "query_id", "neighbor_id", "r_dot", "r_l2",
        F.expr("1000000 DIV (60 + r_dot) + 1000000 DIV (60 + r_l2)").alias(
            "rrf_micro"
        ),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_micro"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .where(F.col("fused_rank") <= 5)
        .select(
            "query_id", "neighbor_id",
            F.col("r_dot").cast("long").alias("r_dot"),
            F.col("r_l2").cast("long").alias("r_l2"),
            F.col("rrf_micro").cast("long").alias("rrf_micro"),
            F.col("fused_rank").cast("int").alias("fused_rank"),
        )
        .orderBy("query_id", "fused_rank")
    )


@register(
    "j136_fightin_words",
    oracle=f"""
    WITH toks AS (
        SELECT CASE WHEN source IN ('src0', 'src1', 'src2', 'src3', 'src4')
                    THEN 'a' ELSE 'b' END AS grp,
               unnest(string_split({_NORM}, ' ')) AS w
        FROM documents
    ), counts AS (
        SELECT w,
               CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ya,
               CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS yb
        FROM toks WHERE w <> '' GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(ya) AS BIGINT) AS na, CAST(SUM(yb) AS BIGINT) AS nb,
               CAST(SUM(ya + yb) AS BIGINT) AS a0
        FROM counts
    ), scored AS (
        -- Monroe/Colaresi/Quinn 2008 log-odds with the informative
        -- Dirichlet prior alpha_w = (ya+yb) * 500 / a0 scaled to milli
        -- (prior mass 500 tokens split by corpus frequency); per-word
        -- delta and variance are the SAME IEEE expressions from exact
        -- integers in both engines, micro-rounded per word (e105 rule)
        SELECT c.w, c.ya, c.yb,
               CAST(ROUND(1000000.0 * (
                   LN((c.ya + aw) / (t.na + 500.0 - c.ya - aw))
                 - LN((c.yb + aw) / (t.nb + 500.0 - c.yb - aw))
               )) AS BIGINT) AS delta_micro,
               CAST(ROUND(1000000.0 * (1.0 / (c.ya + aw)
                                       + 1.0 / (c.yb + aw))) AS BIGINT)
                   AS var_micro
        FROM (SELECT *, 500.0 * (ya + yb) / (SELECT a0 FROM tot) AS aw
              FROM counts) c
        CROSS JOIN tot t
        WHERE c.ya + c.yb >= 50
    )
    SELECT w, ya, yb, delta_micro, var_micro,
           CAST(ROUND(1000.0 * delta_micro
                / SQRT(1000000.0 * var_micro)) AS BIGINT) AS z_milli
    FROM scored
    ORDER BY ABS(CAST(ROUND(1000.0 * delta_micro
                / SQRT(1000000.0 * var_micro)) AS BIGINT)) DESC, w
    LIMIT 20
    """,
    survey="J136,J52,J96",
)
def j136_fightin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Fightin' words' (Monroe, Colaresi & Quinn 2008) — the standard
    WHAT-DISTINGUISHES-THESE-CORPORA operator: log-odds ratio of each
    word between two source groups with an INFORMATIVE Dirichlet prior
    proportional to overall corpus frequency, z-standardized by the
    delta's variance.  Raw log-odds overweight rare words and plain
    frequency differences overweight stopwords; the prior fixes both —
    which is why this displaced TF-IDF diffs and raw PMI (j52) for
    corpus comparison (source-attribution audits, style drift, the
    'what changed between crawls' question).

    Exactness: counts are exact BIGINTs; the per-word delta and
    variance take the ONLY float steps, as identical IEEE expressions
    from identical integers, micro-ROUNDed per word (the e105 rule);
    the z and the deterministic |z|-ranked top-20 cut are then
    integer-keyed (ties by word).  Prior mass 500 tokens split by
    corpus share (α_w = 500·(y_a+y_b)/N); df floor ≥ 50 keeps the
    output on corpus-representative words.

    Scale shape: one tokenize scan (the volume term) → per-word hash
    agg → 1-row totals broadcast → per-word codegen arithmetic →
    top-20 TakeOrdered; never a pairwise relation."""
    from cassandra_snap_to_hadoop_spark.operators.text import tokens

    d = Tables(spark, sf_dir).documents
    grp = F.when(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4"), "a"
    ).otherwise("b")
    toks = d.select(grp.alias("grp"), F.explode(tokens(F.col("text"))).alias("w"))
    counts = (
        toks.where(F.col("w") != "")
        .groupBy("w")
        .agg(
            F.sum(F.when(F.col("grp") == "a", 1).otherwise(0))
            .cast("long")
            .alias("ya"),
            F.sum(F.when(F.col("grp") == "b", 1).otherwise(0))
            .cast("long")
            .alias("yb"),
        )
    )
    tot = counts.agg(
        F.sum("ya").cast("long").alias("na"),
        F.sum("yb").cast("long").alias("nb"),
        F.sum(F.col("ya") + F.col("yb")).cast("long").alias("a0"),
    )
    scored = (
        counts.where(F.col("ya") + F.col("yb") >= 50)
        .crossJoin(F.broadcast(tot))
        .withColumn("aw", F.expr("CAST(500 AS DOUBLE) * (ya + yb) / a0"))
        .select(
            "w", "ya", "yb",
            F.expr(
                "CAST(ROUND(CAST(1000000 AS DOUBLE) * ("
                " LN((ya + aw) / (na + CAST(500 AS DOUBLE) - ya - aw))"
                " - LN((yb + aw) / (nb + CAST(500 AS DOUBLE) - yb - aw))"
                ")) AS BIGINT)"
            ).alias("delta_micro"),
            F.expr(
                "CAST(ROUND(CAST(1000000 AS DOUBLE)"
                " * (CAST(1 AS DOUBLE) / (ya + aw)"
                "    + CAST(1 AS DOUBLE) / (yb + aw))) AS BIGINT)"
            ).alias("var_micro"),
        )
        .withColumn(
            "z_milli",
            F.expr(
                "CAST(ROUND(CAST(1000 AS DOUBLE) * delta_micro"
                " / SQRT(CAST(1000000 AS DOUBLE) * var_micro)) AS BIGINT)"
            ),
        )
    )
    return (
        scored.orderBy(F.abs(F.col("z_milli")).desc(), F.asc("w"))
        .limit(20)
        .select("w", "ya", "yb", "delta_micro", "var_micro", "z_milli")
    )
