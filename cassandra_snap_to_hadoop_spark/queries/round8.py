"""Round-8 additions — the modern-SSTable half of the format boundary
(VERDICT r7 item 8's optional leg) plus new depth operators.

a36/a37 certify the Cassandra 3.x ``ma``-format decoder
(``sources/sstable_ma.py``) end-to-end, exactly the way a33/a34
certified the 2.x ``ka`` codec in round 7: the same bounded supplier /
clustered-orders subsets, the same deletion/TTL visibility rules, the
same oracles — but the bytes on disk are the row-oriented 3.0 layout
(flags bytes, Cassandra vints, delta-encoded timestamps against the
stats sidecar) and the scan goes through the snapshot scan's
``ma-*`` filename dispatch.  Matching oracles across BOTH formats is
itself the strongest cross-format law: two unrelated byte layouts, one
reconciled relational truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.queries.round7 import (
    _ORDERS_ORACLE,
    _SUPPLIER_ORACLE,
    _orders_partitions,
    _orders_scan,
    _stage_snapshot,
    _supplier_partitions,
    _supplier_scan,
)
from cassandra_snap_to_hadoop_spark.registry import register


def _stage_supplier_ma_sstables(sf_dir: str):
    """Encode the supplier table as two ma-format generations with the
    SAME deletion rules as round 7's ka fixtures (queries/round7.py:
    _stage_supplier_sstables) — one truth, two byte layouts."""
    from cassandra_snap_to_hadoop_spark.sources.sstable_ma import write_ma_data_db

    def write(snap, meta):
        for g, parts in _supplier_partitions(sf_dir).items():
            write_ma_data_db(str(snap / f"ma-{g}-big-Data.db"), parts, meta)

    return _stage_snapshot("a36_sstable_ma", sf_dir, "supplier", "tag-r8", write)


@register(
    "a36_sstable_ma_roundtrip",
    oracle=_SUPPLIER_ORACLE,
    survey="A36,A2,B3,B4",
)
def a36_sstable_ma_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a33's roundtrip through the MODERN byte layout: the supplier table
    re-encoded as two Cassandra 3.x ma-format generations
    (``sources/sstable_ma.py`` — flags bytes, Cassandra vints, timestamps
    delta-encoded against the stats sidecar) and scanned back through the
    snapshot scan's ``ma-*`` filename dispatch.  The oracle is
    IDENTICAL to a33's: the visibility rules (partition deletion above /
    between cell timestamps, cell tombstones, expired vs surviving TTL
    cells, max-surviving-writetime) are format-independent truth, so a
    hash match across both codecs certifies the two decoders agree with
    the relational semantics AND each other.

    Cell-level format coverage this query certifies beyond a33: per-cell
    timestamp DELTAS (the %13 rows' s_name cell differs from the row
    liveness timestamp, forcing the non-USE_ROW_TIMESTAMP path), the
    USE_ROW_TIMESTAMP flag (every other cell), expiring-cell
    localDeletionTime/TTL deltas, and multi-byte unsigned vints (suppkey
    deltas span 1..3 vint bytes at sf0.1).

    Scale shape: identical to a33 — staging is a bounded driver-side
    fixture encode; the SCAN is one scan task per Data.db decoded
    executor-side into Arrow batches."""
    return _supplier_scan(
        spark,
        sf_dir,
        _stage_supplier_ma_sstables,
        "tag-r8",
        r"ma-(\d+)-big-Data\.db$",
    )


def _stage_orders_ma_sstables(sf_dir: str):
    """Encode the a34 orders subset (orderkey % 100 == 0) as ma-format
    SSTables: partition key o_custkey, clustering o_orderkey — the
    clustering values travel in 3.0 clustering blocks (vint header word +
    fixed-length big-endian values), not ka's composite cell names."""
    from cassandra_snap_to_hadoop_spark.sources.sstable_ma import write_ma_data_db

    def write(snap, meta):
        for g, plist in _orders_partitions(sf_dir).items():
            write_ma_data_db(str(snap / f"ma-{g}-big-Data.db"), plist, meta)

    return _stage_snapshot("a37_sstable_ma", sf_dir, "orders", "tag-r8", write)


@register(
    "a37_sstable_ma_clustering_scan",
    oracle=_ORDERS_ORACLE,
    survey="A37,A2,B5,D1",
)
def a37_sstable_ma_clustering_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a34's wide-row scan through the 3.0 layout: clustering values
    serialized as ma clustering BLOCKS (an unsigned-vint null/empty
    header word per 32 columns, then fixed-length big-endian values) —
    structurally different bytes from ka's CompositeType cell names,
    decoded back to the same logical rows.  Every cell shares its row's
    liveness timestamp, so this fixture drives the USE_ROW_TIMESTAMP
    cell-flag path end-to-end (zero per-cell timestamp vints on disk);
    multi-row partitions certify row iteration inside one partition
    (body-size / prev-size vint framing), and writetime_us certifies the
    liveness-timestamp delta decode (orderkey*10).

    Scale shape: as a34 — per-file executor-side streaming decode; this
    subset is the bounded fixture (orderkey % 100), the plan is the
    100 TB plan."""
    return _orders_scan(spark, sf_dir, _stage_orders_ma_sstables, "tag-r8")


# --------------------------------------------------------------------------
# Batch 2: Cassandra-protocol, privacy, graph and agreement depth operators.
# Same acceptance bar as rounds 3-7: exact-integer or shared-IEEE-chain
# discipline, DuckDB oracle, pure-Python third-implementation pin.
# --------------------------------------------------------------------------

from pyspark.sql import Window  # noqa: E402

from cassandra_snap_to_hadoop_spark.io import Tables, fan_out  # noqa: E402


@register(
    "b15_quorum_read_repair",
    oracle="""
    WITH base AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
               CAST(o_orderkey * 100 AS BIGINT) AS ts
        FROM orders
    ), ra AS (
        SELECT k,
               CASE WHEN k % 499 = 0 THEN v - 7 ELSE v END AS v,
               CASE WHEN k % 499 = 0 THEN ts - 5 ELSE ts END AS ts
        FROM base
    ), rb AS (
        SELECT k,
               CASE WHEN k % 503 = 0 THEN v - 3 ELSE v END AS v,
               CASE WHEN k % 503 = 0 THEN ts - 3 ELSE ts END AS ts
        FROM base WHERE k % 991 <> 0
    ), rc AS (
        SELECT k, v, ts FROM base WHERE k % 997 <> 0
    ), merged AS (
        SELECT k, MAX(ts) AS ts
        FROM (SELECT k, ts FROM ra UNION ALL SELECT k, ts FROM rb
              UNION ALL SELECT k, ts FROM rc)
        GROUP BY k
    ), reconciled AS (
        SELECT m.k, m.ts,
               (SELECT MAX(v) FROM (
                   SELECT v FROM ra WHERE ra.k = m.k AND ra.ts = m.ts
                   UNION ALL
                   SELECT v FROM rb WHERE rb.k = m.k AND rb.ts = m.ts
                   UNION ALL
                   SELECT v FROM rc WHERE rc.k = m.k AND rc.ts = m.ts)) AS v
        FROM merged m
    ), tot AS (
        SELECT CAST(SUM(v) AS BIGINT) AS total_value,
               CAST(COUNT(*) AS BIGINT) AS n_keys
        FROM reconciled
    ), audit AS (
        SELECT 'A' AS replica,
               CAST(COUNT(r.k) AS BIGINT) AS n_present,
               CAST(SUM(CASE WHEN r.k IS NOT NULL AND r.ts < m.ts
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_stale,
               CAST(SUM(CASE WHEN r.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_missing
        FROM reconciled m LEFT JOIN ra r ON r.k = m.k
        UNION ALL
        SELECT 'B',
               CAST(COUNT(r.k) AS BIGINT),
               CAST(SUM(CASE WHEN r.k IS NOT NULL AND r.ts < m.ts
                             THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN r.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM reconciled m LEFT JOIN rb r ON r.k = m.k
        UNION ALL
        SELECT 'C',
               CAST(COUNT(r.k) AS BIGINT),
               CAST(SUM(CASE WHEN r.k IS NOT NULL AND r.ts < m.ts
                             THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN r.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM reconciled m LEFT JOIN rc r ON r.k = m.k
    )
    SELECT a.replica, a.n_present, a.n_stale, a.n_missing,
           CAST(a.n_stale + a.n_missing AS BIGINT) AS n_repair,
           t.n_keys, t.total_value
    FROM audit a CROSS JOIN tot t
    """,
    survey="B15,B2,B6,B10",
)
def b15_quorum_read_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quorum read with read-repair accounting — the COORDINATOR half of
    Cassandra's consistency machinery (b14's Merkle repair is the
    anti-entropy background process; THIS is what every CL=QUORUM read
    does online): collect each key's versions from all live replicas,
    reconcile by LWW timestamp, and ship repair mutations to every
    replica that returned a stale or missing version.

    Fixture: three replica relations derived deterministically from
    orders — replica A has a stale value (ts−5) for keys %499, B misses
    keys %991 and is stale (ts−3) for %503, C misses keys %997 — so
    every divergence class (stale-value, missing-row, clean) appears and
    some keys are divergent on two replicas at once (lcm pairs exist at
    sf0.1).  Output: per replica the present/stale/missing/repair
    counts, plus the reconciled key count and value checksum the repair
    must converge every replica TO (the b2 LWW truth).

    Exactness: versions are (BIGINT value, BIGINT ts); reconciliation is
    MAX(ts) then MAX(value) among max-ts versions (single-version by
    construction, the tie-break is belt-and-braces determinism).

    Scale shape: one shuffle per replica on the key (the union's hash
    agg), then three broadcast-free equi joins reconciled⋈replica that
    AQE plans as SMJ over the same key partitioning; per-key work is
    O(replication factor), the 100 TB cost is 3 scans + 1 agg + 3 joins
    — exactly the coordinator's per-read cost amortized batch-side."""
    o = fan_out(Tables(spark, sf_dir).orders)
    # r11 (guide §2.4): ``reconciled`` feeds the total + three audit
    # joins — fully lazy the LWW agg (and the scan under it) re-derived
    # per consumer (23 Exchanges).  One persist-backed cut on the agg
    # runs it once; cutting ``base`` itself was measured SLOWER (the
    # replica projections re-derive cheaply in parallel from the scan).
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        (F.col("o_orderkey") * 100).cast("long").alias("ts"),
    )
    ra = base.select(
        "k",
        F.when(F.col("k") % 499 == 0, F.col("v") - 7).otherwise(F.col("v")).alias("v"),
        F.when(F.col("k") % 499 == 0, F.col("ts") - 5).otherwise(F.col("ts")).alias("ts"),
    )
    rb = base.where(F.col("k") % 991 != 0).select(
        "k",
        F.when(F.col("k") % 503 == 0, F.col("v") - 3).otherwise(F.col("v")).alias("v"),
        F.when(F.col("k") % 503 == 0, F.col("ts") - 3).otherwise(F.col("ts")).alias("ts"),
    )
    rc = base.where(F.col("k") % 997 != 0)
    allv = ra.unionByName(rb).unionByName(rc)
    reconciled = allv.groupBy("k").agg(
        F.max("ts").alias("ts"),
        F.expr("max_by(v, struct(ts, v))").cast("long").alias("v"),
    ).localCheckpoint(eager=False)
    tot = reconciled.agg(
        F.sum("v").cast("long").alias("total_value"),
        F.count("*").cast("long").alias("n_keys"),
    )

    def audit(rep: DataFrame, name: str) -> DataFrame:
        j = reconciled.select("k", F.col("ts").alias("mts")).join(
            rep.select("k", F.col("ts").alias("rts")), "k", "left"
        )
        return j.agg(
            F.lit(name).alias("replica"),
            F.count("rts").cast("long").alias("n_present"),
            F.sum(
                F.when(F.col("rts").isNotNull() & (F.col("rts") < F.col("mts")), 1)
                .otherwise(0)
            ).cast("long").alias("n_stale"),
            F.sum(F.when(F.col("rts").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_missing"),
        )

    out = audit(ra, "A").unionByName(audit(rb, "B")).unionByName(audit(rc, "C"))
    return (
        out.withColumn(
            "n_repair", (F.col("n_stale") + F.col("n_missing")).cast("long")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "replica", "n_present", "n_stale", "n_missing", "n_repair",
            "n_keys", "total_value",
        )
    )


@register(
    "j111_t_closeness",
    oracle="""
    WITH sens AS (
        SELECT c_mktsegment AS seg, c_nationkey AS nat,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) // 200000 AS b
        FROM customer
    ), bins AS (
        SELECT DISTINCT b FROM sens
    ), nbins AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m FROM bins
    ), gdist AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS cg FROM sens GROUP BY 1
    ), ntot AS (
        SELECT CAST(SUM(cg) AS BIGINT) AS n FROM gdist
    ), cls AS (
        SELECT seg, nat, CAST(COUNT(*) AS BIGINT) AS ng FROM sens GROUP BY 1, 2
    ), grid AS (
        SELECT c.seg, c.nat, c.ng, g.b, g.cg,
               CAST(COALESCE(s.c, 0) AS BIGINT) AS cgb
        FROM cls c
        CROSS JOIN gdist g
        LEFT JOIN (
            SELECT seg, nat, b, CAST(COUNT(*) AS BIGINT) AS c
            FROM sens GROUP BY 1, 2, 3
        ) s ON s.seg = c.seg AND s.nat = c.nat AND s.b = g.b
    ), cums AS (
        SELECT seg, nat, ng, b,
               SUM(cgb) OVER (PARTITION BY seg, nat ORDER BY b) AS cum_c,
               SUM(cg)  OVER (PARTITION BY seg, nat ORDER BY b) AS cum_g
        FROM grid
    )
    SELECT c.seg AS c_mktsegment, CAST(c.nat AS INTEGER) AS c_nationkey,
           MAX(c.ng) AS class_size,
           CAST(SUM(ABS(c.cum_c * t.n - c.cum_g * c.ng)) * 1000
                // (c.ng * t.n * (nb.m - 1)) AS BIGINT) AS emd_milli
    FROM cums c CROSS JOIN ntot t CROSS JOIN nbins nb
    GROUP BY c.seg, c.nat, c.ng, t.n, nb.m
    """,
    survey="J111,J84,J102",
)
def j111_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    rung of the release-privacy ladder this engine already walks: j84's
    k-anonymity bounds CLASS SIZE, j102's l-diversity bounds sensitive
    DISTINCTNESS, but a class can be large and diverse yet still leak by
    SKEW (90% of one nation's customers in the top balance bucket tells
    an attacker plenty).  t-closeness bounds the DISTANCE between each
    quasi-identifier class's sensitive distribution and the global one;
    for an ORDERED sensitive attribute the distance is the Earth Mover's
    Distance = mean absolute gap between cumulative distributions.

    Same quasi-identifiers (mktsegment, nation) and the same sensitive
    bucketing (2000-currency acctbal bins) as j84/j102, so the three
    audits read as one report.

    Exactness: per (class, bin) the CDF gap |cum_c/ng − cum_g/N| is kept
    as the exact integer |cum_c·N − cum_g·ng| over the common
    denominator ng·N; the EMD is one integer division at the end —
    emd_milli = Σ|…|·1000 DIV (ng·N·(m−1)) — no float anywhere; python
    pin replays the fractions with Fraction-free integer arithmetic.

    Scale shape: one scan → (class, bin) hash agg; the grid is
    |classes|×|bins| (QI-domain-bounded, KB), the cumulative window is
    PARTITIONED per class over ≤|bins| rows — never a corpus-volume
    window."""
    c = fan_out(Tables(spark, sf_dir).customer)
    # r11 (guide §2.4): the narrow 3-col projection feeds the global, the
    # class and the cell aggs (3 scans → 1), and the ≤bins-row global
    # histogram feeds the n/m folds and the grid cross — cut both.
    sens = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.expr(
            "CAST(ROUND(c_acctbal * 100) AS BIGINT) div 200000"
        ).alias("b"),
    ).localCheckpoint(eager=False)
    glob = (
        sens.groupBy("b")
        .agg(F.count("*").cast("long").alias("cg"))
        .localCheckpoint(eager=False)
    )
    ntot = glob.agg(F.sum("cg").cast("long").alias("n"))
    nbins = glob.agg(F.count("*").cast("long").alias("m"))
    cls = sens.groupBy("seg", "nat").agg(F.count("*").cast("long").alias("ng"))
    cell = sens.groupBy("seg", "nat", "b").agg(
        F.count("*").cast("long").alias("c")
    )
    grid = (
        cls.crossJoin(F.broadcast(glob))
        .join(cell, ["seg", "nat", "b"], "left")
        .select(
            "seg", "nat", "ng", "b", "cg",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("cgb"),
        )
    )
    w = Window.partitionBy("seg", "nat").orderBy("b")
    cums = grid.select(
        "seg", "nat", "ng",
        F.sum("cgb").over(w).alias("cum_c"),
        F.sum("cg").over(w).alias("cum_g"),
    )
    return (
        cums.crossJoin(F.broadcast(ntot))
        .crossJoin(F.broadcast(nbins))
        .groupBy(
            F.col("seg").alias("c_mktsegment"),
            F.col("nat").cast("int").alias("c_nationkey"),
            "ng", "n", "m",
        )
        .agg(
            F.sum(
                F.abs(F.col("cum_c") * F.col("n") - F.col("cum_g") * F.col("ng"))
            ).alias("s")
        )
        .select(
            "c_mktsegment",
            "c_nationkey",
            F.col("ng").alias("class_size"),
            F.expr("CAST(s * 1000 div (ng * n * (m - 1)) AS BIGINT)").alias(
                "emd_milli"
            ),
        )
    )


@register(
    "j112_hits_scores",
    oracle="""
    WITH e AS (
        SELECT DISTINCT l_orderkey % 512 AS u, l_partkey % 512 AS v
        FROM lineitem WHERE l_orderkey % 10 = 0
    ), h0 AS (
        SELECT DISTINCT u, CAST(1000000 AS BIGINT) AS s FROM e
    ), a1r AS MATERIALIZED (
        SELECT e.v, CAST(SUM(h0.s) AS BIGINT) AS r
        FROM e JOIN h0 ON h0.u = e.u GROUP BY e.v
    ), a1 AS MATERIALIZED (
        SELECT v, CAST(r * 1000000 // (SELECT SUM(r) FROM a1r) AS BIGINT) AS s
        FROM a1r
    ), h1r AS MATERIALIZED (
        SELECT e.u, CAST(SUM(a1.s) AS BIGINT) AS r
        FROM e JOIN a1 ON a1.v = e.v GROUP BY e.u
    ), h1 AS MATERIALIZED (
        SELECT u, CAST(r * 1000000 // (SELECT SUM(r) FROM h1r) AS BIGINT) AS s
        FROM h1r
    ), a2r AS MATERIALIZED (
        SELECT e.v, CAST(SUM(h1.s) AS BIGINT) AS r
        FROM e JOIN h1 ON h1.u = e.u GROUP BY e.v
    ), a2 AS MATERIALIZED (
        SELECT v, CAST(r * 1000000 // (SELECT SUM(r) FROM a2r) AS BIGINT) AS s
        FROM a2r
    ), h2r AS MATERIALIZED (
        SELECT e.u, CAST(SUM(a2.s) AS BIGINT) AS r
        FROM e JOIN a2 ON a2.v = e.v GROUP BY e.u
    ), h2 AS MATERIALIZED (
        SELECT u, CAST(r * 1000000 // (SELECT SUM(r) FROM h2r) AS BIGINT) AS s
        FROM h2r
    ), a3r AS MATERIALIZED (
        SELECT e.v, CAST(SUM(h2.s) AS BIGINT) AS r
        FROM e JOIN h2 ON h2.u = e.u GROUP BY e.v
    ), a3 AS MATERIALIZED (
        SELECT v, CAST(r * 1000000 // (SELECT SUM(r) FROM a3r) AS BIGINT) AS s
        FROM a3r
    ), h3r AS MATERIALIZED (
        SELECT e.u, CAST(SUM(a3.s) AS BIGINT) AS r
        FROM e JOIN a3 ON a3.v = e.v GROUP BY e.u
    ), h3 AS MATERIALIZED (
        SELECT u, CAST(r * 1000000 // (SELECT SUM(r) FROM h3r) AS BIGINT) AS s
        FROM h3r
    )
    SELECT 'hub' AS side, CAST(u AS BIGINT) AS node, s AS score_micro FROM h3
    UNION ALL
    SELECT 'auth', CAST(v AS BIGINT), s FROM a3
    """,
    survey="J112,J71,J40",
)
def j112_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) on the order↔part
    bipartite graph — the fourth canonical iterative graph workload
    after components (j90), cores (j100) and PageRank (j71), and the one
    whose update rule ALTERNATES sides: authority = Σ linking hubs, hub
    = Σ linked authorities, L1-renormalized each half-step.  PageRank's
    single stochastic matrix cannot express this mutual recursion.

    Exactness (the j71/j104 integer-lattice discipline): scores live on
    the micro lattice, every half-step is s′ = raw·1e6 DIV Σraw — pure
    BIGINT, no float anywhere, mirrored verbatim by the unrolled
    MATERIALIZED CTE oracle and replayed by the python pin; 3 full
    iterations certified (both final vectors hashed, hub AND auth).

    Scale shape: edges distinct once (localCheckpoint), each half-step
    is one |E| hash join + one hash agg + a 1-row total broadcast; the
    node domain is 512+512 (KB relations), so at 100 TB the only
    volume-scaled work is the initial distinct."""
    li = fan_out(Tables(spark, sf_dir).lineitem)
    e = (
        li.where(F.col("l_orderkey") % 10 == 0)
        .select(
            (F.col("l_orderkey") % 512).alias("u"),
            (F.col("l_partkey") % 512).alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    h = e.select("u").distinct().select("u", F.lit(1000000).cast("long").alias("s"))

    def half_step(scores: DataFrame, from_col: str, to_col: str) -> DataFrame:
        raw = (
            e.join(scores.withColumnRenamed(from_col, "__k"),
                   F.col("__k") == F.col(from_col))
            .groupBy(to_col)
            .agg(F.sum("s").cast("long").alias("r"))
        )
        tot = raw.agg(F.sum("r").cast("long").alias("t"))
        return (
            raw.crossJoin(F.broadcast(tot))
            .select(
                to_col,
                F.expr("CAST(r * 1000000 div t AS BIGINT)").alias("s"),
            )
            .localCheckpoint(eager=True)
        )

    for _ in range(3):
        a = half_step(h, "u", "v")
        h = half_step(a, "v", "u")
    return h.select(
        F.lit("hub").alias("side"),
        F.col("u").cast("long").alias("node"),
        F.col("s").alias("score_micro"),
    ).unionByName(
        a.select(
            F.lit("auth").alias("side"),
            F.col("v").cast("long").alias("node"),
            F.col("s").alias("score_micro"),
        )
    )


@register(
    "e96_fleiss_kappa",
    oracle="""
    WITH ratings AS (
        SELECT doc_id, n_chars % 3 AS cat FROM documents
        UNION ALL
        SELECT doc_id, (n_chars // 7) % 3 FROM documents
        UNION ALL
        SELECT doc_id, (doc_id * 31) % 3 FROM documents
    ), cell AS (
        SELECT doc_id, cat, CAST(COUNT(*) AS BIGINT) AS nij
        FROM ratings GROUP BY 1, 2
    ), per_item AS (
        SELECT doc_id, CAST(SUM(nij * nij) - 3 AS BIGINT) AS agree2
        FROM cell GROUP BY 1
    ), cat_tot AS (
        SELECT cat, CAST(SUM(nij) AS BIGINT) AS cj FROM cell GROUP BY 1
    ), n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM per_item
    ), pbar AS (
        SELECT CAST(SUM(p.agree2) * 1000000 // (n.n_items * 3 * 2) AS BIGINT)
               AS p_bar_micro
        FROM per_item p CROSS JOIN n GROUP BY n.n_items
    ), pe AS (
        SELECT CAST(SUM(c.cj * c.cj) * 1000000
                    // ((n.n_items * 3) * (n.n_items * 3)) AS BIGINT)
               AS p_e_micro
        FROM cat_tot c CROSS JOIN n GROUP BY n.n_items
    )
    SELECT n.n_items,
           (SELECT cj FROM cat_tot WHERE cat = 0) AS c0,
           (SELECT cj FROM cat_tot WHERE cat = 1) AS c1,
           (SELECT cj FROM cat_tot WHERE cat = 2) AS c2,
           pbar.p_bar_micro, pe.p_e_micro,
           CAST((pbar.p_bar_micro - pe.p_e_micro) * 1000
                // (1000000 - pe.p_e_micro) AS BIGINT) AS kappa_milli
    FROM n CROSS JOIN pbar CROSS JOIN pe
    """,
    survey="E96,E53,J31",
)
def e96_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement for MANY raters (the
    m>2 generalization e53's Cohen kappa cannot express: Cohen is
    pairwise by construction; multi-annotator labeling campaigns report
    Fleiss).  Three deterministic weak annotators label every document
    into 3 categories (length-parity heuristics — the OPERATOR under
    certification is the kappa computation, the annotators are the
    fixture): per item P_i = (Σ_j n_ij² − m)/(m(m−1)), chance agreement
    P̄e = Σ_j p_j².

    Exactness: both P̄ and P̄e are quantized to the micro lattice FIRST
    (exact integer divisions: Σagree·1e6 DIV Nm(m−1) and Σc_j²·1e6 DIV
    (Nm)²), then κ_milli = (P̄−P̄e)·1000 DIV (1e6−P̄e) — pure integer
    end-to-end, identical in both engines (quantize-before-ratio is the
    e96 contract, documented; the pin replays it and also checks the
    unquantized float κ agrees to 1e-3).

    Scale shape: one scan unioned 3× (rater functions are expressions,
    not joins) → (item, cat) hash agg → per-item agg + a 3-row category
    agg; everything after the first agg is KB."""
    d = fan_out(Tables(spark, sf_dir).documents)
    r1 = d.select("doc_id", (F.col("n_chars") % 3).alias("cat"))
    r2 = d.select("doc_id", F.expr("(n_chars div 7) % 3").alias("cat"))
    r3 = d.select("doc_id", ((F.col("doc_id") * 31) % 3).alias("cat"))
    # r11 (guide §2.4): cell feeds per_item + cat_tot, which in turn feed
    # two folds each — fully lazy the 3x-union corpus scan re-derived per
    # consumer (28 Exchanges).  Lazy (persist-backed) cuts run it once.
    cell = (
        r1.unionByName(r2)
        .unionByName(r3)
        .groupBy("doc_id", "cat")
        .agg(F.count("*").cast("long").alias("nij"))
        .localCheckpoint(eager=False)
    )
    per_item = cell.groupBy("doc_id").agg(
        (F.sum(F.col("nij") * F.col("nij")) - 3).cast("long").alias("agree2")
    ).localCheckpoint(eager=False)
    cat_tot = cell.groupBy("cat").agg(
        F.sum("nij").cast("long").alias("cj")
    ).localCheckpoint(eager=False)
    n = per_item.agg(F.count("*").cast("long").alias("n_items"))
    pbar = (
        per_item.agg(F.sum("agree2").cast("long").alias("sa"))
        .crossJoin(F.broadcast(n))
        .select(
            "n_items",
            F.expr("CAST(sa * 1000000 div (n_items * 3 * 2) AS BIGINT)").alias(
                "p_bar_micro"
            ),
        )
    )
    pe = (
        cat_tot.agg(F.sum(F.col("cj") * F.col("cj")).cast("long").alias("sc"))
        .crossJoin(F.broadcast(n))
        .select(
            F.expr(
                "CAST(sc * 1000000 div ((n_items * 3) * (n_items * 3)) AS BIGINT)"
            ).alias("p_e_micro")
        )
    )
    cj = cat_tot.groupBy().pivot("cat", [0, 1, 2]).sum("cj")
    return (
        pbar.crossJoin(F.broadcast(pe))
        .crossJoin(F.broadcast(cj))
        .select(
            "n_items",
            F.col("0").cast("long").alias("c0"),
            F.col("1").cast("long").alias("c1"),
            F.col("2").cast("long").alias("c2"),
            "p_bar_micro",
            "p_e_micro",
            F.expr(
                "CAST((p_bar_micro - p_e_micro) * 1000"
                " div (1000000 - p_e_micro) AS BIGINT)"
            ).alias("kappa_milli"),
        )
    )


# --------------------------------------------------------------------------
# Batch 3: time-series control/randomness tests and stratified inference.
# --------------------------------------------------------------------------


@register(
    "f42_ewma_control",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT event_type,
               epoch_us(ts) // 86400000000 AS day_idx,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), numbered AS (
        SELECT event_type, day_idx, x,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY day_idx) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
               CAST(SUM(x) OVER (PARTITION BY event_type)
                    // COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS mu
        FROM daily
    ), chain AS (
        SELECT event_type, rn, n_days, mu,
               CAST((x + 7 * mu) // 8 AS BIGINT) AS z,
               ABS(CAST((x + 7 * mu) // 8 AS BIGINT) - mu) AS max_dev,
               CASE WHEN ABS(CAST((x + 7 * mu) // 8 AS BIGINT) - mu)
                         > mu // 10 THEN 1 ELSE 0 END AS n_alarms
        FROM numbered WHERE rn = 1
        UNION ALL
        SELECT b.event_type, b.rn, b.n_days, b.mu,
               CAST((b.x + 7 * c.z) // 8 AS BIGINT),
               GREATEST(c.max_dev, ABS(CAST((b.x + 7 * c.z) // 8 AS BIGINT)
                                       - b.mu)),
               c.n_alarms + CASE WHEN ABS(CAST((b.x + 7 * c.z) // 8
                                              AS BIGINT) - b.mu) > b.mu // 10
                                 THEN 1 ELSE 0 END
        FROM chain c
        JOIN numbered b
          ON b.event_type = c.event_type AND b.rn = c.rn + 1
    )
    SELECT event_type, n_days,
           CAST(n_alarms AS BIGINT) AS n_alarms,
           CAST(max_dev AS BIGINT) AS max_dev_cents,
           CAST(z AS BIGINT) AS z_final_cents
    FROM chain WHERE rn = n_days
    """,
    survey="F42,F29,F15",
)
def f42_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (Roberts 1959) — the GEOMETRIC-memory change
    detector next to f29's CUSUM (cumulative-memory) and f20's MAD
    (memoryless): z_i = λ·x_i + (1−λ)·z_{i−1} responds to small
    persistent shifts faster than a Shewhart rule and forgets old
    regimes, which CUSUM by construction cannot.  λ = 1/8 on the integer
    cent lattice: z_i = (x_i + 7·z_{i−1}) DIV 8, z_0 seeded at the
    per-type truncating mean; alarm band = μ DIV 10 (a DEFINED integer
    statistic, the f29 h = μ DIV 4 discipline).

    Exactness: pure BIGINT recursion mirrored verbatim by the oracle's
    WITH RECURSIVE chain; truncation toward zero is identical in both
    engines (x, z ≥ 0 here anyway); python trunc-division replay pin.

    Scale shape: f29's exactly — daily pre-agg (the only volume term),
    coalesce(1) on the calendar-bounded |types|×|days| relation, ~30
    broadcast-joined UnionLoop iterations in lockstep across types."""
    ev = Tables(spark, sf_dir).events
    ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) DIV 86400000000").alias("day_idx"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("x")
    ).coalesce(1).createOrReplaceTempView("cs2h_daily_ewma")
    # r11 (the sql_api_recursive_cte/f29 treatment): materialize the
    # loop-invariant ``numbered`` once — the UnionLoop used to re-derive
    # the events scan + daily agg + windows under every iteration — and
    # broadcast the KB step side.  Values and oracle text unchanged.
    spark.sql(
        """
        SELECT event_type, day_idx, x,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day_idx) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n_days,
               SUM(x) OVER (PARTITION BY event_type)
                   DIV COUNT(*) OVER (PARTITION BY event_type) AS mu
        FROM cs2h_daily_ewma
        """
    ).localCheckpoint(eager=False).createOrReplaceTempView("cs2h_numbered_ewma")
    return spark.sql(
        """
        WITH RECURSIVE numbered AS (
            SELECT event_type, day_idx, x, rn, n_days, mu
            FROM cs2h_numbered_ewma
        ), chain AS (
            SELECT event_type, rn, n_days, mu,
                   (x + 7 * mu) DIV 8 AS z,
                   ABS((x + 7 * mu) DIV 8 - mu) AS max_dev,
                   CASE WHEN ABS((x + 7 * mu) DIV 8 - mu) > mu DIV 10
                        THEN 1 ELSE 0 END AS n_alarms
            FROM numbered WHERE rn = 1
            UNION ALL
            SELECT /*+ BROADCAST(b) */ b.event_type, b.rn, b.n_days, b.mu,
                   (b.x + 7 * c.z) DIV 8,
                   GREATEST(c.max_dev, ABS((b.x + 7 * c.z) DIV 8 - b.mu)),
                   c.n_alarms + CASE WHEN ABS((b.x + 7 * c.z) DIV 8 - b.mu)
                                          > b.mu DIV 10
                                     THEN 1 ELSE 0 END
            FROM chain c
            JOIN numbered b
              ON b.event_type = c.event_type AND b.rn = c.rn + 1
        )
        SELECT event_type, n_days,
               CAST(n_alarms AS BIGINT) AS n_alarms,
               CAST(max_dev AS BIGINT) AS max_dev_cents,
               CAST(z AS BIGINT) AS z_final_cents
        FROM chain WHERE rn = n_days
        """
    )


@register(
    "f43_runs_test",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               epoch_us(ts) // 86400000000 AS day_idx,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), mu AS (
        SELECT event_type,
               CAST(SUM(x) // COUNT(*) AS BIGINT) AS mu
        FROM daily GROUP BY 1
    ), signs AS (
        SELECT d.event_type, d.day_idx,
               CASE WHEN d.x > m.mu THEN 1 ELSE 0 END AS s
        FROM daily d JOIN mu m ON m.event_type = d.event_type
        WHERE d.x <> m.mu
    ), lagged AS (
        SELECT event_type, s,
               LAG(s) OVER (PARTITION BY event_type ORDER BY day_idx) AS ps
        FROM signs
    ), agg AS (
        SELECT event_type,
               CAST(SUM(s) AS BIGINT) AS n1,
               CAST(SUM(1 - s) AS BIGINT) AS n0,
               CAST(1 + SUM(CASE WHEN ps IS NOT NULL AND s <> ps
                                 THEN 1 ELSE 0 END) AS BIGINT) AS r
        FROM lagged GROUP BY 1
    )
    SELECT event_type, n1, n0, r,
           CAST(FLOOR((CAST(r AS DOUBLE) - (1.0 + 2.0 * n1 * n0 / (n1 + n0)))
                / sqrt(2.0 * n1 * n0 * (2.0 * n1 * n0 - n1 - n0)
                       / ((CAST(n1 + n0 AS DOUBLE)) * (n1 + n0)
                          * (n1 + n0 - 1))) * 1000) AS BIGINT) AS z_milli
    FROM agg
    """,
    survey="F43,E47,F33",
)
def f43_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event type — the RANDOMNESS gate the
    trend/changepoint tier needs answered first (e47 asks "is there a
    monotone trend?", f33 "where did the level shift?"; THIS asks "is
    the sequence even distinguishable from noise?"): too FEW runs of
    above/below-center days means clustering/regimes, too many means
    oscillation.  Center line = the per-type truncating-mean of daily
    cents (exact integer); tie days (x == μ) are dropped, the classic
    treatment.

    Exactness: n1/n0/runs are pure BIGINT window counts; z's expected
    value and variance use ONE shared explicitly-double chain (the e84
    CAST rule via 1.0/2.0 literals on both engines), milli-floored;
    python float replay pin at ±1 milli.

    Scale shape: daily pre-agg (volume term) → KB per-type LAG window →
    3-stat fold; calendar-bounded everywhere after the first agg."""
    ev = Tables(spark, sf_dir).events
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) DIV 86400000000").alias("day_idx"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    mu = daily.groupBy("event_type").agg(
        F.expr("SUM(x) DIV COUNT(*)").alias("mu")
    )
    signs = (
        daily.join(mu, "event_type")
        .where(F.col("x") != F.col("mu"))
        .select(
            "event_type", "day_idx",
            F.when(F.col("x") > F.col("mu"), 1).otherwise(0).alias("s"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day_idx")
    lagged = signs.select(
        "event_type", "s", F.lag("s").over(w).alias("ps")
    )
    agg = lagged.groupBy("event_type").agg(
        F.sum("s").cast("long").alias("n1"),
        F.sum(1 - F.col("s")).cast("long").alias("n0"),
        (
            1
            + F.sum(
                F.when(F.col("ps").isNotNull() & (F.col("s") != F.col("ps")), 1)
                .otherwise(0)
            )
        ).cast("long").alias("r"),
    )
    return agg.select(
        "event_type", "n1", "n0", "r",
        F.expr(
            "CAST(FLOOR((CAST(r AS DOUBLE) - (1.0 + 2.0 * n1 * n0 / (n1 + n0)))"
            " / sqrt(2.0 * n1 * n0 * (2.0 * n1 * n0 - n1 - n0)"
            " / ((CAST(n1 + n0 AS DOUBLE)) * (n1 + n0)"
            " * (n1 + n0 - 1))) * 1000) AS BIGINT)"
        ).alias("z_milli"),
    )


@register(
    "f44_turning_points",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               epoch_us(ts) // 86400000000 AS day_idx,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), ctx AS (
        SELECT event_type, x,
               LAG(x)  OVER (PARTITION BY event_type ORDER BY day_idx) AS px,
               LEAD(x) OVER (PARTITION BY event_type ORDER BY day_idx) AS nx
        FROM daily
    ), agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(CASE WHEN px IS NOT NULL AND nx IS NOT NULL
                             AND ((x > px AND x > nx) OR (x < px AND x < nx))
                             THEN 1 ELSE 0 END) AS BIGINT) AS t
        FROM ctx GROUP BY 1
    )
    SELECT event_type, n_days, t,
           CAST(FLOOR((CAST(t AS DOUBLE) - 2.0 * (n_days - 2) / 3.0)
                / sqrt((16.0 * n_days - 29.0) / 90.0) * 1000) AS BIGINT)
               AS z_milli
    FROM agg
    """,
    survey="F44,F43,E47",
)
def f44_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point test per event type — the second classical
    randomness screen next to f43's runs test, sensitive to a DIFFERENT
    departure: runs counts above/below-center clustering (level
    regimes), turning points count local extrema (x_{i−1} < x_i > x_{i+1}
    or the reverse), so too few flags SMOOTH trends/cycles and too many
    flags negative autocorrelation even when the level never crosses
    center.  E[T] = 2(n−2)/3, Var[T] = (16n−29)/90 under i.i.d.

    Exactness: T is a pure BIGINT LAG/LEAD window count with STRICT
    comparisons (tie-adjacent days are not extrema — stated rule); z
    from ONE shared explicitly-double chain, milli-floored; python
    replay pin at ±1 milli.

    Scale shape: daily pre-agg → one calendar-bounded per-type window →
    2-stat fold; no joins."""
    ev = Tables(spark, sf_dir).events
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) DIV 86400000000").alias("day_idx"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    w = Window.partitionBy("event_type").orderBy("day_idx")
    ctx = daily.select(
        "event_type", "x",
        F.lag("x").over(w).alias("px"),
        F.lead("x").over(w).alias("nx"),
    )
    agg = ctx.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(
            F.when(
                F.col("px").isNotNull()
                & F.col("nx").isNotNull()
                & (
                    ((F.col("x") > F.col("px")) & (F.col("x") > F.col("nx")))
                    | ((F.col("x") < F.col("px")) & (F.col("x") < F.col("nx")))
                ),
                1,
            ).otherwise(0)
        ).cast("long").alias("t"),
    )
    return agg.select(
        "event_type", "n_days", "t",
        F.expr(
            "CAST(FLOOR((CAST(t AS DOUBLE) - 2.0 * (n_days - 2) / 3.0)"
            " / sqrt((16.0 * n_days - 29.0) / 90.0) * 1000) AS BIGINT)"
        ).alias("z_milli"),
    )


@register(
    "e97_grubbs_outlier",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               epoch_us(ts) // 86400000000 AS day_idx,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(x * x) AS BIGINT) AS s2
        FROM daily GROUP BY 1
    ), dev AS (
        SELECT d.event_type, st.n, st.s, st.s2, d.day_idx,
               ABS(st.n * d.x - st.s) AS ndev
        FROM daily d JOIN stats st ON st.event_type = d.event_type
    ), best AS (
        SELECT event_type, n, s, s2,
               MAX(ndev) AS max_ndev,
               MIN(CASE WHEN ndev = mx THEN day_idx END) AS day_of_max
        FROM (SELECT *, MAX(ndev) OVER (PARTITION BY event_type) AS mx
              FROM dev)
        GROUP BY 1, 2, 3, 4
    )
    SELECT event_type, n,
           CAST(day_of_max AS BIGINT) AS day_of_max,
           CAST(FLOOR(CAST(max_ndev AS DOUBLE) * sqrt(CAST(n - 1 AS DOUBLE))
                / sqrt(CAST(n AS DOUBLE) * (n * s2 - s * s)) * 1000)
                AS BIGINT) AS g_milli,
           CAST(CASE WHEN CAST(max_ndev AS DOUBLE)
                          * sqrt(CAST(n - 1 AS DOUBLE))
                          > 3.0 * sqrt(CAST(n AS DOUBLE) * (n * s2 - s * s))
                     THEN 1 ELSE 0 END AS INTEGER) AS beyond_3sigma
    FROM best
    """,
    survey="E97,F20,E28",
)
def e97_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' extreme-studentized-deviate statistic per event type — the
    single-most-extreme-point question the robust tier leaves open
    (f20's MAD flags ALL outliers against a robust spread; e28's
    trimmed mean REMOVES tails; Grubbs asks "is the one most extreme
    day beyond what n draws from a normal explain?").  G = max|x−x̄|/s,
    reported milli-floored with the argmax day, plus the conventional
    3σ screen as an in-band decision (the n-dependent Grubbs critical
    value is a table lookup; the DEFINED 3.0 cut keeps the statistic
    data-shape-free — stated rule, same contract as f29's h = μ DIV 4).

    Exactness: deviations stay on the n-SCALED integer lattice
    (|n·x − S| — never a float mean), the variance term n·Σx²−S² is an
    exact BIGINT, and G's final chain is ONE shared explicitly-double
    template; the 3σ decision compares the SAME integers cross-scaled
    so it is float-robust by magnitude; python replay pin at ±1 milli.

    Scale shape: daily pre-agg → 3-stat hash agg → one KB join back for
    the argmax window; everything after the pre-agg is calendar-bounded."""
    ev = Tables(spark, sf_dir).events
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) DIV 86400000000").alias("day_idx"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    dev = daily.join(stats, "event_type").select(
        "event_type", "n", "s", "s2", "day_idx",
        F.abs(F.col("n") * F.col("x") - F.col("s")).alias("ndev"),
    )
    wmax = Window.partitionBy("event_type")
    best = (
        dev.withColumn("mx", F.max("ndev").over(wmax))
        .groupBy("event_type", "n", "s", "s2")
        .agg(
            F.max("ndev").alias("max_ndev"),
            F.min(
                F.when(F.col("ndev") == F.col("mx"), F.col("day_idx"))
            ).alias("day_of_max"),
        )
    )
    return best.select(
        "event_type", "n",
        F.col("day_of_max").cast("long").alias("day_of_max"),
        F.expr(
            "CAST(FLOOR(CAST(max_ndev AS DOUBLE) * sqrt(CAST(n - 1 AS DOUBLE))"
            " / sqrt(CAST(n AS DOUBLE) * (n * s2 - s * s)) * 1000) AS BIGINT)"
        ).alias("g_milli"),
        F.expr(
            "CAST(CASE WHEN CAST(max_ndev AS DOUBLE)"
            " * sqrt(CAST(n - 1 AS DOUBLE))"
            " > 3.0 * sqrt(CAST(n AS DOUBLE) * (n * s2 - s * s))"
            " THEN 1 ELSE 0 END AS INTEGER)"
        ).alias("beyond_3sigma"),
    )


@register(
    "e95_mantel_haenszel",
    oracle="""
    WITH cells AS (
        SELECT o_orderpriority AS stratum,
               CAST(SUM(CASE WHEN o_custkey % 2 = 0
                             AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(SUM(CASE WHEN o_custkey % 2 = 0
                             AND o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(SUM(CASE WHEN o_custkey % 2 <> 0
                             AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(SUM(CASE WHEN o_custkey % 2 <> 0
                             AND o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
        FROM orders GROUP BY 1
    ), terms AS (
        SELECT stratum, a, b, c, d, a + b + c + d AS n,
               CAST(a * d * 1000000 // (a + b + c + d) AS BIGINT) AS r_micro,
               CAST(b * c * 1000000 // (a + b + c + d) AS BIGINT) AS s_micro,
               CAST(a * 1000000
                    - (a + b) * (a + c) * 1000000 // (a + b + c + d)
                    AS BIGINT) AS dev_micro,
               CAST((a + b) * (c + d) * 1000000 // (a + b + c + d)
                    * (a + c) // (a + b + c + d)
                    * (b + d) // ((a + b + c + d) - 1) AS BIGINT) AS var_micro
        FROM cells
    ), fold AS (
        SELECT CAST(SUM(r_micro) AS BIGINT) AS sr,
               CAST(SUM(s_micro) AS BIGINT) AS ss,
               CAST(SUM(dev_micro) AS BIGINT) AS sdev,
               CAST(SUM(var_micro) AS BIGINT) AS svar
        FROM terms
    )
    SELECT t.stratum, t.a, t.b, t.c, t.d,
           CAST(f.sr * 1000 // f.ss AS BIGINT) AS or_mh_milli,
           CAST(f.sdev // 1000 * (f.sdev // 1000) // f.svar * 1000
                AS BIGINT) AS chi2_milli
    FROM terms t CROSS JOIN fold f
    """,
    survey="E95,E37,E78",
)
def e95_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel stratified 2×2 analysis — the CONFOUNDER-adjusted
    association the marginal tests cannot give (e37's chi-square on the
    pooled table commits Simpson's paradox when strata differ; e88
    partials out a CONTINUOUS confounder; MH pools odds ratios across
    DISCRETE strata with inverse-n weights): exposure = even customer
    key, outcome = order status F, strata = the five order priorities.
    OR_MH = Σ(a·d/n) / Σ(b·c/n) plus the CMH chi-square
    (Σ(a−E[a]))²/ΣVar with the hypergeometric variance per stratum.

    Exactness: every per-stratum term is quantized to the micro lattice
    via exact integer division BEFORE summation (quantize-before-ratio,
    the e96 contract; the chained var DIVs are stated left-to-right so
    both engines truncate identically), and the final OR/chi² are pure
    integer divisions — no float anywhere; python replay pin plus a 1%
    agreement check against the unquantized float OR.

    Scale shape: one scan → 5-row 2×2 hash agg (map-side combinable) →
    KB fold broadcast back onto the strata rows."""
    o = fan_out(Tables(spark, sf_dir).orders)
    exp_ = (F.col("o_custkey") % 2 == 0)
    out_ = (F.col("o_orderstatus") == "F")
    cells = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.sum(F.when(exp_ & out_, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(exp_ & ~out_, 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(~exp_ & out_, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(~exp_ & ~out_, 1).otherwise(0)).cast("long").alias("d"),
    )
    terms = cells.select(
        "stratum", "a", "b", "c", "d",
        F.expr("CAST(a * d * 1000000 div (a + b + c + d) AS BIGINT)").alias(
            "r_micro"
        ),
        F.expr("CAST(b * c * 1000000 div (a + b + c + d) AS BIGINT)").alias(
            "s_micro"
        ),
        F.expr(
            "CAST(a * 1000000"
            " - (a + b) * (a + c) * 1000000 div (a + b + c + d) AS BIGINT)"
        ).alias("dev_micro"),
        F.expr(
            "CAST((a + b) * (c + d) * 1000000 div (a + b + c + d)"
            " * (a + c) div (a + b + c + d)"
            " * (b + d) div ((a + b + c + d) - 1) AS BIGINT)"
        ).alias("var_micro"),
    )
    fold = terms.agg(
        F.sum("r_micro").cast("long").alias("sr"),
        F.sum("s_micro").cast("long").alias("ss"),
        F.sum("dev_micro").cast("long").alias("sdev"),
        F.sum("var_micro").cast("long").alias("svar"),
    )
    return (
        terms.crossJoin(F.broadcast(fold))
        .select(
            "stratum", "a", "b", "c", "d",
            F.expr("CAST(sr * 1000 div ss AS BIGINT)").alias("or_mh_milli"),
            F.expr(
                "CAST(sdev div 1000 * (sdev div 1000) div svar * 1000"
                " AS BIGINT)"
            ).alias("chi2_milli"),
        )
    )


# --------------------------------------------------------------------------
# Batch 4: LLM-pipeline depth — LM smoothing, graph keyword extraction,
# exact stratified splits, ordinal association.
# --------------------------------------------------------------------------

from cassandra_snap_to_hadoop_spark.operators.text import tokens  # noqa: E402

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_WORDS = f"string_split({_NORM}, ' ')"


@register(
    "j113_good_turing",
    oracle=f"""
    WITH t AS (
        SELECT unnest([array_to_string(w[i:i+2], ' ')
                       for i in range(1, len(w) - 1)]) AS g
        FROM (SELECT {_WORDS} AS w FROM documents)
        WHERE len(w) >= 3
    ), wc AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS r FROM t GROUP BY 1
    ), freqfreq AS (
        SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM wc GROUP BY 1
    ), ntok AS (
        SELECT CAST(SUM(r * n_r) AS BIGINT) AS n FROM freqfreq
    ), gt AS (
        SELECT a.r, a.n_r,
               CAST((a.r + 1) * b.n_r * 1000000 // a.n_r AS BIGINT)
                   AS r_star_micro
        FROM freqfreq a JOIN freqfreq b ON b.r = a.r + 1
        WHERE a.r <= 10
    )
    SELECT CAST(0 AS BIGINT) AS r,
           (SELECT n_r FROM freqfreq WHERE r = 1) AS n_r,
           CAST((SELECT n_r FROM freqfreq WHERE r = 1) * 1000000
                // (SELECT n FROM ntok) AS BIGINT) AS r_star_micro
    UNION ALL
    SELECT r, n_r, r_star_micro FROM gt
    """,
    survey="J113,J103,J41",
)
def j113_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency re-estimation (Good 1953) — the smoothing
    primitive under Katz backoff and the historical ancestor of j103's
    Kneser-Ney: how much probability mass should count-r types REALLY
    get, and how much belongs to the unseen?  r* = (r+1)·N_{{r+1}}/N_r
    from the frequency-of-frequencies table, and the r=0 row carries the
    unseen-mass estimate P₀ = N₁/N — the quantity a corpus-coverage
    claim (j55, j44) silently depends on.  The unit is the TRIGRAM
    shingle (the engine's dedup/novelty unit): this synthetic corpus's
    word unigrams have NO low-count tail (every word repeats hundreds of
    times — measured, not assumed), while its trigram counts show the
    classic Zipf tail GT exists for (N₁ ≈ 9k at every SF).

    Exactness: the freq-of-freq table is pure BIGINT counting; r* is
    one exact integer micro division per row (quantize-at-the-end); the
    r ≤ 10 head is where GT is actually used (beyond that N_r gets
    sparse and practitioners switch to the raw MLE — stated rule);
    python Counter-of-Counters replay pin.

    Scale shape: shingle explode (the volume term) → shingle hash agg →
    the freq-of-freq agg collapses |shingle vocab| rows to ≤ max-count
    rows — a KB self-join on r+1 finishes it."""
    d = fan_out(Tables(spark, sf_dir).documents)
    w = tokens(F.col("text"))
    shingles = F.expr(
        "transform(sequence(1, size(words) - 2),"
        " i -> concat_ws(' ', slice(words, i, 3)))"
    )
    wc = (
        d.select(w.alias("words"))
        .where(F.size("words") >= 3)
        .select(F.explode(shingles).alias("g"))
        .groupBy("g")
        .agg(F.count("*").cast("long").alias("r"))
    )
    # r11 (guide §2.4): the tiny count-of-counts table feeds the token
    # total, both adjacency legs and the unseen row — cut once so the
    # trigram explode+agg chain runs once, not four times.
    ff = (
        wc.groupBy("r")
        .agg(F.count("*").cast("long").alias("n_r"))
        .localCheckpoint(eager=False)
    )
    ntok = ff.agg(F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n"))
    a = ff.select(F.col("r"), F.col("n_r"))
    b = ff.select((F.col("r") - 1).alias("rm1"), F.col("n_r").alias("n_next"))
    gt = (
        a.join(b, F.col("rm1") == F.col("r"))
        .where(F.col("r") <= 10)
        .select(
            "r", "n_r",
            F.expr(
                "CAST((r + 1) * n_next * 1000000 div n_r AS BIGINT)"
            ).alias("r_star_micro"),
        )
    )
    unseen = (
        ff.where(F.col("r") == 1)
        .crossJoin(F.broadcast(ntok))
        .select(
            F.lit(0).cast("long").alias("r"),
            F.col("n_r"),
            F.expr("CAST(n_r * 1000000 div n AS BIGINT)").alias("r_star_micro"),
        )
    )
    return unseen.unionByName(gt)


@register(
    "j114_textrank_keywords",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, w, ord
        FROM (
            SELECT doc_id, unnest({_WORDS}) AS w,
                   generate_subscripts({_WORDS}, 1) AS ord
            FROM documents
        ) WHERE length(w) >= 4
    ), seq AS (
        SELECT doc_id, w,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ord) AS rn
        FROM toks
    ), raw_edges AS (
        SELECT a.w AS u, b.w AS v
        FROM seq a JOIN seq b ON b.doc_id = a.doc_id AND b.rn = a.rn + 1
        WHERE a.w <> b.w
    ), edges AS MATERIALIZED (
        SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM raw_edges
    ), sym AS MATERIALIZED (
        SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
    ), deg AS MATERIALIZED (
        SELECT u AS w, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY 1
    ), s0 AS MATERIALIZED (
        SELECT w, CAST(1000000 AS BIGINT) AS s FROM deg
    ), s1 AS MATERIALIZED (
        SELECT d.w, CAST(150000 + 85 * SUM(s0.s // nd.deg) // 100 AS BIGINT) AS s
        FROM deg d
        JOIN sym e ON e.v = d.w
        JOIN s0 ON s0.w = e.u
        JOIN deg nd ON nd.w = e.u
        GROUP BY d.w
    ), s2 AS MATERIALIZED (
        SELECT d.w, CAST(150000 + 85 * SUM(s1.s // nd.deg) // 100 AS BIGINT) AS s
        FROM deg d
        JOIN sym e ON e.v = d.w
        JOIN s1 ON s1.w = e.u
        JOIN deg nd ON nd.w = e.u
        GROUP BY d.w
    ), s3 AS MATERIALIZED (
        SELECT d.w, CAST(150000 + 85 * SUM(s2.s // nd.deg) // 100 AS BIGINT) AS s
        FROM deg d
        JOIN sym e ON e.v = d.w
        JOIN s2 ON s2.w = e.u
        JOIN deg nd ON nd.w = e.u
        GROUP BY d.w
    )
    SELECT w AS keyword, s AS score_micro,
           CAST(ROW_NUMBER() OVER (ORDER BY s DESC, w) AS BIGINT) AS rank
    FROM s3 ORDER BY s DESC, w LIMIT 10
    """,
    survey="J114,J71,J88",
)
def j114_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004) — the
    GRAPH-centrality keyword scorer next to j88's RAKE (degree/frequency
    heuristic) and j7's TF-IDF (corpus-statistical): PageRank over the
    word co-occurrence graph ranks words by how central they are to the
    corpus's own linking structure, which surfaces connective vocabulary
    the frequency heuristics miss.  Adjacency = consecutive FILTERED
    tokens (length ≥ 4, the content-word proxy), undirected, deduplicated.

    Exactness (the j71/j112 lattice discipline): 3 damped iterations
    s′_v = 150000 + 85·Σ_u (s_u DIV deg_u) DIV 100 — every step pure
    BIGINT with stated division order, mirrored by the unrolled
    MATERIALIZED CTE oracle; global top-10 with the (score DESC, word)
    tiebreak; python replay pin including the rank column.

    Scale shape: tokenize + per-doc adjacency window (the volume terms)
    → DISTINCT edge agg (vocab-bounded) → 3 × (|E| join + hash agg) on
    the KB word graph → TakeOrderedAndProject 10, never a global sort."""
    d = fan_out(Tables(spark, sf_dir).documents)
    w = tokens(F.col("text"))
    toks = (
        d.select("doc_id", F.posexplode(w).alias("ord", "w"))
        .where(F.length("w") >= 4)
    )
    seq = toks.select(
        "doc_id", "w",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("ord"))
        .alias("rn"),
    )
    a, b = seq.alias("a"), seq.alias("b")
    raw = a.join(
        b,
        (F.col("b.doc_id") == F.col("a.doc_id"))
        & (F.col("b.rn") == F.col("a.rn") + 1),
    ).where(F.col("a.w") != F.col("b.w")).select(
        F.least(F.col("a.w"), F.col("b.w")).alias("u"),
        F.greatest(F.col("a.w"), F.col("b.w")).alias("v"),
    )
    edges = raw.distinct().localCheckpoint(eager=True)
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("w")).agg(
        F.count("*").cast("long").alias("deg")
    ).localCheckpoint(eager=True)
    s = deg.select("w", F.lit(1000000).cast("long").alias("s"))
    for _ in range(3):
        contrib = (
            sym.join(s.withColumnRenamed("w", "su"), F.col("su") == F.col("u"))
            .join(deg.select(F.col("w").alias("du"),
                             F.col("deg").alias("deg_u")),
                  F.col("du") == F.col("u"))
            .select(F.col("v").alias("w"),
                    F.expr("s div deg_u").alias("c"))
        )
        s = (
            contrib.groupBy("w")
            .agg(F.expr("CAST(150000 + 85 * SUM(c) div 100 AS BIGINT)").alias("s"))
            .localCheckpoint(eager=True)
        )
    # Global top-10 via TakeOrderedAndProject; the rank column is then a
    # 10x10 broadcast inequality self-join count (rank = 1 + #rows ahead
    # in the (score DESC, word) order) — never an unpartitioned window,
    # even over the 10-row relation (engine-wide plan ban).
    ranked = (
        s.orderBy(F.col("s").desc(), "w").limit(10).localCheckpoint(eager=True)
    )
    a, b = ranked.alias("ra"), ranked.alias("rb")
    ahead = (F.col("rb.s") > F.col("ra.s")) | (
        (F.col("rb.s") == F.col("ra.s")) & (F.col("rb.w") < F.col("ra.w"))
    )
    return (
        a.join(F.broadcast(b), ahead, "left")
        .groupBy(F.col("ra.w").alias("keyword"), F.col("ra.s").alias("score_micro"))
        .agg((F.count(F.col("rb.w")) + 1).cast("long").alias("rank"))
        .orderBy("rank")
    )


@register(
    "j115_stratified_split",
    oracle="""
    WITH ranked AS (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n_s
        FROM documents
    )
    SELECT source,
           CASE WHEN rn * 5 <= n_s * 4 THEN 'train' ELSE 'val' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
    FROM ranked GROUP BY 1, 2
    """,
    survey="J115,J12,J58",
)
def j115_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact STRATIFIED train/val split — the per-stratum guarantee j12's
    hash-threshold split only gives in expectation: every source
    contributes exactly ⌊0.8·n_s⌋ training documents (the binomial
    wobble of per-row hashing is gone), which is what evaluation
    protocols need when a small stratum must not vanish from val by
    chance.  Assignment stays DETERMINISTIC and shuffle-free in the
    randomness sense: documents rank by md5(doc_id) within their
    stratum (a seeded permutation both engines compute identically,
    doc_id tiebreak for md5-collision paranoia), and rank·5 ≤ 4·n_s
    selects the train prefix — integer arithmetic, no float ratio.

    Output per (source, split): count and doc_id checksum — the count
    certifies the exact ⌊0.8 n⌋ law (also python-pinned), the checksum
    certifies the MEMBERSHIP, not just the size.

    Scale shape: one scan → per-stratum rank window (strata partition
    the corpus, windows parallelize across them) → hash agg; at 100 TB
    the window sorts each stratum's (md5, id) pairs — the same cost as
    any per-key total order, no global sort."""
    d = fan_out(Tables(spark, sf_dir).documents)
    wprt = Window.partitionBy("source")
    ranked = d.select(
        "source", "doc_id",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("rn"),
        F.count("*").over(wprt).alias("n_s"),
    )
    return (
        ranked.select(
            "source", "doc_id",
            F.when(F.col("rn") * 5 <= F.col("n_s") * 4, "train")
            .otherwise("val")
            .alias("split"),
        )
        .groupBy("source", "split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("doc_id_sum"),
        )
    )


@register(
    "e98_somers_d",
    oracle="""
    WITH o AS (
        SELECT c.c_nationkey AS nation,
               epoch_us(o.o_orderdate) // 86400000000 // 30 AS m,
               COUNT(*) AS x,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), pairs AS (
        SELECT a.nation,
               CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END AS conc,
               CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END AS disc,
               CASE WHEN a.y = b.y AND a.x <> b.x THEN 1 ELSE 0 END AS tie_y
        FROM o a JOIN o b ON a.nation = b.nation AND a.m < b.m
    )
    SELECT CAST(nation AS BIGINT) AS nation,
           CAST(SUM(conc) AS BIGINT) AS nc,
           CAST(SUM(disc) AS BIGINT) AS nd,
           CAST(SUM(tie_y) AS BIGINT) AS ty,
           CASE WHEN SUM(conc) + SUM(disc) + SUM(tie_y) > 0
                THEN CAST((SUM(conc) - SUM(disc)) * 1000
                     // (SUM(conc) + SUM(disc) + SUM(tie_y)) AS BIGINT)
                ELSE NULL END AS d_milli
    FROM pairs GROUP BY 1
    """,
    survey="E98,E67,E89",
)
def e98_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' D_yx per customer nation — the ASYMMETRIC ordinal
    association the symmetric e67 tau-b cannot state: with monthly order
    count as the independent ordinal and monthly revenue as the
    DEPENDENT one, D_yx = (C−D)/(C+D+T_y) penalizes only ties in the
    dependent variable, making it the effect size that pairs with e89's
    Cochran-Armitage directional test (and the statistic under the
    c-index / AUC identity for binary y).

    Exactness: strictly STRONGER than tau-b's — the denominator has no
    sqrt, so d_milli = (C−D)·1000 DIV (C+D+T_y) is pure integer
    end-to-end (DuckDB // == Spark div on a non-negative denominator);
    concordance counting shares e67's exact BIGINT pairwise lattice;
    python pair-count replay pin.

    Scale shape: e67's exactly — the quadratic term is the
    calendar-bounded per-nation month lattice, constant in corpus
    volume; the orders⋈customer pre-agg is the only volume-scaled work."""
    t = Tables(spark, sf_dir)
    o = (
        t.orders.join(
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.expr("unix_micros(o_orderdate) DIV 86400000000 DIV 30").alias("m"),
        )
        .agg(
            F.count("*").alias("x"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("y"),
        )
    )
    a, b = o.alias("a"), o.alias("b")
    pairs = a.join(
        b, (F.col("a.nation") == F.col("b.nation")) & (F.col("a.m") < F.col("b.m"))
    ).select(
        F.col("a.nation").alias("nation"),
        ((F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y"))).alias("prod"),
        ((F.col("a.y") == F.col("b.y")) & (F.col("a.x") != F.col("b.x"))).alias("ey"),
    )
    agg = pairs.groupBy("nation").agg(
        F.sum(F.when(F.col("prod") > 0, 1).otherwise(0)).cast("long").alias("nc"),
        F.sum(F.when(F.col("prod") < 0, 1).otherwise(0)).cast("long").alias("nd"),
        F.sum(F.when(F.col("ey"), 1).otherwise(0)).cast("long").alias("ty"),
    )
    return agg.select(
        F.col("nation").cast("long").alias("nation"),
        "nc", "nd", "ty",
        F.when(
            (F.col("nc") + F.col("nd") + F.col("ty")) > 0,
            F.expr("CAST((nc - nd) * 1000 div (nc + nd + ty) AS BIGINT)"),
        ).otherwise(F.lit(None)).alias("d_milli"),
    )


# --------------------------------------------------------------------------
# Batch 5: count-model fitting, asymmetric overlap, bitwise function
# coverage, and standardized effect size.
# --------------------------------------------------------------------------


@register(
    "e99_negbin_moments",
    oracle="""
    WITH d AS (
        SELECT event_type,
               epoch_us(ts) // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), st AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(x * x) AS BIGINT) AS q
        FROM d GROUP BY 1
    )
    SELECT event_type, n, s, q,
           CAST(CASE WHEN (n * q - s * s) * 1.0 / (n * (n - 1))
                          > CAST(s AS DOUBLE) / n
                THEN FLOOR((CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)
                     / ((n * q - s * s) * 1.0 / (n * (n - 1))
                        - CAST(s AS DOUBLE) / n) * 1000)
                ELSE NULL END AS BIGINT) AS r_hat_milli,
           CAST(CASE WHEN (n * q - s * s) * 1.0 / (n * (n - 1))
                          > CAST(s AS DOUBLE) / n
                THEN FLOOR((CAST(s AS DOUBLE) / n)
                     / ((n * q - s * s) * 1.0 / (n * (n - 1))) * 1000)
                ELSE NULL END AS BIGINT) AS p_hat_milli
    FROM st
    """,
    survey="E99,F39,E76",
)
def e99_negbin_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit per event type — the
    MODEL-fitting step f39's overdispersion gate points at: once D =
    s²/x̄ rejects the Poisson, the NB(r, p) with r̂ = x̄²/(s²−x̄) and
    p̂ = x̄/s² is the standard count model (e76's per-bucket surprise
    then uses it instead of the Poisson tail).  Fitted on daily EVENT
    COUNTS (not cents — counts are the NB's natural unit).

    The guard is part of the contract: when a type is UNDERdispersed
    (s² ≤ x̄ — this corpus's 'view' type at sf0.001, measured) the NB
    moment estimator does not exist and both engines emit NULL — the
    operator certifies the decision boundary, not just the happy path.

    Exactness: n/S/Q are exact BIGINTs; x̄, s² and the r̂/p̂ chain use
    ONE shared explicitly-double template (1.0-literal multiplications
    and CAST AS DOUBLE on both engines, identical op order),
    milli-floored; python replay pin at ±1 milli.

    Scale shape: daily count agg (volume term) → 3-stat fold; KB."""
    ev = Tables(spark, sf_dir).events
    st = (
        ev.groupBy(
            "event_type",
            F.expr("unix_micros(ts) DIV 86400000000").alias("day"),
        )
        .agg(F.count("*").cast("long").alias("x"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("s"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
        )
    )
    over = "(n * q - s * s) * 1.0 / (n * (n - 1)) > CAST(s AS DOUBLE) / n"
    return st.select(
        "event_type", "n", "s", "q",
        F.expr(
            f"CAST(CASE WHEN {over}"
            " THEN FLOOR((CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)"
            " / ((n * q - s * s) * 1.0 / (n * (n - 1))"
            " - CAST(s AS DOUBLE) / n) * 1000)"
            " ELSE NULL END AS BIGINT)"
        ).alias("r_hat_milli"),
        F.expr(
            f"CAST(CASE WHEN {over}"
            " THEN FLOOR((CAST(s AS DOUBLE) / n)"
            " / ((n * q - s * s) * 1.0 / (n * (n - 1))) * 1000)"
            " ELSE NULL END AS BIGINT)"
        ).alias("p_hat_milli"),
    )


@register(
    "j116_source_containment",
    oracle=f"""
    WITH sh0 AS (
        SELECT DISTINCT source,
               unnest([array_to_string(w[i:i+2], ' ')
                       for i in range(1, len(w) - 1)]) AS s
        FROM (SELECT source, {_WORDS} AS w FROM documents)
        WHERE len(w) >= 3
    ), mask AS (
        SELECT s, list_sort(list(source)) AS m FROM sh0 GROUP BY s
    ), hist AS (
        SELECT m, CAST(COUNT(*) AS BIGINT) AS cnt FROM mask GROUP BY m
    ), srcs AS (
        SELECT DISTINCT source FROM documents
    ), pairs AS (
        SELECT a.source AS src_a, b.source AS src_b
        FROM srcs a JOIN srcs b ON a.source < b.source
    ), sums AS (
        SELECT p.src_a, p.src_b,
               CAST(SUM(CASE WHEN list_contains(h.m, p.src_a) THEN h.cnt
                             ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN list_contains(h.m, p.src_b) THEN h.cnt
                             ELSE 0 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN list_contains(h.m, p.src_a)
                              AND list_contains(h.m, p.src_b) THEN h.cnt
                             ELSE 0 END) AS BIGINT) AS n_inter
        FROM hist h CROSS JOIN pairs p
        GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_a, n_b, n_inter,
           CAST(n_inter * 1000 // n_a AS BIGINT) AS cont_a_in_b_milli,
           CAST(n_inter * 1000 // n_b AS BIGINT) AS cont_b_in_a_milli
    FROM sums
    """,
    survey="J116,E24,J2",
)
def j116_source_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source-pair shingle CONTAINMENT — the asymmetric overlap
    measure Jaccard (j2) and inclusion-exclusion union accounting (e24)
    both hide: C(A→B) = |A∩B|/|A| asks "how much of A is inside B?",
    which is the question subset/superset dedup (a crawl re-scrape, a
    corpus that bundles another) actually poses — a small source fully
    contained in a large one has tiny Jaccard but containment 1.0 (the
    Broder 1997 distinction; MinHash estimates resemblance, containment
    needs the set sizes this exact tier provides).

    Exactness & plan: the e24 mask-histogram identity — one hash agg per
    shingle to its source-SET, a KB histogram per distinct mask, then
    every pair's |A|, |B|, |A∩B| are CASE sums over that KB relation
    crossed with the broadcast pair list; NO join on shingle values at
    any scale.  Containments are exact integer milli divisions; python
    set replay pin including both directions and the subset law
    max(cont) = 1000 ⟺ one side ⊆ the other."""
    d = fan_out(Tables(spark, sf_dir).documents)
    w = tokens(F.col("text"))
    shingles = F.expr(
        "transform(sequence(1, size(words) - 2),"
        " i -> concat_ws(' ', slice(words, i, 3)))"
    )
    sh0 = (
        d.select("source", w.alias("words"))
        .where(F.size("words") >= 3)
        .select("source", F.explode(shingles).alias("s"))
        .distinct()
    )
    mask = sh0.groupBy("s").agg(F.sort_array(F.collect_set("source")).alias("m"))
    hist = mask.groupBy("m").agg(F.count("*").cast("long").alias("cnt"))
    srcs = d.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("src_a"))
        .join(
            srcs.select(F.col("source").alias("src_b")),
            F.col("src_a") < F.col("src_b"),
        )
    )
    sums = (
        hist.crossJoin(F.broadcast(pairs))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                F.when(F.array_contains("m", F.col("src_a")), F.col("cnt"))
                .otherwise(0)
            ).cast("long").alias("n_a"),
            F.sum(
                F.when(F.array_contains("m", F.col("src_b")), F.col("cnt"))
                .otherwise(0)
            ).cast("long").alias("n_b"),
            F.sum(
                F.when(
                    F.array_contains("m", F.col("src_a"))
                    & F.array_contains("m", F.col("src_b")),
                    F.col("cnt"),
                ).otherwise(0)
            ).cast("long").alias("n_inter"),
        )
    )
    return sums.select(
        "src_a", "src_b", "n_a", "n_b", "n_inter",
        F.expr("CAST(n_inter * 1000 div n_a AS BIGINT)").alias(
            "cont_a_in_b_milli"
        ),
        F.expr("CAST(n_inter * 1000 div n_b AS BIGINT)").alias(
            "cont_b_in_a_milli"
        ),
    )


@register(
    "i24_bitwise_funcs",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(bit_and(o_orderkey & 1023) AS BIGINT) AS and_low10,
           CAST(bit_or(o_orderkey & 1023) AS BIGINT) AS or_low10,
           CAST(bit_xor(o_orderkey) AS BIGINT) AS xor_all,
           CAST(SUM(CASE WHEN (o_orderkey >> 3) & 1 = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS bit3_set,
           CAST(SUM(xor(o_orderkey & 255, o_custkey & 255)) AS BIGINT)
               AS xor_bytes_sum,
           CAST(SUM((o_orderkey << 2) & 4095) AS BIGINT) AS shl_masked_sum
    FROM orders GROUP BY 1
    """,
    survey="I24,I8,I3",
)
def i24_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function-coverage row (the I-family pattern: one query
    exercising several functions) — the bit-manipulation tier layout
    and fingerprint code leans on, certified as first-class scalars and
    AGGREGATES: & | ^ << >> as scalars, BIT_AND / BIT_OR / BIT_XOR as
    aggregates (the XOR aggregate is the classic set-difference
    fingerprint: two relations with equal BIT_XOR over a key column
    likely match — b14's Merkle digests are the cryptographic upgrade).

    Exactness: bit operations are exact by nature; the only care is
    operator spelling (DuckDB spells scalar xor as xor(a,b), Spark as
    a ^ b) and sign (keys are non-negative, shifts stay in-range via
    the & 4095 mask — stated rule).

    Scale shape: one scan, one 5-row hash agg, map-side combinable."""
    o = fan_out(Tables(spark, sf_dir).orders)
    return o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.bit_and(F.expr("o_orderkey & 1023")).cast("long").alias("and_low10"),
        F.bit_or(F.expr("o_orderkey & 1023")).cast("long").alias("or_low10"),
        F.bit_xor(F.col("o_orderkey")).cast("long").alias("xor_all"),
        F.sum(
            F.when(F.expr("(o_orderkey >> 3) & 1 = 1"), 1).otherwise(0)
        ).cast("long").alias("bit3_set"),
        F.sum(F.expr("(o_orderkey & 255) ^ (o_custkey & 255)"))
        .cast("long")
        .alias("xor_bytes_sum"),
        F.sum(F.expr("shiftleft(o_orderkey, 2) & 4095"))
        .cast("long")
        .alias("shl_masked_sum"),
    )


@register(
    "e100_effect_size",
    oracle="""
    WITH st AS (
        SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END)
                    AS BIGINT) AS s1,
               CAST(SUM(CASE WHEN lang = 'en' THEN n_chars * n_chars ELSE 0 END)
                    AS BIGINT) AS q1,
               CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN lang <> 'en' THEN n_chars ELSE 0 END)
                    AS BIGINT) AS s0,
               CAST(SUM(CASE WHEN lang <> 'en' THEN n_chars * n_chars ELSE 0 END)
                    AS BIGINT) AS q0
        FROM documents
    )
    SELECT n1, n0,
           CAST(FLOOR((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
                / sqrt(((n1 * q1 - s1 * s1) * 1.0 / n1
                        + (n0 * q0 - s0 * s0) * 1.0 / n0)
                       / (n1 + n0 - 2)) * 1000) AS BIGINT) AS d_milli,
           CAST(FLOOR((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
                / sqrt(((n1 * q1 - s1 * s1) * 1.0 / n1
                        + (n0 * q0 - s0 * s0) * 1.0 / n0)
                       / (n1 + n0 - 2))
                * (1.0 - 3.0 / (4.0 * (n1 + n0) - 9.0)) * 1000) AS BIGINT)
               AS g_milli
    FROM st
    """,
    survey="E100,E52,E40",
)
def e100_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d and Hedges' g — the STANDARDIZED effect size the
    significance tier stops short of (e52's Welch t says "the n_chars
    difference between English and the rest is not noise"; at 100 TB
    row counts EVERYTHING is significant, and d = Δmean/s_pooled is the
    scale-free magnitude that survives that regime; g applies the
    small-sample bias correction 1 − 3/(4N−9)).

    Exactness: the six sufficient statistics are exact BIGINTs in ONE
    map-side-combinable agg; pooled variance uses the n·Σx²−S² identity
    per group (never a float mean in a subtraction), and d/g come from
    ONE shared explicitly-double chain milli-floored; python replay pin
    at ±1 milli.

    Scale shape: one scan → one 6-stat global agg → 1-row arithmetic."""
    d = fan_out(Tables(spark, sf_dir).documents)
    en = F.col("lang") == "en"
    st = d.agg(
        F.sum(F.when(en, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(en, F.col("n_chars")).otherwise(0)).cast("long").alias("s1"),
        F.sum(F.when(en, F.col("n_chars") * F.col("n_chars")).otherwise(0))
        .cast("long").alias("q1"),
        F.sum(F.when(~en, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(~en, F.col("n_chars")).otherwise(0)).cast("long").alias("s0"),
        F.sum(F.when(~en, F.col("n_chars") * F.col("n_chars")).otherwise(0))
        .cast("long").alias("q0"),
    )
    chain = (
        "(CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)"
        " / sqrt(((n1 * q1 - s1 * s1) * 1.0 / n1"
        " + (n0 * q0 - s0 * s0) * 1.0 / n0)"
        " / (n1 + n0 - 2))"
    )
    return st.select(
        "n1", "n0",
        F.expr(f"CAST(FLOOR({chain} * 1000) AS BIGINT)").alias("d_milli"),
        F.expr(
            f"CAST(FLOOR({chain} * (1.0 - 3.0 / (4.0 * (n1 + n0) - 9.0))"
            " * 1000) AS BIGINT)"
        ).alias("g_milli"),
    )
