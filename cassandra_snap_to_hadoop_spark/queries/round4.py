"""Round-4 additions — scale twins and hardening queries from the round-3
verdict (VERDICT.md "What's wrong" / "Next round" items), plus new
operator surface added this round.

  * e30_equidepth_scalable — the 100 TB path for the equi-depth
    histogram: two-pass global_rank + closed-form ntile instead of the
    single-reducer global window.  Shares e30's exact ntile oracle, so
    the scalable path is hash-certified, not merely rows-checked.
  * j70_jaro_winkler_pairs — record-linkage scoring (operators/
    linkage.py) over sorted-neighborhood candidates, value-checked
    against DuckDB's independent C++ jaro_winkler_similarity.
  * j71_pagerank — integer-lattice PageRank (operators/graph.py),
    hash-certified against an oracle that UNROLLS the same three
    power iterations as CTEs.
  * e44_mergeable_quantiles — GK-lite mergeable quantile summaries
    (operators/qsketch.py), rows-only; rank-error law in tests.

Registered behind the round-4 driver window's insurance tail: new keys
are never-certified by construction and rotate forward in round 5.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.io import Tables, fan_out
from cassandra_snap_to_hadoop_spark.registry import register


@register(
    "e30_equidepth_scalable",
    oracle="""
    WITH v AS (
        SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               ntile(16) OVER (ORDER BY ROUND(l_extendedprice * 100),
                               l_orderkey, l_linenumber) AS bucket
        FROM lineitem
    )
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(cents) AS BIGINT) AS lo_cents,
           CAST(MAX(cents) AS BIGINT) AS hi_cents
    FROM v GROUP BY bucket
    """,
    survey="E30,E6,G1,E30b",
)
def e30_equidepth_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram WITHOUT the single-reducer global sort — the
    100 TB twin of e30_equidepth_histogram (whose global-ntile window
    pulls the whole fact table through one task; VERDICT r3 "What's
    wrong" item 1, with e30 kept as this path's calibration oracle).

    Mechanics: operators/layout.py global_rank range-partitions on the
    total order (cents, l_orderkey, l_linenumber), ranks locally inside
    each sorted partition, and adds per-partition offsets (a broadcast
    |partitions|-row relation); ntile_expr then reproduces the
    SQL-standard ntile(16) rule — first ``n mod 16`` buckets take
    ``ceil(n/16)`` rows — in closed-form integer arithmetic from that
    rank.  Bucket assignment is therefore BIT-IDENTICAL to the native
    window (both engines implement the same standard rule over the same
    unique total order), which is why this scalable path can share the
    exact-window oracle and get hash-level certification.  The plan has
    NO unpartitioned WindowExec (asserted in tests/test_plans.py)."""
    from cassandra_snap_to_hadoop_spark.operators.layout import (
        global_rank,
        ntile_expr,
    )

    li = Tables(spark, sf_dir).lineitem
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    v = li.select(
        cents.alias("cents"),
        F.col("l_orderkey"),
        F.col("l_linenumber"),
    )
    ranked, n_total = global_rank(
        v,
        [F.col("cents"), F.col("l_orderkey"), F.col("l_linenumber")],
        out_col="__gr",
        return_total=True,
    )
    banded = ranked.withColumn("bucket", ntile_expr("__gr", n_total, 16))
    return banded.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.min("cents").alias("lo_cents"),
        F.max("cents").alias("hi_cents"),
    )


@register(
    "j70_jaro_winkler_pairs",
    oracle="""
    WITH pre AS (
        SELECT doc_id, lang, substr(text, 1, 40) AS s FROM documents
    ), t AS (
        SELECT doc_id, lang, s,
               row_number() OVER (PARTITION BY lang ORDER BY s, doc_id) AS rn
        FROM pre
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(ROUND(jaro_winkler_similarity(a.s, b.s) * 1000000) AS BIGINT)
               AS jw_micro
    FROM t a JOIN t b
      ON a.lang = b.lang AND b.rn > a.rn AND b.rn <= a.rn + 3
    WHERE CAST(ROUND(jaro_winkler_similarity(a.s, b.s) * 1000000) AS BIGINT)
          >= 850000
    """,
    survey="J14,J63,L1",
)
def j70_jaro_winkler_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage scoring pass: Jaro-Winkler similarity (Winkler '90)
    over sorted-neighborhood candidate pairs — the classic ER combination
    (j63's blocking generates the candidates; this operator scores them
    with the string metric designed for name/title fields, where leading
    characters matter most).

    The engine side is operators/linkage.py — a pure-Python textbook
    Jaro-Winkler inside an Arrow-batched pandas UDF; the oracle side is
    DuckDB's independent C++ ``jaro_winkler_similarity``.  Two unrelated
    implementations of the published definition agreeing bit-for-bit
    (differentially fuzzed over 5000 random pairs in
    tests/test_round3e.py, plus this hash-checked oracle) is real
    evidence; the scores quantize to micro-units for the checked output.

    Scale shape: candidates come from a per-LANG sorted-neighborhood
    window (partitioned — never global) with window width 3, so
    candidate count is ~3·n, not n²; the O(len²) Jaro scan runs on
    40-char prefixes only (bounded per-row cost).  At 100 TB the window
    ordering key (text prefix) range-partitions within language."""
    from pyspark.sql.window import Window

    from cassandra_snap_to_hadoop_spark.operators.linkage import jaro_winkler_col

    d = Tables(spark, sf_dir).documents
    pre = d.select("doc_id", "lang", F.substring("text", 1, 40).alias("s"))
    # r11: ``t`` is both sides of the neighborhood self-join — cut the
    # lineage once (guide §2.4) so the corpus scan + per-lang rank window
    # run once, not twice; the relation is (id, lang, 40-char prefix, rn).
    t = pre.withColumn(
        "rn", F.row_number().over(Window.partitionBy("lang").orderBy("s", "doc_id"))
    ).localCheckpoint(eager=False)
    a, b = t.alias("a"), t.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("b.rn") > F.col("a.rn"))
        & (F.col("b.rn") <= F.col("a.rn") + 3),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.round(jaro_winkler_col(F.col("a.s"), F.col("b.s")) * 1_000_000)
        .cast("long")
        .alias("jw_micro"),
    )
    return pairs.filter(F.col("jw_micro") >= 850000)


@register(
    "j71_pagerank",
    oracle="""
    WITH e0 AS (
        SELECT l_orderkey % 512 AS src, l_partkey % 512 AS dst FROM lineitem
    ), edges AS (
        SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
    ), deg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1
    ), r0 AS (
        SELECT DISTINCT src AS node, CAST(1000000000000 AS BIGINT) AS r FROM edges
    ), c1 AS (
        SELECT e.dst AS node, SUM(r.r // d.outdeg) AS s
        FROM edges e JOIN deg d ON d.src = e.src JOIN r0 r ON r.node = e.src
        GROUP BY 1
    ), r1 AS (
        SELECT node, CAST(150000000000 + (85 * s) // 100 AS BIGINT) AS r FROM c1
    ), c2 AS (
        SELECT e.dst AS node, SUM(r.r // d.outdeg) AS s
        FROM edges e JOIN deg d ON d.src = e.src JOIN r1 r ON r.node = e.src
        GROUP BY 1
    ), r2 AS (
        SELECT node, CAST(150000000000 + (85 * s) // 100 AS BIGINT) AS r FROM c2
    ), c3 AS (
        SELECT e.dst AS node, SUM(r.r // d.outdeg) AS s
        FROM edges e JOIN deg d ON d.src = e.src JOIN r2 r ON r.node = e.src
        GROUP BY 1
    )
    SELECT node, CAST(150000000000 + (85 * s) // 100 AS BIGINT) AS rank_scaled
    FROM c3
    """,
    survey="J71,D2,E2",
)
def j71_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank power iteration (3 steps, d=0.85) over the order↔part
    co-occurrence graph — the canonical iterative join+agg workload,
    expressed as one declarative plan per iteration (operators/graph.py
    pagerank_int: no RDDs, no driver-side adjacency).

    Ranks live on a scaled int64 lattice (1.0 == 10^12) and every step is
    integer arithmetic both engines define identically (truncating div on
    non-negative operands), so after ANY number of iterations the BIGINTs
    are bit-identical — the oracle UNROLLS the same three iterations as
    CTEs and hash-matches exactly, certifying an ITERATIVE algorithm at
    value level (rare: float PageRank could never hash-match).

    Scale shape: edges shuffle ONCE onto src for the outdeg join
    (localCheckpoint cuts that subtree out of each iteration's lineage);
    each iteration is one |edges| shuffle into a per-dst hash agg.
    Node-id modulus 512 keeps the demo graph inside the documented
    int64 overflow budget (graph.py: safe to N ≈ 10^5 at this SCALE)."""
    from cassandra_snap_to_hadoop_spark.operators.graph import pagerank_int

    li = Tables(spark, sf_dir).lineitem
    e0 = li.select(
        (F.col("l_orderkey") % 512).alias("src"), (F.col("l_partkey") % 512).alias("dst")
    )
    edges = e0.unionAll(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return pagerank_int(edges, iters=3).select(
        "node", F.col("r").alias("rank_scaled")
    )


_QS_K, _QS_BUCKETS = 32, 16


@register(
    "e44_mergeable_quantiles",
    oracle=f"""
    WITH src AS (
        SELECT CAST(o_totalprice AS DOUBLE) AS v, o_orderkey AS key,
               CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                    AS UBIGINT) % {_QS_BUCKETS} AS BIGINT) AS b
        FROM orders WHERE o_totalprice IS NOT NULL
    ), ranked AS (
        SELECT b, v,
               ROW_NUMBER() OVER (PARTITION BY b ORDER BY v, key) - 1 AS rn,
               COUNT(*) OVER (PARTITION BY b) AS nb
        FROM src
    ), summary AS (
        SELECT r.v,
               ((j.j + 1) * r.nb) // LEAST({_QS_K}, r.nb)
                 - (j.j * r.nb) // LEAST({_QS_K}, r.nb) AS w
        FROM ranked r JOIN (SELECT unnest(range({_QS_K})) AS j) j
          ON j.j < LEAST({_QS_K}, r.nb)
         AND r.rn = (j.j * r.nb) // LEAST({_QS_K}, r.nb)
    ), vals AS (
        SELECT v, SUM(w) AS w FROM summary GROUP BY 1
    ), tot AS (
        SELECT SUM(w) AS total FROM vals
    ), cums AS (
        SELECT a.v, SUM(c.w) AS cum FROM vals a JOIN vals c ON c.v <= a.v
        GROUP BY a.v
    )
    SELECT CAST(i.i AS INTEGER) AS decile, MIN(c.v) AS est
    FROM cums c CROSS JOIN tot t
    JOIN (SELECT unnest(range(1, 10)) AS i) i ON 10 * c.cum >= i.i * t.total
    GROUP BY 1
    """,
    survey="E6,E12,L3,E44",
)
def e44_mergeable_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile summary (GK-lite, operators/qsketch.py): each
    bucket reduces to a fixed-size (value, weight) summary and one fold
    answers every decile with bounded RANK error (< n/k per group,
    Σ n_g/k global) — the explicit version of approx_percentile,
    registered so the merge law itself is a tested first-class operator
    (the "sketch per partition, fold at query time" 100 TB pattern; e12/
    e21/e19/e27 are the frequency-sketch siblings).

    SQL-certified since round 6 (VERDICT r5 item 4, the named feasible
    conversion): buckets come from md5 of the row key (reproducible
    verbatim in DuckDB), the per-bucket summary is restated as pure
    relational algebra (rank window + k-row broadcast join — see
    operators/qsketch.mergeable_quantiles_certified for the construction
    and the integer ``10·cum ≥ i·total`` decile rule that replaces the
    float boundary test), so the ENTIRE two-level fold hash-matches an
    independent SQL restatement.  The applyInPandas tier
    (``mergeable_quantiles``, xxhash64-of-value buckets) stays the
    production path for arbitrary un-keyed multisets; its rank-error and
    weight-conservation laws remain pinned in tests/test_round3e.py over
    BOTH tiers."""
    from cassandra_snap_to_hadoop_spark.operators.qsketch import (
        mergeable_quantiles_certified,
    )

    o = Tables(spark, sf_dir).orders
    return mergeable_quantiles_certified(
        o, "o_totalprice", "o_orderkey", k=_QS_K, buckets=_QS_BUCKETS
    )


_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@register(
    "j64_simhash_pairs_md5",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS w FROM documents
    ), h AS (
        SELECT doc_id,
               CAST(CAST(('0x' || substr(md5(w), 1, 15)) AS UBIGINT) AS BIGINT) AS h
        FROM toks
    ), bits AS (
        SELECT doc_id, b,
               SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT unnest(range(60)) AS b) bb
        GROUP BY 1, 2
    ), fp AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
                             ELSE 0 END) AS BIGINT) AS f
        FROM bits GROUP BY 1
    ), bands AS (
        SELECT doc_id, f, bi, (f >> (bi * 15)) & 32767 AS bv
        FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS bi) bb
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                        a.f AS fa, b.f AS fb
        FROM bands a JOIN bands b
          ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(fa, fb)) <= 3
    """,
    survey="J2,J64,J64b",
)
def j64_simhash_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-certifiable twin of j64_simhash_hamming_pairs (VERDICT r3
    item 4: shrink the rows-only set where an oracle is expressible).
    Identical pigeonhole band index (Manku WWW'07) and majority-vote
    fingerprint, but the per-token hash is the first 60 bits of md5 —
    which DuckDB reproduces digit-for-digit — instead of engine-specific
    xxhash64.  The ENTIRE pipeline (tokenize → token hash → 60 bitwise
    majority votes → fingerprint assembly → band bucketing → candidate
    join → bit_count(xor) verify) is therefore hash-checked end-to-end
    against an independent SQL restatement; the xxhash64 tier keeps the
    production speed and its brute-force completeness pin.

    60 bits (15 hex chars) rather than 64 keeps every intermediate —
    token hash, shifted band value, 1<<59 fingerprint term — inside
    SIGNED int64 on both engines (the j58 pattern, widened)."""
    from cassandra_snap_to_hadoop_spark.operators.dedup import simhash_hamming_pairs

    d = Tables(spark, sf_dir).documents
    token_hash = F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("long")
    return simhash_hamming_pairs(
        d, "doc_id", "text", max_hamming=3, n_bands=4, bits=60, token_hash=token_hash
    )


@register(
    "e45_mann_whitney",
    oracle="""
    WITH vals AS (
        SELECT source, n_chars AS v FROM documents
    ), vc AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM vals GROUP BY 1
    ), cum AS (
        SELECT v, c,
               SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - c AS cum_prev
        FROM vc
    ), r2 AS (
        SELECT v, 2 * cum_prev + c + 1 AS rank2 FROM cum
    ), per_src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s,
               CAST(SUM(rank2) AS BIGINT) AS r2_sum
        FROM vals JOIN r2 ON vals.v = r2.v
        GROUP BY 1
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM vals)
    SELECT source, n_s, (N - n_s) AS n_rest,
           CAST(r2_sum - n_s * (n_s + 1) AS BIGINT) AS u2_stat,
           (r2_sum - n_s * (n_s + 1)) / (2.0 * n_s * (N - n_s)) AS auc
    FROM per_src CROSS JOIN n
    """,
    survey="E5,E36,E45",
)
def e45_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U drift audit: for every source, the rank-sum
    statistic of its n_chars distribution against the rest of the corpus
    — the nonparametric mean-shift sibling of e36's KS (KS detects any
    distributional difference; U answers 'does this source run longer or
    shorter', and U/(n1·n2) IS the AUC of source-vs-rest).

    Exactness: tie-averaged ranks are half-integers, so everything is
    DOUBLED onto the integer lattice — a row with value v takes
    rank2 = 2·(#smaller) + (#equal) + 1, per-source rank2 sums and
    u2 = 2U = Σrank2 − n_s(n_s+1) are exact BIGINTs on both engines, and
    the AUC divides those integers once.  One global ranking serves every
    source simultaneously (each test is s vs rest on the SAME combined
    order).

    Scale shape: ranks live on the DISTINCT-VALUE relation (domain-
    bounded, like e36's grid) via operators/layout.py global_cumsum — no
    unpartitioned window even over that; scoring is one hash join of the
    corpus onto the value→rank2 map plus a per-source agg."""
    from cassandra_snap_to_hadoop_spark.operators.layout import global_cumsum

    d = Tables(spark, sf_dir).documents
    vals = d.select("source", F.col("n_chars").alias("v"))
    vc = vals.groupBy("v").agg(F.count("*").alias("c"))
    cum = global_cumsum(vc, [F.col("v")], "c", rank_col="__rk", cum_col="cumv")
    r2 = cum.select(
        "v", (2 * (F.col("cumv") - F.col("c")) + F.col("c") + 1).alias("rank2")
    )
    per_src = (
        vals.join(r2, "v")
        .groupBy("source")
        .agg(F.count("*").alias("n_s"), F.sum("rank2").alias("r2_sum"))
    )
    n = vals.agg(F.count("*").alias("N"))
    u2 = F.col("r2_sum") - F.col("n_s") * (F.col("n_s") + 1)
    return per_src.crossJoin(F.broadcast(n)).select(
        "source",
        "n_s",
        (F.col("N") - F.col("n_s")).alias("n_rest"),
        u2.cast("long").alias("u2_stat"),
        (u2 / (2.0 * F.col("n_s") * (F.col("N") - F.col("n_s")))).alias("auc"),
    )


@register(
    "e46_spearman_corr",
    oracle="""
    WITH base AS (
        SELECT n_chars AS x, CAST(len(string_split(trim(regexp_replace(
                   lower(text), '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS y
        FROM documents
    ), xc AS (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1
    ), xr AS (
        SELECT x, 2 * (SUM(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) - c) + c + 1 AS rx
        FROM xc
    ), yc AS (
        SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1
    ), yr AS (
        SELECT y, 2 * (SUM(c) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) - c) + c + 1 AS ry
        FROM yc
    ), rk AS (
        SELECT rx, ry FROM base JOIN xr USING (x) JOIN yr USING (y)
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
               CAST(SUM(rx * rx) AS BIGINT) AS sxx,
               CAST(SUM(ry * ry) AS BIGINT) AS syy,
               CAST(SUM(rx * ry) AS BIGINT) AS sxy
        FROM rk
    )
    SELECT n, sx, sy, sxx, syy, sxy,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS rho
    FROM s
    """,
    survey="E5,E41,E46",
)
def e46_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between document byte length and token
    count — the monotone-association audit (Pearson on RANKS, robust to
    the heavy right tail that makes raw Pearson useless on length
    distributions).  Tie-averaged ranks are doubled onto the integer
    lattice (the e45 trick) for BOTH variables, so every sufficient
    statistic (n, Σrx, Σry, Σrx², Σry², Σrxry) is an exact BIGINT and
    the hash check certifies them all; rho then divides doubles computed
    from those integers with an identical operation order on both
    engines (the e41 OLS pattern — exact until the final expression).

    Scale shape: two DISTINCT-VALUE rankings via global_cumsum (domain-
    bounded relations, no unpartitioned windows), two hash joins mapping
    each doc to (rx, ry), one global agg.  Integer budget: rank2 ≤ 2n,
    Σrx·ry ≤ 4n³ — exact to n ≈ 1.3e6 docs; past that the sums need the
    e41 escalation (per-partition partials in DECIMAL or doubles at 1-ulp
    cost), documented rather than silently wrong."""
    from pyspark.sql import Window

    from cassandra_snap_to_hadoop_spark.operators.dedup import normalize_text

    # r11 (guide §2.5): fan_out — the y tokenize runs once per consumer
    # single-task off the one-split local scan (no-op at real scale).
    # r12 (guide §2.3 "aggregate before you shuffle", VERDICT r11 item 3):
    # the rank maps used to join back onto the DATA-SIZED base relation
    # (two shuffles of every doc row, plus three corpus re-scans — one per
    # groupBy and one for the join).  Every sufficient statistic is a
    # weighted fold over the (x, y) VALUE-PAIR histogram, so the corpus is
    # now scanned ONCE into that value lattice (map-side combinable,
    # domain-bounded — the e127 lattice class; checkpointed for its three
    # consumers per the batch-3 rule), the two marginal histograms derive
    # from it, and the rank maps join back by BROADCAST.  The rank cumsum
    # runs as a plain window over each DISTINCT-VALUE grid (the e36/e81
    # domain-bounded exemption class — exactly the oracle's own shape; the
    # previous global_cumsum machinery cost 6+ driver jobs per build to
    # avoid a single-task window over a relation that is bounded by the
    # value domain, not the corpus).  Integer sums reassociate freely, so
    # all six BIGINTs — and the rho computed from them — are bit-identical
    # (oracle-verified at 3 SFs).  Plan: the data-sized exchanges are
    # gone; one corpus scan remains.
    d = fan_out(Tables(spark, sf_dir).documents)
    base = d.select(
        F.col("n_chars").alias("x"),
        F.size(F.split(normalize_text(F.col("text")), " ")).cast("long").alias("y"),
    )
    vc_xy = (
        base.groupBy("x", "y").agg(F.count("*").alias("c")).localCheckpoint(eager=False)
    )

    def rank2_map(col: str, out: str):
        vc = vc_xy.groupBy(col).agg(F.sum("c").alias("c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        cum = vc.select(col, F.col("c"), F.sum("c").over(w).alias("cumv"))
        return cum.select(
            col, (2 * (F.col("cumv") - F.col("c")) + F.col("c") + 1).alias(out)
        )

    rk = vc_xy.join(F.broadcast(rank2_map("x", "rx")), "x").join(
        F.broadcast(rank2_map("y", "ry")), "y"
    )
    s = rk.agg(
        # coalesce: count(*) of the old per-doc agg is 0 on an empty
        # corpus, sum() would be NULL — keep the edge case identical.
        F.coalesce(F.sum("c"), F.lit(0)).alias("n"),
        F.sum(F.col("c") * F.col("rx")).alias("sx"),
        F.sum(F.col("c") * F.col("ry")).alias("sy"),
        F.sum(F.col("c") * F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("c") * F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("c") * F.col("rx") * F.col("ry")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    rho = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / F.sqrt(
        (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return s.select("n", "sx", "sy", "sxx", "syy", "sxy", rho.alias("rho"))


@register(
    "f26_autocorrelation",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    // (100 * COUNT(*)) AS BIGINT) AS aov
        FROM orders GROUP BY 1
    ), lags AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag
    ), pairs AS (
        SELECT l.lag, a.aov AS x, b.aov AS y
        FROM daily a JOIN lags l ON TRUE
        JOIN daily b ON b.day = a.day + l.lag
    )
    SELECT CAST(lag AS INTEGER) AS lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           (CAST(COUNT(*) AS DOUBLE) * SUM(x * y)
              - CAST(SUM(x) AS DOUBLE) * SUM(y))
           / sqrt((CAST(COUNT(*) AS DOUBLE) * SUM(x * x)
                   - CAST(SUM(x) AS DOUBLE) * SUM(x))
                  * (CAST(COUNT(*) AS DOUBLE) * SUM(y * y)
                     - CAST(SUM(y) AS DOUBLE) * SUM(y))) AS acf
    FROM pairs GROUP BY lag
    """,
    survey="F2,E41,F26",
)
def f26_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of DAILY AVERAGE ORDER VALUE — the
    seasonality detector (a weekly cycle shows as an acf peak at lag 7).
    Pearson correlation per lag over (day, day+lag) pairs, computed from
    exact integer sums (the e41 sufficient-statistics pattern): the
    checked columns are BIGINTs, acf divides doubles derived from them
    with identical operation order.

    The series is the truncated whole-dollar daily mean (Σcents div
    (100·n)) rather than the daily total ON PURPOSE: the mean is bounded
    by the PRICE DOMAIN, not by volume, so Σx·y ≤ days·max_price² fits
    int64 at ANY scale factor — the daily-total variant overflowed at
    sf0.01 (caught by the mirror's ANSI overflow error, kept as the
    design note).

    Scale shape: daily pre-aggregation collapses the fact table to the
    calendar relation FIRST (map-side combinable hash agg); the lag
    pairing is then an EQUI self-join on day+lag over |days|·7 rows —
    no window at all, no unpartitioned anything; joins and aggs on a
    calendar-bounded relation.  Days are tz-FREE integer epoch days
    (unix_micros div 86400e6 — the f22/e27 defense: no session-zone
    dependence anywhere)."""
    o = Tables(spark, sf_dir).orders
    day = F.expr("unix_micros(o_orderdate) div 86400000000")
    daily = o.groupBy(day.alias("day")).agg(
        F.expr(
            "sum(cast(round(o_totalprice * 100) as long)) div (100 * count(*))"
        ).alias("aov")
    )
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(i).cast("long") for i in range(1, 8)])).alias("lag")
    )
    a = daily.select(F.col("day").alias("day_a"), F.col("aov").alias("x"))
    b = daily.select(F.col("day").alias("day_b"), F.col("aov").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("day_b") == F.col("day_a") + F.col("lag"))
        .select("lag", "x", "y")
    )
    g = pairs.groupBy("lag").agg(
        F.count("*").alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n_pairs").cast("double")
    acf = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / F.sqrt(
        (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return g.select(
        F.col("lag").cast("int").alias("lag"), "n_pairs", "sx", "sy", acf.alias("acf")
    )


# The identical IEEE scoring chain both engines run on the exact
# integers (lcs, nx, ny): p = lcs/nx, r = lcs/ny, F = 2pr/(p+r),
# micro-quantized exactly like the original python `int(f*1e6 + 0.5)`
# (FLOOR == truncation for positive doubles).  Every literal is CAST —
# the e84/j136 bare-decimal-literal landmine.
_J72_MICRO = """
    CAST(FLOOR((2 * (CAST(lcs AS DOUBLE) / nx) * (CAST(lcs AS DOUBLE) / ny)
         / ((CAST(lcs AS DOUBLE) / nx) + (CAST(lcs AS DOUBLE) / ny)))
         * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
"""


@register(
    "j72_rouge_l",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, n_chars,
               (string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                             ' '))[1:30] AS toks
        FROM documents
    ),
    r AS (
        SELECT doc_id, lang, n_chars, toks,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rnk
        FROM d
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.toks AS xa, b.toks AS yb
        FROM r a JOIN r b ON a.lang = b.lang AND b.rnk - a.rnk BETWEEN 1 AND 3
    ),
    folded AS (
        SELECT id_a, id_b, len(xa) AS nx, len(yb) AS ny,
               len(yb) - bit_count(
                 list_reduce(
                   list_prepend((CAST(1 AS BIGINT) << len(yb)) - 1,
                     list_transform(xa, xe ->
                       CAST(list_sum(list_transform(range(1, len(yb) + 1), j ->
                         CASE WHEN yb[j] = xe
                              THEN (CAST(1 AS BIGINT) << (j - 1))
                              ELSE CAST(0 AS BIGINT) END)) AS BIGINT))),
                   (v, m) -> ((v + (v & m)) | (v - (v & m)))
                             & ((CAST(1 AS BIGINT) << len(yb)) - 1)
                 )) AS lcs
        FROM pairs
    )
    SELECT id_a, id_b, {_J72_MICRO} AS rouge_l_micro
    FROM folded WHERE lcs > 0
    """,
    survey="J67,I19,J72",
)
def j72_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L F-measure over same-language sorted-neighborhood candidate
    pairs — the LCS-based eval metric completing the distributed
    eval-metric tier (j67 BLEU-2 = clipped n-gram precision, i19 =
    Levenshtein, this = longest-common-subsequence recall/precision).

    SQL-certified since round 11 (VERDICT r10 item 3) via the
    Allison-Dix/Hyyrö BIT-PARALLEL LCS: with 30-token prefixes the DP
    column state fits ONE 64-bit word, so the whole O(n·m) table
    collapses to an n-step integer fold — V' = ((V + (V & M)) |
    (V − (V & M))) masked to ny bits, LCS = ny − popcount(V) — which
    both engines express as a per-row array fold over per-token match
    masks (Spark ``aggregate`` HOF / DuckDB ``list_reduce``), no UDF,
    no recursion.  The recurrence is pinned against the independent
    full-table DP in tests/test_round3e.py (unchanged from the
    pandas-UDF era — outputs are bit-identical) plus a 5000-case random
    equivalence sweep recorded in tests/test_round11.py.  F = 2pr/(p+r)
    runs the identical literal IEEE chain in both engines from the
    exact (lcs, nx, ny) integers.

    Replaces the round-4 Arrow pandas-UDF implementation: the fold is
    whole-stage-codegen JVM arithmetic — the eval tier's last Python
    hot path removed.

    Scale shape: candidates are j63's per-lang rank-band equi join
    (O(n·w), never global); scoring is per-row constant work (≤30
    integer fold steps) inside codegen, no shuffle added."""
    from cassandra_snap_to_hadoop_spark.operators.text import tokens
    from cassandra_snap_to_hadoop_spark.queries.round3d import _snm_candidate_pairs

    d = Tables(spark, sf_dir).documents.withColumn(
        "toks30", F.slice(tokens(F.col("text")), 1, 30)
    )
    pairs = _snm_candidate_pairs(d, carry=["toks30"], w=4)
    # r11 (guide §1.2 per-task work): the match-mask loop used to
    # materialize zip_with(toks30_b, sequence, struct) FRESH for every
    # outer token — O(n·m) struct-array allocations per pair.  The
    # 1-based position array is hoisted to a per-row column and the
    # inner fold indexes toks30_b directly (element_at is O(1), always
    # in bounds by construction), producing the identical OR-of-bits
    # mask value with no per-xe allocation.
    mm = F.expr(
        """
        transform(toks30_a, xe ->
            aggregate(pos_b,
                      CAST(0 AS BIGINT),
                      (acc, jj) -> acc | IF(element_at(toks30_b, jj) = xe,
                                            shiftleft(CAST(1 AS BIGINT), jj - 1),
                                            CAST(0 AS BIGINT))))
        """
    )
    folded = pairs.withColumn(
        "pos_b",
        F.when(
            F.size("toks30_b") > 0, F.sequence(F.lit(1), F.size("toks30_b"))
        ).otherwise(F.array().cast("array<int>")),
    ).select(
        "id_a",
        "id_b",
        F.size("toks30_a").alias("nx"),
        F.size("toks30_b").alias("ny"),
        mm.alias("mm"),
    ).withColumn(
        "lcs",
        F.expr(
            """
            ny - bit_count(
                aggregate(mm, shiftleft(CAST(1 AS BIGINT), ny) - 1,
                          (v, m) -> ((v + (v & m)) | (v - (v & m)))
                                    & (shiftleft(CAST(1 AS BIGINT), ny) - 1)))
            """
        ),
    )
    return folded.filter(F.col("lcs") > 0).select(
        "id_a", "id_b", F.expr(_J72_MICRO).alias("rouge_l_micro")
    )


@register(
    "j76_label_centroids",
    oracle="""
    WITH ex AS (
        SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS micro
        FROM embeddings
    )
    SELECT CAST(label AS INTEGER) AS label,
           CAST(dim AS INTEGER) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(micro) AS BIGINT) AS sum_micro,
           CAST(SUM(micro) // COUNT(*) AS BIGINT) AS centroid_micro
    FROM ex GROUP BY 1, 2
    """,
    survey="J3,J11,E2",
)
def j76_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the class-prototype operator (the
    K-means E-step, SemDeDup's cluster center, the nearest-centroid
    classifier's training pass) for the multimodal/embedding tier.

    Float discipline: a naive AVG over floats is association-order-
    dependent (unfixable across engines); instead each float32 element
    widens EXACTLY to double, quantizes once to integer micro-units, and
    the centroid is an integer sum + truncating divide — bit-identical
    on both engines at any parallelism.  Per-dimension rows (label ×
    128 dims) rather than an array column so the oracle hash covers
    every coordinate.

    Scale shape: posexplode → one map-side-combinable hash agg on
    (label, dim); at 100 TB this is the canonical 'training-data
    statistics' shape — no collect, no windows, centroid count =
    |labels|·dims."""
    e = Tables(spark, sf_dir).embeddings
    ex = e.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.round(F.col("x").cast("double") * 1_000_000).cast("long").alias("micro"),
    )
    return ex.groupBy("label", "dim").agg(
        F.count("*").alias("n_vecs"),
        F.sum("micro").alias("sum_micro"),
        F.expr("sum(micro) div count(*)").alias("centroid_micro"),
    ).select(
        F.col("label").cast("int").alias("label"),
        F.col("dim").cast("int").alias("dim"),
        "n_vecs",
        "sum_micro",
        "centroid_micro",
    )


@register(
    "f27_holt_winters",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), numbered AS (
        SELECT event_type, x,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY day) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
        FROM daily
    ), fw AS (
        SELECT event_type, CAST(SUM(x) // 7 AS BIGINT) AS l7
        FROM numbered WHERE rn <= 7 GROUP BY 1
    ), base AS (
        SELECT n.event_type, CAST(7 AS BIGINT) AS rn, MAX(n.n_days) AS n_days,
               MAX(fw.l7) AS lvl, CAST(0 AS BIGINT) AS trend,
               MAX(CASE WHEN rn = 1 THEN x - fw.l7 END) AS s1,
               MAX(CASE WHEN rn = 2 THEN x - fw.l7 END) AS s2,
               MAX(CASE WHEN rn = 3 THEN x - fw.l7 END) AS s3,
               MAX(CASE WHEN rn = 4 THEN x - fw.l7 END) AS s4,
               MAX(CASE WHEN rn = 5 THEN x - fw.l7 END) AS s5,
               MAX(CASE WHEN rn = 6 THEN x - fw.l7 END) AS s6,
               MAX(CASE WHEN rn = 7 THEN x - fw.l7 END) AS s7
        FROM numbered n JOIN fw ON fw.event_type = n.event_type
        WHERE n.rn <= 7 AND n.n_days >= 7
        GROUP BY 1
    ), chain AS (
        SELECT * FROM base
        UNION ALL
        SELECT b.event_type, b.rn, b.n_days,
               (b.x - c.s1 + 4 * (c.lvl + c.trend)) // 5,
               (((b.x - c.s1 + 4 * (c.lvl + c.trend)) // 5 - c.lvl)
                + 9 * c.trend) // 10,
               c.s2, c.s3, c.s4, c.s5, c.s6, c.s7,
               ((b.x - (b.x - c.s1 + 4 * (c.lvl + c.trend)) // 5)
                + 3 * c.s1) // 4
        FROM chain c
        JOIN numbered b
          ON b.event_type = c.event_type AND b.rn = c.rn + 1
    )
    SELECT event_type, n_days,
           CAST(lvl AS BIGINT) AS level_cnt,
           CAST(trend AS BIGINT) AS trend_cnt,
           CAST(GREATEST(s1, s2, s3, s4, s5, s6, s7)
                - LEAST(s1, s2, s3, s4, s5, s6, s7) AS BIGINT)
               AS seasonal_amplitude_cnt,
           CAST(lvl + trend + s1 AS BIGINT) AS forecast_next_cnt
    FROM chain WHERE rn = n_days
    """,
    survey="F24,F26,L3,SQL-4",
)
def f27_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing, weekly
    season) per event type over the daily count series — the SEASONAL
    member of the forecasting family (f24/f31 handle level+trend; a
    weekly cycle breaks them, and f26/f38's lag-7 signals say you need
    this).

    SQL-certified IN PLACE since round 7 (the f29/f31/f32 recursion
    conversion applied to the THREE-state seasonal fold): on the integer
    count lattice with α=1/5, β=1/10, γ=1/4 as truncating divisions,

        l_t = (x_t − s_{t−7} + 4·(l_{t−1} + b_{t−1})) DIV 5
        b_t = ((l_t − l_{t−1}) + 9·b_{t−1}) DIV 10
        s_t = ((x_t − l_t) + 3·s_{t−7}) DIV 4

    with the classic additive init after the first week (l₇ = first-week
    mean, b₇ = 0, sᵢ = xᵢ − l₇) and the 7-slot seasonal window carried as
    rotating columns — BOTH engines iterate bit-identical BIGINT state
    through a WITH RECURSIVE UnionLoop (Spark DIV == DuckDB // truncate
    toward zero on the negative seasonals).  Output: final level/trend,
    seasonal amplitude, and the one-step-ahead forecast l + b + s_{t−6}.

    The float applyInPandas tier (operators/forecast.holt_winters_fold)
    stays the production path for calendar-zero-filled fractional series
    and keeps its own law tests + the applyInPandasWithState streaming
    twin parity (tests/test_round3e.py — now pinned against the fold
    directly).

    Scale: the daily relation is calendar-bounded (|types| × days, KB at
    ANY corpus size), pinned to one partition; each of the ≈23 UnionLoop
    iterations is a broadcast join of the |types|-row frontier — the
    f31 shape with seven more state columns."""
    ev = Tables(spark, sf_dir).events
    ev.groupBy(
        "event_type", F.expr("unix_micros(ts) DIV 86400000000").alias("day")
    ).agg(F.count("*").cast("long").alias("x")).coalesce(1).createOrReplaceTempView(
        "cs2h_daily_hw"
    )
    # r11 (the sql_api_recursive_cte/f29 treatment): materialize the
    # loop-invariant ``numbered`` once — the UnionLoop used to re-derive
    # the events scan + daily agg + windows under every one of ~23
    # iterations — and broadcast the KB step side.  Values and oracle
    # text unchanged.
    spark.sql(
        """
        SELECT event_type, x,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY day) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_days
        FROM cs2h_daily_hw
        """
    ).localCheckpoint(eager=False).createOrReplaceTempView("cs2h_numbered_hw")
    return spark.sql(
        """
        WITH RECURSIVE numbered AS (
            SELECT event_type, x, rn, n_days
            FROM cs2h_numbered_hw
        ), fw AS (
            SELECT event_type, CAST(SUM(x) DIV 7 AS BIGINT) AS l7
            FROM numbered WHERE rn <= 7 GROUP BY 1
        ), base AS (
            SELECT n.event_type, CAST(7 AS BIGINT) AS rn,
                   MAX(n.n_days) AS n_days,
                   MAX(fw.l7) AS lvl, CAST(0 AS BIGINT) AS trend,
                   MAX(CASE WHEN rn = 1 THEN x - fw.l7 END) AS s1,
                   MAX(CASE WHEN rn = 2 THEN x - fw.l7 END) AS s2,
                   MAX(CASE WHEN rn = 3 THEN x - fw.l7 END) AS s3,
                   MAX(CASE WHEN rn = 4 THEN x - fw.l7 END) AS s4,
                   MAX(CASE WHEN rn = 5 THEN x - fw.l7 END) AS s5,
                   MAX(CASE WHEN rn = 6 THEN x - fw.l7 END) AS s6,
                   MAX(CASE WHEN rn = 7 THEN x - fw.l7 END) AS s7
            FROM numbered n JOIN fw ON fw.event_type = n.event_type
            WHERE n.rn <= 7 AND n.n_days >= 7
            GROUP BY n.event_type
        ), chain AS (
            SELECT * FROM base
            UNION ALL
            SELECT /*+ BROADCAST(b) */ b.event_type, b.rn, b.n_days,
                   (b.x - c.s1 + 4 * (c.lvl + c.trend)) DIV 5,
                   (((b.x - c.s1 + 4 * (c.lvl + c.trend)) DIV 5 - c.lvl)
                    + 9 * c.trend) DIV 10,
                   c.s2, c.s3, c.s4, c.s5, c.s6, c.s7,
                   ((b.x - (b.x - c.s1 + 4 * (c.lvl + c.trend)) DIV 5)
                    + 3 * c.s1) DIV 4
            FROM chain c
            JOIN numbered b
              ON b.event_type = c.event_type AND b.rn = c.rn + 1
        )
        SELECT event_type, n_days,
               lvl AS level_cnt,
               trend AS trend_cnt,
               GREATEST(s1, s2, s3, s4, s5, s6, s7)
                   - LEAST(s1, s2, s3, s4, s5, s6, s7)
                   AS seasonal_amplitude_cnt,
               lvl + trend + s1 AS forecast_next_cnt
        FROM chain WHERE rn = n_days
        """
    )


_WORDS4 = "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"


@register(
    "j77_perplexity_buckets",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source, {_WORDS4} AS w FROM documents
    ), b AS (
        SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t WHERE len(w) >= 2)
    ), toks AS (
        SELECT unnest(w) AS tok FROM t
    ), u AS (
        SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1
    ), tot AS (
        SELECT COUNT(*) AS n FROM toks
    ), bc AS (
        SELECT w1, w2, COUNT(*) AS cnt FROM b GROUP BY 1, 2
    ), scored AS (
        SELECT b.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(FLOOR(ln(0.7 * bc.cnt / u1.cnt + 0.3 * u2.cnt / tot.n)
                                   * 1000000) AS BIGINT)) AS BIGINT) AS sum_q
        FROM b
        JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
        JOIN u u1 ON b.w1 = u1.tok
        JOIN u u2 ON b.w2 = u2.tok
        CROSS JOIN tot
        GROUP BY b.doc_id
    ), banded AS (
        SELECT s.doc_id, t.source, s.n_bigrams, s.sum_q,
               ntile(3) OVER (ORDER BY CAST(s.sum_q AS DOUBLE) / s.n_bigrams,
                              s.doc_id) AS bucket
        FROM scored s JOIN t ON t.doc_id = s.doc_id
    )
    SELECT CAST(bucket AS INTEGER) AS bucket, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(sum_q) AS BIGINT) AS sum_q_logprob,
           CAST(SUM(n_bigrams) AS BIGINT) AS sum_bigrams
    FROM banded GROUP BY 1, 2
    """,
    survey="J9,J41,E30,J77",
)
def j77_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: every document scored by the
    corpus-trained interpolated bigram LM (j41's scorer, reused
    verbatim), split into head/middle/tail TERCILES of average
    per-bigram log-probability, and profiled per (bucket, source) — the
    curation step CCNet (Wenzek et al. 2020) runs before choosing which
    band to train on, and the composition j41's docstring promises.

    The tercile assignment is EXACT and single-reducer-free: the same
    global_rank + closed-form ntile machinery as e30_equidepth_scalable
    (the avg ranks by a double DIVIDED FROM EXACT INTEGERS — identical
    on both engines — with doc_id tiebreak); the oracle states the naive
    ntile(3) window, certifying two-pass-equals-naive a second time on a
    float-keyed ordering.  Checked outputs are the exact integer micro-
    nat sums per cell, not floats.

    Scale shape: j41's scoring joins (hash equi on token keys) → per-doc
    agg → two-pass rank over |docs| scored rows → one (bucket, source)
    hash agg.  No corpus-sized window anywhere."""
    from cassandra_snap_to_hadoop_spark.operators.layout import (
        global_rank,
        ntile_expr,
    )
    from cassandra_snap_to_hadoop_spark.queries.round3 import j41_bigram_lm_score

    scored = j41_bigram_lm_score(spark, sf_dir).withColumnRenamed(
        "sum_q_logprob", "sum_q"
    )
    src = Tables(spark, sf_dir).documents.select("doc_id", "source")
    s = scored.join(src, "doc_id").withColumn(
        "avg_q", F.col("sum_q").cast("double") / F.col("n_bigrams")
    )
    ranked, n_total = global_rank(
        s, [F.col("avg_q"), F.col("doc_id")], out_col="__gr", return_total=True
    )
    banded = ranked.withColumn("bucket", ntile_expr("__gr", n_total, 3))
    return banded.groupBy("bucket", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("sum_q").alias("sum_q_logprob"),
        F.sum("n_bigrams").alias("sum_bigrams"),
    )


@register(
    "e47_mann_kendall",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    // (100 * COUNT(*)) AS BIGINT) AS aov
        FROM orders GROUP BY 1
    ), pairs AS (
        SELECT CAST(sign(b.aov - a.aov) AS BIGINT) AS s
        FROM daily a JOIN daily b ON b.day > a.day
    ), agg AS (
        SELECT CAST(SUM(s) AS BIGINT) AS s_stat FROM pairs
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily
    ), ties AS (
        SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY aov)
        WHERE t > 1
    )
    SELECT s_stat, n,
           CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT) AS var18,
           CASE WHEN s_stat > 0 THEN (s_stat - 1.0)
                     / sqrt((n * (n - 1) * (2 * n + 5) - tie_term) / 18.0)
                WHEN s_stat < 0 THEN (s_stat + 1.0)
                     / sqrt((n * (n - 1) * (2 * n + 5) - tie_term) / 18.0)
                ELSE 0.0 END AS z
    FROM agg CROSS JOIN nn CROSS JOIN ties
    """,
    survey="E5,F26,E47",
)
def e47_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the daily average-order-value series —
    the nonparametric monotone-trend detector (is revenue drifting up,
    independent of distribution?), completing the time-series inference
    tier (f26 finds periodicity, f14/f15 find local anomalies, this
    finds the global trend).  S = Σ_{i<j} sign(x_j − x_i) and the
    tie-corrected variance numerator 18·Var(S) are exact BIGINTs; the
    continuity-corrected z divides doubles derived from them with
    identical operation order.

    Scale shape: the pair join runs over the CALENDAR-bounded daily
    relation (|days|² sign comparisons — ~3M at 7 years, constant in
    corpus volume; the fact table reduces in one map-side-combinable
    agg first).  The small side broadcasts, so the quadratic term is a
    broadcast nested-loop over KB — sanctioned because the relation
    cannot grow with data volume."""
    o = Tables(spark, sf_dir).orders
    day = F.expr("unix_micros(o_orderdate) div 86400000000")
    daily = o.groupBy(day.alias("day")).agg(
        F.expr(
            "sum(cast(round(o_totalprice * 100) as long)) div (100 * count(*))"
        ).alias("aov")
    )
    a = daily.select(F.col("day").alias("da"), F.col("aov").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("aov").alias("xb"))
    s_stat = (
        a.join(b, F.col("db") > F.col("da"))
        .select(F.signum(F.col("xb") - F.col("xa")).cast("long").alias("s"))
        .agg(F.sum("s").alias("s_stat"))
    )
    nn = daily.agg(F.count("*").alias("n"))
    ties = (
        daily.groupBy("aov")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
    ).cast("long")
    sd = F.sqrt(var18.cast("double") / 18.0)
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1.0) / sd)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1.0) / sd)
        .otherwise(F.lit(0.0))
    )
    return (
        s_stat.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .select("s_stat", "n", var18.alias("var18"), z.alias("z"))
    )


@register(
    "e48_market_basket",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS part FROM lineitem
    ), n AS (
        SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM items
    ), isup AS (
        SELECT part, CAST(COUNT(*) AS BIGINT) AS n_item FROM items GROUP BY 1
    ), pairs AS (
        SELECT a.part AS part_a, b.part AS part_b,
               CAST(COUNT(*) AS BIGINT) AS n_pair
        FROM items a JOIN items b ON a.ok = b.ok AND a.part < b.part
        GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_pair,
           ia.n_item AS n_a, ib.n_item AS n_b, n.n_orders,
           (CAST(n_pair AS DOUBLE) * n.n_orders) / (ia.n_item * CAST(ib.n_item AS DOUBLE))
               AS lift
    FROM pairs
    JOIN isup ia ON ia.part = pairs.part_a
    JOIN isup ib ON ib.part = pairs.part_b
    CROSS JOIN n
    WHERE n_pair >= 3
    """,
    survey="E2,D8,E48",
)
def e48_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: part pairs co-purchased within
    an order, with support counts and LIFT — the classic retail
    co-occurrence workload (the A-priori 2-itemset pass; j52's PMI is
    the text-corpus sibling of the same statistic).  Lift divides
    doubles built from exact integer supports in identical operation
    order; the checked gate (pair support ≥ 3) is an integer compare.

    Scale shape: pair generation is the BASKET-bounded self-equi-join on
    the order key — fan-out per order is C(items, 2) with items ≤ 7 in
    this schema, so candidate volume is LINEAR in orders (the same
    per-key-bounded argument as j60's capped blocks); supports are two
    hash aggs; n_orders rides in as a broadcast scalar.  No all-pairs
    anywhere: two parts never meet unless a real basket contains both."""
    li = Tables(spark, sf_dir).lineitem
    # r11 (guide §2.4): the item-support relation feeds two join legs
    # and is cut.
    # r12 (guide §2.3/§2.4, VERDICT r11 item 3): the basket self-join used
    # to shuffle the distinct item relation twice more (both join legs on
    # ok) after the distinct's own exchange.  The basket is ≤7 items by
    # schema, so each order's DISTINCT SORTED part-set now rides ONE
    # collect_set aggregation (set semantics == the old .distinct()), and
    # the C(items,2) pairs (x < y via the sorted array) generate in-plan
    # from the checkpointed set relation — no self-join.  Supports and
    # n_orders derive from the same relation.  Pair counts are identical
    # integers, so the output is hash-identical (oracle-verified at 3
    # SFs).  Plan: 5 Exchanges -> 3, SortMergeJoin(ok) gone.
    baskets = (
        li.groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .localCheckpoint(eager=False)
    )
    n = baskets.agg(F.count("*").alias("n_orders"))
    isup = (
        baskets.select(F.explode("parts").alias("part"))
        .groupBy("part")
        .agg(F.count("*").alias("n_item"))
        .localCheckpoint(eager=False)
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) ->"
                    " transform(slice(parts, i + 2, size(parts)),"
                    " y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("p")
        )
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= 3)
    )
    ia = isup.select(F.col("part").alias("part_a"), F.col("n_item").alias("n_a"))
    ib = isup.select(F.col("part").alias("part_b"), F.col("n_item").alias("n_b"))
    lift = (F.col("n_pair").cast("double") * F.col("n_orders")) / (
        F.col("n_a") * F.col("n_b").cast("double")
    )
    return (
        pairs.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n))
        .select("part_a", "part_b", "n_pair", "n_a", "n_b", "n_orders", lift.alias("lift"))
    )


@register(
    "j78_nearest_centroid_eval",
    oracle="""
    WITH ex AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS micro
        FROM embeddings
    ), cent AS (
        SELECT label AS clabel, dim,
               CAST(SUM(micro) // COUNT(*) AS BIGINT) AS cmicro
        FROM ex GROUP BY 1, 2
    ), d2 AS (
        SELECT e.vec_id, e.label AS true_label, c.clabel,
               CAST(SUM((e.micro - c.cmicro) * (e.micro - c.cmicro))
                    AS BIGINT) AS dist2
        FROM ex e JOIN cent c ON c.dim = e.dim
        GROUP BY 1, 2, 3
    ), pred AS (
        SELECT vec_id, true_label,
               min(struct_pack(d := dist2, l := clabel)).l AS pred_label
        FROM d2 GROUP BY 1, 2
    )
    SELECT CAST(true_label AS INTEGER) AS true_label,
           CAST(pred_label AS INTEGER) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
    """,
    survey="J3,J76,E2",
)
def j78_nearest_centroid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classifier evaluation: every embedding assigned
    to its closest label centroid (j76's class prototypes) by squared
    euclidean distance, reported as the (true, predicted) confusion
    matrix — the label-quality / cluster-separability audit that says
    whether a taxonomy is learnable from the embedding space at all
    (Rocchio / nearest-prototype classification; SemDeDup's assignment
    step is the same computation against k-means centers).

    Training-set evaluation by design (each vector contributes ~1/n of
    its own centroid — the audit measures SEPARABILITY, not
    generalization); documented rather than silently optimistic.

    Exactness: micro-quantized int64 coordinates make every distance an
    exact BIGINT (|diff| ≤ 2e6, squared ×64 dims ≈ 2.6e14 — far inside
    int64), and argmin breaks ties lexicographically via min(struct) —
    both engines compare structs field-by-field, so assignment is
    deterministic even on exact distance ties.

    Scale shape: centroid relation is |labels|·dims (KB — broadcast);
    the distance join fans each vector out |labels|× (linear, bounded by
    the label domain); two hash aggs.  No pairwise vector join."""
    e = Tables(spark, sf_dir).embeddings
    ex = e.select(
        "vec_id", "label", F.posexplode(F.col("embedding")).alias("dim", "x")
    ).select(
        "vec_id",
        "label",
        "dim",
        F.round(F.col("x").cast("double") * 1_000_000).cast("long").alias("micro"),
    )
    cent = ex.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.expr("sum(micro) div count(*)").alias("cmicro")
    )
    d2 = (
        ex.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", F.col("label").alias("true_label"), "clabel")
        .agg(
            F.sum(
                (F.col("micro") - F.col("cmicro")) * (F.col("micro") - F.col("cmicro"))
            ).alias("dist2")
        )
    )
    pred = d2.groupBy("vec_id", "true_label").agg(
        F.min(F.struct("dist2", "clabel")).getField("clabel").alias("pred_label")
    )
    return pred.groupBy(
        F.col("true_label").cast("int").alias("true_label"),
        F.col("pred_label").cast("int").alias("pred_label"),
    ).agg(F.count("*").alias("n"))


@register(
    "j79_triangle_count",
    oracle="""
    WITH e0 AS (
        SELECT DISTINCT l_orderkey % 512 AS a, l_partkey % 512 AS b
        FROM lineitem WHERE l_orderkey % 512 <> l_partkey % 512
    ), und AS (
        SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0
    ), deg AS (
        SELECT a AS v, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1
    ), keyed AS (
        SELECT u.a AS ua, u.b AS ub,
               da.d * 100000 + u.a AS ka, db.d * 100000 + u.b AS kb
        FROM und u JOIN deg da ON da.v = u.a JOIN deg db ON db.v = u.b
    ), orient AS (
        SELECT ua AS u, ub AS w, kb AS kw FROM keyed WHERE ka < kb
    ), wedges AS (
        SELECT e1.w AS v1, e2.w AS v2
        FROM orient e1 JOIN orient e2 ON e1.u = e2.u AND e1.kw < e2.kw
    ), closed AS (
        SELECT COUNT(*) AS nt
        FROM wedges JOIN orient o ON o.u = wedges.v1 AND o.w = wedges.v2
    )
    SELECT CAST(closed.nt AS BIGINT) AS n_triangles,
           CAST((SELECT COUNT(*) FROM orient) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes
    FROM closed
    """,
    survey="J71,D8,E3,J79",
)
def j79_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting over the order↔part co-occurrence graph —
    the clustering-coefficient primitive and the second canonical graph
    workload after j71's PageRank.

    Degree-ORIENTED formulation (Cohen's MapReduce algorithm / GraphX's
    implementation): orient every undirected edge from lower to higher
    (degree, id) key, enumerate wedges only at each edge's LOWER-keyed
    endpoint, and close them with one more oriented-edge join.  Each
    triangle is counted exactly once, and wedge fan-out is bounded by
    ORIENTED out-degree ≤ O(√|E|) even on power-law graphs — the whole
    point of the orientation (a naive wedge join explodes on hub
    nodes).  Everything is exact integer counting — the oracle states
    the identical algorithm in SQL and hash-matches.

    Scale shape: dedup + degree agg + three hash equi joins; the
    orientation key (deg·100000 + id) is a total order, so ties are
    impossible by construction."""
    li = Tables(spark, sf_dir).lineitem
    e0 = (
        li.select(
            (F.col("l_orderkey") % 512).alias("a"),
            (F.col("l_partkey") % 512).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # r11 (guide §2.4): e0/und/orient each feed 2-4 consumers on the
        # bounded %512 graph — fully lazy this re-derived the lineitem
        # scan + distinct per consumer (50 Exchanges).  Lazy
        # (persist-backed) cuts compute each relation once.
        .localCheckpoint(eager=False)
    )
    und = (
        e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = und.groupBy(F.col("a").alias("v")).agg(F.count("*").alias("d"))
    keyed = (
        und.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.col("a").alias("ua"),
            F.col("b").alias("ub"),
            (F.col("da") * 100000 + F.col("a")).alias("ka"),
            (F.col("db") * 100000 + F.col("b")).alias("kb"),
        )
    )
    orient = keyed.filter(F.col("ka") < F.col("kb")).select(
        F.col("ua").alias("u"), F.col("ub").alias("w"), F.col("kb").alias("kw")
    ).localCheckpoint(eager=False)
    e1 = orient.select(F.col("u"), F.col("w").alias("v1"), F.col("kw").alias("k1"))
    e2 = orient.select(F.col("u"), F.col("w").alias("v2"), F.col("kw").alias("k2"))
    wedges = e1.join(e2, "u").filter(F.col("k1") < F.col("k2")).select("v1", "v2")
    closed = wedges.join(
        orient.select(F.col("u").alias("v1"), F.col("w").alias("v2")), ["v1", "v2"]
    ).agg(F.count("*").alias("n_triangles"))
    n_edges = orient.agg(F.count("*").alias("n_edges"))
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    return closed.crossJoin(F.broadcast(n_edges)).crossJoin(F.broadcast(n_nodes))
