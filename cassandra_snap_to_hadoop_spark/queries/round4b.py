"""Round-4 continuation — SQL-surface features Spark 4 makes native
(recursive CTEs, correlated LATERAL subqueries) plus the remaining
classical-statistics and normalization operators.

The recursive CTE closes a gap SURVEY §2 had documented as *deliberately
absent*: Spark 4 ships iterative ``WITH RECURSIVE`` (UnionLoop execution),
so order-dependent folds that previously needed applyInPandas recursions
(f15 CUSUM, f24 Holt) now also have a pure-SQL member.  DuckDB implements
the identical ANSI construct independently, so hash agreement is strong
evidence: two engines iterate the same recursion to the same fixpoint.

Float discipline is inherited from the established rules: integer cents
lattices, truncating integer division (Spark ``DIV`` == DuckDB ``//``,
both toward zero — verified including negatives), ROUND half-up in both
engines, micro-unit quantization for ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.io import Tables, load
from cassandra_snap_to_hadoop_spark.registry import register

# Recursion depth cap for sql_api_recursive_cte: the chain walks at most
# this many orders per customer, so the iteration count is a compile-time
# constant (12) regardless of data volume — the bounded-depth discipline
# that makes recursive CTEs 100 TB-safe (each step is one distributed
# join+projection over the frontier, never a driver-side loop).
_CHAIN_CAP = 12


@register(
    "sql_api_recursive_cte",
    oracle=f"""
    WITH RECURSIVE base AS (
        SELECT o_custkey AS custkey,
               CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey)
                    AS BIGINT) AS rn,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amt_cents,
               CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_all
        FROM orders
    ), capped AS (
        SELECT custkey, rn, amt_cents,
               LEAST(n_all, {_CHAIN_CAP}) AS n_chain
        FROM base WHERE rn <= {_CHAIN_CAP}
    ), chain AS (
        SELECT custkey, rn, n_chain, amt_cents AS bal_cents
        FROM capped WHERE rn = 1
        UNION ALL
        SELECT b.custkey, b.rn, b.n_chain,
               (c.bal_cents * 105) // 100 + b.amt_cents
        FROM chain c
        JOIN capped b ON b.custkey = c.custkey AND b.rn = c.rn + 1
    )
    SELECT custkey, CAST(n_chain AS BIGINT) AS n_orders,
           CAST(bal_cents AS BIGINT) AS final_bal_cents
    FROM chain WHERE rn = n_chain
    """,
    survey="SQL-4,F15,C1",
)
def sql_api_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``): per-customer compounding
    balance fold over the first 12 orders — bal' = bal*1.05 (integer cents,
    truncating DIV) + next order's amount.  Genuinely order-dependent (no
    window rewrite exists: the growth factor compounds), previously only
    expressible here via applyInPandas recursions.

    Engine semantics: Spark plans the recursion as UnionLoop — each of the
    ≤12 iterations is one distributed join of the frontier (one row per
    customer) against the capped base relation, so the work per step is a
    hash join + projection, fully parallel, with NO driver-side iteration
    state beyond the loop counter.  Depth is capped by construction
    (``rn <= 12``), so the plan's iteration count is a constant — the same
    bounded-recursion discipline as pagerank_int's fixed power iterations.
    The DuckDB oracle runs the textually-parallel ANSI recursion (``//``
    vs ``DIV`` is the only dialect difference); both engines truncate
    integer division toward zero, so every intermediate balance is
    bit-identical.

    Optimization (r11, guide §3.3/§2.4): the UnionLoop's step plan used to
    inline the whole ``base``/``capped`` derivation — parquet scan +
    exchange + two windows — under EVERY loop iteration, so the 12-step
    recursion paid 13 scans and 13 window exchanges of orders (measured
    5.4 s at sf0.1).  ``capped`` is now computed once as a DataFrame and
    ``localCheckpoint``-materialized (the documented stage-boundary cut:
    curation funnel / dup_clusters precedent), and the UNCHANGED
    WITH RECURSIVE runs over the materialized view — each iteration joins
    the frontier against in-memory KB-scale rows.  Same rows, same
    arithmetic, same recursion; 13 scans → 1."""
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    w_rn = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_all = Window.partitionBy("o_custkey")
    capped = (
        orders.select(
            F.col("o_custkey").alias("custkey"),
            F.row_number().over(w_rn).alias("rn"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("amt_cents"),
            F.count(F.lit(1)).over(w_all).alias("n_all"),
        )
        .where(F.col("rn") <= _CHAIN_CAP)
        .select(
            "custkey",
            "rn",
            "amt_cents",
            F.least(F.col("n_all"), F.lit(_CHAIN_CAP)).alias("n_chain"),
        )
        .localCheckpoint()
    )
    capped.createOrReplaceTempView("cs2h_rec_capped")
    # Join-strategy selection for the loop step (guide §3.1): AQE cannot
    # re-plan inside a UnionLoop, so the step join defaults to a full
    # shuffle of BOTH sides per iteration.  The materialized row count is
    # already known (the checkpoint ran), so mirror AQE's own rule here:
    # broadcast the loop-invariant ``capped`` side iff its estimated size
    # sits under the session's autoBroadcastJoinThreshold; at cluster
    # scale the relation is data-sized, the condition fails, and the plan
    # stays a partitioned join.  (~48 bytes per 4-col row of long/int.)
    n_capped = capped.count()
    thr = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    hint = "/*+ BROADCAST(b) */ " if 0 < thr and n_capped * 48 < thr else ""
    # The step join only needs (custkey, rn, amt_cents) from the build
    # side — n_chain is constant per custkey, so the frontier carries it
    # (c.n_chain) and the per-iteration broadcast rebuild ships 3 columns
    # instead of 4 (guide §2.3 "project before the exchange"; UnionLoop
    # rebuilds the build side every iteration, so the narrowing pays 12x).
    chain = spark.sql(
        f"""
        WITH RECURSIVE capped AS (
            SELECT custkey, rn, amt_cents, n_chain FROM cs2h_rec_capped
        ), step AS (
            SELECT custkey, rn, amt_cents FROM cs2h_rec_capped
        ), chain AS (
            SELECT custkey, rn, n_chain, amt_cents AS bal_cents
            FROM capped WHERE rn = 1
            UNION ALL
            SELECT {hint}b.custkey, b.rn, c.n_chain,
                   (c.bal_cents * 105) DIV 100 + b.amt_cents
            FROM chain c
            JOIN step b ON b.custkey = c.custkey AND b.rn = c.rn + 1
        )
        SELECT * FROM chain
        """
    )
    # Row bound from the input: Spark fails a recursive CTE past
    # spark.sql.cteRecursionRowLimit (1,000,000 rows; SF1's chain is
    # larger) unless a limit reaches its UnionLoop, which then stops at
    # the limit instead.  The chain holds exactly one row per capped order,
    # so n_capped never drops a row.  The limit is a per-partition
    # LocalLimit, which the optimizer moves into the UnionLoop: SQL's LIMIT
    # would also plan a GlobalLimit above it, a single-partition exchange
    # of every chain row (2.5x slower at sf0.01).  UnionLoop limits are Ints.
    if n_capped > (1 << 31) - 1:
        raise ValueError(f"sql_api_recursive_cte: {n_capped} chain rows exceed an Int row limit")
    jvm = spark._jvm
    limit = jvm.org.apache.spark.sql.catalyst.expressions.Literal(
        n_capped, jvm.org.apache.spark.sql.types.DataTypes.IntegerType
    )
    plan = jvm.org.apache.spark.sql.catalyst.plans.logical.LocalLimit(
        limit, chain._jdf.queryExecution().logical()
    )
    chain = DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, plan), spark)
    return chain.where("rn = n_chain").selectExpr(
        "custkey", "CAST(n_chain AS BIGINT) AS n_orders", "bal_cents AS final_bal_cents"
    )


@register(
    "d21_lateral_topk",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.price_cents
    FROM customer c, LATERAL (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY ROUND(o_totalprice * 100) DESC, o_orderkey
        LIMIT 2
    ) t
    """,
    survey="D21,G3,C1",
)
def d21_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT (Spark 4): each
    customer's top-2 orders by price, written as the SQL-standard lateral
    derived table instead of g3's explicit window.

    The interesting part is what Catalyst does with it: the correlated
    limit is DECORRELATED into a partitioned window/filter over one
    shuffle of orders — NOT a nested loop per customer (asserted in
    tests/test_round4b.py: no CartesianProduct / BroadcastNestedLoop in
    the plan).  So the lateral surface syntax carries the same 100 TB
    plan shape as the hand-written top-k-per-group.  Deterministic
    tiebreak: integer cents DESC, then o_orderkey; DuckDB executes the
    identical ANSI text."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("cs2h_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("cs2h_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.price_cents
        FROM cs2h_customer c, LATERAL (
            SELECT o_orderkey,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
            FROM cs2h_orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY ROUND(o_totalprice * 100) DESC, o_orderkey
            LIMIT 2
        ) t
        """
    )


@register(
    "e49_anova_f",
    oracle="""
    WITH x AS (
        SELECT l_returnflag AS grp,
               CAST(ROUND(l_quantity) AS BIGINT) AS q
        FROM lineitem
    ), per_g AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_g,
               CAST(SUM(q) AS BIGINT) AS s_g,
               CAST(SUM(q * q) AS BIGINT) AS q2_g
        FROM x GROUP BY grp
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q) AS BIGINT) AS s,
               CAST(SUM(q * q) AS BIGINT) AS q2,
               CAST(COUNT(DISTINCT grp) AS BIGINT) AS k
        FROM x
    ), terms AS (
        SELECT CAST(SUM((s_g * s_g) // n_g) AS BIGINT) AS between_raw
        FROM per_g
    )
    SELECT n, k,
           between_raw - (s * s) // n            AS ssb,
           q2 - between_raw                      AS ssw,
           ((between_raw - (s * s) // n) // (k - 1)) * 1000000
               // ((q2 - between_raw) // (n - k)) AS f_micro
    FROM tot, terms
    """,
    survey="E49,E5,E2",
)
def e49_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic (quantity across return-flag groups) from
    integer sufficient statistics: one scan computes per-group (n, Σq, Σq²),
    SSB = Σ_g S_g²//n_g − S²//n and SSW = Σq² − Σ_g S_g²//n_g follow by
    arithmetic on those BIGINTs, and F is micro-quantized via truncating
    divisions applied in the SAME order in both engines — every output
    cell is an exact integer, no float anywhere.

    The truncating // per group makes this a *defined* statistic (exact F
    differs below the 1e-6 level); the point is the sufficient-statistics
    shape: at 100 TB this is one map-side-combinable aggregation producing
    k≈3 rows, then driver-trivial arithmetic — the same pattern as e41's
    OLS normal equations.  Overflow budget: q ≤ 50 so Σq² ≤ 2.5e3·n and
    S_g² ≤ (50·n)² needs n ≲ 6e7 per group before BIGINT pressure; at
    larger n, pre-scale q or widen to DECIMAL (documented, as in
    pagerank's lattice note)."""
    li = Tables(spark, sf_dir).lineitem
    x = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round("l_quantity").cast("long").alias("q"),
    )
    per_g = x.groupBy("grp").agg(
        F.count("*").alias("n_g"),
        F.sum("q").alias("s_g"),
        F.sum(F.col("q") * F.col("q")).alias("q2_g"),
    )
    terms = per_g.agg(
        F.sum(F.expr("(s_g * s_g) DIV n_g")).alias("between_raw"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("q2_g").alias("q2"),
        F.count("*").alias("k"),
    )
    return terms.select(
        F.col("n"),
        F.col("k"),
        F.expr("between_raw - (s * s) DIV n").alias("ssb"),
        F.expr("q2 - between_raw").alias("ssw"),
        F.expr(
            "((between_raw - (s * s) DIV n) DIV (k - 1)) * 1000000"
            " DIV ((q2 - between_raw) DIV (n - k))"
        ).alias("f_micro"),
    )


@register(
    "e50_quantile_normalize",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY n_chars, doc_id) AS BIGINT) AS r_s,
               CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
        FROM documents
    ), pooled AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS gr,
               n_chars AS pooled_chars,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM documents
    )
    SELECT r.doc_id, r.source, r.n_chars,
           p.pooled_chars AS norm_chars
    FROM ranked r
    JOIN pooled p ON p.gr = ((r.r_s - 1) * p.n) // r.n_s + 1
    """,
    survey="E50,F1,D2",
)
def e50_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources (the cross-source score
    calibration step of a curation pipeline): each document's per-source
    rank r_s of n_s is mapped onto the pooled distribution's value at
    global rank ((r_s−1)·n)//n_s + 1, so every source's score histogram
    becomes the pooled histogram — sources with inflated raw scores stop
    dominating a global quality cut (j19's percentile cut then composes
    fairly across sources).

    Scale shape: the per-source rank is a PARTITIONED window (shuffles on
    source); the pooled total order uses operators/layout.global_rank —
    range-partition + local rank + offset, the e30_equidepth_scalable
    pattern — so there is NO unpartitioned window anywhere (asserted in
    tests); the final step is a plain equi join on the computed target
    rank.  The oracle states the same map with DuckDB's native windows
    (single-node exactness is its job); ranks and the target-rank formula
    are exact integers, and normalized values are drawn from the data, so
    the match is hash-level."""
    from pyspark.sql import Window

    from cassandra_snap_to_hadoop_spark.operators.layout import global_rank

    docs = Tables(spark, sf_dir).documents.select("doc_id", "source", "n_chars")
    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w_src).cast("long").alias("r_s"),
        F.count("*").over(Window.partitionBy("source")).cast("long").alias("n_s"),
    )
    pooled, n_total = global_rank(
        docs.select("n_chars", "doc_id"),
        [F.col("n_chars"), F.col("doc_id")],
        out_col="gr",
        return_total=True,
    )
    pooled = pooled.select(
        F.col("gr").cast("long").alias("gr"),
        F.col("n_chars").alias("pooled_chars"),
    )
    target = ranked.withColumn(
        "gr", F.expr(f"(r_s - 1) * CAST({n_total} AS BIGINT) DIV n_s + 1")
    )
    return target.join(pooled, "gr").select(
        "doc_id", "source", "n_chars", F.col("pooled_chars").alias("norm_chars")
    )


@register(
    "e51_theil_sen_slope",
    oracle="""
    WITH monthly AS (
        SELECT l_suppkey AS suppkey,
               CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS m,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem GROUP BY 1, 2
    ), pairs AS (
        SELECT a.suppkey,
               a.m AS m1, b.m AS m2,
               CASE WHEN b.rev_cents >= a.rev_cents
                    THEN ((b.rev_cents - a.rev_cents) * 1000000) // (b.m - a.m)
                    ELSE -(((a.rev_cents - b.rev_cents) * 1000000) // (b.m - a.m))
               END AS slope_micro
        FROM monthly a JOIN monthly b
          ON a.suppkey = b.suppkey AND b.m > a.m
    ), ranked AS (
        SELECT suppkey, slope_micro,
               CAST(ROW_NUMBER() OVER (PARTITION BY suppkey
                                       ORDER BY slope_micro, m1, m2) AS BIGINT) AS r,
               CAST(COUNT(*) OVER (PARTITION BY suppkey) AS BIGINT) AS n_pairs
        FROM pairs
    )
    SELECT suppkey, n_pairs, slope_micro AS ts_slope_micro
    FROM ranked WHERE r = (n_pairs + 1) // 2
    """,
    survey="E51,E47,F20",
)
def e51_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend slope per supplier: the (lower) median of
    all pairwise slopes between monthly revenue points — the robust
    companion to e47's Mann-Kendall direction test (breakdown point 29%,
    immune to the outlier months that wreck an OLS fit).

    Slopes live on an exact micro-cents/month lattice: the truncating
    division is applied to the NON-NEGATIVE difference and the sign
    re-attached, so Spark DIV and DuckDB // (both toward zero) produce
    identical integers for rising and falling pairs alike.  Median =
    rank (n+1)//2 under the deterministic (slope, m1, m2) order.

    Scale: pair count is |suppliers| × O(M²) with M bounded by the
    calendar span — a constant per supplier, independent of row volume;
    suppliers spread across the cluster on the group key.  No global
    single-reducer stage exists.

    r12 (guide §2.3/§4.2, VERDICT r11 item 3): the pair generation used
    to be a monthly self-join (two extra exchanges of the monthly
    relation) feeding a 3.5M-row ranking window (another sort of every
    pair).  The pairs exist only to select ONE order statistic per
    supplier, so the materialized pair relation is pure shuffle weight:
    the monthly points now group per supplier (calendar-bounded arrays —
    the f24 argument) and ONE Arrow kernel emits each supplier's median
    slope directly.  All slope math is the same exact int64 lattice
    (truncating division applied to the non-negative difference, sign
    re-attached — numpy floor-div on non-negative operands == DIV), and
    the median is the identical rank (n+1)//2 under the identical
    (slope, m1, m2) order, so outputs are hash-identical (verified at
    all 3 SFs).  Plan: 3 Exchanges -> 2, SortMergeJoin + 2 windows ->
    MapInArrow."""
    li = Tables(spark, sf_dir).lineitem
    monthly = (
        li.groupBy(
            F.col("l_suppkey").alias("suppkey"),
            (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
            .cast("long")
            .alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "rev_cents"
            )
        )
    )
    grouped = monthly.groupBy("suppkey").agg(
        F.sort_array(F.collect_list(F.struct("m", "rev_cents"))).alias("pts")
    )

    def ts_batches(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            sups = batch.column("suppkey").to_numpy(zero_copy_only=False)
            pts = batch.column("pts")
            offs = pts.offsets.to_numpy(zero_copy_only=False)
            ms = pts.values.field("m").to_numpy(zero_copy_only=False)
            revs = pts.values.field("rev_cents").to_numpy(zero_copy_only=False)
            out_s, out_n, out_t = [], [], []
            for r in range(len(sups)):
                lo, hi = offs[r], offs[r + 1]
                m = ms[lo:hi]
                rv = revs[lo:hi]
                if len(m) < 2:
                    continue  # no pairs -> no median row (same as the join)
                i, j = np.triu_indices(len(m), k=1)
                d = rv[j] - rv[i]
                dm = m[j] - m[i]
                # truncating division toward zero == floor on the
                # non-negative branch operands (the oracle's CASE form)
                slope = np.where(
                    d >= 0, (d * 1_000_000) // dm, -(((-d) * 1_000_000) // dm)
                )
                order = np.lexsort((m[j], m[i], slope))
                pick = order[(len(order) + 1) // 2 - 1]
                out_s.append(sups[r])
                out_n.append(len(order))
                out_t.append(slope[pick])
            yield pa.RecordBatch.from_pydict(
                {
                    "suppkey": np.asarray(out_s, dtype=np.int64),
                    "n_pairs": np.asarray(out_n, dtype=np.int64),
                    "ts_slope_micro": np.asarray(out_t, dtype=np.int64),
                }
            )

    return grouped.mapInArrow(
        ts_batches, "suppkey long, n_pairs long, ts_slope_micro long"
    )


@register(
    "e52_welch_t",
    oracle="""
    WITH x AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type IN ('purchase', 'click')
    ), stats AS (
        SELECT
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END) AS BIGINT) AS s1,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents * cents ELSE 0 END) AS BIGINT) AS q1,
            CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            CAST(SUM(CASE WHEN event_type = 'click' THEN cents ELSE 0 END) AS BIGINT) AS s2,
            CAST(SUM(CASE WHEN event_type = 'click' THEN cents * cents ELSE 0 END) AS BIGINT) AS q2
        FROM x
    ), d AS (
        SELECT n1, n2,
               (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) AS v1,
               (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1) AS v2,
               CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 AS dm
        FROM stats
    )
    SELECT n1, n2,
           CAST(ROUND((dm / sqrt(v1 / n1 + v2 / n2)) * 1000000) AS BIGINT) AS t_micro,
           CAST(ROUND(((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
                / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                   + (v2 / n2) * (v2 / n2) / (n2 - 1))) * 1000000) AS BIGINT) AS df_micro
    FROM d
    """,
    survey="E52,E5,E11",
)
def e52_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic (purchase vs click order
    values) — the parametric two-sample member completing the inference
    tier (e45 Mann-Whitney is its rank twin, e43 the permutation twin):
    ONE conditional-aggregation scan yields both samples' integer
    sufficient statistics (n, Σc, Σc² in cents), then t and the
    Welch–Satterthwaite df are evaluated in doubles with the IDENTICAL
    operation order in both engines and micro-quantized half-up.

    The known-accepted boundary class applies (a .5-exact micro product
    could round apart only if the double pipelines diverged by 1 ulp —
    measure-zero on this data, same acceptance as e47's z).  Scale: one
    map-side-combinable aggregate, single row out; the s² term needs
    |Σcents| ≲ 3e9 before the DOUBLE product loses integer exactness —
    far above this data, documented like e49's budget."""
    ev = Tables(spark, sf_dir).events
    x = ev.where(F.col("event_type").isin("purchase", "click")).select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    p = F.col("event_type") == "purchase"
    c = F.col("event_type") == "click"
    stats = x.agg(
        F.sum(F.when(p, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(p, F.col("cents")).otherwise(0)).alias("s1"),
        F.sum(F.when(p, F.col("cents") * F.col("cents")).otherwise(0)).alias("q1"),
        F.sum(F.when(c, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(c, F.col("cents")).otherwise(0)).alias("s2"),
        F.sum(F.when(c, F.col("cents") * F.col("cents")).otherwise(0)).alias("q2"),
    )
    d = stats.select(
        "n1",
        "n2",
        F.expr(
            "(CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)"
        ).alias("v1"),
        F.expr(
            "(CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)"
        ).alias("v2"),
        F.expr("CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2").alias("dm"),
    )
    return d.select(
        "n1",
        "n2",
        F.expr(
            "CAST(ROUND((dm / sqrt(v1 / n1 + v2 / n2)) * 1000000) AS BIGINT)"
        ).alias("t_micro"),
        F.expr(
            "CAST(ROUND(((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)"
            " / ((v1 / n1) * (v1 / n1) / (n1 - 1)"
            "    + (v2 / n2) * (v2 / n2) / (n2 - 1))) * 1000000) AS BIGINT)"
        ).alias("df_micro"),
    )


@register(
    "e53_cohen_kappa",
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
    ), cm AS (
        SELECT true_label AS t, pred_label AS p, CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2
    ), rows_ AS (SELECT t, CAST(SUM(n) AS BIGINT) AS r FROM cm GROUP BY t),
    cols_ AS (SELECT p, CAST(SUM(n) AS BIGINT) AS c FROM cm GROUP BY p),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_items,
               CAST(SUM(CASE WHEN t = p THEN n ELSE 0 END) AS BIGINT) AS diag
        FROM cm
    ), pe AS (
        SELECT CAST(SUM(COALESCE(r, 0) * COALESCE(c, 0)) AS BIGINT) AS pe_num
        FROM rows_ FULL JOIN cols_ ON rows_.t = cols_.p
    )
    SELECT n_items, diag, pe_num,
           CASE WHEN n_items * diag - pe_num >= 0
                THEN ((n_items * diag - pe_num) * 1000000)
                     // (n_items * n_items - pe_num)
                ELSE -(((pe_num - n_items * diag) * 1000000)
                       // (n_items * n_items - pe_num))
           END AS kappa_micro
    FROM tot, pe
    """,
    survey="E53,J78,E2",
)
def e53_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa over the nearest-centroid confusion matrix —
    chance-corrected agreement between true labels and j78's predicted
    labels, the standard inter-annotator / classifier-agreement summary
    a labeling pipeline reports alongside raw accuracy (accuracy alone
    flatters majority-class label sets; kappa discounts the agreement a
    label-marginal-preserving random rater would reach).

    Everything stays on the integer lattice: kappa = (N·diag − Σr_k·c_k)
    / (N² − Σr_k·c_k) is evaluated as a sign-split truncating division of
    exact BIGINTs, so the output hash-matches bit-for-bit (no double
    anywhere — stricter than the usual micro-quantized-double tier).
    Composition: the Spark side literally calls j78's registered pipeline
    and aggregates its output; the oracle extends j78's SQL with three
    CTE folds.  Scale: inherits j78's broadcast-centroid shape; the
    kappa fold itself is over the |labels|² confusion relation."""
    from cassandra_snap_to_hadoop_spark.queries.round4 import (
        j78_nearest_centroid_eval,
    )

    # r11 (guide §2.4): the |labels|² confusion relation feeds the row,
    # column and total folds — one KB cut runs j78's embeddings pipeline
    # once, not three times.
    cm = j78_nearest_centroid_eval(spark, sf_dir).select(
        F.col("true_label").alias("t"), F.col("pred_label").alias("p"), "n"
    ).localCheckpoint(eager=False)
    rows_ = cm.groupBy("t").agg(F.sum("n").alias("r"))
    cols_ = cm.groupBy("p").agg(F.sum("n").alias("c"))
    tot = cm.agg(
        F.sum("n").alias("n_items"),
        F.sum(F.when(F.col("t") == F.col("p"), F.col("n")).otherwise(0)).alias(
            "diag"
        ),
    )
    pe = (
        rows_.join(cols_, rows_["t"] == cols_["p"], "full")
        .agg(
            F.sum(
                F.coalesce(F.col("r"), F.lit(0)) * F.coalesce(F.col("c"), F.lit(0))
            ).alias("pe_num")
        )
    )
    return tot.crossJoin(pe).select(
        "n_items",
        "diag",
        "pe_num",
        F.expr(
            "CASE WHEN n_items * diag - pe_num >= 0"
            " THEN ((n_items * diag - pe_num) * 1000000)"
            "      DIV (n_items * n_items - pe_num)"
            " ELSE -(((pe_num - n_items * diag) * 1000000)"
            "        DIV (n_items * n_items - pe_num))"
            " END"
        ).alias("kappa_micro"),
    )


@register(
    "f28_seasonal_decompose",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               epoch_us(ts) // 86400000000 AS day_idx,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT MIN(day_idx) AS mn, MAX(day_idx) AS mx FROM daily
    ), spine AS (
        SELECT t.event_type, s.day_idx
        FROM (SELECT DISTINCT event_type FROM daily) t
        CROSS JOIN (SELECT unnest(generate_series(mn, mx)) AS day_idx
                    FROM bounds) s
    ), filled AS (
        SELECT s.event_type, s.day_idx, COALESCE(d.cnt, 0) AS cnt
        FROM spine s LEFT JOIN daily d
          ON d.event_type = s.event_type AND d.day_idx = s.day_idx
    ), ma AS (
        SELECT event_type, day_idx, cnt,
               SUM(cnt) OVER w AS sum7,
               COUNT(*) OVER w AS cnt7
        FROM filled
        WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), det AS (
        SELECT event_type, day_idx, cnt,
               (sum7 * 1000000) // 7 AS trend_micro,
               cnt * 1000000 - (sum7 * 1000000) // 7 AS det_micro
        FROM ma WHERE cnt7 = 7
    ), seas AS (
        SELECT event_type, day_idx, cnt, trend_micro, det_micro,
               CASE WHEN SUM(det_micro) OVER ws >= 0
                    THEN SUM(det_micro) OVER ws // COUNT(*) OVER ws
                    ELSE -((-SUM(det_micro) OVER ws) // COUNT(*) OVER ws)
               END AS seasonal_micro
        FROM det
        WINDOW ws AS (PARTITION BY event_type, day_idx % 7)
    )
    SELECT event_type, CAST(day_idx AS BIGINT) AS day_idx, cnt,
           CAST(trend_micro AS BIGINT) AS trend_micro,
           CAST(seasonal_micro AS BIGINT) AS seasonal_micro,
           CAST(det_micro - seasonal_micro AS BIGINT) AS resid_micro
    FROM seas
    """,
    survey="F28,F4,F27",
)
def f28_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (trend + weekly seasonal
    + residual) of per-type daily event counts — the descriptive sibling
    of f27's Holt-Winters forecaster: trend = centered 7-day moving
    average over the zero-filled calendar, seasonal = per-(type, day%7)
    mean of the detrended series, residual = the rest.  The residual is
    what f14/f20's anomaly gates SHOULD be fed when traffic has a weekly
    cycle (a Monday spike is seasonality, not an anomaly).

    Exactness: counts are integers; trend/seasonal/residual live on a
    micro lattice via truncating division (sign-split for the seasonal
    mean, whose detrended sum can be negative).  Day index is tz-FREE
    epoch-microseconds DIV 86400e6 (the f22/e27 defense — no session-zone
    dependence), so day%7 is a stable 7-periodic phase, not a named
    weekday.  Only days with a full 7-day window are emitted (cnt7 = 7),
    making every output row fully defined.

    Scale: the spine is |types| × calendar days (broadcast-small); all
    windows are PARTITIONED by event_type (+phase); one shuffle family."""
    from pyspark.sql import Window

    ev = Tables(spark, sf_dir).events
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) DIV 86400000000").alias("day_idx"),
    ).agg(F.count("*").alias("cnt"))
    bounds = daily.agg(F.min("day_idx").alias("mn"), F.max("day_idx").alias("mx"))
    spine = (
        daily.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                bounds.select(
                    F.explode(F.sequence("mn", "mx")).alias("day_idx")
                )
            )
        )
    )
    filled = (
        spine.join(daily, ["event_type", "day_idx"], "left")
        .select("event_type", "day_idx", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(-3, 3)
    )
    ma = filled.select(
        "event_type",
        "day_idx",
        "cnt",
        F.sum("cnt").over(w).alias("sum7"),
        F.count("*").over(w).alias("cnt7"),
    )
    det = ma.where("cnt7 = 7").select(
        "event_type",
        "day_idx",
        "cnt",
        F.expr("(sum7 * 1000000) DIV 7").alias("trend_micro"),
        F.expr("cnt * 1000000 - (sum7 * 1000000) DIV 7").alias("det_micro"),
    )
    # The sign-split over a repeated window reads clearest as one SQL
    # expression whose window text matches the oracle symbol-for-symbol.
    seas = det.withColumn(
        "seasonal_micro",
        F.expr(
            "CASE WHEN sum(det_micro) OVER"
            " (PARTITION BY event_type, day_idx % 7) >= 0"
            " THEN sum(det_micro) OVER (PARTITION BY event_type, day_idx % 7)"
            "      DIV count(*) OVER (PARTITION BY event_type, day_idx % 7)"
            " ELSE -((-sum(det_micro) OVER"
            "         (PARTITION BY event_type, day_idx % 7))"
            "        DIV count(*) OVER (PARTITION BY event_type, day_idx % 7))"
            " END"
        ),
    )
    return seas.select(
        "event_type",
        F.col("day_idx").cast("long").alias("day_idx"),
        "cnt",
        F.col("trend_micro").cast("long").alias("trend_micro"),
        F.col("seasonal_micro").cast("long").alias("seasonal_micro"),
        F.expr("CAST(det_micro - seasonal_micro AS BIGINT)").alias("resid_micro"),
    )


@register(
    "j82_bloom_prefilter_dedup",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, lang,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS k
        FROM documents
    )
    SELECT n.doc_id, n.lang, n.k AS content_hash
    FROM keyed n
    WHERE EXISTS (SELECT 1 FROM keyed h
                  WHERE h.doc_id % 2 = 0 AND h.k = n.k)
    """,
    survey="J82,J1,A5",
)
def j82_bloom_prefilter_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup with a Bloom-filter prefilter — the
    at-least-once re-delivery scenario: the whole batch is re-offered and
    the already-ingested portion (history = even doc_ids; the redelivered
    batch = every document, so even docs self-match and odd docs match
    only on genuine content duplication) must be detected WITHOUT joining
    every incoming key against the full historical key set.  History is
    first compressed into a Bloom structure (k=3 xxhash64 seeds over
    m=8192 positions per seed — a blocked Bloom: one position set per
    seed).  An incoming key is a CANDIDATE only if all 3 of its positions
    are present; candidates alone proceed to the exact md5-key semi join
    that removes Bloom false positives.

    Why this is the 100 TB shape: the position sets are ≤ k·m rows
    (constant, KB — broadcast) no matter how large history grows, so the
    expensive exact join runs over the candidate subset only (true dups
    + FP rate ≈ (1−e^{-kn/m})^k of the batch), while a naive semi join
    shuffles the whole batch against the whole history.  False negatives
    are impossible (every inserted key set all its positions) — the law
    the whole design rests on, property-tested against the plain semi
    join; the final output is therefore EXACTLY the true-duplicate set,
    which is why an engine-specific sketch still carries a plain SQL
    oracle (the j64 pattern: lossy prefilter + exact verify = exact).
    The oracle states the naive EXISTS formulation."""
    from cassandra_snap_to_hadoop_spark.operators.dedup import normalize_text

    m = 8192
    docs = Tables(spark, sf_dir).documents.select(
        "doc_id", "lang", F.md5(normalize_text(F.col("text"))).alias("k")
    )
    hist = docs.where("doc_id % 2 = 0")
    incoming = docs  # at-least-once upstream: the full batch re-delivered

    seeds = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("seed")
    hist_pos = (
        hist.select(seeds, "k")
        .select("seed", F.pmod(F.xxhash64("k", "seed"), F.lit(m)).alias("pos"))
        .distinct()
    )
    probe = incoming.select("doc_id", "lang", "k", seeds).select(
        "doc_id",
        "lang",
        "k",
        "seed",
        F.pmod(F.xxhash64("k", "seed"), F.lit(m)).alias("pos"),
    )
    candidates = (
        probe.join(F.broadcast(hist_pos), ["seed", "pos"])
        .groupBy("doc_id", "lang", "k")
        .agg(F.count("*").alias("hits"))
        .where("hits = 3")
        .drop("hits")
    )
    return candidates.join(
        hist.select("k").distinct(), "k", "left_semi"
    ).select("doc_id", "lang", F.col("k").alias("content_hash"))


@register(
    "e54_silhouette",
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
    ), ab AS (
        SELECT vec_id, true_label,
               CAST(MIN(CASE WHEN clabel = true_label THEN dist2 END)
                    AS BIGINT) AS a2,
               CAST(MIN(CASE WHEN clabel <> true_label THEN dist2 END)
                    AS BIGINT) AS b2
        FROM d2 GROUP BY 1, 2
    ), s AS (
        SELECT vec_id, true_label,
               CAST(ROUND(((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
                    / greatest(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE))))
                    * 1000000) AS BIGINT) AS s_micro
        FROM ab
    )
    SELECT CAST(true_label AS INTEGER) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(s_micro) AS BIGINT) AS sum_s_micro,
           CAST(CASE WHEN SUM(s_micro) >= 0
                     THEN SUM(s_micro) // COUNT(*)
                     ELSE -((-SUM(s_micro)) // COUNT(*))
                END AS BIGINT) AS mean_s_micro
    FROM s GROUP BY 1
    """,
    survey="E54,J76,J78",
)
def e54_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label — the third leg of
    the clustering-eval tier (j78 confusion matrix: assignment quality;
    e53 kappa: chance-corrected agreement; this: geometric separation):
    s_i = (b−a)/max(a,b) with a = distance to the OWN label centroid and
    b = distance to the NEAREST other centroid.  The simplified variant
    (Hruschka's centroid distances instead of all-pairs means) is the one
    that scales — full silhouette is an O(n²) pairwise-distance sum.

    Float discipline: squared distances are exact BIGINTs on the micro
    lattice (j76/j78's arithmetic); each s_i takes exactly one sqrt/sub/
    div chain per ROW in identical operation order, is quantized to a
    micro integer, and only INTEGERS are summed across rows — so the
    group totals are association-order-free and hash-certifiable (the
    double never enters an accumulator; the e47/e52 rowwise-identical
    discipline).  Sign-split DIV for the (possibly negative) mean.

    Scale: identical shape to j78 — broadcast |labels|·dims centroids,
    linear |labels|× fan-out per vector, two hash aggs; never a
    vector-pair join."""
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
    ab = d2.groupBy("vec_id", "true_label").agg(
        F.min(F.when(F.col("clabel") == F.col("true_label"), F.col("dist2"))).alias(
            "a2"
        ),
        F.min(F.when(F.col("clabel") != F.col("true_label"), F.col("dist2"))).alias(
            "b2"
        ),
    )
    s = ab.select(
        "vec_id",
        "true_label",
        F.expr(
            "CAST(ROUND(((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))"
            " / greatest(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE))))"
            " * 1000000) AS BIGINT)"
        ).alias("s_micro"),
    )
    return s.groupBy(F.col("true_label").cast("int").alias("label")).agg(
        F.count("*").alias("n_vecs"),
        F.sum("s_micro").alias("sum_s_micro"),
        F.expr(
            "CASE WHEN sum(s_micro) >= 0 THEN sum(s_micro) DIV count(*)"
            " ELSE -((-sum(s_micro)) DIV count(*)) END"
        ).alias("mean_s_micro"),
    )


@register(
    "f29_cusum_recursive",
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
               GREATEST(CAST(0 AS BIGINT), x - mu - mu // 20) AS s,
               GREATEST(CAST(0 AS BIGINT), x - mu - mu // 20) AS s_max,
               CASE WHEN GREATEST(CAST(0 AS BIGINT), x - mu - mu // 20)
                         > mu // 4 THEN 1 ELSE 0 END AS n_alarms
        FROM numbered WHERE rn = 1
        UNION ALL
        SELECT b.event_type, b.rn, b.n_days, b.mu,
               GREATEST(CAST(0 AS BIGINT), c.s + b.x - b.mu - b.mu // 20),
               GREATEST(c.s_max,
                        GREATEST(CAST(0 AS BIGINT),
                                 c.s + b.x - b.mu - b.mu // 20)),
               c.n_alarms + CASE WHEN GREATEST(CAST(0 AS BIGINT),
                                 c.s + b.x - b.mu - b.mu // 20) > b.mu // 4
                            THEN 1 ELSE 0 END
        FROM chain c
        JOIN numbered b
          ON b.event_type = c.event_type AND b.rn = c.rn + 1
    )
    SELECT event_type, n_days,
           CAST(n_alarms AS BIGINT) AS n_alarms,
           CAST(s_max AS BIGINT) AS max_cusum_cents
    FROM chain WHERE rn = n_days
    """,
    survey="F29,F15,SQL-4",
)
def f29_cusum_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change detection as a RECURSIVE CTE — the SQL-certified twin
    of f15's applyInPandas fold, enabled by sql_api_recursive_cte's
    machinery: the clamped recursion s_i = max(0, s_{i-1} + x_i − μ − k)
    genuinely cannot be window-rewritten, but over the DAILY pre-agg the
    recursion depth equals the calendar span (≈30 here, bounded by the
    observation window — far inside Spark's recursion limit), so both
    engines can iterate it exactly.

    Everything is BIGINT: x = daily cents, μ = per-type truncating mean,
    allowance k = μ//20 (5%), alarm threshold h = μ//4 — a DEFINED
    integer statistic (f15's per-event σ-based tier remains the
    production float path; this twin trades the σ calibration for exact
    cross-engine certification, the e30-exact/e30-scalable pairing in
    reverse).  Output: per-type alarm count and max CUSUM excursion.

    Scale: per-type chains advance in LOCKSTEP inside one UnionLoop —
    each iteration joins the |types|-row frontier to the daily relation;
    depth is calendar-bounded, per-step work distributes on event_type.
    The tz-free epoch-day key is the f22/e27 defense."""
    ev = Tables(spark, sf_dir).events
    # The daily relation is |types| × calendar days (≤ a few hundred rows
    # at ANY corpus size — it is calendar-bounded, not volume-bounded), so
    # pin it to ONE partition; with the BROADCAST hint below each of the
    # ~30 UnionLoop iterations is then a KB broadcast join instead of a
    # default-partition-count shuffle pair.
    ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) DIV 86400000000").alias("day_idx"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("x")
    ).coalesce(1).createOrReplaceTempView("cs2h_daily_cusum")
    # r11 (the sql_api_recursive_cte treatment, guide §3.3/§2.4): the
    # UnionLoop inlines its step plan under EVERY iteration, so the whole
    # events scan + daily agg + three windows used to run ~30× (once per
    # calendar day).  ``numbered`` is loop-INVARIANT — materialize it
    # once (KB, calendar-bounded) and recurse over the checkpointed view;
    # each iteration is then a broadcast join of the frontier against
    # in-memory rows.  Values, recursion and oracle text are unchanged
    # (measured 14.7 s → ~4 s noop at sf0.1).
    # Cluster-robustness caveat (ADVICE r11, shared by the f29-family /
    # ml_lsh / j59 lazy localCheckpoints): checkpointed blocks live
    # UNREPLICATED on executors — executor loss or dynamic-allocation
    # decommission mid-query fails the job with no lineage fallback.
    # Fine for the local bench; a long-lived cluster deployment should
    # swap in reliable checkpointing or persist(MEMORY_AND_DISK).
    spark.sql(
        """
        SELECT event_type, day_idx, x,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day_idx) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n_days,
               SUM(x) OVER (PARTITION BY event_type)
                   DIV COUNT(*) OVER (PARTITION BY event_type) AS mu
        FROM cs2h_daily_cusum
        """
    ).localCheckpoint(eager=False).createOrReplaceTempView("cs2h_numbered_cusum")
    return spark.sql(
        """
        WITH RECURSIVE numbered AS (
            SELECT event_type, day_idx, x, rn, n_days, mu
            FROM cs2h_numbered_cusum
        ), chain AS (
            SELECT event_type, rn, n_days, mu,
                   GREATEST(CAST(0 AS BIGINT), x - mu - mu DIV 20) AS s,
                   GREATEST(CAST(0 AS BIGINT), x - mu - mu DIV 20) AS s_max,
                   CASE WHEN GREATEST(CAST(0 AS BIGINT), x - mu - mu DIV 20)
                             > mu DIV 4 THEN 1 ELSE 0 END AS n_alarms
            FROM numbered WHERE rn = 1
            UNION ALL
            -- BROADCAST(b): the calendar-bounded base side fits in KB, so
            -- every iteration becomes a broadcast join instead of a
            -- 200-partition shuffle pair (measured 21.7 s -> ~12 s warm
            -- under a plain driver session; the rest is the per-iteration
            -- job-scheduling floor, not data).
            SELECT /*+ BROADCAST(b) */ b.event_type, b.rn, b.n_days, b.mu,
                   GREATEST(CAST(0 AS BIGINT), c.s + b.x - b.mu - b.mu DIV 20),
                   GREATEST(c.s_max,
                            GREATEST(CAST(0 AS BIGINT),
                                     c.s + b.x - b.mu - b.mu DIV 20)),
                   c.n_alarms + CASE WHEN GREATEST(CAST(0 AS BIGINT),
                                     c.s + b.x - b.mu - b.mu DIV 20)
                                     > b.mu DIV 4 THEN 1 ELSE 0 END
            FROM chain c
            JOIN numbered b
              ON b.event_type = c.event_type AND b.rn = c.rn + 1
        )
        SELECT event_type, n_days,
               CAST(n_alarms AS BIGINT) AS n_alarms,
               s_max AS max_cusum_cents
        FROM chain WHERE rn = n_days
        """
    )


@register(
    "e55_calinski_harabasz",
    oracle="""
    WITH ex AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000)
                    AS BIGINT) AS milli
        FROM embeddings
    ), cent AS (
        SELECT label, dim,
               CAST(SUM(milli) // COUNT(*) AS BIGINT) AS cmilli,
               CAST(COUNT(*) AS BIGINT) AS n_l
        FROM ex GROUP BY 1, 2
    ), gcent AS (
        SELECT dim, CAST(SUM(milli) // COUNT(*) AS BIGINT) AS gmilli
        FROM ex GROUP BY 1
    ), ssw_t AS (
        SELECT CAST(SUM((e.milli - c.cmilli) * (e.milli - c.cmilli))
                    AS BIGINT) AS ssw
        FROM ex e JOIN cent c ON c.label = e.label AND c.dim = e.dim
    ), ssb_t AS (
        SELECT CAST(SUM(c.n_l * (c.cmilli - g.gmilli) * (c.cmilli - g.gmilli))
                    AS BIGINT) AS ssb
        FROM cent c JOIN gcent g ON g.dim = c.dim
    ), sizes AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT label) AS BIGINT) AS k
        FROM (SELECT DISTINCT vec_id, label FROM ex)
    )
    SELECT n, k, ssb, ssw,
           CAST(((ssb // (k - 1)) * 1000000) // (ssw // (n - k))
                AS BIGINT) AS vrc_micro
    FROM sizes, ssw_t, ssb_t
    """,
    survey="E55,E54,E49",
)
def e55_calinski_harabasz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calinski-Harabasz variance-ratio criterion over the labeled
    embedding space — e49's ANOVA decomposition lifted to vectors: SSB =
    Σ_l n_l·‖c_l − c‖², SSW = Σ_i ‖x_i − c_{l(i)}‖², VRC = (SSB/(k−1)) /
    (SSW/(n−k)).  The fourth clustering-eval leg (j78 assignment, e53
    agreement, e54 per-point geometry, this one global dispersion).

    Exactness: coordinates quantize to a MILLI lattice here (coarser than
    j76/j78's micro) so that SSB·1e6 stays inside int64 — the overflow
    budget, worked through in the e49/pagerank style: |diff| ≤ 2e3 ⇒
    squares ≤ 4e6, SSW ≈ n·dims·4e6 ≲ 1e12 at sf0.1, and the final
    (ssb//(k−1))·1e6 ≲ 1e15.  Both engines share the lattice, so every
    output cell is an exact BIGINT.

    Scale: two hash aggs build centroids (|labels|·dims rows) and the
    global centroid (dims rows, broadcast); SSW is one more scan-join;
    no pairwise structure anywhere."""
    e = Tables(spark, sf_dir).embeddings
    ex = e.select(
        "vec_id", "label", F.posexplode(F.col("embedding")).alias("dim", "x")
    ).select(
        "vec_id",
        "label",
        "dim",
        F.round(F.col("x").cast("double") * 1_000).cast("long").alias("milli"),
    )
    # r11 (guide §2.4): ONE (label, dim) sum/count agg checkpoints; the
    # per-cluster centroid is its integer division and the global
    # centroid folds out of it (Σ per-label sums ≡ global sum, Σ counts
    # ≡ global count — exact BIGINTs), so the posexplode runs twice
    # (centroid agg + SSW join), not three times.
    cent_raw = (
        ex.groupBy("label", "dim")
        .agg(F.sum("milli").alias("smilli"), F.count("*").alias("n_l"))
        .localCheckpoint(eager=False)
    )
    cent = cent_raw.select(
        "label",
        "dim",
        F.expr("smilli div n_l").alias("cmilli"),
        "n_l",
    )
    gcent = cent_raw.groupBy("dim").agg(
        F.expr("sum(smilli) div sum(n_l)").alias("gmilli")
    )
    ssw_t = (
        ex.join(F.broadcast(cent), ["label", "dim"])
        .agg(
            F.sum(
                (F.col("milli") - F.col("cmilli"))
                * (F.col("milli") - F.col("cmilli"))
            ).alias("ssw")
        )
    )
    ssb_t = (
        cent.join(F.broadcast(gcent), "dim")
        .agg(
            F.sum(
                F.col("n_l")
                * (F.col("cmilli") - F.col("gmilli"))
                * (F.col("cmilli") - F.col("gmilli"))
            ).alias("ssb")
        )
    )
    sizes = e.agg(
        F.count("*").alias("n"), F.countDistinct("label").alias("k")
    )
    return (
        sizes.crossJoin(ssw_t)
        .crossJoin(ssb_t)
        .select(
            "n",
            "k",
            "ssb",
            "ssw",
            F.expr(
                "CAST(((ssb DIV (k - 1)) * 1000000) DIV (ssw DIV (n - k)) AS BIGINT)"
            ).alias("vrc_micro"),
        )
    )


@register(
    "e56_mase_forecast_eval",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               epoch_us(ts) // 86400000000 AS day_idx,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT MIN(day_idx) AS mn, MAX(day_idx) AS mx FROM daily
    ), spine AS (
        SELECT t.event_type, s.day_idx
        FROM (SELECT DISTINCT event_type FROM daily) t
        CROSS JOIN (SELECT unnest(generate_series(mn, mx)) AS day_idx
                    FROM bounds) s
    ), filled AS (
        SELECT s.event_type, s.day_idx, COALESCE(d.x, 0) AS x
        FROM spine s LEFT JOIN daily d
          ON d.event_type = s.event_type AND d.day_idx = s.day_idx
    ), lagged AS (
        SELECT event_type, day_idx, x,
               LAG(x, 7) OVER w AS x7,
               LAG(x, 1) OVER w AS x1
        FROM filled
        WINDOW w AS (PARTITION BY event_type ORDER BY day_idx)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_evaluated,
           CAST(SUM(ABS(x - x7)) AS BIGINT) AS mae7_cents,
           CAST(SUM(ABS(x - x1)) AS BIGINT) AS mae1_cents,
           CAST((SUM(ABS(x - x7)) * 1000000) // SUM(ABS(x - x1))
                AS BIGINT) AS mase_micro
    FROM lagged WHERE x7 IS NOT NULL
    GROUP BY 1
    """,
    survey="E56,F27,F2",
)
def e56_mase_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE-style forecast evaluation (Hyndman-Koehler's scale-free
    accuracy measure): the seasonal-naive forecast x̂_t = x_{t−7} scored
    against the one-step-naive benchmark x̂_t = x_{t−1} over per-type
    daily revenue — MASE < 1 means weekly seasonality carries real
    signal, the go/no-go check BEFORE trusting f27's Holt-Winters fit
    (if seasonal-naive can't beat naive, a seasonal model is noise).

    Both "models" are lag windows, so the whole evaluation is exact
    integer arithmetic: absolute cent errors summed per type, ratio
    micro-quantized with truncating division.  Evaluation restricted to
    days where the seasonal lag exists (x7 IS NOT NULL) — BOTH sums use
    that same row set, the subtlety that makes the ratio well-defined.

    Scale: zero-filled calendar spine (broadcast), one PARTITIONED lag
    window, one hash agg."""
    from pyspark.sql import Window

    ev = Tables(spark, sf_dir).events
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) DIV 86400000000").alias("day_idx"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    bounds = daily.agg(F.min("day_idx").alias("mn"), F.max("day_idx").alias("mx"))
    spine = (
        daily.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                bounds.select(F.explode(F.sequence("mn", "mx")).alias("day_idx"))
            )
        )
    )
    filled = spine.join(daily, ["event_type", "day_idx"], "left").select(
        "event_type", "day_idx", F.coalesce("x", F.lit(0)).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day_idx")
    lagged = filled.select(
        "event_type",
        "day_idx",
        "x",
        F.lag("x", 7).over(w).alias("x7"),
        F.lag("x", 1).over(w).alias("x1"),
    )
    return (
        lagged.where(F.col("x7").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_evaluated"),
            F.sum(F.abs(F.col("x") - F.col("x7"))).alias("mae7_cents"),
            F.sum(F.abs(F.col("x") - F.col("x1"))).alias("mae1_cents"),
            F.expr(
                "CAST((SUM(ABS(x - x7)) * 1000000) DIV SUM(ABS(x - x1)) AS BIGINT)"
            ).alias("mase_micro"),
        )
    )


@register(
    "j83_feature_hashing",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
        FROM documents
    ), hashed AS (
        SELECT doc_id,
               CAST(CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) % 256
                    AS BIGINT) AS dim,
               CASE WHEN substr(md5(term), 9, 1) < '8' THEN 1 ELSE -1 END AS sgn
        FROM toks WHERE term <> ''
    )
    SELECT doc_id, dim,
           CAST(SUM(sgn) AS BIGINT) AS weight,
           CAST(COUNT(*) AS BIGINT) AS n_terms
    FROM hashed GROUP BY 1, 2
    """,
    survey="J83,J5,I8",
)
def j83_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger '09): fixed-dimension sparse feature
    vectors with NO vocabulary pass — each term maps to dimension
    md5(term) mod 256 with a ±1 sign bit from the next hash nibble (the
    signed variant that makes collisions cancel in expectation instead of
    biasing upward).  Output is the sparse (doc, dim, weight) triple
    relation an ML trainer consumes; the engine's HashingTF equivalent,
    but SQL-certified because md5 exists verbatim in both engines (the
    j64/e38 md5-lattice pattern — xxhash64 would be faster but is
    Spark-only, the documented production swap).

    One-pass, vocabulary-free is the 100 TB point: no vocab build, no
    broadcast, no OOV — the dimension is a pure function of the term
    bytes.  Scale: tokenize/explode → one map-side-combinable hash agg;
    output bounded by |docs|·256."""
    d = Tables(spark, sf_dir).documents
    toks = d.select(
        "doc_id",
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                " ",
            )
        ).alias("term"),
    ).where(F.col("term") != "")
    hashed = toks.select(
        "doc_id",
        (F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long") % 256)
        .cast("long")
        .alias("dim"),
        F.when(F.substring(F.md5("term"), 9, 1) < "8", 1).otherwise(-1).alias("sgn"),
    )
    return hashed.groupBy("doc_id", "dim").agg(
        F.sum("sgn").alias("weight"),
        F.count("*").alias("n_terms"),
    )


@register(
    "e58_psi_drift",
    oracle="""
    WITH x AS (
        SELECT CASE WHEN year(o_orderdate) <= 1996 THEN 'ref' ELSE 'cur' END
                   AS period,
               LEAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) // 5000000, 9)
                   AS bin
        FROM orders
    ), counts AS (
        SELECT bin,
               CAST(SUM(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ref,
               CAST(SUM(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_cur
        FROM x GROUP BY bin
    ), tot AS (
        SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
               CAST(SUM(n_cur) AS BIGINT) AS t_cur
        FROM counts
    ), terms AS (
        SELECT bin, n_ref, n_cur,
               CAST(ROUND(((CAST(GREATEST(n_cur, 1) AS DOUBLE) / t_cur)
                    - (CAST(GREATEST(n_ref, 1) AS DOUBLE) / t_ref))
                    * ln((CAST(GREATEST(n_cur, 1) AS DOUBLE) / t_cur)
                         / (CAST(GREATEST(n_ref, 1) AS DOUBLE) / t_ref))
                    * 1000000) AS BIGINT) AS term_micro
        FROM counts, tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(term_micro) AS BIGINT) AS psi_micro
    FROM terms
    """,
    survey="E58,E36,J37",
)
def e58_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — the model-monitoring drift metric
    (PSI = Σ (p_cur−p_ref)·ln(p_cur/p_ref) over fixed price bins, with
    the standard min-count-1 floor so empty bins don't produce ±∞):
    reference period ≤1996 vs current >1996.  Completes the drift tier
    with the INDUSTRY-STANDARD summary (e36 KS = max ECDF gap, j37 KL =
    directional divergence, e37 χ² = independence; PSI is the symmetrized
    per-bin decomposition credit-risk/ML-ops teams actually alert on,
    with its conventional 0.1/0.25 thresholds).

    Float discipline: each bin's term is ONE fixed-order double chain
    (two divides, one ln, one multiply) quantized to a micro integer per
    BIN — only integers are summed (the e54 rowwise discipline), so the
    total is association-order-free.  Bin edges are integer cents //
    5e6, capped at bin 9 (fixed 10-bin layout, the PSI convention).

    Scale: one conditional-agg scan over a 10-row bin relation, then
    scalar arithmetic — map-side combinable end to end."""
    o = Tables(spark, sf_dir).orders
    x = o.select(
        F.when(F.year("o_orderdate") <= 1996, "ref").otherwise("cur").alias(
            "period"
        ),
        F.least(
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT) DIV 5000000"),
            F.lit(9).cast("long"),
        ).alias("bin"),
    )
    counts = x.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == "ref", 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("period") == "cur", 1).otherwise(0)).alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    terms = counts.crossJoin(F.broadcast(tot)).select(
        F.expr(
            "CAST(ROUND(((CAST(GREATEST(n_cur, 1) AS DOUBLE) / t_cur)"
            " - (CAST(GREATEST(n_ref, 1) AS DOUBLE) / t_ref))"
            " * ln((CAST(GREATEST(n_cur, 1) AS DOUBLE) / t_cur)"
            "      / (CAST(GREATEST(n_ref, 1) AS DOUBLE) / t_ref))"
            " * 1000000) AS BIGINT)"
        ).alias("term_micro")
    )
    return terms.agg(
        F.count("*").alias("n_bins"),
        F.sum("term_micro").alias("psi_micro"),
    )


@register(
    "j84_k_anonymity",
    oracle="""
    WITH qi AS (
        SELECT c_mktsegment, c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS class_size
        FROM customer GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(class_size) AS BIGINT) AS k_anonymity,
           CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                AS BIGINT) AS rows_below_k5,
           CAST(SUM(class_size) AS BIGINT) AS n_rows,
           CAST((SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                 * 1000000) // SUM(class_size) AS BIGINT) AS at_risk_ppm
    FROM qi
    """,
    survey="J84,J21,J38",
)
def j84_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (market segment,
    nation): the dataset's k = the SMALLEST equivalence-class size — the
    Sweeney re-identification measure that says how many records share
    every released quasi-identifier combination — plus the row mass in
    classes below the conventional k=5 release threshold (parts-per-
    million).  The governance complement to j21 (PII redaction removes
    direct identifiers; THIS quantifies indirect re-identification risk
    before a dataset card (j38) can claim the release is safe).

    Pure integer counting: one hash agg over the quasi-identifier key,
    then a 1-row fold — map-side combinable, |classes| bounded by the
    QI domain, never by row count."""
    c = Tables(spark, sf_dir).customer
    qi = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("class_size")
    )
    return qi.agg(
        F.count("*").alias("n_classes"),
        F.min("class_size").alias("k_anonymity"),
        F.sum(
            F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(0)
        ).alias("rows_below_k5"),
        F.sum("class_size").alias("n_rows"),
        F.expr(
            "CAST((SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)"
            " * 1000000) DIV SUM(class_size) AS BIGINT)"
        ).alias("at_risk_ppm"),
    )


@register(
    "i21_builtin_levenshtein",
    oracle="""
    WITH pre AS (
        SELECT doc_id, lang, substr(text, 1, 30) AS s
        FROM documents
    ), t AS (
        SELECT doc_id, lang, s,
               CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY s, doc_id)
                    AS BIGINT) AS rn
        FROM pre
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS edit_dist
    FROM t a JOIN t b
      ON a.lang = b.lang AND b.rn > a.rn AND b.rn <= a.rn + 3
    WHERE levenshtein(a.s, b.s) <= 10
    """,
    survey="I21,I19,J63",
)
def i21_builtin_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in edit distance over sorted-neighborhood candidates — the
    engine-function tier of the fuzzy-match family: i19 proves the
    blocked DP implementation against a Python reference, THIS row
    proves Spark's native ``levenshtein`` against DuckDB's native
    ``levenshtein`` — two independent C++/Java implementations of the
    published DP agreeing exactly on every candidate pair (the j49
    NFC / j70 Jaro-Winkler evidence pattern applied to edit distance).

    Exact integers end to end (distance IS an integer).  Candidates:
    per-lang sorted-neighborhood window of width 3 (~3·n pairs, never
    n²) on 30-char prefixes (bounded per-pair DP cost — Spark's builtin
    also takes a threshold arg for early exit at cluster scale).

    r11 (guide §3.3 "avoid accidental exploding joins"): the neighbor
    band used to be a self-join whose only EQUI key was ``lang`` (a
    handful of values) with the rn band as a post-join predicate — the
    sort-merge join therefore compared every same-lang pair, O(n²) per
    language (measured 48 s noop at sf0.1).  ``b.rn − a.rn ∈ {1,2,3}``
    within the (lang, ORDER BY s, doc_id) window IS ``LEAD(·, k)`` over
    the very window that assigned rn, so each row now emits its ≤3
    following neighbors from one window pass: same pairs, same
    distances, zero joins, and the one exchange is the window's own
    hash-by-lang (partition tails produce NULL leads, exactly the rows
    the old band join had no partner for)."""
    from pyspark.sql.window import Window

    d = Tables(spark, sf_dir).documents
    pre = d.select("doc_id", "lang", F.substring("text", 1, 30).alias("s"))
    w = Window.partitionBy("lang").orderBy("s", "doc_id")
    leads = pre.select(
        "doc_id",
        "s",
        *[
            c
            for k in (1, 2, 3)
            for c in (
                F.lead("doc_id", k).over(w).alias(f"id{k}"),
                F.lead("s", k).over(w).alias(f"s{k}"),
            )
        ],
    )
    t = leads.select(
        "doc_id",
        "s",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.col(f"id{k}").alias("id_b"), F.col(f"s{k}").alias("s_b")
                    )
                    for k in (1, 2, 3)
                ]
            )
        ).alias("nb"),
    )
    return (
        t.where(F.col("nb.id_b").isNotNull())
        .select(
            F.col("doc_id").alias("id_a"),
            F.col("nb.id_b").alias("id_b"),
            F.levenshtein(F.col("s"), F.col("nb.s_b")).cast("long").alias(
                "edit_dist"
            ),
        )
        .where(F.col("edit_dist") <= 10)
    )


@register(
    "a25_tar_shard_ingest",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
           MIN(md5(text)) AS min_md5,
           MAX(md5(text)) AS max_md5
    FROM documents WHERE doc_id < 50 GROUP BY lang
    """,
    survey="A25,A20,L4",
)
def a25_tar_shard_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style tar-shard ingest: training corpora ship as tar
    archives of samples (shard-NNN.tar, one member file per sample) —
    the de-facto petabyte loader format because a tar is sequential-read
    friendly and keeps sample parts adjacent.  Five shards of 10 members
    are staged with stdlib ``tarfile``; the engine reads the shards
    whole-file via ``binaryFile`` and parses them in ``mapInPandas``
    with the SAME stdlib tarfile over an in-memory buffer — REAL archive
    parsing (no stub), one Arrow batch per shard, emitting (doc_id,
    content) rows whose md5 the JVM computes afterward (hashing stays
    OUT of Python).  Content is then certified md5-exact per language
    against the parquet source of truth — the a20 evidence pattern
    lifted from loose files to the archive container.

    Scale: shards are the parallelism unit (a task per tar, the
    WebDataset model); member extraction is a streaming pass over the
    archive bytes; nothing splits a shard.  The oracle is fully
    independent of the staging (it reads the original documents
    relation, never the tar)."""
    import io
    import tarfile

    from cassandra_snap_to_hadoop_spark.queries.layout import _staged

    d = Tables(spark, sf_dir).documents
    head = d.filter(F.col("doc_id") < 50).select("doc_id", "lang", "text")
    tar_dir = _staged("a25_tar", sf_dir, "documents")
    if not (tar_dir / "_SUCCESS").exists():
        tar_dir.mkdir(parents=True, exist_ok=True)
        rows = sorted(
            ((r["doc_id"], r["text"]) for r in head.select("doc_id", "text").collect())
        )
        for shard in range(5):
            with tarfile.open(tar_dir / f"shard-{shard:03d}.tar", "w") as tf:
                for doc_id, text in rows[shard * 10 : (shard + 1) * 10]:
                    data = text.encode("utf-8")
                    info = tarfile.TarInfo(name=f"{doc_id}.txt")
                    info.size = len(data)
                    tf.addfile(info, io.BytesIO(data))
        (tar_dir / "_SUCCESS").touch()

    shards = spark.read.format("binaryFile").load(str(tar_dir) + "/*.tar")

    def extract(batches):
        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "content": []}
            for blob in pdf["content"]:
                with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tf:
                    for m in tf.getmembers():
                        out["doc_id"].append(int(m.name.removesuffix(".txt")))
                        out["content"].append(tf.extractfile(m).read())
            yield pd.DataFrame(out)

    members = shards.select("content").mapInPandas(
        extract, "doc_id long, content binary"
    )
    parsed = members.select(
        "doc_id",
        F.length("content").alias("n_bytes"),
        F.md5("content").alias("h"),
    )
    joined = parsed.join(F.broadcast(head.select("doc_id", "lang")), "doc_id")
    return joined.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("n_bytes").alias("sum_bytes"),
        F.min("h").alias("min_md5"),
        F.max("h").alias("max_md5"),
    )


@register(
    "l9_polymorphic_udtf",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
           CAST(CAST(o_orderkey IS NULL AS INTEGER)
                + CAST(o_orderstatus IS NULL AS INTEGER)
                + CAST(o_totalprice IS NULL AS INTEGER) AS INTEGER) AS n_nulls
    FROM orders WHERE o_orderkey <= 1000
    """,
    survey="L9,L5,L7",
)
def l9_polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analyze-time POLYMORPHIC Python UDTF (Spark 4): the function's
    output schema is not declared statically — its ``analyze`` hook
    receives the TABLE argument's schema at planning time and builds the
    result type from it (here: every input column passed through, plus a
    per-row null count).  One registration therefore works against ANY
    relation — the remaining member of the UDTF tier (l5: static schema,
    l7: table argument with PARTITION BY, this: schema-computed-at-
    analyze).

    The oracle restates the fixed projection this instance resolves to
    (the polymorphism is a planning-time property; for any GIVEN input
    the semantics are a deterministic row map, which is exactly what
    makes it value-checkable).  The row map itself is trivial on purpose
    — the feature under test is the analyze hook, not the arithmetic.

    Scale: a UDTF over a table argument executes as a distributed
    Arrow-batched map over the partitions of the input — no shuffle is
    introduced by the call itself."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import IntegerType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class WithNullCount:
        @staticmethod
        def analyze(t: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType()
            for f in t.dataType.fields:
                schema.add(f.name, f.dataType)
            schema.add("n_nulls", IntegerType())
            return AnalyzeResult(schema=schema)

        def eval(self, row):
            yield (*row, sum(v is None for v in row))

    spark.udtf.register("cs2h_with_null_count", udtf(WithNullCount))
    load(spark, sf_dir, "orders").createOrReplaceTempView("cs2h_orders")
    return spark.sql(
        """
        SELECT * FROM cs2h_with_null_count(TABLE(
            SELECT o_orderkey, o_orderstatus,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
            FROM cs2h_orders WHERE o_orderkey <= 1000
        ))
        """
    )
