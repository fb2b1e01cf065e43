"""Round-4 second continuation — SQL-certified twins for the remaining
hash-dependent pipelines (MinHash-LSH via md5), recursive-CTE state-space
folds (Holt), polynomial filtering, probabilistic record linkage,
iterative clustering (Lloyd), density classification (DBSCAN), keyword
extraction (RAKE), and zone-map pruning statistics.

Design rules inherited from the established discipline:
  * exact integer lattices (cents / micro units) with truncating division
    (Spark ``DIV`` == DuckDB ``//``, both toward zero including negatives);
  * md5 when a hash must be reproduced verbatim in both engines
    (the j64_simhash_pairs_md5 pattern);
  * calendar-bounded relations may be single-partition (they don't scale
    with data volume); volume-scaled relations never see an unpartitioned
    window;
  * every candidate-generation step is blocked/bucketed — no all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.io import Tables, fan_out, load
from cassandra_snap_to_hadoop_spark.registry import register

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
# DuckDB mirror of word 3-shingles over normalized text (1-based inclusive
# slices) — identical to operators/dedup.shingles(k=3).
_SHINGLES = """
    list_distinct([array_to_string(words[i:i+2], ' ')
                   for i in range(1, greatest(len(words) - 1, 1))])
"""

# MinHash geometry for the md5-certified twin: 16 hash functions in 4
# bands of 4 rows.  Fewer hashes than the production xxhash64 tier (32/8)
# because every md5 is reproduced twice (Spark + DuckDB); the BANDING
# MATH is identical, which is what the twin certifies.
_MH_N = 16
_MH_ROWS = 4
_MH_BANDS = _MH_N // _MH_ROWS


def _mh_sql_hash(i: int) -> str:
    """DuckDB: 60-bit md5-derived hash of shingle under 'permutation' i."""
    return (
        f"CAST(CAST(('0x' || substr(md5('{i}:' || sh), 1, 15)) AS UBIGINT) "
        f"AS BIGINT)"
    )


@register(
    "j2_minhash_lsh_md5",
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
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
    ), inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
        GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b,
           ROUND(COALESCE(i.inter, 0) / (sa.sz + sb.sz - COALESCE(i.inter, 0)),
                 4) AS jaccard
    FROM cand c
    LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    """,
    survey="J2,D9",
)
def j2_minhash_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-certifiable twin of j2_minhash_lsh_pairs (the j64-md5
    pattern applied to MinHash): the ENTIRE banded-LSH pipeline —
    shingle → 16 per-permutation hashes → per-doc signature mins → 4-row
    band keys → band-bucket self-equi-join → candidate pairs → exact
    shingle-Jaccard verification — restated independently in DuckDB and
    hash-matched end-to-end.  The per-shingle hash family is
    h_i(s) = first 60 bits of md5(i || ':' || s), which both engines
    reproduce digit-for-digit; the production tier keeps xxhash64 (one
    string hash + 16 cheap long re-hashes) for speed, with recall pinned
    vs j2_jaccard_pairs in tests.

    60 bits (15 hex chars) keeps every hash inside SIGNED int64 in both
    engines.  Band key is the '|'-joined decimal rendering of the band's
    4 signature rows — string equality, no further hashing to diverge.

    Scale: identical shape to the xxhash64 tier — candidates are
    ``dedup.blocked_pairs`` per (band, bkey) bucket (never all-pairs),
    verification joins only the candidate set back to the shingle
    relation."""
    d = Tables(spark, sf_dir).documents
    from cassandra_snap_to_hadoop_spark.operators.dedup import (
        blocked_pairs,
        md5_minhash_bands,
        shingles,
    )

    ex = (
        fan_out(d)
        .select(F.col("doc_id"), F.explode(shingles(F.col("text"), 3)).alias("sh"))
        # r11 (guide §2.4): ``ex`` feeds sizes + both verification join
        # sides — cut once so the shingle explode runs once, not thrice.
        .localCheckpoint(eager=False)
    )
    # r11 (guide §2.4): both self-join sides — cut once.
    bands = md5_minhash_bands(
        d, n_hashes=_MH_N, rows_per_band=_MH_ROWS
    ).localCheckpoint(eager=False)
    cand = (
        blocked_pairs(bands, "doc_id", ["band", "bkey"])
        .select("id_a", "id_b")
        .distinct()
        # r11: ``cand`` feeds the verification join AND the final left
        # join — cut once.
        .localCheckpoint(eager=False)
    )
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("sz"))
    ea = ex.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    eb = ex.select(F.col("doc_id").alias("eb_id"), F.col("sh").alias("sh_b"))
    inter = (
        cand.join(ea, "id_a")
        .join(eb, (F.col("id_b") == F.col("eb_id")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        cand.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.coalesce(F.col("inter"), F.lit(0))
                / (F.col("sz_a") + F.col("sz_b") - F.coalesce(F.col("inter"), F.lit(0))),
                4,
            ).alias("jaccard"),
        )
    )


@register(
    "f31_holt_recursive",
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
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
        FROM daily
    ), chain AS (
        SELECT event_type, rn, n_days,
               x AS lvl, CAST(0 AS BIGINT) AS trend
        FROM numbered WHERE rn = 1
        UNION ALL
        SELECT b.event_type, b.rn, b.n_days,
               (b.x + 4 * (c.lvl + c.trend)) // 5,
               (((b.x + 4 * (c.lvl + c.trend)) // 5 - c.lvl) + 9 * c.trend) // 10
        FROM chain c
        JOIN numbered b
          ON b.event_type = c.event_type AND b.rn = c.rn + 1
    )
    SELECT event_type, n_days,
           CAST(lvl AS BIGINT) AS level_cents,
           CAST(trend AS BIGINT) AS trend_cents,
           CAST(lvl + 3 * trend AS BIGINT) AS forecast3_cents
    FROM chain WHERE rn = n_days
    """,
    survey="F24,F29,SQL-4",
)
def f31_holt_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing as a RECURSIVE CTE — the
    SQL-certified twin of f24_holt_forecast's applyInPandas float fold
    (the same conversion f29 performed for f15's CUSUM): at daily
    granularity the genuinely order-dependent level/trend recursion

        l_t = (x_t + 4·(l_{t-1} + b_{t-1})) DIV 5          (α = 1/5)
        b_t = ((l_t − l_{t-1}) + 9·b_{t-1}) DIV 10         (β = 1/10)

    runs entirely on the integer-cents lattice with truncating division,
    so BOTH engines iterate bit-identical state.  Init l₁ = x₁, b₁ = 0.
    Output: final level/trend and the 3-step-ahead forecast l + 3b.

    Trend can go negative; Spark ``DIV`` and DuckDB ``//`` both truncate
    toward zero (verified on negatives — the Python-``//``-floors trap is
    the test reference's problem, handled there by sign-split division).

    Scale: the daily relation is calendar-bounded (|types| × days — KB at
    ANY corpus size), pinned to one partition; each of the ≈30 UnionLoop
    iterations is a broadcast join of the |types|-row frontier, the f29
    shape exactly."""
    ev = Tables(spark, sf_dir).events
    ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) DIV 86400000000").alias("day_idx"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("x")
    ).coalesce(1).createOrReplaceTempView("cs2h_daily_holt")
    # r11 (the sql_api_recursive_cte/f29 treatment): ``numbered`` is
    # loop-invariant but the UnionLoop inlines it under every iteration —
    # the events scan + daily agg + windows used to run once per calendar
    # day.  Materialize once (KB, calendar-bounded) and broadcast the
    # step side; values, recursion and oracle text unchanged.
    spark.sql(
        """
        SELECT event_type, day_idx, x,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day_idx) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n_days
        FROM cs2h_daily_holt
        """
    ).localCheckpoint(eager=False).createOrReplaceTempView("cs2h_numbered_holt")
    return spark.sql(
        """
        WITH RECURSIVE numbered AS (
            SELECT event_type, day_idx, x, rn, n_days
            FROM cs2h_numbered_holt
        ), chain AS (
            SELECT event_type, rn, n_days,
                   x AS lvl, CAST(0 AS BIGINT) AS trend
            FROM numbered WHERE rn = 1
            UNION ALL
            SELECT /*+ BROADCAST(b) */ b.event_type, b.rn, b.n_days,
                   (b.x + 4 * (c.lvl + c.trend)) DIV 5,
                   (((b.x + 4 * (c.lvl + c.trend)) DIV 5 - c.lvl)
                    + 9 * c.trend) DIV 10
            FROM chain c
            JOIN numbered b
              ON b.event_type = c.event_type AND b.rn = c.rn + 1
        )
        SELECT event_type, n_days,
               lvl AS level_cents,
               trend AS trend_cents,
               lvl + 3 * trend AS forecast3_cents
        FROM chain WHERE rn = n_days
        """
    )


# Savitzky-Golay 5-point quadratic/cubic coefficients (Savitzky & Golay
# 1964, table I): convolution weights (-3, 12, 17, 12, -3) / 35.
_SG_COEFS = ((-2, -3), (-1, 12), (0, 17), (1, 12), (2, -3))
_SG_DEN = 35


@register(
    "f30_savgol_smooth",
    oracle=f"""
    WITH daily AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), bounds AS (
        SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily
    ), spine AS (
        SELECT unnest(range(lo, hi + 1)) AS d FROM bounds
    ), filled AS (
        SELECT s.d, COALESCE(daily.y, 0) AS y
        FROM spine s LEFT JOIN daily ON daily.d = s.d
    ), contrib AS (
        SELECT f.d + c.off AS target, f.y * c.coef AS term,
               CASE WHEN c.off = 0 THEN f.y END AS y_self
        FROM filled f
        CROSS JOIN (VALUES {", ".join(f"({o}, {c})" for o, c in _SG_COEFS)})
                   AS c(off, coef)
    ), sg AS (
        SELECT target AS day_idx,
               CAST(SUM(term) AS BIGINT) AS sg_num_cents,
               CAST(MAX(y_self) AS BIGINT) AS y_cents,
               COUNT(*) AS n_contrib
        FROM contrib GROUP BY 1
    )
    SELECT day_idx, y_cents, sg_num_cents,
           CAST(sg_num_cents // {_SG_DEN} AS BIGINT) AS sg_cents
    FROM sg WHERE n_contrib = 5
    """,
    survey="F4,F30",
)
def f30_savgol_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Savitzky-Golay polynomial smoothing (5-point quadratic, the 1964
    least-squares convolution filter) of daily order revenue — the
    polynomial-filter member of the smoothing family beside f4's moving
    average and f23's moving median.  Unlike those, SG preserves peak
    heights/widths up to the polynomial degree.

    Exactness: the convolution is an INTEGER dot product — coefficients
    (-3, 12, 17, 12, -3) over zero-filled daily cents — so the numerator
    is an exact BIGINT in both engines; the /35 division happens once,
    truncating (sum can go negative at sharp edges: both engines truncate
    toward zero).  Only interior days (all 5 taps present) are emitted.

    Scale shape: NO window function at all — each day's value is exploded
    to its 5 (target_day, value × coef) contributions and hash-aggregated
    by target day, i.e. one map-side-combinable shuffle that distributes
    on the day key.  The window formulation would need an ordered frame;
    this one survives any volume because the convolution is expressed as
    a group-by.  (The spine itself is calendar-bounded.)"""
    o = Tables(spark, sf_dir).orders
    daily = o.groupBy(
        F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("d")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y"))
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d")
    )
    filled = (
        spine.join(daily, "d", "left")
        .select("d", F.coalesce(F.col("y"), F.lit(0)).alias("y"))
    )
    coefs = F.array(
        *[
            F.struct(F.lit(o_).alias("off"), F.lit(c_).alias("coef"))
            for o_, c_ in _SG_COEFS
        ]
    )
    contrib = filled.select(
        "d", "y", F.explode(coefs).alias("c")
    ).select(
        (F.col("d") + F.col("c.off")).alias("target"),
        (F.col("y") * F.col("c.coef")).alias("term"),
        F.when(F.col("c.off") == 0, F.col("y")).alias("y_self"),
    )
    sg = contrib.groupBy(F.col("target").alias("day_idx")).agg(
        F.sum("term").alias("sg_num_cents"),
        F.max("y_self").alias("y_cents"),
        F.count("*").alias("n_contrib"),
    )
    return sg.filter(F.col("n_contrib") == 5).select(
        "day_idx",
        "y_cents",
        "sg_num_cents",
        F.expr(f"sg_num_cents DIV {_SG_DEN}").alias("sg_cents"),
    )


# Fellegi-Sunter priors: P(field agrees | same entity).  Given constants
# (the classical setup estimates these via EM; here they are declared
# priors so the score is a DEFINED statistic), while the u-probabilities
# P(field agrees | random pair) are estimated EXACTLY from the data as
# sum n_v*(n_v-1) / N*(N-1) over the field's value counts.
_FS_M = {"nation": 0.95, "seg": 0.9, "act": 0.8}
_FS_THRESHOLD_MICRO = 2_000_000  # link if score > 2.0 nats


@register(
    "j85_fellegi_sunter",
    oracle=f"""
    WITH cust AS (
        SELECT c_custkey AS id, c_nationkey AS nation, c_mktsegment AS seg,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) // 25000 AS blk
        FROM customer
    ), act AS (
        SELECT o_custkey AS id, CAST(COUNT(*) AS BIGINT) // 2 AS act
        FROM orders GROUP BY 1
    ), rec AS (
        SELECT c.id, c.nation, c.seg, c.blk, COALESCE(a.act, 0) AS act
        FROM cust c LEFT JOIN act a ON a.id = c.id
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rec),
    u_nation AS (
        SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS num FROM (
            SELECT CAST(COUNT(*) AS BIGINT) AS c FROM rec GROUP BY nation)
    ), u_seg AS (
        SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS num FROM (
            SELECT CAST(COUNT(*) AS BIGINT) AS c FROM rec GROUP BY seg)
    ), u_act AS (
        SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS num FROM (
            SELECT CAST(COUNT(*) AS BIGINT) AS c FROM rec GROUP BY act)
    ), stats AS (
        SELECT n.n, u_nation.num AS nn, u_seg.num AS ns, u_act.num AS na
        FROM n, u_nation, u_seg, u_act
    ), pairs AS (
        SELECT CASE WHEN a.nation = b.nation THEN 1 ELSE 0 END AS agree_nation,
               CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS agree_seg,
               CASE WHEN a.act = b.act THEN 1 ELSE 0 END AS agree_act
        FROM rec a JOIN rec b ON a.blk = b.blk AND a.id < b.id
    ), classes AS (
        SELECT agree_nation, agree_seg, agree_act,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY 1, 2, 3
    )
    SELECT CAST(agree_nation AS INTEGER) AS agree_nation,
           CAST(agree_seg AS INTEGER) AS agree_seg,
           CAST(agree_act AS INTEGER) AS agree_act,
           n_pairs,
           CAST(
             (CASE WHEN agree_nation = 1
               THEN CAST(ROUND(ln({_FS_M['nation']} / (nn / (n * (n - 1.0)))) * 1000000) AS BIGINT)
               ELSE CAST(ROUND(ln({1 - _FS_M['nation']} / (1.0 - nn / (n * (n - 1.0)))) * 1000000) AS BIGINT) END)
           + (CASE WHEN agree_seg = 1
               THEN CAST(ROUND(ln({_FS_M['seg']} / (ns / (n * (n - 1.0)))) * 1000000) AS BIGINT)
               ELSE CAST(ROUND(ln({1 - _FS_M['seg']} / (1.0 - ns / (n * (n - 1.0)))) * 1000000) AS BIGINT) END)
           + (CASE WHEN agree_act = 1
               THEN CAST(ROUND(ln({_FS_M['act']} / (na / (n * (n - 1.0)))) * 1000000) AS BIGINT)
               ELSE CAST(ROUND(ln({1 - _FS_M['act']} / (1.0 - na / (n * (n - 1.0)))) * 1000000) AS BIGINT) END)
           AS BIGINT) AS score_micronat
    FROM classes CROSS JOIN stats
    """,
    survey="J63,J70,J85",
)
def j85_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (JASA 1969): candidate
    pairs (blocked on an acctbal band so generation is never all-pairs)
    are scored by per-field agreement weights log(m/u) / log((1-m)/(1-u)),
    where the u-probabilities — P(agree | random pair) — are estimated
    EXACTLY from the field's value-count relation as Σ n_v(n_v−1)/N(N−1)
    (exact BIGINT numerator and denominator, divided once), and the
    m-priors are declared constants.  Fields: nationkey, mktsegment, and
    an order-activity band derived from the orders fact (a behavioral
    field, the realistic linkage setup).

    Because the three fields are binary agreements, the score is constant
    within each of the 8 agreement patterns — the output is the pattern-
    class relation (pattern, n_pairs, score), which is bounded and makes
    the monotonicity law (more agreements ⇒ higher score, per field)
    directly assertable in tests.

    Exactness: weights are micro-nat-quantized doubles with identical
    operation order in both engines (the j41/j51 micro-nat pattern);
    everything else is exact integers.

    Scale: u-stats are value-count aggregates (one scan each); candidate
    pairs are ``dedup.blocked_pairs`` per balance-band bucket; the
    pattern aggregation is map-side combinable to 8 rows."""
    c = Tables(spark, sf_dir).customer
    o = Tables(spark, sf_dir).orders
    cust = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
        F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT) DIV 25000").alias("blk"),
    )
    act = o.groupBy(F.col("o_custkey").alias("id")).agg(
        F.expr("CAST(COUNT(*) AS BIGINT) DIV 2").alias("act")
    )
    # r11 (guide §2.4): the 5-col record relation feeds the total, three
    # u-stat aggs and both blocking-join sides — cut once so the
    # customer⋈orders derivation runs once, not six times.
    rec = cust.join(act, "id", "left").select(
        "id", "nation", "seg", "blk", F.coalesce(F.col("act"), F.lit(0)).alias("act")
    ).localCheckpoint(eager=False)
    n = rec.agg(F.count("*").cast("long").alias("n"))

    def u_num(field: str) -> DataFrame:
        return (
            rec.groupBy(field)
            .agg(F.count("*").cast("long").alias("c"))
            .agg(F.sum(F.col("c") * (F.col("c") - 1)).alias(f"u_{field}"))
        )

    stats = (
        n.crossJoin(F.broadcast(u_num("nation")))
        .crossJoin(F.broadcast(u_num("seg")))
        .crossJoin(F.broadcast(u_num("act")))
    )
    from cassandra_snap_to_hadoop_spark.operators.dedup import blocked_pairs

    fields = ("nation", "seg", "act")
    pairs = blocked_pairs(rec, "id", ["blk"], carry=fields).select(
        *[
            F.when(F.col(f"{f}_a") == F.col(f"{f}_b"), 1).otherwise(0).alias(f"agree_{f}")
            for f in fields
        ]
    )
    classes = pairs.groupBy("agree_nation", "agree_seg", "agree_act").agg(
        F.count("*").alias("n_pairs")
    )

    def w(field: str, m: float, unum: str) -> F.Column:
        u = F.col(unum) / (F.col("n") * (F.col("n") - F.lit(1.0)))
        agree = F.round(F.log(F.lit(m) / u) * 1000000).cast("long")
        disagree = F.round(F.log(F.lit(1 - m) / (F.lit(1.0) - u)) * 1000000).cast("long")
        return F.when(F.col(f"agree_{field}") == 1, agree).otherwise(disagree)

    return classes.crossJoin(F.broadcast(stats)).select(
        F.col("agree_nation").cast("int").alias("agree_nation"),
        F.col("agree_seg").cast("int").alias("agree_seg"),
        F.col("agree_act").cast("int").alias("agree_act"),
        "n_pairs",
        (
            w("nation", _FS_M["nation"], "u_nation")
            + w("seg", _FS_M["seg"], "u_seg")
            + w("act", _FS_M["act"], "u_act")
        ).alias("score_micronat"),
    )


_KM_K = 4  # Lloyd seeds: the K lowest vec_ids (deterministic init)
_KM_ITERS = 2  # assign+update iterations before the reported assignment


def _km_oracle() -> str:
    """Unrolled Lloyd iterations as a DuckDB CTE chain (the j71 unrolled-
    CTE oracle pattern): cent0 = seed vectors; repeat (distance join →
    QUALIFY argmin assignment → truncating-mean centroid update); report
    the final assignment's cluster sizes and exact integer inertia."""
    parts = [
        f"""
    WITH pts AS (
        SELECT vec_id, dim, CAST(ROUND(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT) AS pv
        FROM (SELECT vec_id, unnest(embedding) AS v,
                     generate_subscripts(embedding, 1) AS dim
              FROM embeddings)
    ), seeds AS (
        SELECT vec_id AS cid FROM embeddings ORDER BY vec_id LIMIT {_KM_K}
    ), cent0 AS (
        SELECT s.cid, p.dim, p.pv AS cv
        FROM pts p JOIN seeds s ON p.vec_id = s.cid
    )"""
    ]
    for i in range(1, _KM_ITERS + 2):
        parts.append(
            f""", d{i} AS (
        SELECT p.vec_id, c.cid,
               CAST(SUM((p.pv - c.cv) * (p.pv - c.cv)) AS BIGINT) AS d
        FROM pts p JOIN cent{i - 1} c ON p.dim = c.dim
        GROUP BY 1, 2
    ), a{i} AS (
        SELECT vec_id, cid, d FROM d{i}
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
    )"""
        )
        if i <= _KM_ITERS:
            parts.append(
                f""", cent{i} AS (
        SELECT a.cid, p.dim, CAST(SUM(p.pv) // COUNT(*) AS BIGINT) AS cv
        FROM pts p JOIN a{i} a ON p.vec_id = a.vec_id
        GROUP BY 1, 2
    )"""
            )
    parts.append(
        f"""
    SELECT cid AS cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(d) AS BIGINT) AS inertia
    FROM a{_KM_ITERS + 1} GROUP BY 1"""
    )
    return "".join(parts)


@register("j86_kmeans_lloyd", oracle=_km_oracle(), survey="J3,J76,J86")
def j86_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Lloyd's k-means over the embedding space — the iterative
    completion of j76's single E-step: deterministic seeds (the K lowest
    vec_ids), then ``_KM_ITERS`` rounds of (assignment via exact integer
    squared distance, centroid update via truncating integer mean), then
    the reported assignment.  The identical unrolled iteration chain is
    stated as a DuckDB CTE pipeline (the j71_pagerank oracle pattern), so
    BOTH engines walk the same trajectory through centroid space and the
    final cluster sizes + exact inertia hash-match.

    Exactness: vectors live on the 1e6 micro lattice (ROUND of the
    float→double widening is identical); distances are exact BIGINTs
    (worked budget: diff ≤ ~2·10⁶ squared = 4·10¹² × 64 dims ≈ 2.6·10¹⁴,
    × corpus ≪ 2⁶³); centroid update SUM(pv) DIV count truncates toward
    zero identically (components go negative).  Assignment ties break on
    the lowest cluster id (argmin over (d, cid) — Spark min(struct) ==
    DuckDB QUALIFY row_number over (d, cid)).

    Scale (r11 optimization, guide §1.2 "fix the distributed algorithm" +
    §4.2 "hand whole batches to vectorized native libraries"): centroids
    are K×dims integers — a KB-bounded relation BY CONSTRUCTION (the
    e75/BPE bounded-collect precedent), so each Lloyd round is the
    canonical distributed-KMeans sufficient-statistics pass: one
    Arrow-batched numpy kernel computes every point's exact int64
    argmin distance against the K current centroids AND the per-cluster
    partial sums (count, Σd, Σp_0..Σp_63) WITHIN the batch — ≤K rows
    leave each batch, so the one exchange carries K-row partials, never
    points (guide §2.3 "aggregate before you shuffle").  Spark folds the
    partials (SUM ... DIV SUM on the BIGINT lattice) into the next
    round's centroids; the quantized point relation localCheckpoints
    once and every round's job reads it instead of re-deriving the scan
    (the old plan held 7 scans / 15 exchanges; now 1 scan + one K-row
    agg exchange per round).  int64 exactness: coords ≤ 2.1e6 in
    magnitude so d ≤ 64·(4.2e6)² ≈ 1.1e15 and batch partials stay far
    inside int64; numpy argmin over the cid-sorted centroid matrix
    breaks distance ties on the LOWEST cid, matching the oracle's
    QUALIFY ORDER BY d, cid."""
    import numpy as np
    import pyarrow as pa

    emb = Tables(spark, sf_dir).embeddings
    quant = F.expr(
        "transform(embedding,"
        " v -> CAST(ROUND(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))"
    )
    # No fan_out here (r11): the per-row work is a vectorized numpy batch
    # kernel, not interpreted string ops, so the scan's natural split is
    # the right parallelism at every scale — forcing 32 partitions onto a
    # KB-scale local input just multiplies per-task Arrow/Python setup
    # across every Lloyd round (guide §2.2 "fewer, larger map tasks").
    pts = emb.select("vec_id", quant.alias("pv")).localCheckpoint(eager=False)
    seed_rows = pts.orderBy("vec_id").limit(_KM_K).collect()
    # cent: ordered [(cid, [cv_0..cv_{dims-1}])] — Spark-quantized BIGINTs.
    cent = sorted((int(r["vec_id"]), [int(x) for x in r["pv"]]) for r in seed_rows)
    dims = len(cent[0][1])
    part_schema = (
        "cid long, n long, sd long, "
        + ", ".join(f"s{d} long" for d in range(dims))
    )

    def partials_fn(cent_lit: list[tuple[int, list[int]]]):
        cids = np.array([c for c, _ in cent_lit], dtype=np.int64)
        cmat = np.array([cv for _, cv in cent_lit], dtype=np.int64)  # K×dims

        def f(batches):
            for batch in batches:
                col = batch.column(batch.schema.get_field_index("pv"))
                if len(col) == 0:
                    continue
                vec = np.stack(col.to_numpy(zero_copy_only=False)).astype(
                    np.int64, copy=False
                )  # n×dims
                diff = vec[:, None, :] - cmat[None, :, :]
                dist = np.einsum("nkd,nkd->nk", diff, diff)  # exact int64
                amin = dist.argmin(axis=1)  # first (lowest-cid) on ties
                d = dist[np.arange(len(vec)), amin]
                out_cids = []
                for i, cid in enumerate(cids):
                    mask = amin == i
                    n = int(mask.sum())
                    if n == 0:
                        continue
                    out_cids.append(
                        [cid, n, int(d[mask].sum())] + vec[mask].sum(axis=0).tolist()
                    )
                cols = list(zip(*out_cids))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, type=pa.int64()) for c in cols],
                    ["cid", "n", "sd"] + [f"s{d}" for d in range(dims)],
                )

        return f

    for _ in range(_KM_ITERS):
        upd = (
            pts.select("pv")
            .mapInArrow(partials_fn(cent), part_schema)
            .groupBy("cid")
            .agg(
                *[
                    F.expr(f"CAST(SUM(s{d}) DIV SUM(n) AS BIGINT)").alias(f"c{d}")
                    for d in range(dims)
                ]
            )
            .collect()
        )
        cent = sorted(
            (int(r["cid"]), [int(r[f"c{d}"]) for d in range(dims)]) for r in upd
        )
    return (
        pts.select("pv")
        .mapInArrow(partials_fn(cent), part_schema)
        .groupBy(F.col("cid").alias("cluster"))
        .agg(
            F.sum("n").cast("long").alias("n_points"),
            F.sum("sd").cast("long").alias("inertia"),
        )
    )


# DBSCAN parameters over the (epoch-day, price-band) plane for one fixed
# calendar month of orders: eps = 3 grid units, minPts = 5 (self included,
# the Ester et al. KDD'96 convention).
_DB_EPS = 3
_DB_MINPTS = 5
_DB_LO, _DB_HI = "'1997-01-01'", "'1997-02-01'"


@register(
    "j87_dbscan_core",
    oracle=f"""
    WITH pts AS (
        SELECT o_orderkey AS id,
               epoch_us(o_orderdate) // 86400000000 AS x,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) // 1000000 AS y
        FROM orders
        WHERE o_orderdate >= TIMESTAMP {_DB_LO}
          AND o_orderdate < TIMESTAMP {_DB_HI}
    ), nbr AS (
        SELECT a.id, CAST(COUNT(*) AS BIGINT) AS n_neighbors
        FROM pts a JOIN pts b
          ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
             <= {_DB_EPS * _DB_EPS}
        GROUP BY 1
    ), flagged AS (
        SELECT p.id, p.x, p.y, n.n_neighbors,
               CASE WHEN n.n_neighbors >= {_DB_MINPTS} THEN 1 ELSE 0 END AS is_core
        FROM pts p JOIN nbr n ON n.id = p.id
    ), border AS (
        SELECT DISTINCT a.id
        FROM flagged a JOIN flagged b
          ON b.is_core = 1 AND a.is_core = 0
         AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
             <= {_DB_EPS * _DB_EPS}
    )
    SELECT f.id AS order_id, CAST(f.x AS BIGINT) AS x, CAST(f.y AS BIGINT) AS y,
           f.n_neighbors,
           CASE WHEN f.is_core = 1 THEN 'core'
                WHEN br.id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role
    FROM flagged f LEFT JOIN border br ON br.id = f.id
    """,
    survey="J86,J87,D6",
)
def j87_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density classification (Ester et al. KDD'96) of one month of
    orders in the (epoch-day, $10k-price-band) plane: core (≥ minPts points
    within eps, self included), border (non-core with a core point within
    eps), noise.  Exact integer squared distances — no floats anywhere.

    The CERTIFICATION IS THE DECOMPOSITION LAW: the Spark side generates
    neighbor candidates from a grid of eps-sized cells (each point probes
    its 3×3 cell neighborhood — candidates bounded per cell, never
    all-pairs), while the DuckDB oracle runs the NAIVE quadratic
    definition; the hash match proves the grid decomposition lossless
    (every true eps-neighbor pair lands in some probed cell because
    |Δx|,|Δy| ≤ eps ⇒ cell distance ≤ 1).

    Scale: candidate volume is Σ_cell |cell|·|3×3 load| — linear for
    bounded density; the month filter is a pushed-down scan predicate
    (volume still scales with SF inside the month).  Full-corpus DBSCAN
    would partition by coarse grid tiles the same way."""
    o = Tables(spark, sf_dir).orders
    pts = o.filter(
        (F.col("o_orderdate") >= F.expr(f"TIMESTAMP {_DB_LO}"))
        & (F.col("o_orderdate") < F.expr(f"TIMESTAMP {_DB_HI}"))
    ).select(
        F.col("o_orderkey").alias("id"),
        F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("x"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT) DIV 1000000").alias("y"),
    )
    e = _DB_EPS
    # Home cell of each point, and the 3x3 probe explosion of the left side.
    cell = lambda c: F.floor(c / e)  # noqa: E731 — coords are nonnegative here
    home = pts.select(
        "id", "x", "y", cell(F.col("x")).alias("cx"), cell(F.col("y")).alias("cy")
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probes = home.select(
        F.col("id").alias("a_id"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.explode(offsets).alias("o"),
        "cx",
        "cy",
    ).select(
        "a_id",
        "ax",
        "ay",
        (F.col("cx") + F.col("o.dx")).alias("pcx"),
        (F.col("cy") + F.col("o.dy")).alias("pcy"),
    )
    dist2 = (F.col("ax") - F.col("x")) * (F.col("ax") - F.col("x")) + (
        F.col("ay") - F.col("y")
    ) * (F.col("ay") - F.col("y"))
    # r11 (guide §2.3/§2.4): the verified pair relation feeds the
    # neighbor count AND the border derivation — project to the two id
    # columns those consumers read, then cut, so the 3x3 probe join runs
    # once and the materialization is two longs per pair.
    nbr_pairs = (
        probes.join(
            home.select("id", "x", "y", "cx", "cy"),
            (F.col("pcx") == F.col("cx")) & (F.col("pcy") == F.col("cy")),
        )
        .filter(dist2 <= e * e)
        .select("a_id", "id")
        .localCheckpoint(eager=False)
    )
    nbr = nbr_pairs.groupBy(F.col("a_id").alias("id")).agg(
        F.count("*").alias("n_neighbors")
    )
    flagged = pts.join(nbr, "id").withColumn(
        "is_core", F.when(F.col("n_neighbors") >= _DB_MINPTS, 1).otherwise(0)
    )
    core_ids = flagged.filter(F.col("is_core") == 1).select(
        F.col("id").alias("core_id")
    )
    border = (
        nbr_pairs.join(
            core_ids, nbr_pairs["id"] == core_ids["core_id"]
        )  # neighbor b is core
        .select(F.col("a_id").alias("id"))
        .distinct()
        .join(flagged.filter(F.col("is_core") == 0).select("id"), "id", "left_semi")
        .withColumn("is_border", F.lit(1))
    )
    return flagged.join(border, "id", "left").select(
        F.col("id").alias("order_id"),
        "x",
        "y",
        "n_neighbors",
        F.when(F.col("is_core") == 1, "core")
        .when(F.col("is_border") == 1, "border")
        .otherwise("noise")
        .alias("role"),
    )


# RAKE stopword list (fixed, tiny — function words present in the corpus).
_RAKE_STOPS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
_RAKE_TOPK = 20


@register(
    "j88_rake_keywords",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, w, pos,
               CASE WHEN w IN {_RAKE_STOPS} THEN 1 ELSE 0 END AS stop
        FROM (SELECT doc_id,
                     unnest(string_split({_NORM}, ' ')) AS w,
                     generate_subscripts(string_split({_NORM}, ' '), 1) AS pos
              FROM documents)
    ), grouped AS (
        SELECT doc_id, w, pos,
               SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM words
    ), members AS (
        SELECT doc_id, grp, w, pos FROM grouped WHERE w NOT IN {_RAKE_STOPS}
    ), phrases AS (
        SELECT doc_id, grp,
               string_agg(w, ' ' ORDER BY pos) AS phrase,
               CAST(COUNT(*) AS BIGINT) AS n_words
        FROM members GROUP BY 1, 2
    ), wstats AS (
        SELECT w,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(p.n_words) AS BIGINT) AS deg
        FROM members m JOIN phrases p
          ON p.doc_id = m.doc_id AND p.grp = m.grp
        GROUP BY 1
    ), wscore AS (
        SELECT w, deg * 1000000 // freq AS score_micro FROM wstats
    ), pscore AS (
        SELECT p.phrase, p.n_words,
               CAST(SUM(s.score_micro) AS BIGINT) AS phrase_score_micro
        FROM phrases p
        JOIN members m ON m.doc_id = p.doc_id AND m.grp = p.grp
        JOIN wscore s ON s.w = m.w
        GROUP BY p.doc_id, p.grp, p.phrase, p.n_words
    )
    SELECT phrase, n_words, CAST(COUNT(*) AS BIGINT) AS n_occ,
           CAST(MIN(phrase_score_micro) AS BIGINT) AS score_micro
    FROM pscore GROUP BY 1, 2
    ORDER BY score_micro DESC, phrase ASC LIMIT {_RAKE_TOPK}
    """,
    survey="J5,J7,J88",
)
def j88_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free word runs; word score = degree/frequency where
    degree sums the lengths of phrases containing each occurrence; phrase
    score sums its members' word scores; report the global top-k phrases.

    Exactness: freq and degree are exact integers; the degree/freq ratio
    is micro-quantized with truncating division (both operands positive),
    so phrase scores are exact BIGINT sums — identical phrase TEXT always
    gets the identical score (MIN == MAX over occurrences, asserted in
    tests).  Top-k ties break on the phrase string.

    Scale: phrase segmentation is a PER-DOCUMENT window (partitioned by
    doc_id — never a global window); word stats and phrase scores are
    hash joins + map-side-combinable aggs on word/phrase keys; the global
    top-k compiles to TakeOrderedAndProject (per-partition top-k, no full
    sort)."""
    d = Tables(spark, sf_dir).documents
    from pyspark.sql import Window

    from cassandra_snap_to_hadoop_spark.operators.dedup import normalize_text

    words = (
        fan_out(d)
        .select(
            "doc_id",
            F.posexplode(F.split(normalize_text(F.col("text")), " ")).alias(
                "pos", "w"
            ),
        )
        .withColumn("stop", F.when(F.col("w").isin(*_RAKE_STOPS), 1).otherwise(0))
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    grouped = words.withColumn("grp", F.sum("stop").over(w_doc))
    # r11 (guide §2.4): the candidate-word relation feeds the phrase
    # assembly and two scoring joins (3 explode+window passes → 1), and
    # the phrase relation feeds the degree join AND the output join.
    members = (
        grouped.filter(F.col("stop") == 0)
        .select("doc_id", "grp", "w", "pos")
        .localCheckpoint(eager=False)
    )
    phrases = members.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda x: x["w"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").alias("n_words"),
    ).localCheckpoint(eager=False)
    wstats = (
        members.join(phrases.select("doc_id", "grp", "n_words"), ["doc_id", "grp"])
        .groupBy("w")
        .agg(F.count("*").alias("freq"), F.sum("n_words").alias("deg"))
    )
    wscore = wstats.select(
        "w", F.expr("deg * 1000000 DIV freq").alias("score_micro")
    )
    pscore = (
        members.join(wscore, "w")
        .groupBy("doc_id", "grp")
        .agg(F.sum("score_micro").alias("phrase_score_micro"))
        .join(phrases, ["doc_id", "grp"])
    )
    return (
        pscore.groupBy("phrase", "n_words")
        .agg(
            F.count("*").alias("n_occ"),
            F.min("phrase_score_micro").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), F.col("phrase").asc())
        .limit(_RAKE_TOPK)
    )


# Zone-map geometry: 32-day zones over l_shipdate; the probe predicate is
# a quarter-ish range that PARTIALLY overlaps its boundary zones (the
# interesting pruning case: edge zones are kept but only partially match).
_ZM_WIDTH = 32
_ZM_LO, _ZM_HI = "'1996-03-15'", "'1996-06-15'"


@register(
    "a28_zonemap_skipping",
    oracle=f"""
    WITH bounds AS (
        SELECT epoch_us(TIMESTAMP {_ZM_LO}) // 86400000000 AS lo,
               epoch_us(TIMESTAMP {_ZM_HI}) // 86400000000 AS hi
    ), rows_ AS (
        SELECT epoch_us(l_shipdate) // 86400000000 AS d,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    ), zones AS (
        SELECT d // {_ZM_WIDTH} AS zone,
               CAST(MIN(d) AS BIGINT) AS min_day,
               CAST(MAX(d) AS BIGINT) AS max_day,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN d >= (SELECT lo FROM bounds)
                              AND d < (SELECT hi FROM bounds)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_matching,
               CAST(SUM(CASE WHEN d >= (SELECT lo FROM bounds)
                              AND d < (SELECT hi FROM bounds)
                             THEN cents ELSE 0 END) AS BIGINT)
                   AS match_revenue_cents
        FROM rows_ GROUP BY 1
    )
    SELECT CAST(zone AS BIGINT) AS zone, min_day, max_day, n_rows,
           CASE WHEN max_day < (SELECT lo FROM bounds)
                 OR min_day >= (SELECT hi FROM bounds)
                THEN 0 ELSE 1 END AS kept,
           n_matching, match_revenue_cents
    FROM zones
    """,
    survey="A12,A28,C2",
)
def a28_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) file-skipping audit — the
    Iceberg/parquet-row-group pruning semantics stated as a relation: rows
    are grouped into 32-day zones (the clustering a write path like a11's
    Z-order produces), each zone carries min/max statistics, and a range
    predicate keeps a zone iff [min,max] intersects [lo,hi).

    The pruning CORRECTNESS LAW is visible in the output and hash-checked:
    every skipped zone (kept = 0) has n_matching = 0 and zero matching
    revenue — min/max pruning never loses a qualifying row — while
    boundary zones are kept with PARTIAL matches (the case a naive
    bucket-equality prune gets wrong).  Tests additionally assert the
    skip RATIO (most zones pruned) and that kept-zone matches sum to the
    direct filter count.

    Scale: one scan, one map-side-combinable agg on the zone key; the
    zone relation (calendar-bounded) is what a table format's manifest
    stores, so the same plan prunes real files at 100 TB."""
    li = Tables(spark, sf_dir).lineitem
    lo = F.expr(f"unix_micros(TIMESTAMP {_ZM_LO}) DIV 86400000000")
    hi = F.expr(f"unix_micros(TIMESTAMP {_ZM_HI}) DIV 86400000000")
    rows = li.select(
        F.expr("unix_micros(l_shipdate) DIV 86400000000").alias("d"),
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    )
    in_range = (F.col("d") >= lo) & (F.col("d") < hi)
    zones = rows.groupBy(F.expr(f"d DIV {_ZM_WIDTH}").alias("zone")).agg(
        F.min("d").alias("min_day"),
        F.max("d").alias("max_day"),
        F.count("*").alias("n_rows"),
        F.sum(F.when(in_range, 1).otherwise(0)).alias("n_matching"),
        F.sum(F.when(in_range, F.col("cents")).otherwise(0)).alias(
            "match_revenue_cents"
        ),
    )
    return zones.select(
        "zone",
        "min_day",
        "max_day",
        "n_rows",
        F.when((F.col("max_day") < lo) | (F.col("min_day") >= hi), 0)
        .otherwise(1)
        .alias("kept"),
        "n_matching",
        "match_revenue_cents",
    )


# American Soundex letter codes (Russell/Odell; the H/W-TRANSPARENT
# variant Spark implements: consonants with equal codes separated only by
# h/w collapse, while vowels break the run).  '7' marks h/w, '0' vowels;
# a LEADING h/w maps to '0' directly (it resets, never merges).
_SX_MAP = """
                   list_transform(
                       string_split(w, ''),
                       (c, i) -> CASE
                         WHEN i = 1 AND c IN ('h', 'w') THEN '0'
                         WHEN c IN ('b','f','p','v') THEN '1'
                         WHEN c IN ('c','g','j','k','q','s','x','z') THEN '2'
                         WHEN c IN ('d','t') THEN '3'
                         WHEN c = 'l' THEN '4'
                         WHEN c IN ('m','n') THEN '5'
                         WHEN c = 'r' THEN '6'
                         WHEN c IN ('h','w') THEN '7'
                         ELSE '0' END
                   )
"""


@register(
    "i22_soundex_phonetic",
    oracle=f"""
    WITH vocab AS (
        SELECT DISTINCT unnest(string_split({_NORM}, ' ')) AS w FROM documents
    ), alpha AS (
        SELECT w FROM vocab WHERE regexp_full_match(w, '[a-z]+')
    ), coded AS (
        SELECT w, {_SX_MAP} AS codes FROM alpha
    ), nohw AS (
        SELECT w, list_filter(codes, c -> c != '7') AS codes FROM coded
    ), collapsed AS (
        SELECT w, list_filter(codes, (c, i) -> i = 1 OR c != codes[i - 1]) AS codes
        FROM nohw
    ), digits AS (
        SELECT w, list_filter(codes[2:], c -> c != '0') AS ds FROM collapsed
    )
    SELECT w AS word,
           upper(w[1]) || rpad(COALESCE(array_to_string(ds[1:3], ''), ''), 3, '0')
               AS sx
    FROM digits
    """,
    survey="I1,I21,I22",
)
def i22_soundex_phonetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic encoding tier of the fuzzy-match family: Spark's NATIVE
    ``soundex`` over the corpus vocabulary, hash-matched against a
    from-scratch DuckDB restatement of the published algorithm (letter
    codes, h/w-transparent run collapsing, vowel resets, 4-char padding)
    built purely from list/lambda SQL — two independent implementations
    of American Soundex agreeing letter-for-letter (the i21 engine-vs-
    engine pattern, but here the second engine has NO native soundex, so
    the oracle is a genuine independent restatement).

    The h/w-transparency rule (codes equal across an intervening h/w
    collapse: 'ashcraft' → A261 not A226) was probed against Spark's
    implementation and is encoded in the oracle via: prepend head code →
    drop '7' (h/w) entries → collapse adjacent equal codes → drop the
    head slot → drop '0' (vowel) entries → take 3, right-pad.

    Soundex is the classical BLOCKING key for entity resolution — this
    op is the phonetic sibling of j63's sorted-neighborhood and j85's
    scoring stage.

    Scale: vocabulary-relation sized (corpus-sublinear); one distinct +
    one projection, embarrassingly parallel."""
    d = Tables(spark, sf_dir).documents
    from cassandra_snap_to_hadoop_spark.operators.dedup import normalize_text

    vocab = (
        fan_out(d)
        .select(F.explode(F.split(normalize_text(F.col("text")), " ")).alias("w"))
        .distinct()
        .filter(F.col("w").rlike("^[a-z]+$"))
    )
    return vocab.select(F.col("w").alias("word"), F.soundex("w").alias("sx"))


# 1-D Kalman filter constants (integer lattice): process noise q, initial
# variance p0, measurement noise r — all in squared-cents units.
_KF_P0 = 10000
_KF_Q = 100
_KF_R = 2500


@register(
    "f32_kalman_recursive",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT event_type,
               epoch_us(ts) // 86400000000 AS day_idx,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS z
        FROM events GROUP BY 1, 2
    ), numbered AS (
        SELECT event_type, day_idx, z,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY day_idx) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
        FROM daily
    ), chain AS (
        SELECT event_type, rn, n_days,
               z AS x, CAST({_KF_P0} AS BIGINT) AS p
        FROM numbered WHERE rn = 1
        UNION ALL
        SELECT b.event_type, b.rn, b.n_days,
               c.x + ((c.p + {_KF_Q}) * (b.z - c.x)) // (c.p + {_KF_Q} + {_KF_R}),
               (c.p + {_KF_Q})
                 - ((c.p + {_KF_Q}) * (c.p + {_KF_Q})) // (c.p + {_KF_Q} + {_KF_R})
        FROM chain c
        JOIN numbered b
          ON b.event_type = c.event_type AND b.rn = c.rn + 1
    )
    SELECT event_type, n_days,
           CAST(x AS BIGINT) AS state_cents,
           CAST(p AS BIGINT) AS var_final
    FROM chain WHERE rn = n_days
    """,
    survey="F24,F31,F32,SQL-4",
)
def f32_kalman_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter (Kalman 1960) as a RECURSIVE CTE — the OPTIMAL-
    filtering member of the smoothing family: unlike Holt's fixed gains
    (f31), the Kalman gain k_t = p⁻/(p⁻+r) adapts each step as the state
    variance p evolves (predict p⁻ = p+q; update x' = x + k(z−x),
    p' = (1−k)p⁻).  Both the gain application and the variance update are
    stated with truncating integer division on the cents lattice, so both
    engines iterate bit-identical (x, p) state — the variance recursion
    converges to the steady-state Riccati fixpoint, asserted in tests.

    Daily granularity over events per type: recursion depth is
    calendar-bounded (≈30), each UnionLoop iteration a broadcast join of
    the |types|-row frontier (the f29/f31 shape).

    Integer budget: p ≤ p0+q ≈ 10⁴, |z−x| ≤ daily-cents range ≈ 10⁹ ⇒
    products ≤ 10¹³ ≪ 2⁶³."""
    ev = Tables(spark, sf_dir).events
    ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) DIV 86400000000").alias("day_idx"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("z")
    ).coalesce(1).createOrReplaceTempView("cs2h_daily_kalman")
    # r11 (the sql_api_recursive_cte/f29 treatment): materialize the
    # loop-invariant ``numbered`` once — the UnionLoop used to re-derive
    # the events scan + daily agg + windows under every iteration — and
    # broadcast the KB step side.  Values and oracle text unchanged.
    spark.sql(
        """
        SELECT event_type, day_idx, z,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day_idx) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n_days
        FROM cs2h_daily_kalman
        """
    ).localCheckpoint(eager=False).createOrReplaceTempView("cs2h_numbered_kalman")
    return spark.sql(
        f"""
        WITH RECURSIVE numbered AS (
            SELECT event_type, day_idx, z, rn, n_days
            FROM cs2h_numbered_kalman
        ), chain AS (
            SELECT event_type, rn, n_days,
                   z AS x, CAST({_KF_P0} AS BIGINT) AS p
            FROM numbered WHERE rn = 1
            UNION ALL
            SELECT /*+ BROADCAST(b) */ b.event_type, b.rn, b.n_days,
                   c.x + ((c.p + {_KF_Q}) * (b.z - c.x))
                         DIV (c.p + {_KF_Q} + {_KF_R}),
                   (c.p + {_KF_Q})
                     - ((c.p + {_KF_Q}) * (c.p + {_KF_Q}))
                       DIV (c.p + {_KF_Q} + {_KF_R})
            FROM chain c
            JOIN numbered b
              ON b.event_type = c.event_type AND b.rn = c.rn + 1
        )
        SELECT event_type, n_days,
               x AS state_cents,
               p AS var_final
        FROM chain WHERE rn = n_days
        """
    )


# Label propagation: seeds keep their label (vec_id % 5 == 0); the
# similarity graph has an edge between nodes sharing EITHER 8-dim sign
# pattern (two bands — the banded-LSH graph construction), so labels
# percolate across bands over rounds.
_LP_SEED_MOD = 5
_LP_ROUNDS = 2


def _lp_oracle() -> str:
    base = f"""
    WITH pts AS (
        SELECT vec_id, label, dim - 1 AS dim0,
               CAST(ROUND(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT) AS pv
        FROM (SELECT vec_id, label, unnest(embedding) AS v,
                     generate_subscripts(embedding, 1) AS dim
              FROM embeddings)
        WHERE dim <= 16
    ), cells AS (
        SELECT vec_id, label, dim0 // 8 AS band,
               CAST(SUM(CASE WHEN pv >= 0
                             THEN (CAST(1 AS BIGINT) << (dim0 % 8))
                             ELSE 0 END) AS BIGINT) AS cell
        FROM pts GROUP BY 1, 2, 3
    ), nodes AS (
        SELECT DISTINCT vec_id, label FROM cells
    ), edges AS (
        SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
        FROM cells a JOIN cells b
          ON a.band = b.band AND a.cell = b.cell AND a.vec_id != b.vec_id
    ), lab0 AS (
        SELECT vec_id, CAST(label AS BIGINT) AS lab, 0 AS rnd
        FROM nodes WHERE vec_id % {_LP_SEED_MOD} = 0
    )"""
    prev = "lab0"
    for r in range(1, _LP_ROUNDS + 1):
        base += f""", votes{r} AS (
        SELECT e.src AS vec_id, l.lab, CAST(COUNT(*) AS BIGINT) AS c
        FROM edges e
        JOIN {prev} l ON l.vec_id = e.dst
        WHERE e.src NOT IN (SELECT vec_id FROM {prev})
        GROUP BY 1, 2
    ), asg{r} AS (
        SELECT vec_id, lab, {r} AS rnd FROM votes{r}
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY c DESC, lab ASC) = 1
    ), lab{r} AS (
        SELECT vec_id, lab, rnd FROM {prev}
        UNION ALL SELECT vec_id, lab, rnd FROM asg{r}
    )"""
        prev = f"lab{r}"
    base += f"""
    SELECT CAST(COALESCE(l.rnd, -1) AS BIGINT) AS round_assigned,
           CAST(COALESCE(l.lab, -1) AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM nodes n LEFT JOIN {prev} l ON l.vec_id = n.vec_id
    GROUP BY 1, 2"""
    return base


@register("j89_label_propagation", oracle=_lp_oracle(), survey="J2,J78,J89")
def j89_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002, the
    frozen-seed layered variant) over a banded similarity graph: 20% of
    embeddings keep their label (seeds); edges connect nodes sharing
    either 8-dim SIGN PATTERN of the micro-quantized vector (two bands —
    the same banded construction LSH uses, so blocks are similarity-
    correlated and labels can percolate ACROSS bands round by round);
    each round, every still-unlabeled node adopts the majority label of
    its labeled neighbors (ties → smallest label), then freezes.

    The identical 2-round trajectory is unrolled as DuckDB CTEs (the
    j71/j86 pattern) — votes, argmax assignment, and the per-(round,
    label) census hash-match exactly; sign patterns are exact integer
    facts of the shared micro lattice, so graph construction cannot
    drift between engines.

    Scale: edges are generated per (band, cell) bucket (256 cells/band —
    never all-pairs); each round is one bucket-equi join + one
    map-side-combinable vote agg + one per-node argmax; round count is a
    compile-time constant.  Output is the bounded (round, label) census."""
    emb = Tables(spark, sf_dir).embeddings
    pts = (
        fan_out(emb)
        .select("vec_id", "label", F.posexplode("embedding").alias("dim0", "v"))
        .filter(F.col("dim0") < 16)
        .select(
            "vec_id",
            "label",
            "dim0",
            F.round(F.col("v").cast("double") * 1000000.0).cast("long").alias("pv"),
        )
    )
    # r11 (guide §2.4): ``cells`` feeds nodes + both self-join sides, and
    # ``edges``/per-round ``lab`` are each read twice per round — fully
    # lazy this unrolled to 54 Exchanges re-deriving the posexplode
    # subtree.  Lazy localCheckpoints (persist-backed) compute each
    # relation once; the loop stays a single lazy plan (no driver jobs).
    cells = pts.groupBy(
        "vec_id", "label", F.expr("dim0 DIV 8").alias("band")
    ).agg(
        F.sum(
            F.when(
                F.col("pv") >= 0, F.expr("CAST(1 AS BIGINT) << (dim0 % 8)")
            ).otherwise(0)
        ).alias("cell")
    ).localCheckpoint(eager=False)
    nodes = cells.select("vec_id", "label").distinct()
    a, b = cells.alias("a"), cells.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    lab = nodes.filter(F.col("vec_id") % _LP_SEED_MOD == 0).select(
        "vec_id", F.col("label").cast("long").alias("lab"), F.lit(0).alias("rnd")
    )
    for r in range(1, _LP_ROUNDS + 1):
        labeled_ids = lab.select("vec_id")
        votes = (
            edges.join(labeled_ids, edges.src == labeled_ids.vec_id, "left_anti")
            .join(
                lab.select(F.col("vec_id").alias("dst"), "lab"), "dst"
            )
            .groupBy(F.col("src").alias("vec_id"), "lab")
            .agg(F.count("*").alias("c"))
        )
        asg = (
            votes.groupBy("vec_id")
            .agg(F.min(F.struct(F.negate(F.col("c")).alias("nc"), "lab")).alias("m"))
            .select("vec_id", F.col("m.lab").alias("lab"), F.lit(r).alias("rnd"))
        )
        lab = lab.unionByName(asg).localCheckpoint(eager=False)
    return (
        nodes.join(lab, "vec_id", "left")
        .groupBy(
            F.coalesce(F.col("rnd"), F.lit(-1)).cast("long").alias("round_assigned"),
            F.coalesce(F.col("lab"), F.lit(-1)).cast("long").alias("label"),
        )
        .agg(F.count("*").alias("n_nodes"))
    )
