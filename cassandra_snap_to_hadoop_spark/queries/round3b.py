"""Round-3 continuation batch: IR / analytics depth over the corpus and
event tables —

  * j50 inverted index construction (term -> posting-list digest),
  * j51 BM25 relevance scoring (corpus-statistic ranking, micro-nat exact),
  * e22 daily cohort retention (exact-integer day arithmetic),
  * e21 count-min-sketch heavy hitters (rows: mergeable sketch + reader),
  * f16 interval union length (sweep-line as shared-exchange windows).

Registered behind the round-3 certification window: value-checked by
the local oracle mirror in round 3, rotated into the driver window in
round 4.  Today they follow the ``_ROUND11_PRIORITY`` window in
queries/__init__.py, in import order.
"""

from __future__ import annotations

import datetime

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cassandra_snap_to_hadoop_spark.io import Tables, fan_out
from cassandra_snap_to_hadoop_spark.operators.text import tokens
from cassandra_snap_to_hadoop_spark.registry import register

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

# Same stopword list as j6_word_counts — corpus-stat queries share it so
# "top informative terms" means the same thing across the IR tier.
_STOP = ("the", "a", "an", "of", "and", "to", "in", "is", "")
_STOP_SQL = ", ".join(f"'{s}'" for s in _STOP)


def _tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc, term, tf) — the shared base relation of the IR tier: one
    corpus scan, tokenize in codegen, one hash aggregate."""
    d = fan_out(Tables(spark, sf_dir).documents)
    tok = d.select(
        F.col("doc_id").alias("doc"), F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    return tok.groupBy("doc", "term").agg(F.count("*").alias("tf"))


@register(
    "j50_inverted_index",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id AS doc, unnest(string_split({_NORM}, ' ')) AS term
        FROM documents
    ), tfc AS (
        SELECT doc, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE term <> '' GROUP BY 1, 2
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS tf_total,
           md5(string_agg(doc || ':' || tf, ',' ORDER BY doc)) AS postings_md5
    FROM tfc GROUP BY term HAVING COUNT(*) >= 10
    """,
    survey="J50,J5,J6",
)
def j50_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the IR backbone behind contamination
    search, quotation mining, and corpus exploration: every term above a
    document-frequency floor maps to its full posting list (doc:tf pairs,
    doc-ordered).  The list itself is value-checked via an md5 digest of
    the canonical serialization so the driver compares scalar columns
    while the test still pins every posting byte.

    Scale shape: tokenize is a pure codegen map; the index build is TWO
    hash aggregates — (doc, term) -> tf, then term -> postings — both with
    map-side partial combine, no joins, no windows.  Posting lists are
    per-term (bounded by df), never corpus-sized in one buffer; at 100 TB
    the df floor is exactly the guard that keeps head-term lists the only
    large buffers, and those are the terms a real index would block-
    compress or elide as stopwords anyway."""
    postings = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("doc").alias("doc"),
                F.concat_ws(":", F.col("doc"), F.col("tf")).alias("p"),
            )
        )
    )
    return (
        _tf(spark, sf_dir)
        .groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("tf_total"),
            F.md5(F.array_join(F.transform(postings, lambda x: x["p"]), ",")).alias(
                "postings_md5"
            ),
        )
        .filter(F.col("df") >= 10)
    )


@register(
    "j51_bm25_scores",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id AS doc, unnest(string_split({_NORM}, ' ')) AS term
        FROM documents
    ), tfc AS (
        SELECT doc, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE term <> '' GROUP BY 1, 2
    ), dl AS (
        SELECT doc, CAST(SUM(tf) AS BIGINT) AS dl FROM tfc GROUP BY 1
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS n_tokens
        FROM dl
    ), topterms AS (
        SELECT term FROM tfc
        WHERE term NOT IN ({_STOP_SQL})
        GROUP BY term ORDER BY SUM(tf) DESC, term LIMIT 3
    ), dfq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM tfc JOIN topterms USING (term) GROUP BY 1
    ), scored AS (
        SELECT tfc.doc, tfc.term,
               CAST(FLOOR(
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1)
                   * ((tf * 2.2)
                      / (tf + 1.2 * (1 - 0.75
                                     + 0.75 * dl / (CAST(n_tokens AS DOUBLE) / n_docs))))
                   * 1000000) AS BIGINT) AS unats
        FROM tfc
        JOIN dfq ON tfc.term = dfq.term
        JOIN dl ON tfc.doc = dl.doc
        CROSS JOIN stats
        WHERE tfc.doc < 100
    )
    SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_query_terms,
           CAST(SUM(unats) AS BIGINT) AS bm25_unats
    FROM scored GROUP BY doc
    """,
    survey="J51,J7",
)
def j51_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring (Robertson–Spärck Jones, k1=1.2 b=0.75) —
    the quality-retrieval primitive data-curation pipelines use to pull
    "looks like the target domain" documents out of a crawl.  The query
    is self-contained: its terms are the corpus's 3 highest-total-tf
    non-stopword terms (exact-integer selection, deterministic tiebreak),
    so both engines derive the identical query before scoring.

    Float discipline: per-(doc, term) contributions are floor-quantized
    to integer micro-nats and only the INTEGERS are summed — addition
    order can't perturb the result (the j23/j41 rule).  Both engines
    evaluate the same literal expression tree left-to-right over the same
    exact integers (tf, df, dl, N, total); only a 1-ulp libm ln()
    straddling a floor boundary could flip a digit.

    Scale shape: one corpus scan feeds the shared (doc, term, tf) hash
    agg; doc length and corpus stats are two more hash aggs over it; the
    query-term relation is 3 rows broadcast into the tf stream, so the
    scoring join touches only matching postings.  The output doc filter
    prunes the per-doc join inputs but corpus statistics (df, avgdl, N)
    stay corpus-wide — restricting stats to the output subset is the
    classic BM25 implementation bug."""
    # r11 (guide §2.4): tfc feeds dl/topterms/the query join, dl feeds
    # stats + the scoring join, tfq feeds df + scoring — persist-backed
    # cuts run the tokenize+tf pipeline once (18 Exchanges before).
    tfc = _tf(spark, sf_dir).localCheckpoint(eager=False)
    dl = tfc.groupBy("doc").agg(
        F.sum("tf").cast("long").alias("dl")
    ).localCheckpoint(eager=False)
    stats = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("n_tokens"),
    )
    topterms = (
        tfc.filter(~F.col("term").isin(list(_STOP)))
        .groupBy("term")
        .agg(F.sum("tf").alias("qtf"))
        .orderBy(F.col("qtf").desc(), "term")
        .limit(3)
        .select("term")
    )
    tfq = tfc.join(F.broadcast(topterms), "term").localCheckpoint(eager=False)
    dfq = tfq.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    avgdl = F.col("n_tokens").cast("double") / F.col("n_docs")
    unats = F.floor(
        F.ln((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
        * (
            (F.col("tf") * 2.2)
            / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / avgdl))
        )
        * 1000000
    ).cast("long")
    return (
        tfq.filter(F.col("doc") < 100)
        .join(F.broadcast(dfq), "term")
        .join(dl.filter(F.col("doc") < 100), "doc")
        .crossJoin(F.broadcast(stats))
        .select("doc", unats.alias("unats"))
        .groupBy("doc")
        .agg(
            F.count("*").cast("long").alias("n_query_terms"),
            F.sum("unats").cast("long").alias("bm25_unats"),
        )
    )


@register(
    "e22_cohort_retention",
    oracle="""
    WITH ev AS (
        SELECT user_id,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT)
                   AS day_idx
        FROM events
    ), firstd AS (
        SELECT user_id, MIN(day_idx) AS cohort_day FROM ev GROUP BY 1
    ), active AS (
        SELECT DISTINCT e.user_id, f.cohort_day, e.day_idx - f.cohort_day AS day_offset
        FROM ev e JOIN firstd f USING (user_id)
    ), cohort_sz AS (
        SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size
        FROM firstd GROUP BY 1
    )
    SELECT a.cohort_day, a.day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           cs.cohort_size
    FROM active a JOIN cohort_sz cs USING (cohort_day)
    GROUP BY a.cohort_day, a.day_offset, cs.cohort_size
    """,
    survey="E22,E2,F1",
)
def e22_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix — the canonical product-analytics
    rollup: users grouped by first-seen day, then for each (cohort,
    days-since-first) cell the count of distinct users still active.
    Every derived value is exact integer arithmetic: day indexes are
    floor day-diffs from a fixed anchor date (no engine-specific week
    semantics), offsets are integer subtraction, and the cell values are
    distinct counts — nothing floats, nothing can drift.

    Scale shape: first-seen is one hash agg on user_id; activity cells
    need one fact⋈dim join on user_id (the dimension is the per-user
    aggregate — AQE picks broadcast vs shuffle by its measured size, no
    hint since user cardinality scales with data) followed by a distinct
    on (user, cohort, offset) that partial-aggregates map-side.  The
    cohort-size dimension is bounded by calendar days — genuinely fixed
    cardinality, so it IS broadcast-hinted.  The invariant n_active(c, 0)
    == cohort_size(c) (everyone is active on their own first day) is
    asserted in tests."""
    anchor = datetime.date(2024, 1, 1)
    ev = Tables(spark, sf_dir).events.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit(anchor)).cast("long").alias("day_idx"),
    )
    firstd = ev.groupBy("user_id").agg(F.min("day_idx").alias("cohort_day"))
    active = (
        ev.join(firstd, "user_id")
        .select(
            "user_id",
            "cohort_day",
            (F.col("day_idx") - F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    cohort_sz = firstd.groupBy("cohort_day").agg(
        F.count("*").cast("long").alias("cohort_size")
    )
    return (
        active.groupBy("cohort_day", "day_offset")
        .agg(F.count("*").cast("long").alias("n_active"))
        .join(F.broadcast(cohort_sz), "cohort_day")
        .select("cohort_day", "day_offset", "n_active", "cohort_size")
    )


@register(
    "f16_interval_union",
    oracle="""
    WITH iv AS (
        SELECT o_custkey AS cust, o_orderkey AS k,
               CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                    AS BIGINT) AS lo,
               CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                    + 1 + o_orderkey % 20 AS BIGINT) AS hi
        FROM orders
    ), flagged AS (
        SELECT cust, k, lo, hi,
               CASE WHEN max(hi) OVER (
                        PARTITION BY cust ORDER BY lo, hi, k
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                    OR lo > max(hi) OVER (
                        PARTITION BY cust ORDER BY lo, hi, k
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_grp
        FROM iv
    ), grouped AS (
        SELECT cust, lo, hi,
               SUM(new_grp) OVER (
                   PARTITION BY cust ORDER BY lo, hi, k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM flagged
    ), blocks AS (
        SELECT cust, grp, MIN(lo) AS blo, MAX(hi) AS bhi,
               CAST(COUNT(*) AS BIGINT) AS n_iv
        FROM grouped GROUP BY 1, 2
    )
    SELECT cust AS o_custkey,
           CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(bhi - blo + 1) AS BIGINT) AS covered_days
    FROM blocks GROUP BY 1
    """,
    survey="F16,F5,D16",
)
def f16_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval UNION length (sweep-line as windows) — merge each
    customer's overlapping activity intervals into maximal blocks and
    total the covered days.  The classic stack-based sweep becomes two
    window passes: running max(end) over earlier intervals detects gaps
    (a new block starts exactly when ``lo`` clears every previous end),
    and a running sum of the gap flags numbers the blocks.  The d16
    sibling JOINS intervals; this one COALESCES them — calendar
    coverage, SLA uptime, and dedup-by-time-range all reduce to it.
    Closed-interval convention: touching ranges ([1,5],[5,9]) merge;
    interval spans are synthesized from order keys (1 + k % 20 days) so
    both engines derive identical integer endpoints.

    Scale shape: ONE exchange on o_custkey serves everything — both
    window functions share the (cust | lo, hi, k) sort, and the two
    downstream aggregations group by (cust, grp) then (cust), each a
    superset-clustered key over the existing hash(cust) partitioning, so
    EnsureRequirements inserts no further shuffle (the f14 shared-
    exchange rule).  Per-partition state is one running max — no
    interval list ever materializes, which is what kills the stack
    formulation at 100 TB."""
    anchor = datetime.date(1992, 1, 1)
    o = Tables(spark, sf_dir).orders
    lo = F.datediff(F.to_date("o_orderdate"), F.lit(anchor)).cast("long")
    iv = o.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("k"),
        lo.alias("lo"),
        (lo + 1 + F.col("o_orderkey") % 20).cast("long").alias("hi"),
    )
    w = Window.partitionBy("cust").orderBy("lo", "hi", "k")
    prev_max = F.max("hi").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_grp",
        F.when(prev_max.isNull() | (F.col("lo") > prev_max), 1).otherwise(0),
    )
    grouped = flagged.withColumn(
        "grp", F.sum("new_grp").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    blocks = grouped.groupBy("cust", "grp").agg(
        F.min("lo").alias("blo"),
        F.max("hi").alias("bhi"),
        F.count("*").cast("long").alias("n_iv"),
    )
    return blocks.groupBy("cust").agg(
        F.sum("n_iv").cast("long").alias("n_intervals"),
        F.count("*").cast("long").alias("n_blocks"),
        F.sum(F.col("bhi") - F.col("blo") + 1).cast("long").alias("covered_days"),
    ).withColumnRenamed("cust", "o_custkey")


@register(
    "j52_pmi_collocations",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id AS doc, unnest(string_split({_NORM}, ' ')) AS term
        FROM documents
    ), dt AS (
        SELECT DISTINCT doc, term FROM toks
        WHERE term <> '' AND term NOT IN ({_STOP_SQL})
    ), dfc AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY 1
    ), vocab AS (
        SELECT term, df FROM dfc ORDER BY df DESC, term LIMIT 100
    ), dv AS (
        SELECT dt.doc, dt.term FROM dt JOIN vocab USING (term)
    ), nd AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents
    ), pairs AS (
        SELECT a.term AS term_a, b.term AS term_b,
               CAST(COUNT(*) AS BIGINT) AS df_ab
        FROM dv a JOIN dv b ON a.doc = b.doc AND a.term < b.term
        GROUP BY 1, 2
    )
    SELECT term_a, term_b, df_ab,
           CAST(FLOOR(ln(n_docs * df_ab / (1.0 * va.df * vb.df)) * 1000000)
                AS BIGINT) AS pmi_unats
    FROM pairs
    JOIN vocab va ON term_a = va.term
    JOIN vocab vb ON term_b = vb.term
    CROSS JOIN nd
    WHERE df_ab >= 5
    """,
    survey="J52,J6,D8",
)
def j52_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining — pointwise mutual information over
    document-level co-occurrence, the phrase/topic-discovery primitive
    behind vocabulary curation and domain labeling: ``pmi(a,b) =
    ln(N·df_ab / (df_a·df_b))``, floor-quantized to integer micro-nats
    over exact integer counts (the j23/j41/j51 float rule).

    Scale shape: the naive all-pairs co-occurrence is quadratic in
    per-doc vocabulary — banned.  Blocked instead by a fixed top-100
    vocabulary (exact-integer df ranking, deterministic tiebreak,
    broadcast): the pair join is EQUI on doc with both sides pre-filtered
    to vocab terms, so candidate volume is bounded by |docs| × C(100,2)
    worst-case and in practice by per-doc vocab hits — linear in corpus
    size with a constant pair budget, the same economics as j4's
    label-blocked cosine.  df floors (pair >= 5) keep the output head
    terms only.  A 100 TB run raises the vocab cap, not the shape."""
    d = fan_out(Tables(spark, sf_dir).documents)
    tok = d.select(
        F.col("doc_id").alias("doc"), F.explode(tokens(F.col("text"))).alias("term")
    ).filter((F.col("term") != "") & ~F.col("term").isin(list(_STOP)))
    # r11 (guide §2.4): dt feeds the df ranking + the vocab join, dv
    # feeds both pair-join sides — cuts run the token explode once.
    dt = tok.distinct().localCheckpoint(eager=False)
    dfc = dt.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    vocab = dfc.orderBy(F.col("df").desc(), "term").limit(100)
    dv = dt.join(F.broadcast(vocab.select("term")), "term").select(
        "doc", "term"
    ).localCheckpoint(eager=False)
    nd = Tables(spark, sf_dir).documents.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    a = dv.select(F.col("doc"), F.col("term").alias("term_a"))
    b = dv.select(F.col("doc"), F.col("term").alias("term_b"))
    pairs = (
        a.join(b, "doc")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count("*").cast("long").alias("df_ab"))
        .filter(F.col("df_ab") >= 5)
    )
    va = vocab.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    vb = vocab.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    pmi = F.floor(
        F.ln(F.col("n_docs") * F.col("df_ab") / (1.0 * F.col("df_a") * F.col("df_b")))
        * 1000000
    ).cast("long")
    return (
        pairs.join(F.broadcast(va), "term_a")
        .join(F.broadcast(vb), "term_b")
        .crossJoin(F.broadcast(nd))
        .select("term_a", "term_b", "df_ab", pmi.alias("pmi_unats"))
    )


@register(
    "e23_weighted_median",
    oracle="""
    WITH w AS (
        SELECT l_returnflag AS grp,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(ROUND(l_quantity) AS BIGINT) AS wt
        FROM lineitem
    ), pv AS (
        SELECT grp, cents, CAST(SUM(wt) AS BIGINT) AS wt FROM w GROUP BY 1, 2
    ), c AS (
        SELECT grp, cents, wt,
               SUM(wt) OVER (PARTITION BY grp ORDER BY cents
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(wt) OVER (PARTITION BY grp) AS tot
        FROM pv
    )
    SELECT grp AS l_returnflag,
           CAST(MIN(CASE WHEN 2 * cum >= tot THEN cents END) AS BIGINT)
               AS wmedian_cents,
           CAST(MAX(tot) AS BIGINT) AS total_weight
    FROM c GROUP BY 1
    """,
    survey="E23,E6,F5",
)
def e23_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (lower-median convention): the smallest value v
    with cumulative weight(<= v) covering half the group's total —
    quantity-weighted price medians, sample-weighted quality cuts, and
    importance-weighted thresholds all reduce to it.  e6's percentiles
    are unweighted; e17's weighted stats are moments — the weighted
    QUANTILE needs its own cumulative-weight formulation.  Everything is
    exact integers (prices quantized to cents, integer weights), so the
    half-total comparison ``2*cum >= tot`` cannot drift.

    Scale shape: weights pre-aggregate per (group, value) in one hash agg
    with map-side combine — the window then runs over the per-VALUE
    relation (bounded by value cardinality, not row count), partitioned
    by group.  The same one-exchange rule as f16: the window partition
    key is a prefix of the agg key, and the final per-group reduction
    reuses it."""
    li = Tables(spark, sf_dir).lineitem
    w = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.round("l_quantity").cast("long").alias("wt"),
    )
    pv = w.groupBy("grp", "cents").agg(F.sum("wt").cast("long").alias("wt"))
    wspec = Window.partitionBy("grp").orderBy("cents")
    c = pv.select(
        "grp",
        "cents",
        F.sum("wt").over(wspec.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("wt").over(Window.partitionBy("grp")).alias("tot"),
    )
    return c.groupBy("grp").agg(
        F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("cents")))
        .cast("long")
        .alias("wmedian_cents"),
        F.max("tot").cast("long").alias("total_weight"),
    ).withColumnRenamed("grp", "l_returnflag")


@register(
    "j53_column_profile",
    oracle="""
    WITH src AS (
        SELECT o_orderkey, o_custkey, o_orderpriority,
               CAST(o_orderdate AS DATE) AS o_orderdate,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS totalprice_cents
        FROM orders
    )
    SELECT 'o_orderkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
    FROM src
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM src
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM src
    UNION ALL
    SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate),
           COUNT(DISTINCT o_orderdate),
           CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
    FROM src
    UNION ALL
    SELECT 'totalprice_cents', COUNT(*), COUNT(*) - COUNT(totalprice_cents),
           COUNT(DISTINCT totalprice_cents),
           CAST(MIN(totalprice_cents) AS VARCHAR), CAST(MAX(totalprice_cents) AS VARCHAR)
    FROM src
    """,
    survey="J53,E3,E9",
)
def j53_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (ANALYZE/Deequ-style): one row per column with
    row count, null count, exact distinct count, and min/max rendered as
    strings — the schema-on-read sanity report every ingest pipeline runs
    before trusting a new snapshot.  Profiled columns are integer-, date-
    or string-typed (doubles are quantized to cents first) so min/max
    stringification is engine-stable.

    Scale shape: ONE scan computes every per-column aggregate in a
    single agg node (count/nulls/min/max are plain partial aggs;
    COUNT(DISTINCT col) per column expands the agg but stays one pass),
    then a stack() unpivot of the single result row — the profile never
    shuffles the table, only aggregate buffers.  At 100 TB the exact
    ndv's swap to approx_count_distinct (e4's tier) — same plan shape,
    sketch-sized buffers; exact is kept here because the oracle can
    value-check it."""
    o = Tables(spark, sf_dir).orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.to_date("o_orderdate").alias("o_orderdate"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("totalprice_cents"),
    )
    cols = ["o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate", "totalprice_cents"]
    aggs = [F.count("*").alias("n_rows")]
    for ccol in cols:
        aggs += [
            F.count(ccol).alias(f"{ccol}__nn"),
            F.countDistinct(ccol).alias(f"{ccol}__nd"),
            F.min(ccol).cast("string").alias(f"{ccol}__min"),
            F.max(ccol).cast("string").alias(f"{ccol}__max"),
        ]
    one = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{ccol}', n_rows - {ccol}__nn, {ccol}__nd, {ccol}__min, {ccol}__max"
        for ccol in cols
    )
    return one.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {stack_args}) AS (col_name, n_nulls, n_distinct, min_s, max_s)",
    ).select(
        "col_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_nulls").cast("long").alias("n_nulls"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_s",
        "max_s",
    )


@register(
    "j54_dq_expectations",
    oracle="""
    SELECT 'orders_custkey_fk' AS rule,
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
               AS n_violations,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_checked
    UNION ALL
    SELECT 'lineitem_pk_unique',
           CAST((SELECT COALESCE(SUM(n - 1), 0) FROM (
                     SELECT COUNT(*) AS n FROM lineitem
                     GROUP BY l_orderkey, l_linenumber) WHERE n > 1) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'quantity_in_range',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'orderdate_not_null',
           CAST((SELECT COUNT(*) - COUNT(o_orderdate) FROM orders) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'ship_after_order',
           CAST((SELECT COUNT(*) FROM lineitem l JOIN orders o
                 ON l.l_orderkey = o.o_orderkey
                 WHERE l.l_shipdate < o.o_orderdate) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l JOIN orders o
                 ON l.l_orderkey = o.o_orderkey) AS BIGINT)
    """,
    survey="J54,D4,C4",
)
def j54_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations (Deequ/Great-Expectations-style): a
    fixed rule suite evaluated to (rule, violations, checked) — the gate
    a production ingest runs between landing a snapshot and publishing
    it.  Rules cover the four standard families: referential integrity
    (orders→customer anti join), key uniqueness (surplus rows per
    duplicate (orderkey, linenumber)), domain ranges (quantity ∈ [1,50]),
    and nullability — plus a cross-TABLE temporal invariant (a line item
    cannot ship before its order was placed).

    Scale shape: every rule is a scan+agg or a broadcast/shuffle anti
    join — no rule materializes violating ROWS, only counts (the
    violation sample a UI would show is a LIMIT over the same predicate,
    not a different plan).  Rules over the same table could fuse into one
    conditional-agg pass (e11's shape) at the cost of losing the
    anti-join rule's generality; kept separate since each rule prunes to
    its own column set."""
    t = Tables(spark, sf_dir)
    o, c, li = t.orders, t.customer, t.lineitem

    def one(rule: str, viol: DataFrame, checked: DataFrame) -> DataFrame:
        v = viol.agg(F.count("*").cast("long").alias("n_violations"))
        n = checked.agg(F.count("*").cast("long").alias("n_checked"))
        return (
            v.crossJoin(F.broadcast(n))
            .select(F.lit(rule).alias("rule"), "n_violations", "n_checked")
        )

    fk = one(
        "orders_custkey_fk",
        o.join(c, o.o_custkey == c.c_custkey, "left_anti"),
        o,
    )
    dup_surplus = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).cast("long").alias("n_violations"))
        .crossJoin(
            F.broadcast(li.agg(F.count("*").cast("long").alias("n_checked")))
        )
        .select(F.lit("lineitem_pk_unique").alias("rule"), "n_violations", "n_checked")
    )
    qty = one(
        "quantity_in_range",
        li.filter((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)),
        li,
    )
    nn = one("orderdate_not_null", o.filter(F.col("o_orderdate").isNull()), o)
    lo = li.join(o, li.l_orderkey == o.o_orderkey)
    ship = one(
        "ship_after_order",
        lo.filter(F.col("l_shipdate") < F.col("o_orderdate")),
        lo,
    )
    return fk.unionAll(dup_surplus).unionAll(qty).unionAll(nn).unionAll(ship)


@register(
    "f17_twap",
    oracle="""
    WITH base AS (
        SELECT user_id, event_id, epoch_us(ts) AS t_us,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ), seg AS (
        SELECT user_id, cents,
               lead(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id)
                   - t_us AS dur
        FROM base
    )
    SELECT user_id,
           CAST(SUM(cents * dur) AS BIGINT) AS twap_num,
           CAST(SUM(dur) AS BIGINT) AS dur_us,
           CAST(COUNT(*) AS BIGINT) AS n_segments
    FROM seg WHERE dur IS NOT NULL GROUP BY 1
    """,
    survey="F17,F2,I2",
)
def f17_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average segments (TWAP) — each observation holds its
    value until the key's next observation, so the mean must weight by
    HOLD DURATION, not by row: the sensor-reading / price-feed
    aggregation where event cadence is irregular and row-weighted
    averages are simply wrong.  Emitted as exact integers (numerator
    Σ value_cents·dur_µs, denominator Σ dur_µs) rather than the divided
    double — callers divide at presentation, the engine result stays
    drift-free.  Overflow budget: max cents (~1e5) × max per-key total
    duration (a 30-day window ≈ 2.6e12 µs) ≈ 2.6e17 ≪ 2^63.

    Scale shape: the f16 rule again — one hash(user_id) exchange feeds
    the lead() window (segment construction) and the per-user aggregate
    that follows it reuses the same clustering; the whole operator is one
    shuffle.  Segments never materialize beyond the window's running
    row."""
    e = Tables(spark, sf_dir).events
    base = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    seg = base.withColumn("dur", F.lead("t_us").over(w) - F.col("t_us")).filter(
        F.col("dur").isNotNull()
    )
    return seg.groupBy("user_id").agg(
        F.sum(F.col("cents") * F.col("dur")).cast("long").alias("twap_num"),
        F.sum("dur").cast("long").alias("dur_us"),
        F.count("*").cast("long").alias("n_segments"),
    )


@register(
    "e24_hll_overlap",
    oracle="""
    WITH sh0 AS (
        SELECT DISTINCT source,
               unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        FROM (SELECT source,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
              FROM documents)
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
    )
    SELECT src_a, src_b,
           CAST(SUM(CASE WHEN list_contains(m, src_a)
                          AND list_contains(m, src_b)
                         THEN cnt ELSE 0 END) AS BIGINT) AS n_inter,
           CAST(1 AS INTEGER) AS hll_inter_in_band
    FROM hist CROSS JOIN pairs
    GROUP BY src_a, src_b
    """,
    survey="E24,E4,J26",
)
def e24_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-overlap estimation by HLL inclusion-exclusion — the 100 TB
    TRIAGE for "which crawls ingested the same site": |A∩B| ≈
    est(A) + est(B) − est(A∪B) over one fixed-size sketch per source,
    with NO join on shingle values at all.

    SQL-certified IN PLACE since round 7 (the e4/e27 error-contract-flag
    pattern): the output carries the EXACT per-pair |A∩B| (from the e24x
    mask-histogram identity — also join-free — hash-checked against
    DuckDB) next to ``hll_inter_in_band``, computed from the LIVE
    sketch-triple estimate while the oracle asserts the contractual
    constant 1: the inclusion-exclusion estimate must sit within 10% of
    the UNION size (compounding three ±1.6% sketches; measured worst
    2.9% of union at all three SFs — 3.5× margin, deterministic because
    HLL is hash-deterministic).  The raw estimates stay out of the
    hash-checked output (engine-specific by design); their values remain
    pinned against the exact twin in tests/test_round6.py.

    Scale shape: tokenize/shingle map → one sketch hash agg per source +
    the mask-histogram aggs (both map-side combined, neither joins on
    values) → |S|² pair arithmetic over KB relations."""
    d = fan_out(Tables(spark, sf_dir).documents)
    w = tokens(F.col("text"))
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(w) - 2),
        lambda i: F.array_join(F.slice(w, i, 3), " "),
    )
    sh = d.filter(F.size(w) >= 3).select("source", F.explode(shingles).alias("s"))
    # r11 (guide §2.4): the sketch side used to aggregate the RAW shingle
    # stream while the exact side re-derived the same stream for its
    # distinct — two full tokenize+explode passes.  HLL register state is
    # duplicate-insensitive (max per hashed value), so the sketch over
    # the distinct (source, s) relation is bit-identical; both sides now
    # share ONE cut distinct relation, and the |sources|-row sketch
    # relation cuts for its two self-join sides.
    sh0 = sh.distinct().localCheckpoint(eager=False)
    per_src = (
        sh0.groupBy("source")
        .agg(F.hll_sketch_agg("s").alias("sk"))
        .localCheckpoint(eager=False)
    )
    a = per_src.select(F.col("source").alias("src_a"), F.col("sk").alias("sk_a"))
    b = per_src.select(F.col("source").alias("src_b"), F.col("sk").alias("sk_b"))
    est_a = F.hll_sketch_estimate("sk_a")
    est_b = F.hll_sketch_estimate("sk_b")
    est_u = F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    est = (
        a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            F.greatest(est_a + est_b - est_u, F.lit(0))
            .cast("long")
            .alias("est_inter"),
            est_u.cast("long").alias("est_union"),
        )
    )
    # exact side: the e24x mask-histogram identity (NO join on values),
    # reading the same cut sh0 relation as the sketch side (r11).
    mask = sh0.groupBy("s").agg(F.sort_array(F.collect_set("source")).alias("m"))
    hist = mask.groupBy("m").agg(F.count("*").cast("long").alias("cnt"))
    srcs = d.select("source").distinct()
    pairs = (
        srcs.alias("pa")
        .join(srcs.alias("pb"), F.col("pa.source") < F.col("pb.source"))
        .select(F.col("pa.source").alias("psa"), F.col("pb.source").alias("psb"))
    )
    exact = (
        hist.crossJoin(F.broadcast(pairs))
        .groupBy("psa", "psb")
        .agg(
            F.sum(
                F.when(
                    F.array_contains(F.col("m"), F.col("psa"))
                    & F.array_contains(F.col("m"), F.col("psb")),
                    F.col("cnt"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_inter"),
            F.sum(
                F.when(
                    F.array_contains(F.col("m"), F.col("psa"))
                    | F.array_contains(F.col("m"), F.col("psb")),
                    F.col("cnt"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_union"),
        )
    )
    return (
        exact.join(
            est,
            (F.col("src_a") == F.col("psa")) & (F.col("src_b") == F.col("psb")),
        )
        .select(
            F.col("psa").alias("src_a"),
            F.col("psb").alias("src_b"),
            "n_inter",
            F.when(
                F.abs(F.col("est_inter") - F.col("n_inter")) * 10
                <= F.col("n_union"),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("hll_inter_in_band"),
        )
    )


@register(
    "e25_skyline",
    oracle=f"""
    WITH pts AS (
        SELECT doc_id,
               CAST(length(list_distinct(string_split({_NORM}, ' '))) AS BIGINT)
                   AS richness,
               CAST(n_chars AS BIGINT) AS n_chars
        FROM documents
    ), cand AS (
        SELECT richness, MIN(n_chars) AS n_chars
        FROM pts GROUP BY richness
    ), sky AS (
        SELECT c.richness, c.n_chars FROM cand c
        WHERE NOT EXISTS (
            SELECT 1 FROM cand o
            WHERE o.richness > c.richness AND o.n_chars <= c.n_chars
        )
    )
    SELECT s.richness, s.n_chars,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM sky s JOIN pts p
      ON p.richness = s.richness AND p.n_chars = s.n_chars
    GROUP BY 1, 2
    """,
    survey="E25,F3,G3",
)
def e25_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier preference query (Börzsönyi et al. 2001):
    documents not dominated on (vocabulary richness ↑, length ↓) — no
    other doc is simultaneously richer AND at most as long, strictly
    better in one.  The operator class behind "best tradeoff" curation
    cuts (quality vs cost, coverage vs tokens) that top-k can't express
    because no single score exists.

    The naive skyline is an all-pairs dominance filter — quadratic,
    banned.  For 2D it collapses to ONE window pass: reduce to the best
    (min length) candidate per richness value, sort candidates by
    richness descending, and keep those whose length beats the running
    minimum of every strictly-richer candidate.  The oracle runs the
    textbook NOT-EXISTS dominance filter over the same per-richness
    candidates — an independent quadratic restatement that proves the
    linear sweep drops no point.

    Scale shape: per-doc richness is a codegen map; candidates are one
    hash agg keyed by richness (bounded by the richness domain, not doc
    count); the window runs over candidates only; the final join back to
    points recovers per-point doc counts broadcast-side.  Higher
    dimensions need block-nested partitioning — out of scope, the 2D
    window tier is the common analytics case."""
    d = fan_out(Tables(spark, sf_dir).documents)
    pts = d.select(
        "doc_id",
        F.size(F.array_distinct(tokens(F.col("text")))).cast("long").alias("richness"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    cand = pts.groupBy("richness").agg(F.min("n_chars").alias("n_chars"))
    w = Window.orderBy(F.col("richness").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev_min = F.min("n_chars").over(w)
    sky = cand.withColumn("pm", prev_min).filter(
        F.col("pm").isNull() | (F.col("n_chars") < F.col("pm"))
    )
    return (
        pts.join(F.broadcast(sky.select("richness", "n_chars")), ["richness", "n_chars"])
        .groupBy("richness", "n_chars")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


@register(
    "j55_vocab_coverage",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split({_NORM}, ' ')) AS term FROM documents
    ), tc AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM toks
        WHERE term <> '' GROUP BY 1
    ), c AS (
        SELECT term, n,
               SUM(n) OVER (ORDER BY n DESC, term
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(n) OVER () AS tot,
               row_number() OVER (ORDER BY n DESC, term) AS rnk
        FROM tc
    ), thr AS (SELECT * FROM (VALUES (50), (80), (90), (95)) t(pct))
    SELECT CAST(pct AS BIGINT) AS pct,
           CAST(MIN(rnk) AS BIGINT) AS vocab_size,
           CAST(MIN(cum) AS BIGINT) AS covered_tokens,
           CAST(MAX(tot) AS BIGINT) AS total_tokens
    FROM c JOIN thr ON 100 * cum >= pct * tot
    GROUP BY pct
    """,
    survey="J55,F3,E20",
)
def j55_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — for each coverage target (50/80/90/95%
    of token occurrences), the number of head terms needed to reach it
    and the exact token mass covered at the crossing: the sizing question
    every tokenizer/vocab decision starts from (Zipf head mass).  The
    crossing is found with pure integer arithmetic (``100·cum ≥ pct·tot``)
    — no ratio ever floats.

    Scale shape: one corpus scan → term hash agg; the rank and running
    sum run over the TERM relation via operators/layout.py global_cumsum
    (range partitions + per-partition (count, sum) offsets) — NO
    unpartitioned window anywhere (VERDICT r3 "What's wrong" item 3: the
    term relation is corpus-sublinear but still 10⁸+ at web scale, so
    the single-reducer cumulative window had to go).  The grand total is
    a 1-row aggregate broadcast onto the term relation.  The threshold
    relation is 4 literal rows joined on the crossing predicate and
    reduced with MIN — the cumulative side is computed once, not once
    per threshold.  At 100 TB the only corpus-sized work is the
    tokenize+agg map."""
    from cassandra_snap_to_hadoop_spark.operators.layout import global_cumsum

    d = fan_out(Tables(spark, sf_dir).documents)
    tc = (
        d.select(F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = tc.agg(F.sum("n").cast("long").alias("tot"))
    c = global_cumsum(
        tc, [F.col("n").desc(), F.col("term")], "n", rank_col="rnk", cum_col="cum"
    ).crossJoin(F.broadcast(tot))
    thr = spark.range(1).selectExpr("explode(array(50, 80, 90, 95)) AS pct")
    return (
        c.join(F.broadcast(thr), 100 * F.col("cum") >= F.col("pct") * F.col("tot"))
        .groupBy("pct")
        .agg(
            F.min("rnk").cast("long").alias("vocab_size"),
            F.min("cum").cast("long").alias("covered_tokens"),
            F.max("tot").cast("long").alias("total_tokens"),
        )
        .select(F.col("pct").cast("long").alias("pct"), "vocab_size", "covered_tokens", "total_tokens")
    )


# j56 oracle machinery.  The key fact that makes CDC SQL-expressible:
# the gear hash h = ((h << 1) + GEAR[byte]) mod 2^64 forgets bytes more
# than 64 positions back (their shifts vanish mod 2^64), and a cut is
# only legal once the chunk has >= 64 = min_len bytes — so at every
# position where a cut COULD happen, the in-chunk hash equals the
# position-local 64-byte window hash, and the candidate-boundary flags
# are computable per position with no recursion.  Only the boundary
# SELECTION (next candidate >= start+min_len, hard cut at max_len) stays
# sequential, as a WITH RECURSIVE lockstep chain over docs whose depth
# is max chunks/doc (~10 here).  HUGEINT carries the mod-2^64 terms:
# term_k = (GEAR[b] mod 2^(64-k)) << k <= 2^64, 64-term sum <= 2^70.
def _j56_gear_values() -> str:
    from cassandra_snap_to_hadoop_spark.operators.chunking import GEAR

    return ",".join(f"({i},{g}::HUGEINT)" for i, g in enumerate(GEAR))


# Chunk end for chunk starting at c.s, given the LEFT-JOINed first mask
# candidate x in [s+63, s+1022]: mask cut at x.pos+1, else hard cut at
# s+1024 (size == max_len), else the document tail.  ONE template reused
# verbatim in the recursive step, its WHERE guard, and the final chunk
# relation (the e114 one-template rule).
_J56_END = (
    "LEAST(COALESCE(x.pos + 1, 9223372036854775807),"
    " c.s + 1024, d.len)"
)
# "First candidate in range" without a subquery (DuckDB cannot put a
# NOT EXISTS inside a LEFT JOIN's ON): cand2 precomputes each
# candidate's predecessor with LAG OUTSIDE the recursion, and x is the
# first in [s+63, s+1022] iff its predecessor falls before the range.
_J56_CAND_JOIN = (
    "LEFT JOIN cand2 x ON x.doc_id = c.doc_id"
    " AND x.pos >= c.s + 63 AND x.pos <= c.s + 1022"
    " AND (x.prev IS NULL OR x.prev < c.s + 63)"
)


@register(
    "j56_cdc_chunking",
    oracle=f"""
    WITH RECURSIVE g(byte, gv) AS (VALUES {{GEAR_VALUES}}),
    dlen AS MATERIALIZED (
        SELECT doc_id, text, length(text) AS len
        FROM documents
        WHERE text IS NOT NULL AND length(text) > 0
          AND length(text) = octet_length(encode(text))
    ), chars AS (
        SELECT doc_id, i.i AS pos, ord(substring(text, i.i + 1, 1)) AS byte
        FROM dlen, LATERAL (SELECT unnest(range(0, len)) AS i) i
    ), g8 AS MATERIALIZED (
        -- The mask tests only the avg_bits = 8 TRAILING bits, and bit
        -- j of the gear recursion h = (h << 1) + GEAR[b] mod 2^64
        -- depends only on bytes <= j positions back — so the candidate
        -- flag needs just the LAST 8 BYTES, in plain BIGINT: byte b
        -- sitting k in 0..7 positions back contributes
        -- (GEAR[b] mod 2^(8-k)) << k to the low byte.
        SELECT g.byte, k.k,
               CAST(((g.gv % (1::HUGEINT << (8 - k.k)))
                     * (1::HUGEINT << k.k)) AS BIGINT) AS term
        FROM g, (SELECT unnest(range(0, 8)) AS k) k
    ), win AS (
        -- SCATTER, not gather: each byte emits its 8 forward
        -- contributions via one equi join on byte value (no second
        -- corpus-sized probe); positions past the doc end drop below.
        SELECT b.doc_id, b.pos + t.k AS pos, t.term
        FROM chars b JOIN g8 t ON t.byte = b.byte
    ), cand AS MATERIALIZED (
        -- pos >= 63: a cut needs chunk size >= min_len = 64, so flags
        -- below 63 can never fire (and the in-chunk low byte equals
        -- this position-local one exactly when size >= 8 <= 64).
        SELECT w.doc_id, w.pos
        FROM win w JOIN dlen d ON d.doc_id = w.doc_id
        WHERE w.pos >= 63 AND w.pos < d.len
        GROUP BY w.doc_id, w.pos
        HAVING SUM(term) % 256 = 0
    ), cand2 AS MATERIALIZED (
        SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM cand
    ), chain AS (
        SELECT doc_id, CAST(0 AS BIGINT) AS s FROM dlen
        UNION ALL
        SELECT c.doc_id, {_J56_END}
        FROM chain c
        JOIN dlen d ON d.doc_id = c.doc_id
        {_J56_CAND_JOIN}
        WHERE {_J56_END} < d.len
    ), chunks AS (
        SELECT c.doc_id, c.s, {_J56_END} AS e,
               {_J56_END} - c.s AS clen,
               md5(substring(d.text, CAST(c.s + 1 AS INT),
                             CAST({_J56_END} - c.s AS INT))) AS h
        FROM chain c
        JOIN dlen d ON d.doc_id = c.doc_id
        {_J56_CAND_JOIN}
    ), per_doc AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(clen) AS BIGINT) AS total_bytes,
               CAST(MIN(clen) AS BIGINT) AS min_chunk,
               CAST(MAX(clen) AS BIGINT) AS max_chunk
        FROM chunks WHERE doc_id < 200 GROUP BY 1
    ), corpus AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS c_total,
               CAST(COUNT(DISTINCT h) AS BIGINT) AS c_distinct
        FROM chunks
    )
    SELECT * FROM per_doc CROSS JOIN corpus
    """.replace("{GEAR_VALUES}", _j56_gear_values()),
    survey="J56,J1,L1",
)
def j56_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (gear-hash CDC, operators/chunking.py) —
    chunk boundaries fall where the rolling hash of recent bytes hits a
    mask, so near-identical documents share most chunk hashes even after
    insertions shift every byte offset: the storage-dedup primitive
    (rsync/LBFS/restic) that fixed-size chunking (j31) fundamentally
    cannot provide.

    SQL-CERTIFIED since round 9 (the VERDICT r8 item-5 conversion): the
    gear recursion mod 2^64 forgets bytes > 64 positions back and cuts
    need size >= min_len = 64, so wherever a cut is LEGAL the in-chunk
    hash equals a position-local 64-byte window hash — candidate flags
    become one 64-way self-join in HUGEINT, and only boundary SELECTION
    (next candidate >= start+64, hard cut at 1024) runs as a bounded
    WITH RECURSIVE lockstep chain.  Both sides gate to non-empty ASCII
    docs (char == byte — every doc on this corpus), keeping the oracle's
    char arithmetic faithful to the engine's byte chunker; tests pin
    exact reconstruction and the boundary-stability property.

    Output: per-document chunk accounting for docs < 200 plus the
    corpus-level chunk-dedup ratio inputs (distinct vs total chunk
    hashes — what a dedup store would actually save).

    Scale shape: embarrassingly parallel map — one Arrow-batched pandas
    UDF pass per document, no shuffle until the chunk-hash agg; the UDF
    is scalar-per-doc by necessity (sequential rolling hash) but
    documents are independent, so 1000 executors chunk 1000 ways."""
    from cassandra_snap_to_hadoop_spark.operators.chunking import cdc_chunks

    @F.pandas_udf("array<string>")
    def chunks_udf(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: []
            if t is None
            else [f"{s}:{e}:{h}" for s, e, h in cdc_chunks(t)]
        )

    d = (
        fan_out(Tables(spark, sf_dir).documents)
        # Same gate as the oracle: non-empty ASCII docs (char == byte),
        # so the oracle's VARCHAR position arithmetic mirrors the byte
        # chunker exactly.  Every doc on this corpus passes.
        .filter(
            F.col("text").isNotNull()
            & (F.length("text") > 0)
            & (F.length("text") == F.octet_length("text"))
        )
        .select("doc_id", chunks_udf(F.col("text")).alias("chunks"))
    )
    per_chunk = d.select(
        "doc_id", F.explode("chunks").alias("c")
    ).select(
        "doc_id",
        F.split("c", ":").getItem(2).alias("h"),
        (
            F.split("c", ":").getItem(1).cast("long")
            - F.split("c", ":").getItem(0).cast("long")
        ).alias("clen"),
    )
    per_doc = (
        per_chunk.filter(F.col("doc_id") < 200)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("clen").cast("long").alias("total_bytes"),
            F.min("clen").cast("long").alias("min_chunk"),
            F.max("clen").cast("long").alias("max_chunk"),
        )
    )
    corpus = per_chunk.agg(
        F.count("*").cast("long").alias("c_total"),
        F.countDistinct("h").cast("long").alias("c_distinct"),
    )
    return per_doc.crossJoin(F.broadcast(corpus))


@register(
    "d17_asof_nearest",
    oracle="""
    WITH tagged AS (
        SELECT user_id, epoch_us(ts) AS t, 0 AS is_p,
               CAST(NULL AS BIGINT) AS event_id
        FROM events WHERE event_type = 'view'
        UNION ALL
        SELECT user_id, epoch_us(ts) AS t, 1 AS is_p, event_id
        FROM events WHERE event_type = 'purchase'
    ), w AS (
        SELECT user_id, t, is_p, event_id,
               last_value(CASE WHEN is_p = 0 THEN t END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY t, is_p, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_v,
               first_value(CASE WHEN is_p = 0 THEN t END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY t, is_p, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_v
        FROM tagged
    )
    SELECT event_id, user_id,
           CAST(CASE
               WHEN prev_v IS NOT NULL
                    AND (next_v IS NULL OR t - prev_v <= next_v - t) THEN prev_v
               ELSE next_v END AS BIGINT) AS nearest_view_us,
           CAST(CASE
               WHEN prev_v IS NOT NULL
                    AND (next_v IS NULL OR t - prev_v <= next_v - t) THEN t - prev_v
               ELSE next_v - t END AS BIGINT) AS dist_us
    FROM w WHERE is_p = 1
    """,
    survey="D17,D7,F2",
)
def d17_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join (pandas ``merge_asof
    direction='nearest'``): each purchase matches its closest view in
    EITHER time direction, ties broken backward — d7 is backward-only,
    d14 backward-with-tolerance; nearest completes the family (sensor
    alignment, quote-to-trade matching).

    Implemented with ZERO joins: both sides union into one tagged stream,
    and per user a single sort yields the previous view (ignore-nulls
    last_value over the preceding frame) and the next view (first_value
    over the following frame) for every purchase row — the classic
    merge-streams formulation.  At equal timestamps the view sorts before
    the purchase (tag ordering), so a view at exactly the purchase time
    is a 0-distance backward match, deterministically.

    Scale shape: one hash(user) exchange + one sort covers both
    directions for every row at once; a join-based nearest would pay two
    range joins and a dedup.  Same-key windows, no skew surprise beyond
    what the user-activity distribution already carries."""
    e = Tables(spark, sf_dir).events
    v = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.lit(0).alias("is_p"),
        F.lit(None).cast("long").alias("event_id"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("t"), F.lit(1).alias("is_p"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t", "is_p", "event_id")
    view_t = F.when(F.col("is_p") == 0, F.col("t"))
    prev_v = F.last(view_t, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    next_v = F.first(view_t, ignorenulls=True).over(
        w.rowsBetween(1, Window.unboundedFollowing)
    )
    tagged = v.unionByName(p).select("user_id", "t", "is_p", "event_id", prev_v.alias("prev_v"), next_v.alias("next_v"))
    back = F.col("prev_v").isNotNull() & (
        F.col("next_v").isNull()
        | (F.col("t") - F.col("prev_v") <= F.col("next_v") - F.col("t"))
    )
    return tagged.filter(F.col("is_p") == 1).select(
        "event_id",
        "user_id",
        F.when(back, F.col("prev_v")).otherwise(F.col("next_v")).cast("long").alias("nearest_view_us"),
        F.when(back, F.col("t") - F.col("prev_v"))
        .otherwise(F.col("next_v") - F.col("t"))
        .cast("long")
        .alias("dist_us"),
    )


@register(
    "f18_ohlc_bars",
    oracle="""
    WITH base AS (
        SELECT event_type,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT)
                   AS day_idx,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || '-' ||
                   lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord_key
        FROM events
    )
    SELECT event_type, day_idx,
           CAST(arg_min(cents, ord_key) AS BIGINT) AS open_cents,
           CAST(MAX(cents) AS BIGINT) AS high_cents,
           CAST(MIN(cents) AS BIGINT) AS low_cents,
           CAST(arg_max(cents, ord_key) AS BIGINT) AS close_cents,
           CAST(COUNT(*) AS BIGINT) AS volume
    FROM base GROUP BY 1, 2
    """,
    survey="F18,E10,K1",
)
def f18_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle bars — open/high/low/close per (series, day), the
    canonical time-series downsampling for dashboards and feature
    extraction: open/close are VALUE-AT-ARGMIN/ARGMAX-TIME (e10's
    argmin/argmax family applied to a time key), high/low plain extremes,
    volume the bar count.  The within-bar ordering key is a fixed-width
    zero-padded "epoch_us-event_id" string, so both engines break
    timestamp ties identically with plain lexicographic comparison — no
    struct-ordering support needed in the oracle, no packed-integer
    overflow risk.

    Scale shape: single scan → ONE hash aggregate keyed by (series,
    day) with five primitive-buffer aggregates, map-side partial combine
    throughout — the most scale-friendly shape there is; at finer bar
    widths only the group count grows, never the buffer size."""
    anchor = datetime.date(2024, 1, 1)
    e = Tables(spark, sf_dir).events
    ord_key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lit("-"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    base = e.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit(anchor)).cast("long").alias("day_idx"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        ord_key.alias("ord_key"),
    )
    return base.groupBy("event_type", "day_idx").agg(
        F.min_by("cents", "ord_key").cast("long").alias("open_cents"),
        F.max("cents").cast("long").alias("high_cents"),
        F.min("cents").cast("long").alias("low_cents"),
        F.max_by("cents", "ord_key").cast("long").alias("close_cents"),
        F.count("*").cast("long").alias("volume"),
    )


@register(
    "i17_try_funcs",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_div_null,
           CAST(SUM(CASE WHEN o_custkey % 7 = 0 THEN 0
                    ELSE CAST(FLOOR(o_totalprice / (o_custkey % 7) * 100) AS BIGINT)
                    END) AS BIGINT) AS sum_div_cents,
           CAST(SUM(CASE WHEN TRY_CAST(o_orderpriority AS INTEGER) IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_cast_null,
           CAST(SUM(COALESCE(TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER), 0))
               AS BIGINT) AS sum_prio_digit
    FROM orders
    """,
    survey="I17,I4,C5",
)
def i17_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression tier (``try_divide`` / ``try_cast``) — under
    ANSI SQL mode (the Spark 4 default) a single division by zero or a
    malformed cast kills the whole job; the try_ variants return NULL
    instead, which is what a production pipeline over dirty data must
    use.  i1-i16 cover the happy-path function surface; this row pins
    the failure-path semantics: every '1-URGENT'-style priority fails
    the full-string cast (counted), its leading digit cast succeeds and
    sums, and every 7th customer key manufactures a zero divisor that
    try_divide nulls rather than throws.

    The oracle restates try-semantics explicitly (guard CASEs and
    DuckDB's TRY_CAST) — the point of the cross-check is that NULL
    propagation and the FLOOR-quantized division agree exactly.  Scale
    shape: pure codegen map into one global aggregate; nothing here can
    shuffle."""
    o = Tables(spark, sf_dir).orders
    div = F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 7)
    prio_full = F.col("o_orderpriority").try_cast("int")
    prio_digit = F.substring("o_orderpriority", 1, 1).try_cast("int")
    return o.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.when(div.isNull(), 1).otherwise(0)).cast("long").alias("n_div_null"),
        F.sum(F.when(div.isNull(), 0).otherwise(F.floor(div * 100)))
        .cast("long")
        .alias("sum_div_cents"),
        F.sum(F.when(prio_full.isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_cast_null"),
        F.sum(F.coalesce(prio_digit, F.lit(0))).cast("long").alias("sum_prio_digit"),
    )


@register(
    "k14_dynamic_session_gap",
    oracle="""
    WITH base AS (
        SELECT user_id, event_id, ts, epoch_us(ts) AS t_us,
               epoch_us(ts) + CASE event_type
                   WHEN 'purchase' THEN 3600000000
                   WHEN 'view' THEN 900000000
                   ELSE 1800000000 END AS end_us
        FROM events
    ), seq AS (
        SELECT user_id, event_id, ts, t_us,  end_us,
               max(end_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_end
        FROM base
    ), sess AS (
        SELECT user_id, ts,
               SUM(CASE WHEN prev_end IS NULL OR t_us >= prev_end THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY t_us, event_id
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM seq
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M') AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS BIGINT) AS span_ms
    FROM sess GROUP BY user_id, sid
    """,
    survey="K14,K3,F16",
)
def k14_dynamic_session_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap sessionization — the session timeout is a per-event
    EXPRESSION (purchases hold a session open for an hour, views for 15
    minutes, everything else 30) rather than k3's single constant: the
    real-world rule when different actions imply different engagement.
    The Spark side is the native ``session_window(ts, gap_expr)`` —
    batch-executable and identical in streaming (k3's twin pattern);
    each event extends its session to ``ts + gap(event)`` and sessions
    are the union of overlapping extents, which is f16's interval-union
    semantics, NOT the fixed-gap lag rule.  The oracle therefore
    restates it as the running-max sweep (an independent formulation:
    max of prior event-extents per user; a new session starts when an
    event's time clears all of them).

    Scale shape: one hash(user) exchange for the session assignment, agg
    buffers are per-session primitives; the gap CASE is codegen.  The
    output span uses min/max event times inside each session (the
    session_window's own end includes gap padding — reported spans stay
    data-defined)."""
    e = Tables(spark, sf_dir).events
    gap = (
        F.when(F.col("event_type") == "purchase", F.lit("1 hour"))
        .when(F.col("event_type") == "view", F.lit("15 minutes"))
        .otherwise(F.lit("30 minutes"))
    )
    return (
        e.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm").alias("session_start"),
            F.count("*").cast("long").alias("n_events"),
            (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts")))
            .cast("long")
            .alias("span_ms"),
        )
        .select("user_id", "session_start", "n_events", "span_ms")
    )


_CMS_DEPTH, _CMS_WIDTH = 5, 512


def _cms_bucket_sql(i: str, key: str) -> str:
    """DuckDB restatement of operators/sketch.cms_bucket — shared by the
    counter CTE and the probe CTE so the hash lives in one fragment."""
    return (
        f"CAST(CAST(('0x' || substr(md5(CONCAT(CAST({i} AS VARCHAR), ':', "
        f"CAST({key} AS VARCHAR))), 1, 15)) AS UBIGINT) % {_CMS_WIDTH} AS BIGINT)"
    )


@register(
    "e21_cms_heavy_hitters",
    oracle=f"""
    WITH perk AS (
        SELECT user_id AS k, COUNT(*) AS c FROM events GROUP BY 1
    ), rws AS (
        SELECT CAST(unnest(range({_CMS_DEPTH})) AS INTEGER) AS i
    ), counters AS (
        SELECT i, {_cms_bucket_sql("i", "k")} AS b, SUM(c) AS cnt
        FROM perk, rws GROUP BY 1, 2
    ), top10 AS (
        SELECT k AS user_id, c AS exact_n FROM perk
        ORDER BY c DESC, k LIMIT 10
    ), probe AS (
        SELECT t.user_id, t.exact_n, r.i,
               {_cms_bucket_sql("r.i", "t.user_id")} AS b
        FROM top10 t, rws r
    )
    SELECT p.user_id, CAST(p.exact_n AS BIGINT) AS exact_n,
           CAST(MIN(c.cnt) AS BIGINT) AS cms_est,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS total_events
    FROM probe p JOIN counters c ON c.i = p.i AND c.b = p.b
    GROUP BY 1, 2
    """,
    survey="E21,E4",
)
def e21_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a MERGEABLE count-min sketch — the streaming/
    segment-rollup answer to "top users by event volume" when exact
    per-key counts can't be kept: counters are a fixed (depth × width)
    table, partials merge by element-wise addition, and ANY coarser grain
    (per-type -> global, per-day -> per-month) is the same sum — the
    e12-HLL / e19-bitmap economics with frequencies instead of
    cardinalities.

    SQL-certified since round 6 (VERDICT r5 item 4): the counter table is
    built RELATIONALLY (operators/sketch.md5_cms_counters — row i, bucket
    md5(i':'key) % width, counter = Σ counts) so an independent SQL engine
    reproduces every counter and every min-over-rows estimate verbatim.
    The native ``F.count_min_sketch`` aggregate + the serialization reader
    (operators/sketch.CountMinSketch) remain the production binary tier,
    law-tested in tests/test_round3b.py (exact merge across segments,
    one-sided error).  The returned frame pairs the exact top-10 users
    with their sketch estimates: ``cms_est >= exact_n`` always
    (one-sided), and the depth-5 min keeps the excess within eps·total,
    eps = e/width (asserted over both SFs in tests).

    Scale shape: one per-key hash agg (map-side combined), a depth-row
    broadcast fan-out into the (i, b) counter agg — depth·width ≤ 2560
    rows total — then a broadcast probe join for the 10 heavy hitters;
    nothing leaves the JVM and no driver-side parse sits on the hot
    path."""
    from cassandra_snap_to_hadoop_spark.operators.sketch import (
        cms_bucket,
        md5_cms_counters,
    )

    ev = fan_out(Tables(spark, sf_dir).events)
    counters = md5_cms_counters(ev, "user_id", _CMS_DEPTH, _CMS_WIDTH)
    exact_top = (
        ev.groupBy("user_id")
        .agg(F.count("*").cast("long").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(10)
    )
    rows = spark.range(_CMS_DEPTH).select(F.col("id").cast("int").alias("i"))
    probe = exact_top.crossJoin(F.broadcast(rows)).select(
        "user_id",
        "exact_n",
        "i",
        cms_bucket(F.col("i"), F.col("user_id"), _CMS_WIDTH).alias("b"),
    )
    est = (
        probe.join(F.broadcast(counters), ["i", "b"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
    )
    tot = ev.agg(F.count("*").cast("long").alias("total_events"))
    return est.crossJoin(F.broadcast(tot)).select(
        "user_id", "exact_n", "cms_est", "total_events"
    )
