"""Round-3 coverage extensions, batched as they landed:

  1. a17 XML roundtrip, j40 best-representative dedup, d16 interval-
     overlap join, i14 URL functions;
  2. a18 malformed-JSON, j41 bigram LM, f13 ratio windows, j42
     canonical-URL dedup;
  3. j43 fixed-k stratified sample, j44 OOV rate, j46 tokenizer
     fertility;
  4. i15 collation grouping, e18 width-bucket histogram, a19 multiline
     CSV, k12 windowed top-k, f14 rolling z-score, sql_api_priority_share,
     j47 containment pairs, j48 media embedding KNN (rows), a20
     binaryFile ingest, k13 left-outer stream-stream join, e19 bitmap
     exact-distinct, e20 Pareto cut, i16 map HOFs, a21 dynamic partition
     overwrite, f15 CUSUM drift (rows), sql_api_parameterized.

Registered after the round-3 certification window on purpose:
value-checked by the local oracle mirror at sf0.001/0.01/0.1 in round 3,
rotated into the driver window in round 4.  Today they follow the
``_ROUND11_PRIORITY`` window in queries/__init__.py, in import order.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cassandra_snap_to_hadoop_spark.io import Tables, fan_out
from cassandra_snap_to_hadoop_spark.operators.dedup import normalize_text
from cassandra_snap_to_hadoop_spark.operators.text import tokens
from cassandra_snap_to_hadoop_spark.queries.layout import _staged
from cassandra_snap_to_hadoop_spark.registry import register

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@register(
    "a17_xml_roundtrip",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(length(text)) AS BIGINT) AS sum_text_len,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents
    """,
    survey="A3,A17",
)
def a17_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source roundtrip — Spark 4's built-in XML data source (the
    spark-xml package merged upstream): write the corpus as one XML
    document tree, read it back with an EXPLICIT schema, and value-check
    content integrity against the parquet source of truth.  Reading with
    an explicit schema matters doubly for XML: inference costs a full
    extra pass (worse than JSON — the reader must parse every row
    element), and inferred numeric widths can drift per-file at scale.
    Entity escaping (&lt; &amp; quotes) must round-trip byte-exact —
    sum(length(text)) catches any lossy escape."""
    xml_dir = _staged("a17_xml", sf_dir, "documents")
    if not (xml_dir / "_SUCCESS").exists():
        docs = Tables(spark, sf_dir).documents.select("doc_id", "lang", "n_chars", "text")
        docs.write.format("xml").option("rowTag", "doc").mode("overwrite").save(str(xml_dir))
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema("doc_id long, lang string, n_chars long, text string")
        .load(str(xml_dir))
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.length("text")).cast("long").alias("sum_text_len"),
        F.countDistinct("lang").alias("n_langs"),
    )


@register(
    "j40_dedup_best_rep",
    oracle=f"""
    WITH injected AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 10 <= 2 THEN base.text ELSE d.text END AS text,
               d.n_chars
        FROM documents d
        JOIN documents base ON base.doc_id = (d.doc_id // 10) * 10
    ), hashed AS (
        SELECT doc_id, n_chars, md5({_NORM}) AS h FROM injected
    )
    SELECT doc_id AS rep_id,
           CAST(group_size AS BIGINT) AS group_size,
           CAST(n_chars AS BIGINT) AS rep_quality
    FROM (
        SELECT doc_id, n_chars,
               COUNT(*) OVER (PARTITION BY h) AS group_size,
               row_number() OVER (PARTITION BY h ORDER BY n_chars DESC, doc_id) AS rn
        FROM hashed
    ) WHERE rn = 1
    """,
    survey="J1,J2,E10",
)
def j40_dedup_best_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the BEST-QUALITY representative per duplicate
    cluster, not the smallest id — what a production corpus actually wants
    (among near-identical crawls keep the longest / highest-scoring copy;
    min-id keeps whichever landed first).  Duplicates are planted exactly
    as in j27 (docs with id%10<=2 overwritten by their decade-base text),
    then each normalized-content cluster elects argmax(quality, tiebreak
    min id); the per-doc ``n_chars`` column plays the quality score, since
    it varies within a planted cluster while the text does not.

    Scale shape: ONE hash aggregate keyed by content digest — the
    representative election is a single packed-long ``max_by`` (quality in
    the high bits, bit-inverted doc_id below), so every aggregation buffer
    stays primitive and the whole merge runs on codegen HashAggregate with
    map-side partial combine: one survivor candidate per digest per map
    task crosses the wire, exactly the lww_merge priority-tier economics
    (operators/cassandra.py).  The oracle mirrors the election with a
    window — same semantics, but the agg formulation is the 100 TB one."""
    d = fan_out(Tables(spark, sf_dir).documents)
    base = d.select(F.col("doc_id").alias("base_id"), F.col("text").alias("base_text"))
    injected = d.join(base, (F.col("doc_id") - F.col("doc_id") % 10) == F.col("base_id")).select(
        "doc_id",
        F.when(F.col("doc_id") % 10 <= 2, F.col("base_text")).otherwise(F.col("text")).alias("text"),
        "n_chars",
    )
    # quality desc, then id asc: max over (n_chars << 32 | ~doc_id).
    priority = F.col("n_chars").cast("long") * F.lit(2**32) + (
        F.lit(2**32 - 1) - F.col("doc_id").cast("long")
    )
    return (
        injected.withColumn("h", F.md5(normalize_text(F.col("text"))))
        .groupBy("h")
        .agg(
            F.max_by("doc_id", priority).alias("rep_id"),
            F.count("*").alias("group_size"),
            F.max("n_chars").alias("rep_quality"),
        )
        .select("rep_id", "group_size", F.col("rep_quality").cast("long").alias("rep_quality"))
    )


@register(
    "d16_interval_overlap_join",
    oracle="""
    WITH promo AS (
        SELECT DISTINCT date_trunc('month', o_orderdate) AS p_lo,
               date_trunc('month', o_orderdate) + INTERVAL 9 DAY AS p_hi
        FROM orders
    )
    SELECT CAST(p_lo AS DATE) AS promo_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_value
    FROM orders JOIN promo
      ON o_orderdate <= p_hi AND p_lo <= o_orderdate + INTERVAL 6 DAY
    GROUP BY 1
    """,
    survey="D6,I2",
)
def d16_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join (two-sided ranges: ``a.lo <= b.hi AND b.lo <=
    a.hi``) — distinct from d6's point-in-interval shape.  Each order's
    7-day active window is matched against 10-day promo windows at every
    month start; output is per-promo-month order count + quantized value.

    Scale shape: the naive formulation is a pure theta join (cartesian —
    banned engine-wide).  Bucketed instead: a window [lo, hi] can only
    overlap promos in the months it touches, so each order explodes into
    its ≤2 candidate month buckets (array_distinct(month(lo), month(hi)))
    and joins EQUI on the bucket, with the exact overlap predicate as a
    post-filter.  Candidate volume is |orders| × window-months — linear,
    skew-proof, and the promo side broadcasts (month cardinality).  The
    same decomposition handles any bounded-span interval join at 100 TB
    (quantize both sides to cells of max span width); DuckDB runs the
    theta join directly, proving the bucketing loses no pairs."""
    o = Tables(spark, sf_dir).orders.select("o_orderkey", "o_totalprice", "o_orderdate")
    lo = F.col("o_orderdate")
    hi = F.date_add(lo, 6)
    promo = (
        o.select(F.trunc(lo, "month").alias("p_lo"))
        .distinct()
        .select("p_lo", F.date_add(F.col("p_lo"), 9).alias("p_hi"))
    )
    cand = o.select(
        "o_orderkey",
        "o_totalprice",
        lo.alias("lo"),
        hi.alias("hi"),
        F.explode(
            F.array_distinct(F.array(F.trunc(lo, "month"), F.trunc(hi, "month")))
        ).alias("mb"),
    )
    overlap = cand.join(F.broadcast(promo), cand.mb == promo.p_lo).filter(
        (F.col("lo") <= F.col("p_hi")) & (F.col("p_lo") <= F.col("hi"))
    )
    return overlap.groupBy(F.col("p_lo").alias("promo_month")).agg(
        F.count("*").alias("n_orders"),
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias("total_value"),
    )


@register(
    "i14_url_funcs",
    oracle="""
    SELECT doc_id,
           source || '.example.org' AS host,
           '/' || lang || '/doc-' || CAST(doc_id AS VARCHAR) AS path,
           'q=' || CAST(n_chars % 100 AS VARCHAR) || '&p=' || CAST(doc_id % 7 AS VARCHAR) AS query,
           CAST(n_chars % 100 AS VARCHAR) AS q_param,
           source || '+' || lang AS enc,
           CAST(1 AS BIGINT) AS roundtrip_ok
    FROM documents
    """,
    survey="I1,I14",
)
def i14_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing/encoding functions (I-family depth) — the provenance
    primitive of web-crawl pipelines (group by host, dedup by normalized
    path, strip tracking params).  URLs are synthesized from corpus
    columns so DuckDB can state the expected parse RESULT directly from
    the same columns: Spark must round-trip construct -> parse_url
    (HOST/PATH/QUERY/named param) back to ground truth.  url_encode
    checks the form-encoding path (space -> '+'); roundtrip_ok asserts
    decode(encode(x)) == x row-by-row.  All JVM-codegen string functions
    — no UDF, no shuffle: a pure scan-shaped map at any scale."""
    d = Tables(spark, sf_dir).documents
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.org/"),
        F.col("lang"),
        F.lit("/doc-"),
        F.col("doc_id").cast("string"),
        F.lit("?q="),
        (F.col("n_chars") % 100).cast("string"),
        F.lit("&p="),
        (F.col("doc_id") % 7).cast("string"),
    )
    raw = F.concat(F.col("source"), F.lit(" "), F.col("lang"))
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("q")).alias("q_param"),
        F.url_encode(raw).alias("enc"),
        (F.url_decode(F.url_encode(raw)) == raw).cast("long").alias("roundtrip_ok"),
    )


_WORDS = f"string_split({_NORM}, ' ')"


@register(
    "a18_json_malformed_rows",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST(17 AS BIGINT) AS n_corrupt,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    """,
    survey="A3,A18",
)
def a18_json_malformed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-ingest JSON handling — the JSON-lines twin of a8's CSV case,
    with different mechanics under test: the JSON reader captures the
    ENTIRE unparseable line in the corrupt-record column (CSV captures a
    token-level parse failure), and a half-written trailing record from a
    torn append is the classic producer failure this absorbs.  PERMISSIVE
    mode + columnNameOfCorruptRecord keeps every rejected line countable
    while good rows checksum to the source exactly; the corrupt count is
    a staged constant so the oracle is SQL over the original table."""
    from pathlib import Path

    from cassandra_snap_to_hadoop_spark.queries.sources_io import _stage_dir

    path = _stage_dir(sf_dir) / "documents_dirty_json"
    if not Path(path / "_STAGED").exists():
        (
            Tables(spark, sf_dir)
            .documents.select("doc_id", "lang", "n_chars")
            .write.mode("overwrite")
            .json(str(path))
        )
        bad = "\n".join('{"doc_id": <torn record %d' % i for i in range(17)) + "\n"
        Path(path / "zz_malformed.json").write_text(bad)
        Path(path / "_STAGED").write_text("ok")
    back = spark.read.json(
        str(path),
        schema="doc_id long, lang string, n_chars long, _bad string",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_bad",
    )
    return back.agg(
        F.count(F.when(F.col("_bad").isNull(), 1)).alias("n_good"),
        F.count(F.col("_bad")).alias("n_corrupt"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("n_chars"))).alias("sum_chars"),
    )


@register(
    "j41_bigram_lm_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_WORDS} AS w FROM documents
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
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(FLOOR(ln(0.7 * bc.cnt / u1.cnt + 0.3 * u2.cnt / tot.n)
                               * 1000000) AS BIGINT)) AS BIGINT) AS sum_q_logprob
    FROM b
    JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
    JOIN u u1 ON b.w1 = u1.tok
    JOIN u u2 ON b.w2 = u2.tok
    CROSS JOIN tot
    GROUP BY b.doc_id
    """,
    survey="J7,J9",
)
def j41_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained INTERPOLATED BIGRAM LM scoring — one modeling step
    past j23's unigram and the shape CCNet-style perplexity filters
    actually use (KenLM n-gram with backoff): p(w2|w1) = 0.7·c(w1,w2)/
    c(w1) + 0.3·c(w2)/N, summed as floor-quantized micro-nats so the
    cross-engine check is exact-integer despite ln().  The interpolation
    term makes unseen continuations scoreable (pure MLE bigram would
    ln(0) on any novel pair at inference; here training==scoring corpus
    so every pair is seen, but the formulation is the deployable one).

    Scale shape: bigram explode is the corpus's token stream (same volume
    as TF-IDF's explode, ~2x tokens); the three count relations are hash
    aggs over vocab/bigram cardinality; scoring joins are all equi joins
    on token keys, broadcast-eligible when vocab is small and plain
    shuffle joins when it isn't — never a pair blow-up.  Division
    association matches the oracle term-for-term (0.7·cb/cu1 computed as
    (0.7·cb)/cu1 on both engines), so the doubles agree bit-for-bit
    before the floor."""
    d = fan_out(Tables(spark, sf_dir).documents)
    w = tokens(F.col("text"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(w) - 1),
        lambda i: F.struct(
            F.element_at(w, i).alias("w1"), F.element_at(w, (i + 1).cast("int")).alias("w2")
        ),
    )
    # r11 (guide §2.4, the j103 cut): the bigram instance stream feeds
    # the count agg AND the scoring join, the unigram counts feed two
    # join legs, and the token total folds out of the unigram counts
    # (Σcnt ≡ COUNT(*) over the token stream — exact integers) instead
    # of re-exploding the corpus a fourth time.
    b = (
        d.filter(F.size(w) >= 2)
        .select("doc_id", F.explode(bigrams).alias("bg"))
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .localCheckpoint(eager=False)
    )
    toks = d.select(F.explode(w).alias("tok"))
    u = toks.groupBy("tok").agg(F.count("*").alias("cnt")).localCheckpoint(eager=False)
    tot = u.agg(F.sum("cnt").alias("n"))
    bc = b.groupBy("w1", "w2").agg(F.count("*").alias("bcnt"))
    scored = (
        b.join(bc, ["w1", "w2"])
        .join(u.select(F.col("tok").alias("w1"), F.col("cnt").alias("cu1")), "w1")
        .join(u.select(F.col("tok").alias("w2"), F.col("cnt").alias("cu2")), "w2")
        .crossJoin(F.broadcast(tot))
    )
    logp = F.ln(
        F.lit(0.7) * F.col("bcnt") / F.col("cu1") + F.lit(0.3) * F.col("cu2") / F.col("n")
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum(F.floor(logp * 1000000).cast("long")).alias("sum_q_logprob"),
    )


@register(
    "f13_ratio_windows",
    oracle="""
    WITH m AS (
        SELECT o_orderpriority,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS irev
        FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority, month,
           irev / 100.0 AS revenue,
           irev * 1.0 / SUM(irev) OVER (PARTITION BY month) AS month_share,
           COALESCE(irev * 1.0 / lag(irev) OVER (PARTITION BY o_orderpriority ORDER BY month)
                    - 1.0, 0.0) AS mom_change
    FROM m
    """,
    survey="F3,F2,E2,F13",
)
def f13_ratio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report + period-over-period windows — the two reporting
    idioms every BI layer builds on aggregates: each priority class's
    share of its month's revenue (ratio to partition total) and its
    month-over-month growth (lag ratio).  Both ratios divide the SAME
    exact quantized-integer sums on both engines, so the doubles are
    bit-identical with no rounding; the lag window's full ORDER BY
    (month per priority — unique) pins frames deterministically.  Scale:
    one hash agg to |priorities × months| rows, then windows over that
    tiny aggregate — the window never touches fact-table volume."""
    o = Tables(spark, sf_dir).orders
    from pyspark.sql.window import Window

    m = o.groupBy(
        "o_orderpriority", F.trunc("o_orderdate", "month").alias("month")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("irev"))
    share_w = Window.partitionBy("month")
    lag_w = Window.partitionBy("o_orderpriority").orderBy("month")
    return m.select(
        "o_orderpriority",
        "month",
        (F.col("irev") / 100.0).alias("revenue"),
        (F.col("irev") * 1.0 / F.sum("irev").over(share_w)).alias("month_share"),
        # first month has no predecessor: 0.0, not NULL (checked outputs
        # keep NULLs out of double columns — registry contract, SURVEY §5.1)
        F.coalesce(
            F.col("irev") * 1.0 / F.lag("irev").over(lag_w) - 1.0, F.lit(0.0)
        ).alias("mom_change"),
    )


@register(
    "j42_url_canonical_dedup",
    oracle="""
    WITH canon AS (
        SELECT doc_id,
               'www' || CAST((doc_id - doc_id % 4) % 50 AS VARCHAR) || '.example.org/p/'
                     || CAST(doc_id - doc_id % 4 AS VARCHAR)
                     || CASE WHEN doc_id % 4 = 3 THEN '?page=2' ELSE '' END AS canonical
        FROM documents
    )
    SELECT canonical,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(MIN(doc_id) AS BIGINT) AS rep_id
    FROM canon GROUP BY 1
    """,
    survey="J1,I1,J42",
)
def j42_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl dedup by CANONICAL URL — the metadata-level dedup a pipeline
    runs before ever reading page bytes: case-fold the host, strip
    fragments, drop tracking parameters, keep meaningful ones.  Each doc
    synthesizes one of four variants of its group's base URL (plain /
    SHOUTING host / utm-only query / real query + utm + fragment); Spark
    must PARSE the dirty URL (parse_url HOST/PATH/QUERY), scrub utm_*
    params with a regexp, and re-assemble — the oracle states the
    expected canonical directly from doc_id arithmetic, so any parsing or
    scrubbing slip breaks the hash.  Variants 0/1/2 collapse into one
    group (tracking query scrubs to nothing); variant 3 keeps ?page=2 and
    stands alone.  Pure codegen string map + one hash agg — the 100 TB
    cost is the scan."""
    d = Tables(spark, sf_dir).documents
    base = F.col("doc_id") - F.col("doc_id") % 4
    host_base = F.concat(F.lit("www"), (base % 50).cast("string"), F.lit(".example.org"))
    path = F.concat(F.lit("/p/"), base.cast("string"))
    v = F.col("doc_id") % 4
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), host_base, path))
        .when(v == 1, F.concat(F.lit("https://"), F.upper(host_base), path))
        .when(
            v == 2,
            F.concat(F.lit("https://"), host_base, path, F.lit("?utm_source=feed&utm_campaign=x")),
        )
        .otherwise(
            F.concat(F.lit("https://"), host_base, path, F.lit("?page=2&utm_medium=z#section"))
        )
    )
    q = F.parse_url(url, F.lit("QUERY"))
    cleaned = F.regexp_replace(F.coalesce(q, F.lit("")), r"(^|&)utm_[^&]*", "")
    cleaned = F.regexp_replace(cleaned, r"^&", "")
    canonical = F.concat(
        F.lower(F.parse_url(url, F.lit("HOST"))),
        F.parse_url(url, F.lit("PATH")),
        F.when(cleaned != "", F.concat(F.lit("?"), cleaned)).otherwise(F.lit("")),
    )
    return (
        d.select("doc_id", canonical.alias("canonical"))
        .groupBy("canonical")
        .agg(F.count("*").alias("group_size"), F.min("doc_id").alias("rep_id"))
    )


@register(
    "j43_fixed_k_sample",
    oracle="""
    WITH ranked AS (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_in,
           CAST(SUM(CASE WHEN rn <= 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn <= 25 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
    FROM ranked GROUP BY source
    """,
    survey="J9,F1,E11,J43",
)
def j43_fixed_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic FIXED-K sample per stratum — the eval-set builder's
    primitive (exactly 25 docs per source, not a rate): rank each stratum
    by the md5 of the document id and keep the k smallest.  Hash-ranking
    (not rand()) makes the sample a pure function of document identity —
    stable under re-runs, retries, and corpus growth-at-the-tail (a doc
    already in the sample only leaves if a smaller-hash doc arrives,
    never because row order changed).  The full ORDER BY tiebreak
    (hash, then id) pins ranks even under md5 collisions.

    Scale shape: one shuffle by stratum + a rank window; Spark plans
    WindowGroupLimit (running top-k, no full stratum sort materialized),
    and stratum skew is bounded by source cardinality.  The check sums
    kept ids per source, so any rank drift anywhere flips the hash."""
    from pyspark.sql.window import Window

    d = Tables(spark, sf_dir).documents
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    r = d.select("source", "doc_id", F.row_number().over(w).alias("rn"))
    return r.groupBy("source").agg(
        F.count("*").alias("n_in"),
        F.sum((F.col("rn") <= 25).cast("long")).alias("n_kept"),
        F.sum(F.when(F.col("rn") <= 25, F.col("doc_id")).otherwise(F.lit(0))).alias("kept_id_sum"),
    )


@register(
    "j44_oov_rate",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({_WORDS}) AS tok FROM documents
    ), vocab AS (
        SELECT tok FROM (
            SELECT tok, row_number() OVER (ORDER BY COUNT(*) DESC, tok) AS rk
            FROM t GROUP BY tok
        ) WHERE rk <= 1000
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           SUM(CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS oov_rate
    FROM t LEFT JOIN vocab ON t.tok = vocab.tok
    GROUP BY t.doc_id
    """,
    survey="J6,J9,G1,J44",
)
def j44_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-1000 vocabulary — the tokenizer-fit / domain-shift signal (a doc
    whose tokens mostly fall outside the head vocabulary is boilerplate,
    another language, or code masquerading as prose).  Vocabulary
    membership is deterministic: rank by (count DESC, token ASC) — the
    full tiebreak matters because the 1000-boundary usually lands inside
    a tie run of equal-count tokens.

    Scale shape: vocab build is ONE hash agg over the token stream plus a
    top-k (tiny result); scoring is the exploded token stream left-joined
    against the BROADCAST vocab — no shuffle of the corpus beyond the
    per-doc re-agg.  The top-1000 cut is ``orderBy(...).limit(1000)``,
    which Catalyst compiles to TakeOrderedAndProject (per-partition heap
    top-k, then a driver-side merge of 1000-row heads) — identical
    semantics to a rank window given the full (count DESC, token ASC)
    tiebreak, but NO single-reducer global sort of the term relation
    (VERDICT r3 "What's wrong" item 2).  oov_rate divides the same exact
    integers on both engines, so the double is bit-identical."""
    d = fan_out(Tables(spark, sf_dir).documents)
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    vocab = (
        counts.orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(1000)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    scored = toks.join(F.broadcast(vocab), "tok", "left")
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.col("in_vocab").isNull().cast("long")).alias("n_oov"),
        (
            F.sum(F.col("in_vocab").isNull().cast("long")) * 1.0 / F.count("*")
        ).alias("oov_rate"),
    )


@register(
    "j46_tokenizer_fertility",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({_WORDS})) AS BIGINT) AS sum_ws_tokens,
           CAST(SUM(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS sum_bpe_tokens,
           SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) * 1.0
               / SUM(len({_WORDS})) AS fertility
    FROM documents GROUP BY lang
    """,
    survey="J5,J9,J46",
)
def j46_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish subword count over
    whitespace word count — the budget-planning number (how many model
    tokens a corpus actually costs) and a language-coverage signal
    (languages the tokenizer fragments hardest have the highest
    fertility).  Uses the engine's BPE-ish regex tokenizer
    (operators/text.py BPE_ISH_PATTERN: letter runs / digit runs /
    single symbols — the public GPT-2-style pre-tokenization shape),
    value-checked here against DuckDB running the IDENTICAL regex, so
    the pattern's cross-engine semantics are pinned, not assumed.
    Pure codegen map + one hash agg; the ratio divides exact integer
    sums — bit-identical doubles, no rounding."""
    from cassandra_snap_to_hadoop_spark.operators.text import (
        token_count_bpe_ish,
        token_count_ws,
    )

    d = Tables(spark, sf_dir).documents
    per = d.select(
        "lang",
        token_count_ws(F.col("text")).cast("long").alias("ws"),
        token_count_bpe_ish(F.col("text")).cast("long").alias("bpe"),
    )
    return per.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws").alias("sum_ws_tokens"),
        F.sum("bpe").alias("sum_bpe_tokens"),
        (F.sum("bpe") * 1.0 / F.sum("ws")).alias("fertility"),
    )


@register(
    "i15_collation_funcs",
    oracle="""
    SELECT lower(CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END) AS src,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT CASE WHEN doc_id % 2 = 0 THEN upper(source)
                                    ELSE source END) AS BIGINT) AS n_case_variants
    FROM documents GROUP BY 1
    """,
    survey="I1,C6,I15",
)
def i15_collation_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via Spark 4 string collations.  Half the
    rows get their source tag upper-cased (a realistic multi-provenance
    corpus mixes 'WEB', 'Web', 'web'); grouping on
    ``collate(src, 'UTF8_LCASE')`` folds the variants into one group at
    the COMPARISON level — no lower() rewrite of the data, and the
    collation travels with the column so every downstream join/sort/agg
    on it stays case-insensitive.  The oracle states the same semantics
    as an explicit lower() GROUP BY.  ``n_case_variants`` counts the
    surviving binary-distinct spellings inside each collated group (2
    wherever both parities occur), proving the group really folded
    distinct binaries rather than identical strings.  Scale: collation
    comparison is a JVM-side codegen primitive — one hash agg, same
    shuffle shape as any group-by; no second pass over the data."""
    d = Tables(spark, sf_dir).documents
    mixed = F.when(F.col("doc_id") % 2 == 0, F.upper("source")).otherwise(F.col("source"))
    withm = d.select(mixed.alias("src_raw"))
    ci = F.collate(F.col("src_raw"), "UTF8_LCASE")
    return (
        withm.groupBy(ci.alias("src_ci"))
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("src_raw").alias("n_case_variants"),
        )
        .select(
            F.lower(F.col("src_ci")).cast("string").alias("src"),
            "n",
            "n_case_variants",
        )
    )


@register(
    "e18_width_bucket_histogram",
    oracle="""
    SELECT CAST(FLOOR(l_extendedprice / 4096.0) AS BIGINT) + 1 AS bucket,
           CAST(CAST(FLOOR(l_extendedprice / 4096.0) AS BIGINT) * 4096 AS DOUBLE) AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 AS total_price
    FROM lineitem GROUP BY 1, 2
    """,
    survey="E2,I3",
)
def e18_width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of line revenue via ``width_bucket`` — the
    profiling primitive behind data-quality dashboards and join-skew
    pre-checks.  Bounds [0, 131072) with 32 buckets are chosen so the
    step (4096) is a power of two: bucket arithmetic is then EXACT in
    binary floating point on both engines, and the oracle can state the
    same bucketing as floor division without cross-engine boundary
    drift (a step like 0.1 would round differently at bucket edges).
    One scan + one hash agg on a derived integer key; at 100 TB this is
    a pure map-side-combine shape — 32 groups, negligible shuffle."""
    li = Tables(spark, sf_dir).lineitem
    from cassandra_snap_to_hadoop_spark.queries._util import qsum

    b = F.width_bucket(
        F.col("l_extendedprice"), F.lit(0.0), F.lit(131072.0), F.lit(32)
    ).alias("bucket")
    return (
        li.groupBy(b)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            qsum(F.col("l_extendedprice")).alias("total_price"),
        )
        .select(
            "bucket",
            ((F.col("bucket") - 1) * 4096.0).alias("bucket_lo"),
            "n",
            "sum_qty",
            "total_price",
        )
    )


@register(
    "a19_csv_multiline",
    oracle="""
    WITH nl AS (
        SELECT lang,
               '"' || replace(text, ' ', chr(10)) || '"' AS text_nl
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT md5(text_nl)) AS BIGINT) AS n_distinct_md5,
           MIN(md5(text_nl)) AS min_md5,
           MAX(md5(text_nl)) AS max_md5,
           CAST(SUM(length(text_nl)) AS BIGINT) AS sum_len
    FROM nl GROUP BY lang
    """,
    survey="A3,A19",
)
def a19_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV with embedded newlines AND embedded quotes — the ingest case
    that silently corrupts naive splitters.  Every space in the text is
    turned into a real newline and the value is wrapped in literal
    double-quote characters, so the written CSV exercises quoting,
    quote-escaping, and multi-line records at once; the read side uses
    ``multiLine=true`` with an explicit schema (a multiline CSV cannot
    be split within a file, so schema inference would cost a full
    serial pass).  Correctness is checked content-exact: per-language
    count / distinct-md5 / min- and max-md5 / total length over the
    round-tripped text must equal the same digests computed directly on
    the source of truth.  Scale note: multiLine CSV files are
    non-splittable — the compaction story is many medium files, which
    this write produces naturally (one per input partition)."""
    path = _staged("a19_csv", sf_dir, "documents")
    d = Tables(spark, sf_dir).documents
    text_nl = F.concat(F.lit('"'), F.regexp_replace("text", " ", "\n"), F.lit('"'))
    if not (path / "_SUCCESS").exists():
        d.select("doc_id", "lang", text_nl.alias("text_nl")).write.mode("overwrite").option(
            "header", True
        ).option("escape", '"').csv(str(path))
    back = (
        spark.read.schema("doc_id long, lang string, text_nl string")
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(str(path))
    )
    h = F.md5(F.col("text_nl"))
    return back.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.countDistinct(h).alias("n_distinct_md5"),
        F.min(h).alias("min_md5"),
        F.max(h).alias("max_md5"),
        F.sum(F.length("text_nl")).alias("sum_len"),
    )


@register(
    "k12_stream_topk",
    oracle="""
    WITH c AS (
        SELECT date_trunc('day', ts) AS ws, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), r AS (
        SELECT ws, event_type, n,
               CAST(ROW_NUMBER() OVER (PARTITION BY ws ORDER BY n DESC, event_type)
                    AS BIGINT) AS rnk
        FROM c
    )
    SELECT strftime(ws, '%Y-%m-%d') AS window_start, event_type, n, rnk
    FROM r WHERE rnk <= 3
    """,
    survey="K1,G3,K12",
)
def k12_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k: the 3 most frequent event types per tumbling day —
    the trending-items shape.  Built from the streaming ``window()``
    primitive plus a rank over the (tiny) per-window aggregate, with a
    deterministic tie-break (count desc, then type).  In a live pipeline
    the windowed count runs incrementally and the rank is applied to the
    per-window aggregate downstream (see the foreachBatch twin in
    tests/test_streaming_parity.py); batch and incremental declarations
    agree because the count is the only stateful part.  Scale: the rank
    window partitions by window-start over an aggregate that is already
    tiny (windows x event types), so the second shuffle moves KBs."""
    e = Tables(spark, sf_dir).events
    counts = e.groupBy(F.window("ts", "1 day").alias("w"), "event_type").agg(
        F.count("*").alias("n")
    )
    rnk = F.row_number().over(
        Window.partitionBy("w").orderBy(F.col("n").desc(), "event_type")
    )
    return (
        counts.select("w", "event_type", "n", rnk.cast("long").alias("rnk"))
        .filter(F.col("rnk") <= 3)
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("window_start"),
            "event_type",
            "n",
            "rnk",
        )
    )


@register(
    "f14_rolling_zscore",
    oracle="""
    WITH w AS (
        SELECT event_type, value,
               AVG(value) OVER win AS mu,
               STDDEV_SAMP(value) OVER win AS sd,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        FROM events
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                       ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN abs((value - mu) / sd) > 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_anomalies,
           ROUND(MAX((value - mu) / sd), 4) AS max_z,
           ROUND(MIN((value - mu) / sd), 4) AS min_z
    FROM w WHERE rn >= 100 GROUP BY 1
    """,
    survey="F4,E5",
)
def f14_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event scored against the
    trailing-100 window of its own type (mean and SAMPLE stddev over a
    row frame), anomalous when |z| > 2 — the standard streaming-metrics
    outlier shape.  The first 99 rows per type are excluded so every
    score uses a full window (partial-window scores are warm-up noise).
    Total order inside a type is (ts, event_id), so frames are identical
    across engines.  Scale: one shuffle on event_type; the sliding
    mean/variance are incremental window aggregates (O(1) per row), and
    the final per-type rollup reuses the same partitioning — no second
    exchange.  Boundary note: a z exactly at 2.0 could flip on
    last-ulp float drift — measure-zero on continuous data (the same
    accepted risk class as j19's percentile gate)."""
    from cassandra_snap_to_hadoop_spark.queries._util import round4

    e = Tables(spark, sf_dir).events
    order = [F.col("ts"), F.col("event_id")]
    win = Window.partitionBy("event_type").orderBy(*order).rowsBetween(-99, 0)
    seq = Window.partitionBy("event_type").orderBy(*order)
    scored = e.select(
        "event_type",
        "value",
        F.avg("value").over(win).alias("mu"),
        F.stddev_samp("value").over(win).alias("sd"),
        F.row_number().over(seq).alias("rn"),
    ).filter(F.col("rn") >= 100)
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return scored.groupBy("event_type").agg(
        F.count("*").alias("n_windows"),
        F.sum((F.abs(z) > 2).cast("long")).alias("n_anomalies"),
        round4(F.max(z)).alias("max_z"),
        round4(F.min(z)).alias("min_z"),
    )


@register(
    "sql_api_priority_share",
    oracle="""
    WITH monthly AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
               o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1, 2
    )
    SELECT order_month, o_orderpriority, n_orders,
           CAST(RANK() OVER (PARTITION BY order_month
                             ORDER BY n_orders DESC, o_orderpriority)
                AS BIGINT) AS rnk,
           n_orders * 1.0 / SUM(n_orders) OVER (PARTITION BY order_month) AS share
    FROM monthly
    """,
    survey="E2,F1,I2,SQL-2",
)
def sql_api_priority_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API depth (SURVEY §3.3): a CTE + aggregate + two window
    functions submitted as ONE SQL text over temp views — proving the
    front door handles composed analytical SQL, not just star joins.
    Share-of-month divides exact integer counts (bit-identical doubles);
    rank tie-breaks on the priority label for determinism.  Catalyst
    plans both windows over the same partitioning (one exchange on
    order_month after the pre-aggregate)."""
    from cassandra_snap_to_hadoop_spark.io import load

    load(spark, sf_dir, "orders").createOrReplaceTempView("cs2h_orders")
    return spark.sql(
        """
        WITH monthly AS (
            SELECT date_format(date_trunc('month', o_orderdate), 'yyyy-MM') AS order_month,
                   o_orderpriority,
                   COUNT(*) AS n_orders
            FROM cs2h_orders GROUP BY 1, 2
        )
        SELECT order_month, o_orderpriority, n_orders,
               CAST(RANK() OVER (PARTITION BY order_month
                                 ORDER BY n_orders DESC, o_orderpriority)
                    AS BIGINT) AS rnk,
               n_orders * CAST(1.0 AS DOUBLE) / SUM(n_orders) OVER (PARTITION BY order_month) AS share
        FROM monthly
        """
    )


@register(
    "j47_containment_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split({_NORM}, ' ') AS words FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, lang,
               unnest(list_distinct([array_to_string(words[i:i+2], ' ')
                      for i in range(1, greatest(len(words) - 1, 1))])) AS sh
        FROM toks
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(inter / least(sa.sz, sb.sz), 4) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE inter / least(sa.sz, sb.sz) >= 0.2
    """,
    survey="J2,D9",
)
def j47_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT near-dup pairs — inter / min(|A|, |B|), the
    asymmetric complement to j2's Jaccard: a paragraph absorbed into a
    10x longer page scores ~1 here but near 0 on Jaccard, so corpus
    dedup runs both.  Same lang-blocked shingle equi-join shape as j2
    (never all-pairs); the score divides the SAME integers on both
    engines, so the 0.2 threshold cannot flip cross-engine (IEEE
    division of identical operands is bit-identical)."""
    from cassandra_snap_to_hadoop_spark.operators.dedup import containment_pairs

    d = Tables(spark, sf_dir).documents
    return containment_pairs(d, "doc_id", "text", k=3, threshold=0.2, block_col="lang")


@register("j48_media_embedding_knn", oracle=None, survey="J3,J10,L4")
def j48_media_embedding_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END multimodal retrieval: opaque binary payload →
    ``mapInPandas`` feature extraction (operators/multimodal.embed_stub)
    → exact top-5 cosine KNN (queries broadcast, corpus scanned once,
    fused pre-normalized dot) — the full media-dedup / media-search
    pipeline shape with every stage on the production dataflow (Arrow
    batch transport in, JVM higher-order-function scoring out).

    Rows-only by design: the byte-histogram embedding is not
    SQL-expressible over utf-8 payloads in the oracle engine; the
    embedding itself is value-checked against a numpy reference and
    identical payloads are asserted to retrieve each other at cosine
    1.0 in tests/test_multimodal_binary.py.  Scale: encoder is
    partition-parallel (no shuffle); KNN broadcasts only the 8-row
    query side — the corpus never shuffles."""
    from cassandra_snap_to_hadoop_spark.operators import similarity as sim
    from cassandra_snap_to_hadoop_spark.operators.multimodal import (
        documents_as_media,
        embed_stub,
    )

    media = documents_as_media(fan_out(Tables(spark, sf_dir).documents))
    emb = embed_stub(media).filter(F.col("embedding").isNotNull())
    queries = emb.filter(F.col("media_id") < 8).select(
        F.col("media_id").alias("query_id"), "embedding"
    )
    return sim.knn_bruteforce(emb, queries, k=5, id_col="media_id")


@register(
    "a20_binaryfile_ingest",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
           MIN(md5(text)) AS min_md5,
           MAX(md5(text)) AS max_md5
    FROM documents WHERE doc_id < 50 GROUP BY lang
    """,
    survey="A3,J10",
)
def a20_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-file media ingest via Spark's ``binaryFile`` source — how
    image/audio corpora actually enter a lake (one opaque file per
    asset; no row format at all).  50 assets are staged as ``.bin``
    files (utf-8 bytes of the doc text — the harness stand-in for
    image bytes), read back whole-file as (path, length, content)
    rows, identity recovered from the path, and content checked
    md5-exact per language against the parquet source of truth (md5 of
    a DuckDB VARCHAR hashes its utf-8 bytes — verified — so the byte
    and string worlds agree).  Scale notes: binaryFile caps at
    ``spark.sql.files.maxPartitionBytes`` per task and never splits a
    file — right for many small-to-medium assets; the dim join to
    recover metadata broadcasts (50 rows).  Real deployments feed this
    straight into operators/multimodal.embed_stub (j48)."""
    d = Tables(spark, sf_dir).documents
    head = d.filter(F.col("doc_id") < 50).select("doc_id", "lang", "text")
    bin_dir = _staged("a20_bin", sf_dir, "documents")
    if not (bin_dir / "_SUCCESS").exists():
        bin_dir.mkdir(parents=True, exist_ok=True)
        # KB-scale fixture staging (50 small files) — same class as the
        # layout tier's staged inputs, not a hot-path collect.
        for r in head.select("doc_id", "text").collect():
            (bin_dir / f"{r['doc_id']}.bin").write_bytes(r["text"].encode("utf-8"))
        (bin_dir / "_SUCCESS").touch()
    files = spark.read.format("binaryFile").load(str(bin_dir) + "/*.bin")
    parsed = files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("long").alias("doc_id"),
        F.col("length"),
        F.md5(F.col("content")).alias("h"),
    )
    joined = parsed.join(F.broadcast(head.select("doc_id", "lang")), "doc_id")
    return joined.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("length").alias("sum_bytes"),
        F.min("h").alias("min_md5"),
        F.max("h").alias("max_md5"),
    )


@register(
    "k13_stream_stream_left_join",
    oracle="""
    WITH c AS (
        SELECT user_id, event_id AS click_id, ts AS cts
        FROM events WHERE event_type = 'click'
    ), p AS (
        SELECT user_id AS pu, event_id AS purchase_id, ts AS pts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, click_id, purchase_id,
           CAST(epoch_us(pts) - epoch_us(cts) AS BIGINT) AS lag_us
    FROM c LEFT JOIN p ON c.user_id = pu
                      AND pts >= cts AND pts <= cts + INTERVAL 30 MINUTE
    """,
    survey="K8,D3,D6,K13",
)
def k13_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream join, batch-declared: every click row
    survives — purchases within the following 30 minutes attach inline,
    clicks with none emit a null purchase (the attribution table's
    "unconverted" rows, which k8's inner join silently drops).  The
    OUTER side is the semantically hard part under streaming: a null
    result is only knowable once no further purchase can arrive, so
    emission is gated on watermark progress past the click's join
    window — the twin (streaming/pipelines.py k13_stream) demonstrates
    this with a sentinel-advanced watermark in the parity test.  Equi
    key keeps pair generation a hash join; the two-sided time bound is
    what lets streaming state expire.  Same exact-integer lag_us rule
    as k8."""
    e = Tables(spark, sf_dir).events
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    return clicks.join(
        purchases,
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTES")),
        "left",
    ).select(
        F.col("cu").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros(F.col("pts")) - F.unix_micros(F.col("cts"))).alias("lag_us"),
    )


@register(
    "e19_bitmap_distinct",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users
    FROM events GROUP BY 1
    UNION ALL
    SELECT '__all__' AS event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
    FROM events
    """,
    survey="E3,E4,I10,E19",
)
def e19_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counting via bitmap aggregates — the
    middle ground between E3 (exact, not mergeable across segments
    without re-scan) and E4 (mergeable HLL, approximate).  Each key
    domain slice becomes a (bucket, bit-position) pair; per-group
    bitmaps OR-merge associatively, so per-segment partial states roll
    up to any coarser grain WITHOUT rescanning the fact — here the
    per-event-type bucket bitmaps are reused, OR-merged, to produce the
    global distinct count, and both levels are value-checked against
    plain COUNT(DISTINCT).  This is the ClickHouse/Druid bitmap-sketch
    pattern on stock Spark (3.5+ bitmap_construct_agg / bitmap_or_agg /
    bitmap_count).  At 100 TB: a materialized per-(segment, bucket)
    bitmap table answers exact-distinct rollups at any grain from
    KB-scale state per group — the wire carries 4 KB bitmaps, never
    user-id sets."""
    e = Tables(spark, sf_dir).events
    base = e.select(
        "event_type",
        F.bitmap_bucket_number(F.col("user_id")).alias("b"),
        F.bitmap_bit_position(F.col("user_id")).alias("p"),
    )
    per_bucket = base.groupBy("event_type", "b").agg(
        F.bitmap_construct_agg("p").alias("bm")
    )
    per_type = per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("n_distinct_users")
    )
    global_row = (
        per_bucket.groupBy("b")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .agg(F.sum(F.bitmap_count("bm")).alias("n_distinct_users"))
        .select(F.lit("__all__").alias("event_type"), "n_distinct_users")
    )
    return per_type.unionByName(global_row)


@register(
    "e20_pareto_cut",
    oracle="""
    WITH s AS (
        SELECT source, CAST(SUM(n_chars) AS BIGINT) AS bytes
        FROM documents GROUP BY 1
    ), t AS (SELECT CAST(SUM(bytes) AS BIGINT) AS tot FROM s)
    SELECT source, bytes,
           bytes * 1.0 / tot AS share,
           SUM(bytes) OVER (ORDER BY bytes DESC, source) * 1.0 / tot AS cum_share,
           CAST(CASE WHEN (SUM(bytes) OVER (ORDER BY bytes DESC, source) - bytes) * 1.0 / tot < 0.8
                     THEN 1 ELSE 0 END AS BIGINT) AS in_head
    FROM s, t
    """,
    survey="E2,F3,G1",
)
def e20_pareto_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto coverage cut: which sources make up 80% of corpus bytes —
    the governance question behind crawl-budget and licensing reviews.
    Sources ranked by size (deterministic tiebreak on name), cumulative
    share computed over exact integer byte sums, and ``in_head`` marks
    every source needed to reach 80% INCLUSIVE of the one crossing the
    line (the prior cumulative, not its own, is compared to the
    threshold — the clean closed-form for 'inclusive of crossing').
    All divisions put the same exact integers over the same total on
    both engines — bit-identical doubles, no threshold drift.  Scale:
    the window runs over the per-source aggregate (source cardinality,
    not corpus cardinality); the corpus-sized work is one hash agg."""
    d = Tables(spark, sf_dir).documents
    s = d.groupBy("source").agg(F.sum("n_chars").cast("long").alias("bytes"))
    tot = s.agg(F.sum("bytes").cast("long").alias("tot"))
    w = Window.orderBy(F.col("bytes").desc(), "source").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = F.sum("bytes").over(w)
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "bytes",
            (F.col("bytes") * 1.0 / F.col("tot")).alias("share"),
            (cum * 1.0 / F.col("tot")).alias("cum_share"),
            ((cum - F.col("bytes")) * 1.0 / F.col("tot") < 0.8).cast("long").alias("in_head"),
        )
    )


@register(
    "i16_map_hof_funcs",
    oracle="""
    SELECT event_id,
           CAST((CASE WHEN value + 1 > 1 THEN 1 ELSE 0 END)
              + (CASE WHEN 2 * value + 1 > 1 THEN 1 ELSE 0 END) AS INTEGER) AS mf_size,
           ((value + 1) + (2 * value + 1)) + 1 AS sum_mt,
           CAST(1.0 AS DOUBLE) AS zip_diff_v
    FROM events
    """,
    survey="I6,I5,I16",
)
def i16_map_hof_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map HIGHER-ORDER functions — transform_values, map_filter,
    map_zip_with (i6 covers construction/access; these are the lambda
    tier).  The checked output re-derives every scalar from the source
    column in the oracle (the i14 ground-truth pattern), with all
    arithmetic exact in binary fp (+1, ×2) and the aggregate summation
    written in the same association both sides.  All three HOFs run as
    codegen lambdas — no Python, no shuffle beyond the scan."""
    e = Tables(spark, sf_dir).events
    m = F.create_map(
        F.lit("v"), F.col("value"),
        F.lit("v2"), F.col("value") * 2,
        F.lit("z"), F.lit(0.0),
    )
    mt = F.transform_values(m, lambda k, v: v + 1)
    mf = F.map_filter(mt, lambda k, v: v > 1.0)
    mz = F.map_zip_with(m, mt, lambda k, v1, v2: v2 - v1)
    return e.select(
        "event_id",
        F.size(mf).cast("int").alias("mf_size"),
        F.aggregate(F.map_values(mt), F.lit(0.0), lambda acc, v: acc + v).alias("sum_mt"),
        F.element_at(mz, "v").alias("zip_diff_v"),
    )


@register(
    "a21_dynamic_partition_overwrite",
    oracle="""
    WITH rev AS (
        SELECT day(ts) AS d,
               CASE WHEN day(ts) = 15 THEN value * 2 ELSE value END AS v
        FROM events
    )
    SELECT CAST(d AS INTEGER) AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ROUND(v * 100) AS BIGINT)) / 100.0 AS total_v
    FROM rev GROUP BY 1
    """,
    survey="A4,A5,A21",
)
def a21_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite — the lake-maintenance primitive for
    re-exporting ONE snapshot day without touching the rest: the full
    events table lands partitioned by day, then a revised day-15 batch
    (values doubled) is written with ``mode=overwrite`` +
    ``partitionOverwriteMode=dynamic``, which replaces ONLY the
    partitions present in the incoming frame.  The per-day counts and
    quantized sums of the re-read table value-check both halves at
    once: day 15 must show revised values, and every other day must be
    intact (static overwrite semantics would have wiped them to zero
    rows — the classic production incident this mode exists to
    prevent).  Scale: the rewrite cost is ONE partition's bytes, not
    the table's; partition pruning on the read side is unchanged."""
    from cassandra_snap_to_hadoop_spark.queries._util import qsum

    part_dir = _staged("a21_dynover", sf_dir, "events")
    e = Tables(spark, sf_dir).events.select(
        F.dayofmonth("ts").cast("int").alias("day"), "value"
    )
    if not (part_dir / "_SUCCESS").exists():
        e.write.mode("overwrite").partitionBy("day").parquet(str(part_dir))
        revised = e.filter(F.col("day") == 15).withColumn("value", F.col("value") * 2)
        revised.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("day").parquet(str(part_dir))
    back = spark.read.parquet(str(part_dir))
    return back.groupBy(F.col("day").cast("int").alias("day")).agg(
        F.count("*").alias("n"), qsum(F.col("value")).alias("total_v")
    )


# Exact integer sqrt template shared by the f15 engine SQL and oracle:
# FLOOR(SQRT(double)) of a BIGINT < 2^52 is within ±1 of the true isqrt
# (the double represents v exactly and SQRT is correctly rounded), so one
# two-sided adjustment makes it EXACT — no float ever reaches the output.
def _f15_isqrt_sql(v: str) -> str:
    r0 = f"CAST(FLOOR(SQRT(CAST({v} AS DOUBLE))) AS BIGINT)"
    return (
        f"({r0} - (CASE WHEN {r0} * {r0} > {v} THEN 1 ELSE 0 END)"
        f" + (CASE WHEN ({r0} + 1) * ({r0} + 1) <= {v} THEN 1 ELSE 0 END))"
    )


@register(
    "f15_cusum_drift",
    oracle=f"""
    WITH e AS (
        SELECT event_type, epoch_us(ts) AS ts_us, event_id,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ), stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(cents * cents) AS BIGINT) AS q
        FROM e GROUP BY 1
    ), calib AS (
        SELECT event_type, n, s // n AS mu,
               CASE WHEN n > 1 THEN {_f15_isqrt_sql("((n * q - s * s) // (n * (n - 1)))")}
                    ELSE CAST(0 AS BIGINT) END AS sigma
        FROM stats
    ), walk AS (
        SELECT e.event_type, c.n, c.sigma, e.ts_us, e.event_id,
               SUM(e.cents - c.mu - c.sigma // 2) OVER w AS p
        FROM e JOIN calib c USING (event_type)
        WINDOW w AS (PARTITION BY e.event_type ORDER BY e.ts_us, e.event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), cusum AS (
        SELECT event_type, n, sigma,
               p - LEAST(CAST(0 AS BIGINT), MIN(p) OVER w) AS cs
        FROM walk
        WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN cs > 4 * sigma THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alarms,
           CAST(MAX(cs) AS BIGINT) AS max_cusum_cents,
           CAST(sigma AS BIGINT) AS sigma_cents,
           CAST(CASE WHEN sigma > 0 THEN 1000 * MAX(cs) // sigma
                     ELSE 0 END AS BIGINT) AS max_cusum_sigma_milli
    FROM cusum GROUP BY event_type, n, sigma
    """,
    survey="F15,F3,E5",
)
def f15_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection per event type — the classic sequential
    change-point statistic ``s_i = max(0, s_{i-1} + (x_i − μ − k))``
    over the type's events in (ts, event_id) order, alarming when the
    running sum exceeds ``h = 4σ`` (allowance ``k = σ/2``).

    SQL-CERTIFIED since round 10 (VERDICT r9 item 4) via the REFLECTION
    IDENTITY: unrolling the clamp gives
    ``s_i = max_{0≤j≤i} Σ_{t=j+1..i} y_t = P_i − min(0, min_{j≤i} P_j)``
    with ``y = x − μ − k`` and ``P`` its prefix sum — so the "genuinely
    not window-expressible" fold IS window-expressible after all: one
    running SUM plus one running MIN over the same (ts, event_id)
    order.  The old ``applyInPandas`` fold is gone; the engine now runs
    pure JVM window functions (partitioned by event_type — never
    global), which is also the better 100 TB plan: no Python workers,
    no per-group state, whole-stage codegen end-to-end.

    Exactness: the integer-cents lattice — x = ROUND(value·100), μ the
    truncating integer mean, σ the EXACT integer sqrt of the truncated
    sample variance (FLOOR(SQRT(double)) is within ±1 for v < 2^52;
    one two-sided adjustment pins it — ``_f15_isqrt_sql``), k = σ//2,
    h = 4σ.  All outputs BIGINT; the σ-normalized excursion is reported
    in milli-σ by integer division.  The fold replay in
    tests/test_round3.py pins the identity against the direct clamped
    recursion in pure Python."""
    e = Tables(spark, sf_dir).events.select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    isqrt = _f15_isqrt_sql("((n * q - s * s) DIV (n * (n - 1)))").replace("//", "DIV")
    calib = (
        e.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("s"),
            F.sum(F.col("cents") * F.col("cents")).cast("long").alias("q"),
        )
        .select(
            "event_type",
            "n",
            F.expr("s DIV n").alias("mu"),
            F.expr(
                f"CASE WHEN n > 1 THEN {isqrt} ELSE CAST(0 AS BIGINT) END"
            ).alias("sigma"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walk = e.join(F.broadcast(calib), "event_type").withColumn(
        "p",
        F.sum(
            F.col("cents") - F.col("mu") - F.expr("sigma DIV 2")
        ).over(w),
    )
    cusum = walk.withColumn(
        "cs", F.col("p") - F.least(F.lit(0).cast("long"), F.min("p").over(w))
    )
    return cusum.groupBy("event_type", "n", "sigma").agg(
        F.sum(F.when(F.col("cs") > 4 * F.col("sigma"), 1).otherwise(0))
        .cast("long")
        .alias("n_alarms"),
        F.max("cs").cast("long").alias("max_cusum_cents"),
    ).select(
        "event_type",
        F.col("n").alias("n_events"),
        "n_alarms",
        "max_cusum_cents",
        F.col("sigma").alias("sigma_cents"),
        F.expr(
            "CASE WHEN sigma > 0 THEN 1000 * max_cusum_cents DIV sigma"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("max_cusum_sigma_milli"),
    )


@register(
    "sql_api_parameterized",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_price
    FROM orders
    WHERE o_totalprice > 150000.0 AND o_orderstatus = 'F'
    GROUP BY 1
    """,
    survey="C2,E2,SQL-3",
)
def sql_api_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAMETERIZED SQL (§3.3 API depth): the query text carries named
    placeholders (:threshold, :status) and values bind at submission —
    the injection-safe front door for templated analytics (Spark 3.4+
    named-parameter ``spark.sql``).  Binding happens before analysis,
    so Catalyst constant-folds the parameters exactly like literals:
    same pushed filters, same plan as the inlined query.  The oracle
    states the same query with the values inlined."""
    from cassandra_snap_to_hadoop_spark.io import load

    load(spark, sf_dir, "orders").createOrReplaceTempView("cs2h_orders")
    # divisor CAST: a bare 100.0 literal is DECIMAL in Spark SQL text
    # (the sql_api_revenue gotcha), which would change the output type.
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / CAST(100 AS DOUBLE) AS total_price
        FROM cs2h_orders
        WHERE o_totalprice > :threshold AND o_orderstatus = :status
        GROUP BY 1
        """,
        args={"threshold": 150000.0, "status": "F"},
    )


@register(
    "j49_unicode_nfc_normalize",
    oracle="""
    WITH t AS (
        SELECT lang,
               CASE WHEN doc_id % 5 = 0 THEN replace(text, 'e', 'e' || chr(769))
                    ELSE text END AS dec
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN nfc_normalize(dec) <> dec THEN 1 ELSE 0 END)
                AS BIGINT) AS n_changed,
           CAST(SUM(length(dec)) AS BIGINT) AS len_before,
           CAST(SUM(length(nfc_normalize(dec))) AS BIGINT) AS len_after
    FROM t GROUP BY 1
    """,
    survey="J9,L1,I1,J49",
)
def j49_unicode_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the first text-preprocessing step of
    every serious corpus pipeline (decomposed sequences like
    ``e + U+0301`` and precomposed ``é`` must dedup/tokenize/fingerprint
    identically).  Spark has no normalization builtin, so this is the
    honest Arrow path: a vectorized scalar pandas UDF running
    ``unicodedata.normalize("NFC", ...)`` per batch — the ONLY Python in
    the plan, batch-transferred, never row-at-a-time.  One in five docs
    gets decomposed sequences injected (every 'e' followed by a
    combining acute), and the per-language change counts and code-point
    lengths before/after are value-checked against DuckDB's native
    ``nfc_normalize`` — two independent Unicode implementations
    (CPython's unicodedata vs utf8proc) agreeing on the same corpus.
    Scale: pure map + one hash agg; normalization cost is linear in
    bytes and partition-parallel."""
    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(lambda t: None if t is None else unicodedata.normalize("NFC", t))

    d = Tables(spark, sf_dir).documents
    dec = F.when(
        F.col("doc_id") % 5 == 0, F.regexp_replace("text", "e", "é")
    ).otherwise(F.col("text"))
    t = d.select("lang", dec.alias("dec")).withColumn("norm", nfc(F.col("dec")))
    return t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("norm") != F.col("dec")).cast("long")).alias("n_changed"),
        F.sum(F.length("dec")).alias("len_before"),
        F.sum(F.length("norm")).alias("len_after"),
    )


@register("j3_knn_bruteforce_arrow", oracle=None, survey="J3,L4,J3-a")
def j3_knn_bruteforce_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j3_knn_bruteforce's Arrow/BLAS twin: identical exact-KNN semantics
    (same 8 queries, k=5, cosine, same tie-break) executed as a blocked
    ``mapInArrow`` matrix multiply — one BLAS call per record batch
    instead of a JVM lambda per element (operators/similarity.py
    knn_bruteforce_arrow).  Rows-only: last-ulp summation drift vs the
    sequential HOF fold makes the 4dp-rounded scores hash-identical in
    practice but not by construction; exact-parity with the HOF tier is
    asserted in tests/test_llm_ops.py.  The measured tier comparison
    lives in SCALE.md."""
    from cassandra_snap_to_hadoop_spark.operators.similarity import knn_bruteforce_arrow

    e = Tables(spark, sf_dir).embeddings
    # Query side: tiny by contract (8 vectors) — same bound that lets the
    # HOF tier broadcast it; here it rides the task closure as a matrix.
    import numpy as np

    qrows = e.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    qrows.sort(key=lambda r: r["vec_id"])
    q_mat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    return knn_bruteforce_arrow(
        e, q_mat, [r["vec_id"] for r in qrows], k=5, id_col="vec_id"
    )


@register(
    "a22_snapshot_retention",
    oracle="""
    WITH files AS (
        SELECT o_orderkey AS file_id,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS bytes
        FROM orders
    ), tags AS (
        SELECT 'tag1' AS tag, file_id, bytes FROM files WHERE file_id % 10 < 6
        UNION ALL
        SELECT 'tag2', file_id, bytes FROM files WHERE file_id % 10 BETWEEN 2 AND 8
        UNION ALL
        SELECT 'tag3', file_id, bytes FROM files WHERE file_id % 10 >= 5
    ), kept AS (
        SELECT DISTINCT file_id FROM tags WHERE tag IN ('tag2', 'tag3')
    )
    SELECT tag,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS tag_bytes,
           CAST(SUM(CASE WHEN kept.file_id IS NULL THEN bytes ELSE 0 END)
                AS BIGINT) AS reclaimable_bytes
    FROM tags LEFT JOIN kept USING (file_id)
    GROUP BY tag
    """,
    survey="A6,D4,H1",
)
def a22_snapshot_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot RETENTION accounting — the lifecycle question every
    snapshot-export deployment eventually asks: if we keep only the
    latest N tags, how many bytes actually free?  Cassandra snapshots
    hard-link SSTables, so consecutive tags share most files and naive
    per-tag sizes wildly overstate reclaimable space; a file frees only
    when NO retained tag references it.  Three overlapping tag manifests
    are derived from the orders catalog (modular key ranges simulate
    compaction churn between tags), retention keeps tag2+tag3, and each
    tag reports its total bytes vs the bytes ONLY it pins
    (left-anti semantics against the retained file set).  Manifests are
    KB-per-million-files relations: the joins run on (file_id) hash
    partitioning and the retained set broadcasts at any realistic
    snapshot count.  Complements a6 (verify) and a15 (row diff): this is
    the storage-ops view."""
    files = Tables(spark, sf_dir).orders.select(
        F.col("o_orderkey").alias("file_id"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("bytes"),
    )
    m = F.col("file_id") % 10
    tags = (
        files.filter(m < 6).select(F.lit("tag1").alias("tag"), "file_id", "bytes")
        .unionByName(files.filter((m >= 2) & (m <= 8)).select(F.lit("tag2").alias("tag"), "file_id", "bytes"))
        .unionByName(files.filter(m >= 5).select(F.lit("tag3").alias("tag"), "file_id", "bytes"))
    )
    kept = (
        tags.filter(F.col("tag").isin("tag2", "tag3"))
        .select("file_id")
        .distinct()
        .withColumn("retained", F.lit(1))
    )
    joined = tags.join(kept, "file_id", "left")
    return joined.groupBy("tag").agg(
        F.count("*").alias("n_files"),
        F.sum("bytes").alias("tag_bytes"),
        F.sum(F.when(F.col("retained").isNull(), F.col("bytes")).otherwise(F.lit(0))).alias(
            "reclaimable_bytes"
        ),
    )


@register(
    "a23_nested_schema_pruning",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_price
    FROM orders GROUP BY 1
    """,
    survey="A1,C1,I9,A23",
)
def a23_nested_schema_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-schema pruning: orders land as a struct-typed parquet
    (``info: {priority, status, price}``) and the query touches only two
    leaves — the scan must read exactly ``info.priority`` and
    ``info.price``, not the whole struct (Catalyst's
    nestedSchemaPruning, plan-asserted in tests/test_plans.py).  At
    100 TB nested payloads (request blobs, feature bundles) dominate row
    width; without leaf-level pruning every struct query pays full-width
    I/O.  The aggregate value-checks against the flat source of truth,
    proving the nested roundtrip is lossless."""
    from cassandra_snap_to_hadoop_spark.queries._util import qsum

    nest_dir = _staged("a23_nested", sf_dir, "orders")
    if not (nest_dir / "_SUCCESS").exists():
        o = Tables(spark, sf_dir).orders
        o.select(
            "o_orderkey",
            F.struct(
                F.col("o_orderpriority").alias("priority"),
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("price"),
            ).alias("info"),
        ).write.mode("overwrite").parquet(str(nest_dir))
    back = spark.read.parquet(str(nest_dir))
    return back.groupBy(F.col("info.priority").alias("priority")).agg(
        F.count("*").alias("n"), qsum(F.col("info.price")).alias("total_price")
    )
