"""Round-2 coverage extensions: distribution windows (F), compaction with
GC grace (B depth), similarity range search (J3), embedding quantization
(J11 depth).

Registered AFTER the front-loaded families on purpose: the driver's
bounded insertion-ordered sweep must first certify the round-1-unreached
rows (queries/__init__.py ordering note); these rotate into the window
next round and are value-checked by the local oracle mirror meanwhile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cassandra_snap_to_hadoop_spark.io import Tables, fan_out
from cassandra_snap_to_hadoop_spark.operators import similarity as sim
from cassandra_snap_to_hadoop_spark.queries._util import qsum, round4
from cassandra_snap_to_hadoop_spark.registry import register


@register(
    "f8_distribution_windows",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           ROUND(percent_rank() OVER w, 4) AS pct_rank,
           ROUND(cume_dist() OVER w, 4) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    survey="F1,F8",
)
def f8_distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — ntile / percent_rank / cume_dist per
    priority class.  Full ORDER BY tiebreak (orderkey) pins frame
    positions, so rank-derived ratios are engine-exact (int/int divisions
    over identical orderings)."""
    o = Tables(spark, sf_dir).orders
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        round4(F.percent_rank().over(w)).alias("pct_rank"),
        round4(F.cume_dist().over(w)).alias("cume"),
    )


@register(
    "b8_compaction_gc",
    oracle="""
    SELECT user_id,
           CASE WHEN event_type = 'error' THEN 'tombstoned' ELSE 'live' END AS state,
           CAST(event_id AS BIGINT) AS last_event_id
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
      AND NOT (event_type = 'error' AND ts < TIMESTAMP '2024-01-10 00:00:00')
    """,
    survey="B3,B6,B8",
)
def b8_compaction_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction with gc_grace semantics: LWW-merge all generations, then
    (1) tombstone winners OLDER than the GC cutoff are purged outright —
    the key vanishes from the compacted SSTable, exactly what Cassandra's
    compaction does after gc_grace_seconds — while (2) tombstones still
    inside the grace window survive as markers (state='tombstoned') so
    late-arriving older writes stay suppressed on replica sync.  Merge
    first, THEN purge: the order is the semantics (same rule as B3)."""
    from cassandra_snap_to_hadoop_spark.operators.cassandra import lww_merge

    e = Tables(spark, sf_dir).events.withColumn("_tomb", F.col("event_type") == "error")
    merged = lww_merge(e, ["user_id"], writetime_col="ts", seq_col="event_id")
    gc_cutoff = F.lit("2024-01-10 00:00:00").cast("timestamp")
    compacted = merged.filter(~(F.col("_tomb") & (F.col("ts") < gc_cutoff)))
    return compacted.select(
        "user_id",
        F.when(F.col("_tomb"), "tombstoned").otherwise("live").alias("state"),
        F.col("event_id").cast("long").alias("last_event_id"),
    )


@register(
    "j3_range_search",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8
    )
    SELECT query_id, e.vec_id AS neighbor_id,
           ROUND(list_cosine_similarity(qv::DOUBLE[], e.embedding::DOUBLE[]), 4) AS cos
    FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    WHERE list_cosine_similarity(qv::DOUBLE[], e.embedding::DOUBLE[]) >= 0.25
    """,
    survey="J3,D9,J3-r",
)
def j3_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search: every corpus vector within cosine >= 0.25 of each of
    8 query vectors — the data-dependent-cardinality sibling of top-k
    (operators/similarity.py range_search)."""
    e = Tables(spark, sf_dir).embeddings
    queries = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    return sim.range_search(e, queries, threshold=0.25)


@register(
    "j11_embedding_quantize",
    oracle="""
    WITH q AS (
        SELECT vec_id, label,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale
        FROM embeddings
    ), err AS (
        SELECT e.vec_id, e.label, q.scale,
               list_avg(list_transform(e.embedding::DOUBLE[],
                        x -> pow(x - CAST(ROUND(x / q.scale) AS BIGINT) * q.scale, 2))) AS mse
        FROM embeddings e JOIN q ON e.vec_id = q.vec_id
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(sqrt(mse)), 6) AS avg_rmse,
           ROUND(MAX(scale), 6) AS max_scale
    FROM err GROUP BY label
    """,
    survey="J11,J11-q",
)
def j11_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings (scale = max|x|/127 per
    vector) with reconstruction-error stats per label — the storage-
    compression step a 100 TB embedding store runs before ANN indexing.
    Quantize/dequantize/error are all JVM higher-order functions over the
    array column; nothing leaves codegen.  ROUND(x/scale) is exact-integer
    on both engines, so the reconstruction error is bit-comparable (6dp
    rounding absorbs summation-order drift in the per-label AVG)."""
    e = Tables(spark, sf_dir).embeddings
    xd = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    scale = F.array_max(F.transform(xd, lambda v: F.abs(v))) / 127.0
    with_scale = e.select("vec_id", "label", xd.alias("x"), scale.alias("scale"))
    sq_err = F.transform(
        F.col("x"),
        lambda v: F.pow(v - F.round(v / F.col("scale")).cast("long") * F.col("scale"), 2),
    )
    mse = F.aggregate(sq_err, F.lit(0.0), lambda a, v: a + v) / F.size(F.col("x"))
    per_vec = with_scale.select("vec_id", "label", "scale", mse.alias("mse"))
    return per_vec.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg(F.sqrt(F.col("mse"))), 6).alias("avg_rmse"),
        F.round(F.max("scale"), 6).alias("max_scale"),
    )


@register(
    "j12_train_val_split",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hx
        FROM documents
    )
    SELECT lang,
           CASE WHEN hx < '0d' THEN 'val' ELSE 'train' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM t GROUP BY 1, 2
    """,
    survey="J9,C2,J12",
)
def j12_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic held-out split by content-stable hash: a doc lands in
    val iff the first md5 hex byte of its id is < 0x0d (~5%).  md5 hex
    strings are engine-identical, so split membership is reproducible
    across engines, reruns, and cluster sizes — the property a training
    pipeline needs so val never leaks into train when data is re-ingested.
    Pure map + hash agg; no shuffle beyond the count."""
    d = Tables(spark, sf_dir).documents
    hx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return (
        d.select("doc_id", "lang", F.when(hx < "0d", "val").otherwise("train").alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").cast("long").alias("min_doc_id"))
    )


@register(
    "j13_sequence_packing",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS n_tokens
        FROM documents
    ), c AS (
        SELECT *, SUM(n_tokens) OVER (
            PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_id,
           CAST(cum - n_tokens - 2048 * FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_offset
    FROM c
    """,
    survey="F3,J6,J13",
)
def j13_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for training batches: docs stream in id
    order per language and fill 2048-token context bins; each doc gets the
    bin it STARTS in plus its token offset there.  One running-sum window
    per language — packing as a prefix-sum, not a driver loop, so it
    scales like any windowed aggregate (partition by shard at 100 TB and
    bins stay shard-local).  Integer token counts make bin assignment
    engine-exact."""
    from cassandra_snap_to_hadoop_spark.operators.text import token_count_ws

    d = Tables(spark, sf_dir).documents
    t = d.select("doc_id", "lang", token_count_ws(F.col("text")).alias("n_tokens"))
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    c = t.withColumn("start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return c.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(F.col("start") / 2048).alias("bin_id"),
        (F.col("start") - 2048 * F.floor(F.col("start") / 2048)).cast("long").alias("bin_offset"),
    )


@register(
    "i10_bitwise_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey & 255 AS BIGINT) AS b_and,
           CAST(o_orderkey | 4096 AS BIGINT) AS b_or,
           CAST(xor(o_orderkey, 1365) AS BIGINT) AS b_xor,
           CAST(o_orderkey << 2 AS BIGINT) AS shl,
           CAST(o_orderkey >> 3 AS BIGINT) AS shr,
           CAST(bit_count(o_orderkey) AS INTEGER) AS popcount
    FROM orders
    """,
    survey="I3,I8",
)
def i10_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operator surface (and/or/xor/shifts/popcount) — the
    primitives under bitmap indexes and SimHash-style signatures, checked
    value-for-value on int64 keys."""
    o = Tables(spark, sf_dir).orders
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("b_and"),
        k.bitwiseOR(F.lit(4096)).alias("b_or"),
        k.bitwiseXOR(F.lit(1365)).alias("b_xor"),
        F.shiftleft(k, 2).alias("shl"),
        F.shiftright(k, 3).alias("shr"),
        F.bit_count(k).alias("popcount"),
    )


@register("e12_hll_sketch_merge", oracle=None, survey="E4")
def e12_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch pattern (Apache DataSketches HLL, built into Spark
    3.5+): build one HLL sketch per partition-like group, then UNION the
    binary sketches into a global estimate — the two-level shape that
    replaces exact global count-distinct at 100 TB (per-shard sketches
    merge in a tiny final reduce; no re-shuffle of raw keys).  Rows-only:
    sketch binaries/estimates are engine-specific; e3 is the exact twin.
    Output compares the merged estimate against the per-group sum so the
    dedup effect of the union is visible in the result."""
    li = Tables(spark, sf_dir).lineitem
    per_group = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk"),
        F.countDistinct("l_orderkey").alias("exact_group"),
    )
    return per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"))).cast("long").alias("merged_estimate"),
        F.sum("exact_group").alias("sum_of_group_exacts"),
        F.count("*").alias("n_groups"),
    )


@register("llm_curation_funnel_lsh", oracle=None, survey="J1,J2,J9")
def llm_curation_funnel_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel's 100 TB tier: identical quality -> exact-dedup
    -> keep-first stages, but the near-dup pair stage is banded MinHash
    LSH instead of the exact shingle self-join — candidate cost bounded by
    band buckets, never quadratic.  Rows-only (bucketing hashes are
    engine-specific); llm_curation_funnel is the value-checked exact twin,
    and test_llm_ops.py pins the two funnels' survivor counts within
    recall tolerance of each other."""
    from cassandra_snap_to_hadoop_spark.operators.curation import curation_funnel
    from cassandra_snap_to_hadoop_spark.operators.dedup import minhash_lsh_pairs

    d = Tables(spark, sf_dir).documents
    return curation_funnel(
        d, "doc_id", "text",
        pairs_fn=lambda s: minhash_lsh_pairs(s, "doc_id", "text", k=3, n_hashes=32, bands=8),
    )


@register(
    "j14_fuzzy_match",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
    survey="J2,D9,I1",
)
def j14_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching (record-linkage dedup): customer-name
    pairs within Levenshtein distance 1, blocked on (nation, segment) so
    the pair space is per-block, never corpus-quadratic.  Levenshtein is
    exact-integer on both engines, so this is fully value-checked — the
    only fuzzy-string primitive whose oracle needs no float rule.  At
    100 TB the block key grows (add a q-gram or length bucket) exactly
    like J4's pairwise blocking; the operator shape is unchanged."""
    c = Tables(spark, sf_dir).customer
    # Deletion-neighborhood candidate generation (FastSS): every string
    # within Levenshtein distance 1 of `name` shares at least one member
    # of {name} ∪ {name minus char i} with it, so an equi-join on the
    # variant replaces the block-quadratic pair enumeration — candidates
    # per variant are near-constant, and Levenshtein runs ONLY on
    # candidates (the neighborhood admits a few dist-2 pairs, hence the
    # verify).  Measured at sf0.1: 3.3s block-quadratic -> 2.3s (local
    # win modest — the variant explode dominates at this size; the
    # asymptotic change is the point: cost follows |candidates|, not
    # |block|², so a 1000x block is a 1000x cost, not 10^6x).
    name = F.col("c_name")
    deletions = F.transform(
        F.sequence(F.lit(1), F.length(name)),
        lambda i: F.concat(
            F.substr(name, F.lit(1), i - 1),
            F.substr(name, i + 1, F.length(name)),
        ),
    )
    variants = F.array_union(F.array(name), deletions)
    keyed = c.select(
        F.col("c_custkey").alias("id"),
        name.alias("nm"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.explode(variants).alias("v"),
    )
    from cassandra_snap_to_hadoop_spark.operators.dedup import blocked_pairs

    cand = (
        blocked_pairs(keyed, "id", ["nk", "seg", "v"], carry=("nm",))
        .select("id_a", "id_b", F.col("nm_a").alias("name_a"), F.col("nm_b").alias("name_b"))
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein(F.col("name_a"), F.col("name_b")))
        .filter(F.col("dist") <= 1)
        .select("id_a", "id_b", "dist")
    )


@register(
    "f9_running_distinct",
    oracle="""
    SELECT event_id, event_type,
           CAST(COUNT(DISTINCT user_id) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS distinct_users
    FROM events
    """,
    survey="F3,E3",
)
def f9_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count per group — Spark has no DISTINCT window
    aggregate, so the idiom is ``size(collect_set(...))`` over the same
    frame; ordered by the unique event_id (never by the nanos timestamp —
    Spark floors parquet ns to µs while DuckDB keeps ns, so ts ordering is
    the one cross-engine tie hazard this query avoids by construction).
    At scale the frame state is the per-group distinct set; swap to a
    windowed HLL via e12's sketch pattern when sets outgrow memory."""
    e = Tables(spark, sf_dir).events
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "event_id",
        "event_type",
        F.size(F.collect_set("user_id").over(w)).cast("long").alias("distinct_users"),
    )


@register(
    "l6_map_in_arrow",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev_cents
    FROM lineitem
    """,
    survey="L4",
)
def l6_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the zero-copy sibling of mapInPandas: the transform
    sees raw pyarrow RecordBatches (no pandas materialization), which is
    the lowest-overhead Python hook for columnar codecs and native libs
    that speak Arrow.  Integer-cent revenue is computed with pyarrow
    compute kernels and value-checked against SQL."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql import types as T

    def rev_batches(batches):
        for batch in batches:
            price = batch.column(batch.schema.get_field_index("l_extendedprice"))
            disc = batch.column(batch.schema.get_field_index("l_discount"))
            rev = pc.multiply(price, pc.subtract(pa.scalar(1.0), disc))
            # round_mode matters: pyarrow defaults to half-to-even while
            # DuckDB/Spark ROUND go half-away-from-zero ("half_towards_
            # infinity" on non-negative revenue) — 404/60k rows sat exactly
            # on a half-cent at sf0.01
            cents = pc.cast(
                pc.round(pc.multiply(rev, pa.scalar(100.0)), round_mode="half_towards_infinity"),
                pa.int64(),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("l_orderkey")),
                    batch.column(batch.schema.get_field_index("l_linenumber")),
                    cents,
                ],
                ["l_orderkey", "l_linenumber", "rev_cents"],
            )

    li = Tables(spark, sf_dir).lineitem.select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("rev_cents", T.LongType()),
        ]
    )
    return li.mapInArrow(rev_batches, schema)


@register(
    "e13_listagg_mode",
    oracle="""
    WITH counts AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt
        FROM customer GROUP BY 1, 2
    ), top AS (
        SELECT c_nationkey, c_mktsegment AS top_segment
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY c_nationkey ORDER BY cnt DESC, c_mktsegment
            ) AS rn FROM counts
        ) WHERE rn = 1
    )
    SELECT g.c_nationkey, g.segments, g.n, t.top_segment
    FROM (
        SELECT c_nationkey,
               string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM customer GROUP BY 1
    ) g JOIN top t USING (c_nationkey)
    """,
    survey="E7,E10",
)
def e13_listagg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """listagg / mode with DETERMINISTIC tiebreaks.  ``listagg`` is made
    engine-exact by a full WITHIN GROUP (ORDER BY) over the distinct
    values (Spark 4's native surface; DuckDB mirrors with string_agg ...
    ORDER BY).  ``mode`` is the trap: both engines' native mode() picks an
    ARBITRARY value on frequency ties, so the checked formulation is the
    explicit decomposition — count per (group, value), then row_number
    ordered (cnt DESC, value ASC) — which pins ties to the smallest value
    identically on both engines.  At scale this is two hash aggs + a tiny
    window over |groups x segments| rows, no collect."""
    c = Tables(spark, sf_dir).customer
    counts = c.groupBy("c_nationkey", "c_mktsegment").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("cnt"), F.asc("c_mktsegment"))
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_nationkey", F.col("c_mktsegment").alias("top_segment"))
    )
    agg = c.groupBy("c_nationkey").agg(
        F.expr("listagg(DISTINCT c_mktsegment, ',') WITHIN GROUP (ORDER BY c_mktsegment)").alias(
            "segments"
        ),
        F.count("*").alias("n"),
    )
    return agg.join(top, "c_nationkey")


@register(
    "a7_text_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
           CAST(SUM(c_nationkey) AS BIGINT) AS nk_sum
    FROM customer GROUP BY 1
    """,
    survey="A3,A4",
)
def a7_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text source/sink roundtrip: customer serialized as one
    pipe-delimited line per row (``write.text``), re-read with the line
    source (``read.text``), re-parsed with split/cast, aggregated — must
    equal SQL over the original table.  Exercises the log-file ingestion
    path (one string column in, schema projected out); integer-only
    aggregates keep the parse/format cycle lossless by construction."""
    from pathlib import Path

    from cassandra_snap_to_hadoop_spark.queries.sources_io import _stage_dir

    path = _stage_dir(sf_dir) / "customer_text"
    if not Path(path / "_SUCCESS").exists():
        (
            Tables(spark, sf_dir)
            .customer.select(
                F.concat_ws("|", "c_custkey", "c_nationkey", "c_mktsegment").alias("value")
            )
            .write.mode("overwrite")
            .text(str(path))
        )
    back = spark.read.text(str(path))
    parts = F.split(F.col("value"), r"\|")
    parsed = back.select(
        parts.getItem(0).cast("long").alias("c_custkey"),
        parts.getItem(1).cast("int").alias("c_nationkey"),
        parts.getItem(2).alias("c_mktsegment"),
    )
    return parsed.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum("c_custkey").alias("key_sum"),
        F.sum("c_nationkey").cast("long").alias("nk_sum"),
    )


@register(
    "b9_scd2_history",
    oracle="""
    WITH numbered AS (
        SELECT user_id, event_type AS state, ts, event_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS grp
        FROM events
    ), islands AS (
        SELECT user_id, state,
               CAST(epoch_ms(MIN(ts)) AS BIGINT) AS valid_from_ms,
               CAST(MIN(event_id) AS BIGINT) AS first_event_id,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM numbered GROUP BY user_id, state, grp
    )
    SELECT user_id, state, valid_from_ms, n_events,
           lead(valid_from_ms, 1, -1) OVER (
               PARTITION BY user_id ORDER BY valid_from_ms, first_event_id
           ) AS valid_to_ms,
           CASE WHEN lead(valid_from_ms, 1, -1) OVER (
               PARTITION BY user_id ORDER BY valid_from_ms, first_event_id
           ) = -1 THEN 1 ELSE 0 END AS is_current
    FROM islands
    """,
    survey="B7,F2",
)
def b9_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build (slowly-changing-dimension type 2): collapse each
    user's event stream into state-validity intervals — consecutive events
    with the same type form one island (gaps-and-islands via the
    row_number difference trick), each island becomes a row with
    [valid_from, valid_to) in epoch-ms and an is_current flag on the open
    interval.  This is the snapshot->history table a lakehouse keeps next
    to the LWW-merged current view (B2/B7): the merge answers "state now",
    SCD2 answers "state at any t".  Determinism: (ts, event_id) is a
    unique order key; island successors tiebreak on first_event_id.
    Scale: every step clusters on user_id or a superset, so the whole
    plan — both numbering windows, the island aggregate, and the interval
    window — reuses ONE hash exchange on user_id."""
    e = Tables(spark, sf_dir).events
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_state = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    numbered = e.select(
        "user_id",
        F.col("event_type").alias("state"),
        "ts",
        "event_id",
        (F.row_number().over(w_all) - F.row_number().over(w_state)).alias("grp"),
    )
    islands = numbered.groupBy("user_id", "state", "grp").agg(
        F.unix_millis(F.min("ts")).alias("valid_from_ms"),
        F.min("event_id").alias("first_event_id"),
        F.count("*").alias("n_events"),
    )
    w_iv = Window.partitionBy("user_id").orderBy("valid_from_ms", "first_event_id")
    to_ms = F.lead("valid_from_ms", 1, -1).over(w_iv)
    return islands.select(
        "user_id",
        "state",
        "valid_from_ms",
        "n_events",
        to_ms.alias("valid_to_ms"),
        F.when(to_ms == -1, F.lit(1)).otherwise(F.lit(0)).cast("int").alias("is_current"),
    )


@register(
    "j15_contamination",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hx,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
        FROM documents
    ), sh AS (
        SELECT doc_id, hx,
               unnest(list_distinct([array_to_string(words[i:i+4], ' ')
                                     for i in range(1, greatest(len(words) - 3, 1))])) AS shingle
        FROM t
    )
    SELECT tr.doc_id AS train_doc_id,
           CAST(COUNT(DISTINCT tr.shingle) AS BIGINT) AS n_shared_shingles,
           CAST(COUNT(DISTINCT ev.doc_id) AS BIGINT) AS n_eval_docs,
           CAST(MIN(ev.doc_id) AS BIGINT) AS first_eval_doc
    FROM sh tr JOIN sh ev ON tr.shingle = ev.shingle
    WHERE tr.hx >= '0d' AND ev.hx < '0d'
    GROUP BY 1
    """,
    survey="J2,J5",
)
def j15_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check: a train document is contaminated if
    it shares any word 5-gram with a held-out document (the same
    deterministic md5 split rule as j12, so membership is reproducible).
    The check is an equi-join on the shingle value — shingle-distinct per
    doc, never doc-pairwise — reporting per train doc how many distinct
    5-grams leak and to how many eval docs.  At scale the eval side is a
    small fraction of the corpus (AQE picks it as the build side; no
    explicit hint — it still grows with SF) and production would cap
    hot shingles by global document frequency before the join to bound
    join fan-out; the synthetic corpus has no such degenerate n-grams."""
    from cassandra_snap_to_hadoop_spark.operators.dedup import shingles

    # fan_out (guide §2.5): the 5-gram shingle HOF runs once per join
    # side and inherited the one-split local scan (no-op at real scale).
    d = fan_out(Tables(spark, sf_dir).documents)
    hx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    sh = d.select(
        F.col("doc_id"),
        hx.alias("hx"),
        F.explode(shingles(F.col("text"), 5)).alias("shingle"),
    )
    train = sh.filter(F.col("hx") >= "0d").select(
        F.col("doc_id").alias("train_doc_id"), "shingle"
    )
    ev = sh.filter(F.col("hx") < "0d").select(F.col("doc_id").alias("eval_doc_id"), "shingle")
    return (
        train.join(ev, "shingle")
        .groupBy("train_doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
            F.min("eval_doc_id").cast("long").alias("first_eval_doc"),
        )
    )


@register(
    "j16_source_balancing",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, source,
               len(list_distinct(string_split(
                   trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS n_distinct_tokens
        FROM documents
    )
    SELECT source, doc_id, CAST(n_distinct_tokens AS INTEGER) AS n_distinct_tokens,
           CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY source ORDER BY n_distinct_tokens DESC, doc_id
        ) AS rk FROM t
    ) WHERE rk <= 10
    """,
    survey="G3,J9",
)
def j16_source_balancing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota balancing — the curation step that stops one crawl
    domain from dominating the training mix: rank each source's documents
    by lexical richness and keep the top 10.  The rank key is the
    INTEGER distinct-token count with a doc_id tiebreak, deliberately not
    a float quality score: float-ordered ranking is the cross-engine tie
    landmine the float rule exists for (integer keys order identically
    everywhere).  One window over |corpus| rows clustered by source; at
    scale the quota would be a per-source rate, same plan shape."""
    from cassandra_snap_to_hadoop_spark.operators.text import tokens

    d = Tables(spark, sf_dir).documents
    ndt = F.size(F.array_distinct(tokens(F.col("text")))).alias("n_distinct_tokens")
    w = Window.partitionBy("source").orderBy(F.desc("n_distinct_tokens"), F.asc("doc_id"))
    return (
        d.select("source", "doc_id", ndt)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("source", "doc_id", "n_distinct_tokens", F.col("rk").cast("int").alias("rk"))
    )


@register(
    "d10_nullsafe_join",
    oracle="""
    SELECT a.n_name AS a_name, b.n_name AS b_name
    FROM (SELECT n_name, NULLIF(n_regionkey, 2) AS k FROM nation) a
    JOIN (SELECT n_name, NULLIF(n_regionkey, 2) AS k FROM nation) b
      ON a.k IS NOT DISTINCT FROM b.k
    """,
    survey="D5,C4",
)
def d10_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other instead of vanishing, the semantics LWW merge keys and
    dedup blocking need when a blocking key is legitimately absent.
    Spark plans eqNullSafe as a HASH join (the comparator stays an
    equality), so the scale story is identical to D1/D2 — but the
    null-key bucket is a self-cross-product, so production bounds or
    salts the NULL block (here it's one region's nations, 25 pairs)."""
    n = Tables(spark, sf_dir).nation
    k = F.nullif(F.col("n_regionkey"), F.lit(2))
    a = n.select(F.col("n_name").alias("a_name"), k.alias("k_a"))
    b = n.select(F.col("n_name").alias("b_name"), k.alias("k_b"))
    return a.join(b, F.col("k_a").eqNullSafe(F.col("k_b"))).select("a_name", "b_name")


@register(
    "h4_union_schema_evolution",
    oracle="""
    WITH u AS (
        (SELECT event_id, user_id, value, 'v1' AS ver
         FROM events WHERE event_id % 2 = 0)
        UNION ALL BY NAME
        (SELECT event_id, user_id, value,
                json_extract_string(props, '$.k') AS k, 'v2' AS ver
         FROM events WHERE event_id % 2 = 1)
    )
    SELECT ver, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_k,
           CAST(COALESCE(SUM(CAST(k AS BIGINT)), -1) AS BIGINT) AS k_sum
    FROM u GROUP BY 1
    """,
    survey="H1,C4",
)
def h4_union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: a v2 ingest adds a column the v1 shards
    never had; ``unionByName(allowMissingColumns=True)`` aligns by NAME
    and null-fills the gap (positional unionAll would silently misalign —
    the classic snapshot-generation drift bug).  DuckDB mirrors with
    UNION ALL BY NAME.  The aggregate proves both the fill (v1 rows count
    as missing) and that the evolved column still computes (k_sum over v2
    only).  k_sum is CAST back to BIGINT on the oracle side — SUM(BIGINT)
    widens to HUGEINT in DuckDB, the repo's known hash landmine — and
    COALESCEd to -1 because all-NULL groups sum to NULL, which the
    compare harness can't sort against integers."""
    e = Tables(spark, sf_dir).events
    v1 = e.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "value", F.lit("v1").alias("ver")
    )
    v2 = e.filter(F.col("event_id") % 2 == 1).select(
        "event_id",
        "user_id",
        "value",
        F.get_json_object("props", "$.k").alias("k"),
        F.lit("v2").alias("ver"),
    )
    u = v1.unionByName(v2, allowMissingColumns=True)
    return u.groupBy("ver").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).cast("long").alias("n_missing_k"),
        F.coalesce(F.sum(F.col("k").cast("long")), F.lit(-1)).alias("k_sum"),
    )


@register(
    "a8_csv_malformed_rows",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST(13 AS BIGINT) AS n_corrupt,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum
    FROM customer
    """,
    survey="A3",
)
def a8_csv_malformed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-ingest CSV handling: the staged customer CSV gains 13
    deliberately malformed lines (unparseable key column).  PERMISSIVE
    mode routes them into the corrupt-record column instead of failing
    the job or silently dropping them — the accounting a real crawl
    ingest needs (every rejected line is countable, good rows checksum to
    the source exactly).  The corrupt count is a staged constant, so the
    oracle is SQL over the original table plus that literal."""
    from pathlib import Path

    from cassandra_snap_to_hadoop_spark.queries.sources_io import _stage_dir

    path = _stage_dir(sf_dir) / "customer_dirty_csv"
    if not Path(path / "_STAGED").exists():
        (
            Tables(spark, sf_dir)
            .customer.select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
            .write.mode("overwrite")
            .csv(str(path))
        )
        bad = "\n".join(f"BAD_KEY_{i},garbage,x,y,z" for i in range(13)) + "\n"
        Path(path / "zz_malformed.csv").write_text(bad)
        Path(path / "_STAGED").write_text("ok")
    back = spark.read.csv(
        str(path),
        schema="c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string, _bad string",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_bad",
    )
    return back.agg(
        F.count(F.when(F.col("_bad").isNull(), 1)).alias("n_good"),
        F.count(F.col("_bad")).alias("n_corrupt"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("c_custkey"))).alias("key_sum"),
    )


@register(
    "k9_stream_static_enrich",
    oracle="""
    SELECT n.n_name AS nation, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ROUND(e.value * 100) AS BIGINT)) / 100.0 AS total_value
    FROM events e
    JOIN nation n ON CAST(e.user_id % 25 AS INTEGER) = n.n_nationkey
    GROUP BY 1, 2
    """,
    survey="K8,D1",
)
def k9_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment, batch-declared: events joined to the
    fixed-cardinality nation dim (25 rows — broadcast is scale-honest
    here, unlike SF-scaling tables) then aggregated.  The streaming twin
    (streaming/pipelines.py k9_stream) runs the identical shape under
    readStream: the static dim re-resolves per micro-batch with ZERO join
    state; only the downstream aggregation is stateful, bounded by the
    watermark.  Parity-tested in test_streaming_parity.py."""
    t = Tables(spark, sf_dir)
    enriched = t.events.withColumn(
        "n_nationkey", (F.col("user_id") % 25).cast("int")
    ).join(F.broadcast(t.nation), "n_nationkey")
    return enriched.groupBy(F.col("n_name").alias("nation"), "event_type").agg(
        F.count("*").alias("n"), qsum(F.col("value")).alias("total_value")
    )


@register(
    "e14_conversion_funnel",
    oracle="""
    WITH fv AS (
        SELECT user_id, MIN(ts) AS fv FROM events WHERE event_type = 'view' GROUP BY 1
    ), fc AS (
        SELECT e.user_id, MIN(e.ts) AS fc
        FROM events e JOIN fv ON e.user_id = fv.user_id
        WHERE e.event_type = 'click' AND e.ts > fv.fv
        GROUP BY 1
    ), fp AS (
        SELECT e.user_id, MIN(e.ts) AS fp
        FROM events e JOIN fc ON e.user_id = fc.user_id
        WHERE e.event_type = 'purchase' AND e.ts > fc.fc
        GROUP BY 1
    )
    SELECT '1_viewed' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM fv
    UNION ALL
    SELECT '2_clicked_after_view', CAST(COUNT(*) AS BIGINT) FROM fc
    UNION ALL
    SELECT '3_purchased_after_click', CAST(COUNT(*) AS BIGINT) FROM fp
    """,
    survey="E11,D4,H1",
)
def e14_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: users who viewed,
    then clicked AFTER their first view, then purchased AFTER that first
    click — the sequential-dependency analytics shape (a plain GROUP BY
    per type would ignore event ORDER, the whole point of a funnel).
    Three conditional-min aggregations, each clustered on user_id, so all
    three exchanges hash the same key — on a real cluster the fact shuffle
    output is reused across stages, and each stage's result is |users| or
    smaller (the join side is always the shrunken funnel, AQE broadcasts
    it).  Timestamps compare exactly (micros on both engines)."""
    e = Tables(spark, sf_dir).events
    # r11 (guide §2.4): each funnel stage feeds the next stage's join
    # AND its own count row — cut all three so the chained stages scan
    # events three times (once per stage), not six.
    fv = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fv"))
        .localCheckpoint(eager=False)
    )
    fc = (
        e.join(fv, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("fv")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("fc"))
        .localCheckpoint(eager=False)
    )
    fp = (
        e.join(fc, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("fc")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
        .localCheckpoint(eager=False)
    )
    stages = [("1_viewed", fv), ("2_clicked_after_view", fc), ("3_purchased_after_click", fp)]
    counts = [
        df.agg(F.count("*").alias("n_users")).select(F.lit(name).alias("stage"), "n_users")
        for name, df in stages
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


@register(
    "e16_higher_moments",
    oracle="""
    WITH q AS (
        SELECT l_returnflag, CAST(ROUND(l_quantity * 10) AS BIGINT) AS x
        FROM lineitem
    ), s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(x) AS s1,
               SUM(x * x) AS s2,
               SUM(x * x * x) AS s3,
               SUM(x * x * x * x) AS s4
        FROM q GROUP BY 1
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           CAST(s1 AS BIGINT) AS s1,
           CAST(s2 AS BIGINT) AS s2,
           CAST(s3 AS BIGINT) AS s3,
           CAST(s4 AS BIGINT) AS s4,
           s1 / (n * 10.0) AS mean_qty,
           (s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n)) / 100.0 AS var_pop
    FROM s
    """,
    survey="E5,E2",
)
def e16_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape moments from exact integer power sums (s1..s4);
    skewness/kurtosis derive from these downstream by pure arithmetic.
    Spark's and DuckDB's built-in skewness/kurtosis use DIFFERENT
    estimator formulas (population vs bias-corrected sample), so the only
    cross-engine-exact formulation is raw power sums of quantized values —
    order-independent BIGINT aggregates, one hash agg, map-side combined.

    Quantization scale is an OVERFLOW budget, chosen deliberately:
    l_quantity is 1-decimal (audited), so deci-units are lossless with
    |x| <= 500 -> s4 <= 500^4 * |rows| ~ 3.7e16 at sf0.1 — 250x inside
    int64 even at sf100.  Cent-units would overflow s4 at 6e5 rows
    (5000^4 * 6e5 = 3.7e20): precision beyond the data's actual decimals
    buys nothing and silently wraps.  DuckDB widens SUM(BIGINT) to
    HUGEINT, so every sum is cast back (the round-1 i7 lesson; the
    oracle mirror rejects HUGEINT outright)."""
    li = Tables(spark, sf_dir).lineitem
    x = F.round(F.col("l_quantity") * 10).cast("long")
    xx = F.col("x")
    s = (
        li.select("l_returnflag", x.alias("x"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("s1"),
            F.sum(xx * xx).alias("s2"),
            F.sum(xx * xx * xx).alias("s3"),
            F.sum(xx * xx * xx * xx).alias("s4"),
        )
    )
    mean_raw = F.col("s1") * 1.0 / F.col("n")
    return s.select(
        "l_returnflag",
        "n",
        "s1",
        "s2",
        "s3",
        "s4",
        (F.col("s1") / (F.col("n") * 10.0)).alias("mean_qty"),
        ((F.col("s2") * 1.0 / F.col("n") - mean_raw * mean_raw) / 100.0).alias("var_pop"),
    )


@register(
    "f10_monotone_runs",
    oracle="""
    WITH seq AS (
        SELECT user_id, value, ts, event_id,
               CASE WHEN lag(value) OVER w IS NULL OR value <= lag(value) OVER w
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
        SELECT user_id,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS run_id
        FROM seq
    ), rl AS (
        SELECT user_id, run_id, COUNT(*) AS run_len FROM runs GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(MAX(run_len) AS BIGINT) AS longest_run,
           CAST(SUM(run_len) AS BIGINT) AS n_events
    FROM rl GROUP BY 1
    """,
    survey="F2,F3,E2",
)
def f10_monotone_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal strictly-increasing runs of the metric
    per user in event order — the windowing idiom behind streak analytics
    and change-point segmentation (b9's SCD2 intervals are the same
    pattern over equality instead of monotonicity).  Break flags from one
    lag, run ids from the cumulative sum of breaks IN THE SAME window
    ordering, lengths from a hash agg: everything clusters on user_id, so
    the whole chain is ONE exchange of the fact (the b9 single-exchange
    argument, test-pinned there).  Tie-break on event_id keeps per-user
    order total, so run boundaries are engine-identical."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = (
        F.when(
            F.lag("value").over(w).isNull() | (F.col("value") <= F.lag("value").over(w)), 1
        )
        .otherwise(0)
    )
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    runs = e.select("user_id", brk.alias("brk"), "ts", "event_id").withColumn(
        "run_id", F.sum("brk").over(cum)
    )
    rl = runs.groupBy("user_id", "run_id").agg(F.count("*").alias("run_len"))
    return rl.groupBy("user_id").agg(
        F.count("*").alias("n_runs"),
        F.max("run_len").alias("longest_run"),
        F.sum("run_len").alias("n_events"),
    )


@register(
    "h5_multiset_setops",
    oracle="""
    WITH a AS (
        SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'R'
    ), b AS (
        SELECT l_partkey AS k FROM lineitem WHERE l_linestatus = 'F' AND l_quantity < 25
    ), ea AS (
        SELECT k FROM a EXCEPT ALL SELECT k FROM b
    ), ia AS (
        SELECT k FROM a INTERSECT ALL SELECT k FROM b
    )
    SELECT 'except_all' AS op, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_keys,
           CAST(SUM(k) AS BIGINT) AS key_mass
    FROM ea
    UNION ALL
    SELECT 'intersect_all', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT k) AS BIGINT), CAST(SUM(k) AS BIGINT)
    FROM ia
    """,
    survey="H2,H3",
)
def h5_multiset_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operations — EXCEPT ALL / INTERSECT ALL keep
    per-key multiplicities (min for intersect, difference for except),
    which is what reconciliation arithmetic needs: h2/h3's DISTINCT
    variants answer 'which keys', these answer 'how many rows', and the
    two differ exactly on duplicated keys.  Spark plans both as a single
    aggregate computing per-key counts on each side then replicating
    min(c_a, c_b) / greatest(c_a - c_b, 0) — one shuffle per side, no
    join blowup; the summary projection (count/distinct/mass) keeps the
    oracle comparison compact while still covering every multiplicity."""
    li = Tables(spark, sf_dir).lineitem
    a = li.filter(F.col("l_returnflag") == "R").select(F.col("l_partkey").alias("k"))
    b = li.filter((F.col("l_linestatus") == "F") & (F.col("l_quantity") < 25)).select(
        F.col("l_partkey").alias("k")
    )
    def summarize(df, op):
        return df.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("k").alias("n_keys"),
            F.sum("k").alias("key_mass"),
        ).select(F.lit(op).alias("op"), "n_rows", "n_keys", "key_mass")
    return summarize(a.exceptAll(b), "except_all").unionByName(
        summarize(a.intersectAll(b), "intersect_all")
    )


@register(
    "l7_udtf_table_partition",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v_sum
    FROM events GROUP BY event_type
    """,
    survey="L5,E2",
)
def l7_udtf_table_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-argument UDTF with PARTITION BY (Spark 4): the engine feeds
    the UDTF one partition of rows per key and calls terminate() at each
    partition boundary — the SQL-native custom-aggregation surface for
    logic beyond pandas grouped-agg (multi-row emission, stateful
    scans).  The demo reimplements a per-type count+sum so the oracle can
    certify partition routing end-to-end: every row reaching exactly one
    partition instance is precisely what COUNT/SUM parity proves.  Data
    volume per partition instance is the per-key share — at 100 TB this
    surface demands the same key-cardinality hygiene as applyInPandas
    (l3); built-in aggs remain the hot path (this is the escape hatch)."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import Row

    @udtf(returnType="event_type string, n bigint, v_sum bigint")
    class PartitionSummary:
        def __init__(self) -> None:
            self.n = 0
            self.v = 0
            self.key = None

        def eval(self, row: Row):  # noqa: ANN001
            self.key = row["event_type"]
            self.n += 1
            self.v += int(round(row["value"] * 100))

        def terminate(self):
            if self.key is not None:
                yield self.key, self.n, self.v

    spark.udtf.register("l7_partition_summary", PartitionSummary)
    Tables(spark, sf_dir).events.createOrReplaceTempView("l7_events")
    return spark.sql(
        """
        SELECT * FROM l7_partition_summary(
            TABLE(SELECT event_type, value FROM l7_events)
            PARTITION BY event_type)
        """
    )


@register(
    "i12_variant_explode",
    oracle="""
    WITH kv AS (
        SELECT unnest(json_keys(props)) AS prop_key,
               props
        FROM events
    )
    SELECT prop_key,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.' || prop_key) AS BIGINT))
                AS BIGINT) AS value_sum,
           CAST(MIN(CAST(json_extract_string(props, '$.' || prop_key) AS BIGINT))
                AS BIGINT) AS value_min,
           CAST(MAX(CAST(json_extract_string(props, '$.' || prop_key) AS BIGINT))
                AS BIGINT) AS value_max
    FROM kv
    GROUP BY prop_key
    """,
    survey="I7,I5",
)
def i12_variant_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral VARIANT explosion (Spark 4 `variant_explode` TVF vs
    DuckDB's `json_each`): semi-structured payloads unnested into
    (key, value) rows WITHOUT a schema declared up front — the shape
    that processes heterogeneous event properties at ingest, before
    anyone knows the full key set.  Complements i7's path-extraction
    (known keys) with discovery (whatever keys exist).  VARIANT's
    binary encoding makes repeated traversal O(parse-once) vs
    re-parsing JSON text per access — the Spark 4 reason to prefer it
    in hot paths.  Per-key aggregation of the exploded values is
    value-checked exactly (integer payloads)."""
    e = Tables(spark, sf_dir).events
    e.createOrReplaceTempView("i12_events")
    return spark.sql(
        """
        SELECT v.key AS prop_key,
               COUNT(*) AS n,
               SUM(CAST(v.value AS BIGINT)) AS value_sum,
               MIN(CAST(v.value AS BIGINT)) AS value_min,
               MAX(CAST(v.value AS BIGINT)) AS value_max
        FROM i12_events, LATERAL variant_explode(parse_json(props)) AS v
        GROUP BY v.key
        """
    )


@register(
    "k10_disorder_profile",
    oracle="""
    WITH arr AS (
        SELECT user_id, ts,
               MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS max_seen
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN max_seen IS NOT NULL AND ts < max_seen
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           CAST(COALESCE(MAX(CASE WHEN max_seen IS NOT NULL AND ts < max_seen
                          THEN epoch_ms(max_seen) - epoch_ms(ts) END), 0)
                AS BIGINT) AS max_lateness_ms
    FROM arr GROUP BY user_id
    """,
    survey="K4,F3,E11",
)
def k10_disorder_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder profile: per key, how many events arrive with a
    timestamp older than the maximum already seen, and by how much — THE
    measurement that sizes a watermark (k4 chooses a delay; this query
    says what delay the stream actually needs: watermark >= observed
    max lateness keeps the late-drop rate at the measured n_late tail).
    Arrival order is the generation sequence (event_id), the same
    simulation convention as the streaming twins.  One running-max
    window clustered by key + one hash agg — the profile of a 100 TB
    stream history costs one shuffle, and in production runs
    incrementally over each day's arrivals."""
    e = Tables(spark, sf_dir).events
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = e.select(
        "user_id",
        "ts",
        F.max("ts").over(w).alias("max_seen"),
    )
    late = F.col("max_seen").isNotNull() & (F.col("ts") < F.col("max_seen"))
    lateness_ms = F.unix_millis("max_seen") - F.unix_millis("ts")
    return arr.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(late.cast("long")).alias("n_late"),
        F.coalesce(F.max(F.when(late, lateness_ms)), F.lit(0)).cast("long").alias(
            "max_lateness_ms"
        ),
    )


@register(
    "g4_global_rank_scalable",
    oracle="""
    SELECT event_id,
           CAST(row_number() OVER (ORDER BY value DESC, event_id) AS BIGINT)
               AS global_rank
    FROM events
    """,
    survey="G1,F1",
)
def g4_global_rank_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global total-order ranking at scale: a no-PARTITION-BY window pulls
    the whole dataset through one reducer (the canonical global-sort
    trap); operators/layout.py global_rank instead range-partitions on
    the order key, ranks locally per sorted partition, and adds
    per-partition offsets (one row per partition, collected once — the
    documented metadata-collect exception — and joined back as a
    broadcast relation).  The oracle is the naive global window,
    so the certification is exactly 'the two-pass trick equals the
    single-reducer semantics' on every row.  (value, event_id) is a
    total order, so ranks are engine-unique."""
    from cassandra_snap_to_hadoop_spark.operators.layout import global_rank

    e = Tables(spark, sf_dir).events
    ranked = global_rank(
        e.select("event_id", "value"),
        [F.col("value").desc(), F.col("event_id")],
    )
    return ranked.select("event_id", "global_rank")


@register(
    "f12_decay_weighted_sum",
    oracle="""
    WITH m AS (
        SELECT user_id, MAX(ts) AS t_ref FROM events GROUP BY 1
    )
    SELECT e.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(
               e.value * exp(-0.0000080225 *
                   ((epoch_ms(m.t_ref) - epoch_ms(e.ts)) / 1000.0))
               * 1000000) AS BIGINT)) AS BIGINT) AS decayed_value_micro
    FROM events e JOIN m ON e.user_id = m.user_id
    GROUP BY e.user_id
    """,
    survey="F3,E11,I2",
)
def f12_decay_weighted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay aggregation — the feature-store staple
    (recency-weighted activity score): each event contributes
    value * exp(-lambda * age), lambda = ln(2)/86400s (1-day half-life,
    the constant 8.0225e-6 below), aged against the user's LATEST event
    so the feature is reproducible from history alone (wall-clock 'now'
    would change every run).  Per-row contributions are floor-quantized
    to micro-units and summed exactly (the j23/j36/j37 discipline) —
    association-order-free, with only the accepted 1-ulp libm exp()
    boundary class.  Shape: per-key max agg + self-join back + one hash
    agg, all clustered on the key; incremental maintenance at scale is
    one multiply per batch (decay is multiplicative), which is why this
    beats windowed averages in streaming feature pipelines."""
    e = Tables(spark, sf_dir).events
    m = e.groupBy("user_id").agg(F.max("ts").alias("t_ref"))
    j = e.join(m, "user_id")
    age_s = (F.unix_millis("t_ref") - F.unix_millis("ts")) / 1000.0
    contrib = F.floor(F.col("value") * F.exp(-0.0000080225 * age_s) * 1000000).cast("long")
    return j.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(contrib).alias("decayed_value_micro"),
    )


@register(
    "k11_session_patterns",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM seq
    ), journeys AS (
        SELECT user_id, session_id,
               string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                   AS pattern
        FROM sess GROUP BY 1, 2
    )
    SELECT pattern,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM journeys
    GROUP BY pattern
    HAVING COUNT(*) >= 3
    """,
    survey="K3,F2,E7",
)
def k11_session_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session journey pattern mining: k3's gap sessionization, each
    session collapsed to its ordered event-initial string ('vcp' = view,
    click, purchase), patterns counted across the corpus with a min
    support of 3 — the sequence-mining shape behind funnel discovery
    (e14 checks ONE known funnel; this surfaces which journeys exist).
    Order inside the journey string is pinned by (ts, event_id), so the
    pattern strings are engine-identical; the support cut keeps the
    output in frequent-pattern territory at any corpus size.  Shape: one
    window shuffle on user_id reused by the lag, the cumulative sum, and
    (after the per-session agg) the pattern count — per-session strings
    are bounded by session length, never corpus length."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = 30 * 60 * 1000
    seq = e.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))) > gap_ms),
            1,
        ).otherwise(0),
    )
    sess = seq.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    journeys = sess.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c"))
                    )
                ),
                lambda x: x["c"],
            ),
            "",
        ).alias("pattern")
    )
    return (
        journeys.groupBy("pattern")
        .agg(
            F.count("*").alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .filter(F.col("n_sessions") >= 3)
    )


@register(
    "i13_binary_encode_funcs",
    oracle="""
    SELECT doc_id,
           base64(encode(substr(text, 1, 48))) AS b64,
           lower(hex(encode(substr(text, 1, 16)))) AS hex16,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(base64(encode(substr(text, 1, 48)))) AS b64_md5
    FROM documents
    """,
    survey="I8,I1,J10",
)
def i13_binary_encode_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary encode/decode surface (I8 adjacency, J10's transport layer):
    base64 and hex of text-derived bytes plus exact byte lengths — the
    primitives that move opaque payloads through JSON/CSV channels and
    address blob stores.  base64 alphabets and hex casing are pinned by
    RFC 4648, so the encodings are byte-identical across engines (hex is
    lowercased explicitly — Spark emits lowercase, DuckDB uppercase: the
    one dialect divergence, normalized rather than trusted).  The md5 of
    the base64 doubles as a transport-integrity check.  Pure column
    expressions; UTF-8 text here is ASCII by construction so byte
    lengths equal char lengths — the n_bytes column would catch any
    engine disagreeing on encoding."""
    d = Tables(spark, sf_dir).documents
    head48 = F.substring("text", 1, 48).cast("binary")
    return d.select(
        "doc_id",
        F.base64(head48).alias("b64"),
        F.lower(F.hex(F.substring("text", 1, 16).cast("binary"))).alias("hex16"),
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5(F.base64(head48)).alias("b64_md5"),
    )
