"""Corpus-governance queries: the audit/forensics layer of a training-data
pipeline — which sources overlap, how duplication is distributed, which
domains dominate, and what boilerplate repeats across documents.

The synthetic corpus is unique-by-construction (no natural dups, no URLs),
so ops needing such structure INJECT it deterministically first — the
prove-on-injected-signal pattern established by j9_language_id_learned and
j21_pii_redaction: the injection is identical SQL on both engines, so the
check still certifies the operator, not the fixture.

Registered after the round-2 certification window (queries/__init__).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.io import Tables, fan_out
from cassandra_snap_to_hadoop_spark.operators import similarity as sim
from cassandra_snap_to_hadoop_spark.operators.dedup import blocked_pairs
from cassandra_snap_to_hadoop_spark.operators.text import tokens
from cassandra_snap_to_hadoop_spark.registry import register

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_WORDS = f"string_split({_NORM}, ' ')"


@register(
    "j26_source_overlap",
    oracle=f"""
    WITH sh0 AS (
        SELECT DISTINCT source,
               unnest([array_to_string(w[i:i+2], ' ')
                       for i in range(1, len(w) - 1)]) AS s
        FROM (SELECT source, {_WORDS} AS w FROM documents)
        WHERE len(w) >= 3
    ), df AS (
        SELECT s FROM (SELECT s, COUNT(*) AS nsrc FROM sh0 GROUP BY 1)
        WHERE nsrc <= (SELECT COUNT(DISTINCT source) / 2.0 FROM documents)
    ), sh AS (
        SELECT sh0.source, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
    ), sizes AS (
        SELECT source, COUNT(*) AS sz FROM sh GROUP BY 1
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           CAST(sa.sz AS BIGINT) AS sz_a,
           CAST(sb.sz AS BIGINT) AS sz_b,
           COUNT(*) * 1.0 / (sa.sz + sb.sz - COUNT(*)) AS jaccard
    FROM sh a
    JOIN sh b ON a.s = b.s AND a.source < b.source
    JOIN sizes sa ON sa.source = a.source
    JOIN sizes sb ON sb.source = b.source
    GROUP BY a.source, b.source, sa.sz, sb.sz
    """,
    survey="J2,D9,J5",
)
def j26_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level contamination matrix: 3-gram shingle Jaccard between
    every source pair — the governance view that tells you two crawls
    ingested the same site before you pay to dedup them document-by-
    document.  Same join discipline as j15: the self-join is on the
    SHINGLE VALUE with distinct (source, shingle) pairs restricted to
    DISCRIMINATIVE grams (present in at most half the sources), so
    candidate cost is bounded by the capped fan-out, never |docs|² — and
    the output is |sources|² at most, driver-trivial at any corpus size.
    The Jaccard division runs on identical exact integers in both engines,
    so the raw double is bit-identical (no rounding needed — rounding
    would itself be the only cross-engine hazard here)."""
    d = fan_out(Tables(spark, sf_dir).documents)
    w = tokens(F.col("text"))
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(w) - 2),
        lambda i: F.array_join(F.slice(w, i, 3), " "),
    )
    sh0 = (
        d.filter(F.size(w) >= 3)
        .select("source", F.explode(shingles).alias("s"))
        .distinct()
    )
    # Discriminative-gram cap: shingles present in more than half the
    # sources are corpus-common (stop-grams) — they carry no pairwise
    # signal but dominate the self-join's fan-out (each hot gram emits
    # C(nsrc,2) candidates).  Dropping them bounds the quadratic term —
    # on low-entropy corpora it is the difference between a linear query
    # and a blow-up.  Same knob class as j32's df cap and LSH band
    # width.  (Measured at sf0.1: 6.2s single-core-explode original ->
    # 2.1s with fan_out + cap + the checkpoint below; the dominant fix
    # was fan_out — the one-file corpus scan serialized the gram
    # explosion on one core.)  The cap is "half the sources", derived
    # in-plan from the corpus (broadcast scalar) rather than hard-coded,
    # so it tracks any fixture change.
    half = d.agg((F.count_distinct("source") / 2.0).alias("__half_src"))
    keep = (
        sh0.groupBy("s")
        .agg(F.count("*").alias("nsrc"))
        .crossJoin(F.broadcast(half))
        .filter(F.col("nsrc") <= F.col("__half_src"))
        .select("s")
    )
    # localCheckpoint: sizes, and BOTH sides of the self-join consume the
    # capped set — without the lineage cut Catalyst re-derives the
    # explode+distinct+cap chain once per consumer (measured 1.5x slower
    # than the uncapped query, defeating the cap).  Same precedent as
    # operators/curation.py's stage boundaries.
    sh = sh0.join(keep, "s", "left_semi").localCheckpoint()
    sizes = sh.groupBy("source").agg(F.count("*").alias("sz"))
    pairs = (
        blocked_pairs(sh, "source", ["s"])
        .groupBy(F.col("id_a").alias("src_a"), F.col("id_b").alias("src_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        pairs.join(F.broadcast(sizes).withColumnRenamed("source", "src_a"), "src_a")
        .withColumnRenamed("sz", "sz_a")
        .join(F.broadcast(sizes).withColumnRenamed("source", "src_b"), "src_b")
        .withColumnRenamed("sz", "sz_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "sz_a",
            "sz_b",
            (F.col("n_shared") / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared"))).alias(
                "jaccard"
            ),
        )
    )


@register(
    "j27_dup_size_histogram",
    oracle=f"""
    WITH injected AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 10 <= 2 THEN base.text ELSE d.text END AS text
        FROM documents d
        JOIN documents base ON base.doc_id = (d.doc_id // 10) * 10
    ), groups AS (
        SELECT md5({_NORM}) AS h, COUNT(*) AS group_size
        FROM injected GROUP BY 1
    )
    SELECT CAST(group_size AS BIGINT) AS group_size,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(group_size) AS BIGINT) AS n_docs,
           CAST(SUM(group_size - 1) AS BIGINT) AS n_removable
    FROM groups GROUP BY 1
    """,
    survey="J1,E2",
)
def j27_dup_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup audit: the duplicate-cluster size histogram (how many
    singletons / pairs / triples...), plus the removable-row count per
    size — the numbers that size a dedup job's output before running it
    and catch pathological mass-duplication (a crawler stuck on one page)
    at a glance.  The corpus is unique-by-construction, so docs with
    id%10<=2 are first overwritten with their decade-base doc's text
    (deterministic self-join, identical on both engines), planting known
    clusters of size 3 among singletons.  Shape: fact self-join on a
    derived integer key (broadcastable — it's the corpus itself, but the
    join key is unique so AQE picks SMJ at scale), then two hash aggs,
    the second over |distinct hashes| ≤ |docs|."""
    d = Tables(spark, sf_dir).documents
    base = d.select(
        F.col("doc_id").alias("base_id"), F.col("text").alias("base_text")
    )
    injected = (
        d.join(base, (F.col("doc_id") - F.col("doc_id") % 10) == F.col("base_id"))
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 10 <= 2, F.col("base_text"))
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    groups = injected.groupBy(F.md5(norm).alias("h")).agg(F.count("*").alias("group_size"))
    return groups.groupBy("group_size").agg(
        F.count("*").alias("n_groups"),
        F.sum("group_size").alias("n_docs"),
        F.sum(F.col("group_size") - 1).alias("n_removable"),
    )


@register(
    "j28_domain_stats",
    oracle="""
    WITH injected AS (
        SELECT doc_id, n_chars,
               'https://site' || CAST(doc_id % 50 AS VARCHAR)
                   || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url
        FROM documents
    ), parsed AS (
        SELECT doc_id, n_chars,
               regexp_extract(url, 'https?://([^/]+)/', 1) AS domain
        FROM injected
    )
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(CASE WHEN CAST(regexp_extract(domain, 'site([0-9]+)', 1) AS INTEGER) % 7 = 0
                     THEN 1 ELSE 0 END AS INTEGER) AS blocklisted
    FROM parsed
    GROUP BY domain
    """,
    survey="J9,I1",
)
def j28_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation: extract the registered domain from each
    document's URL, aggregate per-domain volume, and mark blocklist hits —
    the crawl-governance stage that runs BEFORE content-level quality
    (dropping a spam domain at the URL level costs nothing; scoring its
    text costs a full scan).  The corpus carries no URLs, so deterministic
    ones are injected (doc_id-derived, identical SQL both engines); the
    blocklist is simulated as domains whose site number ≡ 0 (mod 7) — in
    production this is a broadcast join against the real list.  Pure
    column regexp (portable subset: no lookaround, no shorthand classes)
    + one hash agg keyed by domain: the classic domain-cardinality
    aggregation, trivially skew-prone in real crawls — the salting path
    (e15/operators/skew.py) is the documented escape hatch for a
    mega-domain."""
    d = Tables(spark, sf_dir).documents
    url = F.concat(
        F.lit("https://site"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit(".example.com/p/"),
        F.col("doc_id").cast("string"),
    )
    domain = F.regexp_extract(url, r"https?://([^/]+)/", 1)
    site_num = F.regexp_extract(domain, r"site([0-9]+)", 1).cast("int")
    return (
        d.select(F.col("n_chars"), domain.alias("domain"), site_num.alias("sn"))
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.max(F.when(F.col("sn") % 7 == 0, 1).otherwise(0)).cast("int").alias("blocklisted"),
        )
    )


_BANNER = "cookie banner accept terms privacy policy subscribe newsletter follow share"


@register(
    "j29_line_dedup",
    oracle=f"""
    WITH injected AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 <> 0 THEN '{_BANNER} ' || text ELSE text END AS text
        FROM documents
    ), t AS (
        SELECT doc_id, {_WORDS} AS w FROM injected
    ), l AS (
        SELECT doc_id,
               unnest(lines) AS line,
               generate_subscripts(lines, 1) AS pos
        FROM (SELECT doc_id,
                     [array_to_string(w[(i-1)*10+1:i*10], ' ')
                      for i in range(1, (len(w)+9)//10 + 1)] AS lines
              FROM t)
    ), boiler AS (
        SELECT line FROM (
            SELECT line, COUNT(DISTINCT doc_id) AS ndf FROM l GROUP BY 1
        ) WHERE ndf > (SELECT COUNT(*) * 0.05 FROM documents)
    ), kept AS (
        SELECT * FROM l WHERE line NOT IN (SELECT line FROM boiler)
    ), tot AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM l GROUP BY 1
    ), k AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               md5(string_agg(line, ' ' ORDER BY pos)) AS cleaned_md5
        FROM kept GROUP BY 1
    )
    SELECT tot.doc_id, n_lines,
           COALESCE(n_kept, 0) AS n_kept,
           COALESCE(cleaned_md5, md5('')) AS cleaned_md5
    FROM tot LEFT JOIN k USING (doc_id)
    """,
    survey="J1,J9,I1",
)
def j29_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level boilerplate removal: chunk each document into
    fixed-width 10-token lines, drop every line whose document frequency
    exceeds 5% of the corpus (cookie banners, nav bars — content that
    repeats VERBATIM across unrelated pages), and emit the cleaned
    document's md5 — the strongest cross-engine check, since reassembly
    must preserve line ORDER exactly.  The corpus has no natural
    boilerplate, so a banner line is prefix-injected into 2/3 of docs
    (prefix, not suffix: fixed-width chunking only aligns repeats at a
    stable offset — real CCNet splits on newlines, which this corpus
    lacks; the FREQUENCY mechanism under test is identical).

    Scale shape: explode to lines -> df hash-agg keyed by line content ->
    anti-join of lines against the tiny boilerplate set (broadcast — by
    construction it's the few lines above 5% df) -> per-doc re-agg with an
    in-group sort for reassembly.  Line df is the same economics as the
    TF-IDF document-frequency pass; nothing is ever O(docs²)."""
    d = fan_out(Tables(spark, sf_dir).documents)
    # 5% document-frequency threshold derived IN-PLAN (broadcast scalar join
    # below) — no eager count() job during query construction.  r12: the
    # count reads the RAW table, not the fanned-out relation — a count
    # never needs the repartition (it would drag the text shuffle into the
    # scalar subquery's path).
    thr = Tables(spark, sf_dir).documents.agg(
        (F.count("*") * F.lit(0.05)).alias("__df_thr")
    )
    injected = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 != 0, F.concat(F.lit(_BANNER + " "), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    w = tokens(F.col("text"))
    n_lines = F.expr("(size(__w) + 9) div 10")
    lines = F.transform(
        F.sequence(F.lit(1), F.col("__nl")),
        lambda i: F.struct(
            i.alias("pos"),
            F.array_join(F.slice(F.col("__w"), (i - 1) * 10 + 1, 10), " ").alias("line"),
        ),
    )
    exploded = (
        injected.withColumn("__w", w)
        .withColumn("__nl", n_lines)
        .select("doc_id", F.explode(lines).alias("pl"))
        .select("doc_id", F.col("pl.pos").alias("pos"), F.col("pl.line").alias("line"))
        # r11 (guide §2.4): the line relation feeds the df agg, the
        # anti-join probe side and the per-doc totals — cut once so the
        # banner-injection + tokenize + line-chunking explode runs once,
        # not three times (the j125 gram-relation precedent).
        .localCheckpoint(eager=False)
    )
    boiler = (
        exploded.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("ndf"))
        .crossJoin(F.broadcast(thr))
        .filter(F.col("ndf") > F.col("__df_thr"))
        .select("line")
    )
    kept = exploded.join(F.broadcast(boiler), "line", "left_anti")
    tot = exploded.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    reassembled = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "line"))), lambda x: x["line"]
        ),
        " ",
    )
    k = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"), F.md5(reassembled).alias("cleaned_md5")
    )
    return tot.join(k, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("cleaned_md5", F.md5(F.lit(""))).alias("cleaned_md5"),
    )


@register(
    "j32_ngram_novelty",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               unnest([array_to_string(w[i:i+2], ' ')
                       for i in range(1, len(w) - 1)]) AS s
        FROM (SELECT doc_id, {_WORDS} AS w FROM documents)
        WHERE len(w) >= 3
    ), df AS (
        SELECT s, COUNT(*) AS ndf FROM sh GROUP BY 1
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df.ndf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(SUM(df.ndf) AS BIGINT) AS df_mass
    FROM sh JOIN df ON sh.s = df.s
    GROUP BY sh.doc_id
    """,
    survey="J5,J9,J7",
)
def j32_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring for data selection: per document, how many
    of its distinct 3-gram shingles appear NOWHERE else in the corpus
    (n_novel) and the total document-frequency mass of its grams
    (df_mass) — the two ends of the diversity dial.  High-novelty docs
    add new content; low-novelty/high-mass docs are near-boilerplate even
    when no single pair crosses a dedup threshold, which is exactly the
    redundancy signal document-level dedup cannot see.  Counts stay
    integers (ratios derive downstream; no float rule needed).  Same
    economics as TF-IDF's df pass: explode distinct (doc, gram) -> gram
    hash-agg -> join back by gram value -> per-doc re-agg.  At 100 TB the
    gram-df table is the scale knob: cap it with a HAVING on df (hot
    grams carry no novelty signal) before the join-back, turning the
    probe into a pruned broadcast exactly as j15 documents."""
    d = fan_out(Tables(spark, sf_dir).documents)
    w = tokens(F.col("text"))
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(w) - 2),
        lambda i: F.array_join(F.slice(w, i, 3), " "),
    )
    sh = (
        d.filter(F.size(w) >= 3)
        .select("doc_id", F.explode(shingles).alias("s"))
        .distinct()
    )
    df = sh.groupBy("s").agg(F.count("*").alias("ndf"))
    return (
        sh.join(df, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("ndf") == 1, 1).otherwise(0)).cast("long").alias("n_novel"),
            F.sum("ndf").alias("df_mass"),
        )
    )


@register(
    "j33_semdedup_prune",
    oracle="""
    WITH v AS (
        SELECT vec_id,
               embedding::DOUBLE[] AS e,
               (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
                + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
                + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END
                + CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
        FROM embeddings
    ), dropped AS (
        SELECT DISTINCT b.vec_id AS id_b
        FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.e, b.e) >= 0.2
    )
    SELECT v.vec_id,
           CAST(v.bucket AS INTEGER) AS bucket,
           CAST(CASE WHEN dropped.id_b IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS dropped
    FROM v LEFT JOIN dropped ON v.vec_id = dropped.id_b
    """,
    survey="J2,J3,D9",
)
def j33_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic pruning (Abbas et al. 2023): bucket the
    embedding space, compute pairwise cosine only WITHIN buckets, drop
    every vector with a higher-similarity smaller-id neighbor — keep-first
    semantics identical to the funnel's near-dup stage, but in embedding
    space where paraphrases that share no n-grams still collide.  The
    bucketing here is the deterministic sign-quadrant code of the first 4
    dimensions (16 cells) so the DuckDB oracle can mirror it exactly; the
    production path swaps in k-means cells (j3_knn_ivf machinery) or SRP
    bands (j3_similarity_join_lsh) — identical prune semantics, tuned
    recall.  Quadratic cost is bounded per bucket, never global: the
    at-scale knob is bucket bit-width, exactly like LSH band width.
    Threshold boundary floats are the accepted measure-zero class
    (j2_embedding_neardup precedent)."""
    e = Tables(spark, sf_dir).embeddings
    emb = F.col("embedding")
    bucket = (
        (F.element_at(emb, 1) >= 0).cast("int")
        + (F.element_at(emb, 2) >= 0).cast("int") * 2
        + (F.element_at(emb, 3) >= 0).cast("int") * 4
        + (F.element_at(emb, 4) >= 0).cast("int") * 8
    )
    v = e.select(
        "vec_id", bucket.alias("bucket"), sim.l2_normalize(emb).alias("nv")
    )
    dropped = (
        blocked_pairs(v, "vec_id", ["bucket"], carry=("nv",))
        .filter(sim.dot(F.col("nv_a"), F.col("nv_b")) >= 0.2)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    return (
        v.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            F.col("bucket").cast("int").alias("bucket"),
            F.coalesce("dropped", F.lit(0)).cast("int").alias("dropped"),
        )
    )


@register(
    "j34_winnowing_fingerprints",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_WORDS} AS w FROM documents
    ), g AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 4
                    THEN [md5(array_to_string(w[i:i+3], ' '))
                          for i in range(1, len(w) - 2)]
                    ELSE [md5(array_to_string(w, ' '))] END AS h
        FROM t
    ), sel AS (
        SELECT doc_id, len(h) AS n_grams,
               list_distinct([list_min(h[j:j+4]) for j in
                              range(1, greatest(len(h) - 4, 0) + 2)]) AS fp
        FROM g
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(fp) AS BIGINT) AS n_fingerprints,
           md5(array_to_string(list_sort(fp), '')) AS fp_digest
    FROM sel
    """,
    survey="J5,J9,I8",
)
def j34_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003 —
    the MOSS algorithm): hash every 4-token gram, slide a 5-hash window,
    keep each window's minimum — guaranteeing any shared run of ~8 tokens
    between two documents shares at least one fingerprint, at a bounded
    fingerprint density (the property random sampling lacks and full
    k-gram sets pay |doc| storage for).  Cross-engine exactness comes
    from md5-hex minima compared LEXICOGRAPHICALLY — the same portable
    total order as j22's sampling thresholds, so no integer hash
    conversion is needed.  Short docs (< one gram / < one window)
    degrade to whole-text hashing / a single window.  Pure per-row array
    arithmetic + a set digest: zero shuffle, score-while-you-scan; the
    downstream join on fingerprint value is j15's contamination shape."""
    d = fan_out(Tables(spark, sf_dir).documents)
    w = tokens(F.col("text"))
    grams = F.when(
        F.size(w) >= 4,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 3),
            lambda i: F.md5(F.array_join(F.slice(w, i, 4), " ")),
        ),
    ).otherwise(F.array(F.md5(F.array_join(w, " "))))
    g = d.select("doc_id", grams.alias("h"))
    fp = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(F.col("h")) - 4, F.lit(0)) + 1),
            lambda j: F.array_min(F.slice(F.col("h"), j, 5)),
        )
    )
    return g.select(
        "doc_id",
        F.size("h").cast("long").alias("n_grams"),
        F.size(fp).cast("long").alias("n_fingerprints"),
        F.md5(F.array_join(F.array_sort(fp), "")).alias("fp_digest"),
    )


@register(
    "j35_prefix_dedup",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, {_NORM} AS norm FROM documents
    ), injected AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 7 = 3
                    THEN array_to_string(string_split(b.norm, ' ')[1:20], ' ')
                    ELSE d.norm END AS norm
        FROM base d JOIN base b ON b.doc_id = (d.doc_id // 10) * 10
    ), keyed AS (
        SELECT doc_id, norm,
               array_to_string(string_split(norm, ' ')[1:10], ' ') AS block,
               length(norm) AS L
        FROM injected
    ), dropped AS (
        SELECT DISTINCT s.doc_id
        FROM keyed s JOIN keyed l
          ON s.block = l.block
         AND (s.L < l.L OR (s.L = l.L AND s.doc_id > l.doc_id))
         AND starts_with(l.norm, s.norm)
    )
    SELECT k.doc_id,
           CAST(k.L AS BIGINT) AS n_chars_norm,
           CAST(CASE WHEN dropped.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
               AS is_prefix_dup
    FROM keyed k LEFT JOIN dropped ON k.doc_id = dropped.doc_id
    """,
    survey="J1,J2,I1",
)
def j35_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-duplicate removal: a document is dropped when its normalized
    text is a prefix of a longer surviving document's — the truncated-
    crawl artifact (same page fetched with and without a byte cap) that
    exact-hash dedup misses because the texts differ and near-dup misses
    below its Jaccard threshold.  Equal-text pairs keep the smaller id,
    matching j1's survivor rule.  The candidate join is BLOCKED on the
    first-10-token line, so prefix checks run only within groups sharing
    an opening — document openings are high-entropy, making block sizes
    tiny (the same economics as j4's pairwise blocking); the
    `starts_with` predicate then runs on co-located pairs only.  The
    corpus has no natural truncations, so docs with id%7==3 are rewritten
    to their decade-base doc's first 20 tokens (injection discipline of
    j27)."""
    d = Tables(spark, sf_dir).documents
    from cassandra_snap_to_hadoop_spark.operators.dedup import normalize_text

    base = d.select("doc_id", normalize_text(F.col("text")).alias("norm"))
    b = base.select(F.col("doc_id").alias("base_id"), F.col("norm").alias("base_norm"))
    injected = (
        base.join(b, (F.col("doc_id") - F.col("doc_id") % 10) == F.col("base_id"))
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 3,
                F.array_join(F.slice(F.split(F.col("base_norm"), " "), 1, 20), " "),
            )
            .otherwise(F.col("norm"))
            .alias("norm"),
        )
    )
    keyed = injected.select(
        "doc_id",
        "norm",
        F.array_join(F.slice(F.split(F.col("norm"), " "), 1, 10), " ").alias("block"),
        F.length("norm").alias("L"),
    )
    s, l = keyed.alias("s"), keyed.alias("l")
    dropped = (
        s.join(
            l,
            (F.col("s.block") == F.col("l.block"))
            & (
                (F.col("s.L") < F.col("l.L"))
                | ((F.col("s.L") == F.col("l.L")) & (F.col("s.doc_id") > F.col("l.doc_id")))
            )
            & F.col("l.norm").startswith(F.col("s.norm")),
        )
        .select(F.col("s.doc_id").alias("doc_id"))
        .distinct()
        .withColumn("is_prefix_dup", F.lit(1))
    )
    return (
        keyed.join(dropped, "doc_id", "left")
        .select(
            "doc_id",
            F.col("L").cast("long").alias("n_chars_norm"),
            F.coalesce("is_prefix_dup", F.lit(0)).cast("int").alias("is_prefix_dup"),
        )
    )


@register(
    "j36_token_entropy",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({_WORDS}) AS tok FROM documents
    ), tf AS (
        SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2
    ), n AS (
        SELECT doc_id, SUM(c) AS n FROM tf GROUP BY 1
    )
    SELECT tf.doc_id,
           CAST(MIN(n.n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CAST(FLOOR(-ln(c * 1.0 / n.n) * c * 1000000 / n.n) AS BIGINT))
                AS BIGINT) AS entropy_micronats
    FROM tf JOIN n ON tf.doc_id = n.doc_id
    GROUP BY tf.doc_id
    """,
    survey="J9,J6",
)
def j36_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per document — the gibberish /
    keyword-stuffing detector: natural text sits in a mid-entropy band,
    repeated-token spam collapses toward zero, and random-token noise
    pushes toward log(n).  Per-term contributions -p*ln(p) are quantized
    to integer micro-nats and summed EXACTLY (the j23 discipline), so the
    check is association-order-free; the only hazard is a 1-ulp libm ln
    at a floor boundary — the accepted measure-zero class.  Shape: one
    explode + (doc, term) hash agg + per-doc re-agg, all map-side
    combined; the entropy of a 100 TB corpus costs two aggregations of
    its term postings, nothing more."""
    d = fan_out(Tables(spark, sf_dir).documents)
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    n = tf.groupBy("doc_id").agg(F.sum("c").alias("n"))
    q = F.floor(
        -F.ln(F.col("c") * 1.0 / F.col("n")) * F.col("c") * 1000000 / F.col("n")
    ).cast("long")
    return (
        tf.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.min("n").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.sum(q).alias("entropy_micronats"),
        )
    )


@register(
    "j37_source_kl_drift",
    oracle=f"""
    WITH t AS (
        SELECT source, unnest({_WORDS}) AS tok FROM documents
    ), per_src AS (
        SELECT source, tok, COUNT(*) AS c FROM t GROUP BY 1, 2
    ), src_tot AS (
        SELECT source, SUM(c) AS n FROM per_src GROUP BY 1
    ), corpus AS (
        SELECT tok, SUM(c) AS cc FROM per_src GROUP BY 1
    ), corpus_tot AS (
        SELECT SUM(cc) AS nn FROM corpus
    )
    SELECT s.source,
           CAST(MIN(st.n) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(FLOOR(
               (s.c * 1.0 / st.n)
               * ln((s.c * 1.0 / st.n) / (c.cc * 1.0 / ct.nn))
               * 1000000) AS BIGINT)) AS BIGINT) AS kl_micronats
    FROM per_src s
    JOIN src_tot st ON s.source = st.source
    JOIN corpus c ON s.tok = c.tok
    CROSS JOIN corpus_tot ct
    GROUP BY s.source
    """,
    survey="J9,J7,E2",
)
def j37_source_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional drift per source: KL divergence of each source's
    token distribution from the corpus distribution — the mixture-
    monitoring metric that flags a crawl batch whose language shifted
    (spam infiltration, template change, encoding breakage) before any
    per-document filter fires.  Every source token exists in the corpus
    distribution by construction (corpus = union of sources), so no
    smoothing term is needed and KL is finite.  Per-term contributions
    p*ln(p/q) are floor-quantized to micro-nats and summed exactly — the
    j23/j36 discipline, association-order-free.  Shape: term hash-agg
    per source, term hash-agg for the corpus, one join on term value +
    per-source re-agg; term-space economics throughout (TF-IDF class),
    nothing scales with docs^2."""
    d = fan_out(Tables(spark, sf_dir).documents)
    toks = d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    # r11 (guide §2.4): the (source, term) count relation feeds the
    # per-source totals, the corpus counts and the contribution join —
    # cut once so the tokenize+explode+agg chain runs once, not thrice.
    per_src = (
        toks.groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    src_tot = per_src.groupBy("source").agg(F.sum("c").alias("n"))
    corpus = per_src.groupBy("tok").agg(F.sum("c").alias("cc"))
    corpus_tot = corpus.agg(F.sum("cc").alias("nn"))
    p = F.col("c") * 1.0 / F.col("n")
    q = F.col("cc") * 1.0 / F.col("nn")
    contrib = F.floor(p * F.ln(p / q) * 1000000).cast("long")
    return (
        per_src.join(src_tot, "source")
        .join(corpus, "tok")
        .crossJoin(F.broadcast(corpus_tot))
        .groupBy("source")
        .agg(
            F.min("n").alias("n_tokens"),
            F.sum(contrib).alias("kl_micronats"),
        )
    )


@register(
    "j38_dataset_card",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, source,
               len({_WORDS}) AS n_toks, length(text) AS n_chars
        FROM documents
    )
    SELECT 'n_docs' AS stat, CAST(COUNT(*) AS BIGINT) AS value FROM t
    UNION ALL SELECT 'n_langs', CAST(COUNT(DISTINCT lang) AS BIGINT) FROM t
    UNION ALL SELECT 'n_sources', CAST(COUNT(DISTINCT source) AS BIGINT) FROM t
    UNION ALL SELECT 'total_tokens', CAST(SUM(n_toks) AS BIGINT) FROM t
    UNION ALL SELECT 'total_chars', CAST(SUM(n_chars) AS BIGINT) FROM t
    UNION ALL SELECT 'min_doc_tokens', CAST(MIN(n_toks) AS BIGINT) FROM t
    UNION ALL SELECT 'max_doc_tokens', CAST(MAX(n_toks) AS BIGINT) FROM t
    UNION ALL SELECT 'median_doc_tokens',
        CAST(quantile_cont(n_toks, 0.5) * 2 AS BIGINT) FROM t
    UNION ALL SELECT 'docs_under_50_tokens',
        CAST(SUM(CASE WHEN n_toks < 50 THEN 1 ELSE 0 END) AS BIGINT) FROM t
    UNION ALL SELECT 'largest_source_docs',
        CAST(MAX(c) AS BIGINT) FROM (SELECT COUNT(*) AS c FROM t GROUP BY source)
    """,
    survey="E1,E3,E6,H1,J8",
)
def j38_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card in one query: the summary block every published
    corpus ships (doc/lang/source counts, token and char totals, length
    extremes and median, short-doc tail, dominant-source size) — the
    numbers a consumer checks before training on it.  The median of
    integer token counts is interpolated to x.0/x.5 halves, so doubling
    it yields an exact integer on both engines (no float rule needed
    anywhere in the card).  Each stat is a metadata-scale aggregate; the
    whole card is one corpus scan + a handful of tiny re-aggs — the
    'print the report' query that runs after every pipeline stage."""
    d = Tables(spark, sf_dir).documents
    # r11 (guide §2.4): the narrow per-doc stats projection feeds all ten
    # card rows — cut once so the scan + tokenize runs once, not 10×.
    t = d.select(
        "doc_id",
        "lang",
        "source",
        F.size(tokens(F.col("text"))).alias("n_toks"),
        F.length("text").alias("n_chars"),
    ).localCheckpoint(eager=False)

    def stat(name, col):
        return t.agg(col.cast("long").alias("value")).select(
            F.lit(name).alias("stat"), "value"
        )

    largest_src = (
        t.groupBy("source")
        .agg(F.count("*").alias("c"))
        .agg(F.max("c").cast("long").alias("value"))
        .select(F.lit("largest_source_docs").alias("stat"), "value")
    )
    parts = [
        stat("n_docs", F.count("*")),
        stat("n_langs", F.countDistinct("lang")),
        stat("n_sources", F.countDistinct("source")),
        stat("total_tokens", F.sum("n_toks")),
        stat("total_chars", F.sum("n_chars")),
        stat("min_doc_tokens", F.min("n_toks")),
        stat("max_doc_tokens", F.max("n_toks")),
        stat("median_doc_tokens", F.percentile("n_toks", 0.5) * 2),
        stat("docs_under_50_tokens", F.sum(F.when(F.col("n_toks") < 50, 1).otherwise(0))),
        largest_src,
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "j39_curriculum_order",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               len(list_distinct({_WORDS})) AS rich,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS jit
        FROM documents
    ), banded AS (
        SELECT doc_id, rich, jit,
               ntile(10) OVER (ORDER BY rich, doc_id) AS band
        FROM scored
    )
    SELECT doc_id,
           CAST(band AS INTEGER) AS band,
           CAST(row_number() OVER (ORDER BY band, jit, doc_id) AS BIGINT)
               AS train_order
    FROM banded
    """,
    survey="J9,G1,F1",
)
def j39_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: documents banded into quality deciles
    (lexical richness, low to high — easy-to-hard curricula train on
    simple text first), SHUFFLED deterministically within each band by an
    md5 jitter key (SGD needs within-level randomness, but rand() would
    change the curriculum every run — the j22 reproducibility argument),
    and assigned a global training order.  The global order uses
    operators/layout.py global_rank (range partitions + offsets), NOT a
    single-reducer window — this query is exactly why that operator
    exists: assigning a total order to a 100 TB corpus is the one
    unavoidable global sort in a training pipeline.  The oracle is the
    naive global window, certifying two-pass-equals-naive over the whole
    curriculum.

    The decile BAND assignment is ALSO single-reducer-free since round 4:
    a second global_rank over (rich, doc_id) plus the closed-form
    SQL-standard ntile rule (operators/layout.py ntile_expr — first
    ``n mod k`` buckets get one extra row) reproduces the oracle's
    ``ntile(10)`` bucket-for-bucket from pure integer arithmetic, so the
    exact-window oracle certifies the scalable path directly."""
    from cassandra_snap_to_hadoop_spark.operators.layout import (
        global_rank,
        ntile_expr,
    )

    d = fan_out(Tables(spark, sf_dir).documents)
    scored = d.select(
        "doc_id",
        F.size(F.array_distinct(tokens(F.col("text")))).alias("rich"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8).alias("jit"),
    )
    pre, n_total = global_rank(
        scored, [F.col("rich"), F.col("doc_id")], out_col="__qr", return_total=True
    )
    banded = pre.withColumn("band", ntile_expr("__qr", n_total, 10)).drop("__qr")
    ranked = global_rank(
        banded,
        [F.col("band"), F.col("jit"), F.col("doc_id")],
        out_col="train_order",
    )
    return ranked.select("doc_id", F.col("band").cast("int").alias("band"), "train_order")
