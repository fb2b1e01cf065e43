"""LLM training-data pipeline queries (SURVEY §2-J) over documents/embeddings.

Each operator has an exact, SQL-expressible tier (value-checked against
DuckDB) and, where relevant, a scale tier (LSH/banding — rows-only check,
since bucketing hashes are engine-specific).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cassandra_snap_to_hadoop_spark.io import Tables, fan_out
from cassandra_snap_to_hadoop_spark.operators import similarity as sim
from cassandra_snap_to_hadoop_spark.operators import text as tx
from cassandra_snap_to_hadoop_spark.operators.dedup import (
    blocked_pairs,
    dup_clusters,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    shingles,
    simhash,
)
from cassandra_snap_to_hadoop_spark.queries._util import round2, round4
from cassandra_snap_to_hadoop_spark.registry import register

# DuckDB mirror of operators.dedup.normalize_text
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
# DuckDB mirror of word 3-shingles over normalized text (1-based inclusive slices)
_SHINGLES = f"""
    list_distinct([array_to_string(words[i:i+2], ' ')
                   for i in range(1, greatest(len(words) - 1, 1))])
"""


@register(
    "j1_exact_dedup",
    oracle=f"""
    SELECT md5({_NORM}) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS survivor_id,
           CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM documents GROUP BY 1
    """,
    survey="J1",
)
def j1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalized-content digest, deterministic survivor."""
    d = Tables(spark, sf_dir).documents
    return exact_dedup(d, "doc_id", "text")


@register(
    "j2_jaccard_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split({_NORM}, ' ') AS words FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, lang, unnest({_SHINGLES}) AS sh FROM toks
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE inter / (sa.sz + sb.sz - inter) >= 0.05
    """,
    survey="J2,D9",
)
def j2_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs, blocked by lang.  The checked
    small-scale truth that the LSH tier approximates."""
    d = Tables(spark, sf_dir).documents
    return jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.05, block_col="lang")


@register("j2_minhash_lsh_pairs", oracle=None, survey="J2,D9")
def j2_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (scale tier): banded xxhash64 signatures.
    Rows-only (hash-dependent); recall vs j2_jaccard_pairs asserted in
    tests/test_llm_ops.py."""
    d = Tables(spark, sf_dir).documents
    return minhash_lsh_pairs(d, "doc_id", "text", k=3, n_hashes=32, bands=8)


@register(
    "j2_dup_clusters",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split({_NORM}, ' ') AS words FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, lang, unnest({_SHINGLES}) AS sh FROM toks
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE inter / (sa.sz + sb.sz - inter) >= 0.05
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
        -- transitive closure by recursion (dup components are tiny)
        WITH RECURSIVE r(id, root) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.id
        )
        SELECT id, MIN(root) AS cluster_id FROM r GROUP BY id
    )
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM reach GROUP BY 1 HAVING COUNT(*) > 1
    """,
    survey="J2",
)
def j2_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assembly: connected components over the exact-
    Jaccard pair graph by iterative smallest-id propagation (the one
    iterative algorithm in scope — SURVEY §2 exhaustiveness note).
    Emits only multi-doc clusters (cluster_id = smallest member)."""
    d = Tables(spark, sf_dir).documents
    pairs = jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.05, block_col="lang")
    nodes = d.select(F.col("doc_id").alias("id"))
    labels = dup_clusters(nodes, pairs)
    return (
        labels.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .filter(F.col("cluster_size") > 1)
    )


@register(
    "j2_embedding_neardup",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
    """,
    survey="J2,J4,D9",
)
def j2_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact tier): label-blocked
    pairwise cosine >= 0.35.  The blocking keeps pair generation equi-joined;
    the LSH tier (j3_similarity_join_lsh) is the unblocked scale path.
    Vectors are L2-normalized per row BEFORE the pair join (one dot product
    per pair instead of dot + two norms — 3x on the quadratic term)."""
    e = Tables(spark, sf_dir).embeddings
    # fan_out: the quadratic dot-product stage inherited the one-split
    # local scan's parallelism (no-op at real scale).
    n = fan_out(e).select(
        "vec_id", "label", sim.l2_normalize(F.col("embedding")).alias("nv")
    )
    return (
        blocked_pairs(n, "vec_id", ["label"], carry=("nv",))
        .select("id_a", "id_b", sim.dot(F.col("nv_a"), F.col("nv_b")).alias("raw_cos"))
        .filter(F.col("raw_cos") >= 0.35)
        .select("id_a", "id_b", F.round("raw_cos", 4).alias("cos"))
    )


@register("j2_minhash_lsh_ml", oracle=None, survey="J2,D9")
def j2_minhash_lsh_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib alternative for the MinHash tier (HashingTF + MinHashLSH
    approxSimilarityJoin) — rows-only; recall asserted in tests."""
    from cassandra_snap_to_hadoop_spark.operators.ml_lsh import minhash_lsh_pairs_ml

    # distance <= 0.4 (similarity >= 0.6): a loose threshold on a
    # shared-vocabulary corpus returns a quadratic candidate set (12M pairs
    # at sf0.1 when this was 0.9) — the threshold IS the scale control.
    d = Tables(spark, sf_dir).documents
    return minhash_lsh_pairs_ml(d, "doc_id", "text", jaccard_distance_threshold=0.4)


@register("j3_knn_brp_lsh_ml", oracle=None, survey="J3")
def j3_knn_brp_lsh_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib alternative for ANN (BucketedRandomProjectionLSH on the unit
    sphere, distributed approxSimilarityJoin + top-k window)."""
    from cassandra_snap_to_hadoop_spark.operators.ml_lsh import brp_lsh_neighbors_ml

    e = Tables(spark, sf_dir).embeddings
    queries = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    return brp_lsh_neighbors_ml(e, queries, k=5)


@register("j2_simhash", oracle=None, survey="J2")
def j2_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints (rows-only: xxhash64-derived)."""
    d = Tables(spark, sf_dir).documents
    return simhash(d, "doc_id", "text")


@register(
    "j3_knn_bruteforce",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8
    ), scored AS (
        SELECT query_id, e.vec_id AS neighbor_id,
               list_cosine_similarity(qv::DOUBLE[], e.embedding::DOUBLE[]) AS cos
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos, CAST(rn AS INTEGER) AS rn
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
    survey="J3",
)
def j3_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for 8 query vectors — the ANN baseline.
    Queries broadcast; corpus scanned once; JVM higher-order-fn dot product."""
    e = Tables(spark, sf_dir).embeddings
    queries = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    return sim.knn_bruteforce(e, queries, k=5)


@register("j3_knn_ivf", oracle=None, survey="J3")
def j3_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: label-clustered inverted file, 1-probe.  Rows-only;
    recall vs brute force asserted in tests/test_llm_ops.py."""
    e = Tables(spark, sf_dir).embeddings
    queries = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    return sim.knn_ivf(e, queries, cluster_col="label", k=5)


@register("j3_knn_ivf_kmeans", oracle=None, survey="J3")
def j3_knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with LEARNED cells: KMeans (fixed seed) partitions the corpus
    into 8 inverted lists; queries probe their 2 nearest centroids.  The
    general-corpus ANN path when no natural blocking column exists (the
    label-blocked j3_knn_ivf needs one).  Rows-only: cell boundaries are
    model-dependent; recall vs brute force asserted in tests."""
    e = Tables(spark, sf_dir).embeddings
    clustered = sim.kmeans_assign(e, n_clusters=8)
    queries = clustered.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.knn_ivf(clustered, queries, cluster_col="__cluster", k=5, n_probe=2)


@register("j3_similarity_join_lsh", oracle=None, survey="J3,D9")
def j3_similarity_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine >= 0.15 via sign-random-projection LSH buckets
    (scale tier for the similarity self-join)."""
    e = Tables(spark, sf_dir).embeddings
    return sim.similarity_join_lsh(e, threshold=0.15)


@register(
    "j4_pairwise_block",
    oracle="""
    WITH pairs AS (
        SELECT a.label AS label,
               list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(cos), 4) AS avg_cos,
           ROUND(MAX(cos), 4) AS max_cos
    FROM pairs GROUP BY label
    """,
    survey="J4",
)
def j4_pairwise_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded pairwise similarity: all-pairs cosine WITHIN a label block
    (the blocking is what keeps it off the O(n^2) cliff at scale)."""
    e = Tables(spark, sf_dir).embeddings
    # fan_out: the quadratic dot-product stage inherited the one-split
    # local scan's parallelism (no-op at real scale).
    n = fan_out(e).select(
        "vec_id", "label", sim.l2_normalize(F.col("embedding")).alias("nv")
    )
    pairs = blocked_pairs(n, "vec_id", ["label"], carry=("nv",)).select(
        "label", sim.dot(F.col("nv_a"), F.col("nv_b")).alias("cos")
    )
    return pairs.groupBy("label").agg(
        F.count("*").alias("n_pairs"),
        round4(F.avg("cos")).alias("avg_cos"),
        round4(F.max("cos")).alias("max_cos"),
    )


@register(
    "j5_shingling",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents
    )
    SELECT doc_id,
           CAST(len(words) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(words)) AS INTEGER) AS n_distinct_tokens,
           CAST(len({_SHINGLES}) AS INTEGER) AS n_shingles,
           list_sort({_SHINGLES})[1] AS first_shingle
    FROM toks
    """,
    survey="J5",
)
def j5_shingling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization + k-shingling statistics per document.

    r11 (guide §1.2 per-task work): the token array is projected once
    and the shingle transform is built over it (the old shape re-ran
    normalize+split inside ``shingles``), and ``first_shingle`` is
    ``array_min`` over the raw shingle array instead of a full
    ``array_sort(distinct)[0]`` — min(raw) ≡ sort(distinct)[0] (same
    comparator, distinct cannot change the minimum, empty → NULL in
    both), so values are identical with O(n) instead of O(n log n)
    per row and no sorted-copy allocation."""
    d = Tables(spark, sf_dir).documents
    # fan_out: the shingle HOFs are the whole query and a one-split local
    # scan serialized them on one core (no-op at real scale).
    toks = fan_out(d).select("doc_id", tx.tokens(F.col("text")).alias("w"))
    n = F.size("w") - F.lit(2)
    raw = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat_ws(" ", F.slice(F.col("w"), i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select(
        "doc_id",
        F.size("w").cast("int").alias("n_tokens"),
        F.size(F.array_distinct("w")).cast("int").alias("n_distinct_tokens"),
        F.size(F.array_distinct(raw)).cast("int").alias("n_shingles"),
        F.array_min(raw).alias("first_shingle"),
    )


@register(
    "j6_word_counts",
    oracle=f"""
    WITH w AS (
        SELECT unnest(string_split({_NORM}, ' ')) AS word FROM documents
    )
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n
    FROM w
    WHERE word NOT IN ('the', 'a', 'an', 'of', 'and', 'to', 'in', 'is', '')
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 25
    """,
    survey="J6",
)
def j6_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies with stopword removal, top-25 (unique
    tiebreak on the word itself keeps LIMIT deterministic)."""
    d = Tables(spark, sf_dir).documents
    stop = ["the", "a", "an", "of", "and", "to", "in", "is", ""]
    return (
        d.select(F.explode(tx.tokens(F.col("text"))).alias("word"))
        .filter(~F.col("word").isin(stop))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(25)
    )


@register(
    "j7_tfidf",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id AS doc, unnest(string_split({_NORM}, ' ')) AS term
        FROM documents
    ), tfc AS (
        SELECT doc, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tf GROUP BY 1, 2
    ), dfc AS (
        SELECT term, COUNT(DISTINCT doc) AS df FROM tfc GROUP BY 1
    ), nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT doc, tfc.term, tf, ROUND(tf * ln(n_docs / df), 4) AS tfidf
        FROM tfc JOIN dfc ON tfc.term = dfc.term CROSS JOIN nd
    )
    SELECT doc, term, tf, tfidf FROM (
        SELECT *, row_number() OVER (PARTITION BY doc ORDER BY tfidf DESC, term) AS rn
        FROM scored
    ) WHERE rn <= 3 AND doc < 50
    """,
    survey="J7,G3",
)
def j7_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-3 scoring terms per document (docs 0-49).

    The doc subset filter runs BEFORE the ranking window (legal: the window
    partitions by doc), so only the requested docs are sorted — Catalyst
    pushes the predicate through the term-stats join into the tf branch,
    while document frequencies stay corpus-wide (the doc_freq subtree has
    no doc column).  Measured ~2x on the query at sf0.1."""
    d = Tables(spark, sf_dir).documents
    scored = tx.tf_idf(d, "doc_id", "text").filter(F.col("doc") < 50)
    w = Window.partitionBy("doc").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc", "term", "tf", "tfidf")
    )


@register(
    "j8_corpus_stats",
    oracle="""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_chars), 2) AS avg_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY 1, 2
    """,
    survey="J8",
)
def j8_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus slicing: per (lang, source) length statistics."""
    d = Tables(spark, sf_dir).documents
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        round2(F.avg("n_chars")).alias("avg_chars"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


@register(
    "j9_quality_heuristics",
    oracle="""
    WITH t AS (
        SELECT doc_id, text,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words,
               length(text) AS nc
        FROM documents
    ), feats AS (
        SELECT doc_id,
               len(words) AS n_tokens,
               list_sum(list_transform(words, w -> length(w))) * 1.0 / len(words) AS mean_wl,
               length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / nc AS digit_ratio,
               length(regexp_replace(text, '[^ ]', '', 'g')) * 1.0 / nc AS space_ratio,
               len(list_distinct(words)) * 1.0 / len(words) AS dtr
        FROM t
    )
    SELECT doc_id,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           ROUND(mean_wl, 4) AS mean_word_len,
           ROUND(digit_ratio, 4) AS digit_ratio,
           ROUND(space_ratio, 4) AS space_ratio,
           ROUND(dtr, 4) AS distinct_token_ratio,
           CAST(CASE WHEN n_tokens >= 10 AND n_tokens <= 1000
                      AND mean_wl >= 2 AND mean_wl <= 12
                      AND dtr >= 0.2 THEN 1 ELSE 0 END AS INTEGER) AS quality_ok
    FROM feats
    """,
    survey="J9",
)
def j9_quality_heuristics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality features + composite filter flag."""
    d = Tables(spark, sf_dir).documents
    return tx.quality_features(d, "text").select(
        "doc_id",
        "n_tokens",
        "mean_word_len",
        "digit_ratio",
        "space_ratio",
        "distinct_token_ratio",
        "quality_ok",
    )


@register(
    "j9_language_id",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
        FROM documents
    ), hits AS (
        SELECT doc_id, lang,
               len(list_filter(words, w -> list_contains(['der','die','und','das','ist','mit','von','ein'], w))) AS h_de,
               len(list_filter(words, w -> list_contains(['the','and','of','to','in','is','for','with'], w))) AS h_en,
               len(list_filter(words, w -> list_contains(['el','la','de','que','los','con','una','por'], w))) AS h_es,
               len(list_filter(words, w -> list_contains(['le','la','les','des','est','une','dans','pour'], w))) AS h_fr,
               len(list_filter(words, w -> list_contains(['de5','shi4','zai4','you3','he2','wo3','le5','bu4'], w))) AS h_zh
        FROM t
    )
    SELECT doc_id, lang AS true_lang,
           CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
                WHEN h_zh >= greatest(h_de, h_en, h_es, h_fr) THEN 'zh'
                WHEN h_fr >= greatest(h_de, h_en, h_es) THEN 'fr'
                WHEN h_es >= greatest(h_de, h_en) THEN 'es'
                WHEN h_en >= h_de THEN 'en'
                ELSE 'de' END AS pred_lang
    FROM hits
    """,
    survey="J9",
)
def j9_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic marker-token language ID (argmax, later-alphabet wins ties
    — mirrored exactly by the oracle's cascaded >= comparisons)."""
    d = Tables(spark, sf_dir).documents
    return d.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        tx.language_id(F.col("text")).alias("pred_lang"),
    )


@register(
    "j9_language_id_learned",
    oracle="""
    WITH words AS (
        SELECT doc_id, lang,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
        FROM documents
    ), counts AS (
        SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM words WHERE doc_id % 10 = 0 GROUP BY lang, w
    ), grid AS (
        SELECT l.lang, v.w, COALESCE(c.c, 0) AS c
        FROM (SELECT DISTINCT lang FROM counts) l
        CROSS JOIN (SELECT DISTINCT w FROM counts) v
        LEFT JOIN counts c ON c.lang = l.lang AND c.w = v.w
    ), model AS (
        SELECT lang AS plang, w,
               CAST(ROUND(ln((c + 1) / CAST(SUM(c) OVER (PARTITION BY lang)
                                            + COUNT(*) OVER (PARTITION BY lang) AS DOUBLE)) * 1e6) AS BIGINT) AS lp_q
        FROM grid
    ), scores AS (
        SELECT doc_id, plang, SUM(lp_q) AS score
        FROM words JOIN model USING (w)
        WHERE doc_id % 10 <> 0
        GROUP BY doc_id, plang
    ), best AS (
        SELECT doc_id, plang FROM (
            SELECT doc_id, plang,
                   row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
            FROM scores
        ) WHERE rn = 1
    )
    SELECT d.doc_id, d.lang AS true_lang, COALESCE(b.plang, 'und') AS pred_lang
    FROM documents d LEFT JOIN best b USING (doc_id)
    WHERE d.doc_id % 10 <> 0
    """,
    survey="J9",
)
def j9_language_id_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned language ID (NEXT.md round-1 queue): naive-Bayes unigram
    model trained on the docs with doc_id % 10 == 0, applied to the other
    90% — replaces the hand-curated marker lexicon with corpus-derived
    frequency evidence (the corpus' languages share one vocabulary, so
    presence-based heuristics cap out).  Train + classify is deterministic
    joins/windows with integer-quantized log-probs, so the oracle
    value-checks the whole pipeline end to end."""
    d = Tables(spark, sf_dir).documents
    return tx.language_id_learned(d)


@register("j9_fingerprint", oracle=None, survey="J9")
def j9_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling document fingerprint (xxhash64 fold —
    rows-only; collision/determinism properties unit-tested)."""
    d = Tables(spark, sf_dir).documents
    return d.select("doc_id", tx.doc_fingerprint(F.col("text")).alias("fingerprint"))


@register(
    "llm_curation_funnel",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, text,
               string_split({_NORM}, ' ') AS words,
               length(text) AS nc
        FROM documents
    ), q AS (
        SELECT doc_id, lang, text, words FROM t
        WHERE len(words) BETWEEN 10 AND 1000
          AND list_sum(list_transform(words, w -> length(w))) * 1.0 / len(words) BETWEEN 2 AND 12
          AND len(list_distinct(words)) * 1.0 / len(words) >= 0.2
    ), s2 AS (
        SELECT doc_id, lang, text, words FROM q
        QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY md5({_NORM}))
    ), sh AS (
        SELECT DISTINCT doc_id, lang, unnest({_SHINGLES}) AS sh FROM s2
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), dropped AS (
        SELECT DISTINCT id_b FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE inter / (sa.sz + sb.sz - inter) >= 0.05
    ), s3 AS (
        SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT id_b FROM dropped)
    ), funnel AS (
        SELECT '0_all' AS stage, COUNT(*) AS n FROM documents
        UNION ALL SELECT '1_quality', COUNT(*) FROM q
        UNION ALL SELECT '2_exact_dedup', COUNT(*) FROM s2
        UNION ALL SELECT '3_near_dup', COUNT(*) FROM s3
    )
    SELECT stage, CAST(n AS BIGINT) AS n_docs,
           ROUND(n * 1.0 / (SELECT COUNT(*) FROM documents), 4) AS retained_pct
    FROM funnel
    """,
    survey="J1,J2,J9,H1,J-curation",
)
def llm_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation pipeline as one query:
    quality gate -> exact dedup -> near-dup keep-first prune, reported as
    per-stage survivor counts (operators/curation.py)."""
    from cassandra_snap_to_hadoop_spark.operators.curation import curation_funnel

    d = Tables(spark, sf_dir).documents
    return curation_funnel(d, "doc_id", "text", jaccard_threshold=0.05, block_col="lang")
