"""Vector similarity search (SURVEY §2-J3/J4) over embedding columns.

Vector math uses array higher-order functions (``zip_with`` + ``aggregate``)
— JVM-side, no Python boundary, works on ``array<float>`` directly.  The
scale ladder:

  brute force   — queries broadcast against the corpus; per-row dot product,
                  top-k via per-query window.  Right answer, O(|Q| * n) —
                  fine when |Q| is small, the baseline oracle otherwise.
  IVF (blocked) — corpus pre-clustered (here: the ``label`` column or
                  k-means centroids); queries probe only the nearest
                  cluster(s).  Cuts the scan to n/clusters per query.
  LSH (random   — sign-random-projection bucket keys; candidates collide on
  hyperplanes)    band keys, exact re-rank inside buckets.  Fully
                  shuffle-bounded, no broadcast of the corpus, the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cassandra_snap_to_hadoop_spark.io import fan_out
from cassandra_snap_to_hadoop_spark.operators.dedup import blocked_pairs


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns (JVM higher-order fns)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm (mirrored in
    oracles — FIXTURES.md §3.3 edge-case rule)."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb))


def l2_normalize(a: Column) -> Column:
    n = l2_norm(a)
    return F.when(n > 0, F.transform(a, lambda v: v.cast("double") / n))


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is broadcast (the small side by construction); the corpus is
    scanned once, cosine computed row-wise, and a per-query window keeps the
    top k.  Ties break on neighbor id for determinism.

    Both sides are L2-normalized per ROW before the pair expansion, so the
    per-pair cost is one fused dot product instead of dot + two norms —
    the per-pair term is what multiplies by |Q|·n.
    """
    q = queries.select(
        F.col(query_id_col),
        l2_normalize(F.col(vec_col)).alias("__qnorm"),
    )
    c = fan_out(corpus).select(
        F.col(id_col), l2_normalize(F.col(vec_col)).alias("__cnorm")
    )
    joined = c.join(F.broadcast(q), F.col(query_id_col) != F.col(id_col))
    scored = joined.select(
        query_id_col,
        F.col(id_col).alias("neighbor_id"),
        F.when(
            F.col("__qnorm").isNotNull() & F.col("__cnorm").isNotNull(),
            dot(F.col("__qnorm"), F.col("__cnorm")),
        ).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, "neighbor_id", F.round("cos", 4).alias("cos"), F.col("rn").cast("int").alias("rn"))
    )


def ivf_centroids(corpus: DataFrame, cluster_col: str, vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Per-cluster centroid via posexplode -> positional mean -> re-assemble.
    Distributed on (cluster, position): no vector ever sits whole in an
    aggregation buffer, so dim and cluster count scale independently."""
    pos = corpus.select(
        F.col(cluster_col).alias("cluster"), F.posexplode(F.col(vec_col)).alias("pos", "v")
    )
    means = pos.groupBy("cluster", "pos").agg(F.avg(F.col("v").cast("double")).alias("m"))
    return (
        means.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cluster", F.transform("pm", lambda s: s.getField("m")).alias("centroid"))
    )


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    cluster_col: str = "label",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_probe: int = 1,
) -> DataFrame:
    """IVF-style ANN: route each query to its ``n_probe`` nearest centroids,
    then exact top-k only within those clusters.  The equi-join on cluster id
    replaces the all-pairs scan — per-query work drops to n/n_clusters."""
    cents = ivf_centroids(corpus, cluster_col, vec_col)
    q = queries.select(query_id_col, F.col(vec_col).alias("__qvec"))
    probe_w = Window.partitionBy(query_id_col).orderBy(F.col("cdist").desc(), F.col("cluster"))
    routed = (
        q.join(F.broadcast(cents))
        .withColumn("cdist", cosine(F.col("__qvec"), F.col("centroid")))
        .withColumn("prn", F.row_number().over(probe_w))
        .filter(F.col("prn") <= n_probe)
        .select(query_id_col, "__qvec", "cluster")
    )
    cand = corpus.join(
        routed,
        (F.col(cluster_col) == F.col("cluster")) & (F.col(id_col) != F.col(query_id_col)),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            cosine(F.col("__qvec"), F.col(vec_col)).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, "neighbor_id", F.round("cos", 4).alias("cos"), F.col("rn").cast("int").alias("rn"))
    )


def kmeans_assign(
    corpus: DataFrame,
    n_clusters: int = 16,
    seed: int = 7,
    vec_col: str = "embedding",
    cluster_col: str = "__cluster",
    max_iter: int = 8,
) -> DataFrame:
    """Learn IVF cells with MLlib KMeans (fixed seed => deterministic given
    fixed input) and return the corpus with an integer cell-assignment
    column.  This replaces label-blocking as the IVF partitioner when no
    natural blocking key exists: training is O(iters * k * n) distributed,
    and the model (k dim-sized centers) broadcasts for assignment.  At
    100 TB, fit on a sample (``corpus.sample``) — centroid quality converges
    long before the full corpus is seen."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = corpus.withColumn("__v", array_to_vector(F.col(vec_col)))
    # max_iter=8: an ANN cell index needs balanced cells, not converged
    # Lloyd's — k-means|| seeding does most of the work, and each extra
    # iteration is a full corpus pass at scale
    model = KMeans(
        k=n_clusters, seed=seed, maxIter=max_iter, featuresCol="__v", predictionCol=cluster_col
    ).fit(vecs)
    return model.transform(vecs).drop("__v")


def srp_bucket_keys(vec: Column, planes: list[list[float]], bands: int) -> Column:
    """Sign-random-projection LSH: hyperplane sign bits grouped into band
    keys.  ``planes`` are fixed (seeded) so results are deterministic."""
    bits = [
        F.when(dot(vec, F.array(*[F.lit(p) for p in plane])) >= 0, F.lit(1)).otherwise(F.lit(0))
        for plane in planes
    ]
    per_band = len(bits) // bands
    return F.array(
        *[
            F.concat_ws(
                "",
                F.lit(str(b)),
                *(bits[b * per_band + r].cast("string") for r in range(per_band)),
            )
            for b in range(bands)
        ]
    )


def make_planes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — no numpy dependency in
    the plan, values inlined as literals)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 33) / float(1 << 31)) - 1.0)
        planes.append(row)
    return planes


def similarity_join_lsh(
    corpus: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 24,
    bands: int = 4,
) -> DataFrame:
    """All-pairs similarity self-join above ``threshold`` via SRP-LSH:
    bucket on band keys (:func:`blocked_pairs`), exact cosine
    re-rank inside buckets only.
    6 sign bits per band => 64 buckets/band; candidate volume per band is
    Σ bucket² — the bits-per-band knob trades recall for that quadratic
    term and is the thing to raise first when the corpus grows."""
    planes = make_planes(dim, n_planes)
    keyed = fan_out(corpus).select(
        F.col(id_col).alias("id"),
        l2_normalize(F.col(vec_col)).alias("vec"),
        F.explode(srp_bucket_keys(F.col(vec_col), planes, bands)).alias("bkey"),
    )
    # r11 (guide §2.3 "shuffle fewer bytes"): cosine is computed INSIDE
    # the band join and the threshold filter runs before the dedup, so
    # the distinct exchange carries (id, id, cos) instead of two
    # 64-double vectors per candidate.  A pair colliding in k bands pays
    # k dots (k ≤ bands) but the dot is deterministic on identical
    # operands, so the duplicates are bit-identical rows and
    # distinct-after-filter ≡ filter-after-distinct: same output rows.
    return (
        blocked_pairs(keyed, "id", ["bkey"], carry=("vec",))
        .select(
            "id_a",
            "id_b",
            F.round(dot(F.col("vec_a"), F.col("vec_b")), 4).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .distinct()
    )


def range_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """J3 variant: ALL corpus neighbors within a cosine-similarity radius
    of each query (range/radius search), not a fixed top-k.

    Same scale posture as ``knn_bruteforce``: queries broadcast, corpus
    scanned once, both sides row-pre-normalized so the |Q|·n inner term is
    one fused dot; the threshold filter runs inside the same projection so
    nothing wider than (query_id, neighbor_id, cos) survives the scan
    stage.  No window needed — output size is data-dependent, which is the
    operator's point; at 100 TB the same bucketed-LSH ladder as knn bounds
    the candidate set first.
    """
    q = queries.select(F.col(query_id_col), l2_normalize(F.col(vec_col)).alias("__qnorm"))
    c = fan_out(corpus).select(F.col(id_col), l2_normalize(F.col(vec_col)).alias("__cnorm"))
    joined = c.join(F.broadcast(q), F.col(query_id_col) != F.col(id_col))
    scored = joined.select(
        query_id_col,
        F.col(id_col).alias("neighbor_id"),
        F.when(
            F.col("__qnorm").isNotNull() & F.col("__cnorm").isNotNull(),
            dot(F.col("__qnorm"), F.col("__cnorm")),
        ).alias("cos"),
    )
    return scored.filter(F.col("cos") >= threshold).select(
        query_id_col, "neighbor_id", F.round(F.col("cos"), 4).alias("cos")
    )


def knn_bruteforce_arrow(
    corpus: DataFrame,
    queries_mat,  # numpy (q, d) float64, L2-normalized rows
    query_ids,  # list[int], parallel to queries_mat rows
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force KNN, Arrow/BLAS tier: the same exact math as
    ``knn_bruteforce`` executed as a blocked matrix multiply instead of a
    per-row higher-order fold.

    Each Arrow record batch becomes a (n, d) float64 matrix; one
    ``C @ Q.T`` BLAS call scores the whole batch against every query, and
    only each batch's top-k survive into the final per-query window — so
    the Python boundary emits O(batches * q * k) rows, not O(n * q).
    The query matrix rides the task closure (queries are small by the
    same contract that lets the HOF tier broadcast them).  This is the
    vectorized scale path for wide embeddings: per-pair cost is a fused
    SIMD multiply-add in BLAS rather than a JVM lambda per element.
    Last-ulp float drift vs the sequential HOF fold is possible (pairwise
    vs sequential summation) — outputs round to 4dp like the HOF tier."""
    import numpy as np
    import pyarrow as pa

    q_mat = np.ascontiguousarray(queries_mat, dtype=np.float64)
    q_ids = np.asarray(query_ids, dtype=np.int64)
    dim = q_mat.shape[1]

    def score_batches(batches):
        for batch in batches:
            ids = batch.column(id_col).to_numpy(zero_copy_only=False)
            col = batch.column(vec_col)
            try:
                mat = np.asarray(col.values.to_numpy(zero_copy_only=False), dtype=np.float64).reshape(
                    len(ids), dim
                )
            except Exception:  # non-contiguous / null-bearing fallback
                mat = np.array(col.to_pylist(), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            np.divide(mat, norms, out=mat, where=norms > 0)
            sims = mat @ q_mat.T  # (n, q)
            kk = min(k + 1, len(ids))  # +1 absorbs a query matching itself
            top = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # (kk, q)
            out_q, out_n, out_c = [], [], []
            for j in range(q_mat.shape[0]):
                rows = top[:, j]
                out_q.extend([q_ids[j]] * len(rows))
                out_n.extend(ids[rows])
                out_c.extend(sims[rows, j])
            yield pa.RecordBatch.from_pydict(
                {
                    "query_id": np.asarray(out_q, dtype=np.int64),
                    "neighbor_id": np.asarray(out_n, dtype=np.int64),
                    "cos": np.asarray(out_c, dtype=np.float64),
                }
            )

    cand = fan_out(corpus).select(id_col, vec_col).mapInArrow(
        score_batches, "query_id long, neighbor_id long, cos double"
    )
    cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos"),
            F.col("rn").cast("int").alias("rn"),
        )
    )
