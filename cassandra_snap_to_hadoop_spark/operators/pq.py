"""Product-quantization ANN (SURVEY §2 J3, scale tier 4).

Completes the ANN ladder: exact brute force -> IVF probe -> SRP-LSH
buckets -> **PQ codes**.  Product quantization (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 — the FAISS `PQx`
index family) compresses each D-dim vector into M small codes (one per
D/M-dim subspace, each the id of the nearest of K learned sub-centroids),
then answers queries with *asymmetric distance computation* (ADC): the
query precomputes an M×K lookup table of exact subspace distances and a
corpus vector's approximate distance is just M table lookups summed.

Spark-first shape, and why it survives 100 TB:

  * **Training is sample-based** (exactly as FAISS practice): a bounded,
    deterministically-chosen sample (md5-ordered ids, so re-ingestion
    stable) trains M independent k-means codebooks on the driver with
    numpy.  The collect is O(sample_n * D) floats — KB-to-MB scale,
    independent of corpus size; codebooks (M*K*D/M doubles) ship to
    executors as plan literals.
  * **Encoding is one corpus scan, fully JVM-side**: nearest-sub-centroid
    per subspace is a higher-order-function fold over the literal
    codebook (slice -> zip_with -> aggregate), whole-stage-codegen
    resident — no Python in the per-row path, no shuffle.  The encoded
    corpus is M bytes/vector (vs 8*D for raw doubles): a 100 TB float
    corpus becomes ~1.6 TB of codes, which is what makes exhaustive ADC
    scans feasible at all.
  * **ADC scoring joins corpus codes against broadcast queries** (each
    query carrying its precomputed LUT as a literal-built column), so the
    big side is never shuffled; per-pair cost is M array lookups.  Top-k
    per query via the usual row_number window over (query, -dist).

Determinism: fixed seed + fixed iteration count + deterministic sample
order + deterministic empty-cluster reseeding => identical codebooks for
identical input, so the registered query is reproducible (rows-only in
the driver gate: the learned codebooks are engine-specific by nature,
like the KMeans-IVF and LSH tiers).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def train_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    sample_n: int = 2048,
    iters: int = 10,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[np.ndarray]:
    """Learn M per-subspace codebooks, each (ksub, D/M) float64.

    Lloyd's algorithm on a driver-side sample.  The sample is the first
    ``sample_n`` rows by md5(id) — a deterministic pseudo-random order that
    is stable across re-ingestion (same policy as the j12/j22 split
    queries).  Empty clusters are reseeded to the point farthest from its
    assigned centroid (deterministic, no RNG in the loop)."""
    rows = (
        corpus.select(F.col(vec_col).alias("v"), F.md5(F.col(id_col).cast("string")).alias("h"))
        .orderBy("h")
        .limit(sample_n)
        .collect()
    )
    x = np.array([r.v for r in rows], dtype=np.float64)
    n, d = x.shape
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    if n < ksub:
        raise ValueError(f"sample ({n}) smaller than ksub ({ksub})")
    dsub = d // m
    rng = np.random.default_rng(seed)
    books: list[np.ndarray] = []
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        cents = sub[rng.choice(n, size=ksub, replace=False)].copy()
        for _ in range(iters):
            # (n, ksub) squared distances via the expanded form
            d2 = (
                (sub * sub).sum(axis=1, keepdims=True)
                - 2.0 * (sub @ cents.T)
                + (cents * cents).sum(axis=1)
            )
            assign = d2.argmin(axis=1)
            # distance of each point to ITS centroid; reseeded points are
            # knocked out so two clusters emptied in the same iteration
            # cannot both grab the same farthest point (duplicate centroids)
            own_d2 = d2[np.arange(n), assign].copy()
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
                else:  # deterministic reseed: farthest unclaimed point
                    far = int(own_d2.argmax())
                    cents[c] = sub[far]
                    assign[far] = c
                    own_d2[far] = -np.inf
        books.append(cents)
    return books


def _lit_matrix(mat: np.ndarray) -> Column:
    """(k, d) numpy -> array<array<double>> literal column.

    r11 (guide §1.2 per-task work, applied to the DRIVER): ONE ``F.expr``
    per matrix — the old ``F.array(F.array(F.lit(...)))`` nesting (and
    ``F.lit(list)``, which PySpark expands to the same thing) made k·d
    py4j round-trips per call site (16 codebooks × 2 call sites ≈ 4k
    calls), which dominated the PQ queries' plan-BUILD time.  The SQL
    string parses JVM-side in one call; ``repr`` emits the shortest
    round-trip decimal and Java's parseDouble returns the identical
    bits, so values are unchanged.

    r12 (ADVICE r11): non-finite centroid values (a NaN embedding
    propagated through k-means) would render as 'nanD'/'infD', which the
    SQL parser rejects — turning a data problem into an opaque plan-build
    ParseException.  Fail with a clear message instead."""
    import math

    if not all(math.isfinite(float(v)) for row in mat for v in row):
        raise ValueError(
            "_lit_matrix: non-finite centroid value (NaN/Inf embedding "
            "reached codebook training); clean or filter the vector input"
        )
    rows = ",".join(
        "array(" + ",".join(repr(float(v)) + "D" for v in row) + ")" for row in mat
    )
    return F.expr(f"array({rows})")


def _sub_d2(subvec: Column, cent: Column) -> Column:
    """Squared L2 distance between two equal-length double arrays, as a
    codegen fold (no Python)."""
    return F.aggregate(
        F.zip_with(subvec, cent, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def encode_expr(vec_col: Column, codebooks: list[np.ndarray]) -> Column:
    """array<int> of M nearest-sub-centroid codes for ``vec_col``.

    Entirely JVM-side: per subspace, slice out the subvector, fold squared
    distances against the literal codebook, take argmin (first index on
    ties — matches numpy argmin, which the parity test relies on)."""
    m = len(codebooks)
    dsub = codebooks[0].shape[1]
    codes = []
    for j in range(m):
        sub = F.slice(vec_col, j * dsub + 1, dsub).cast("array<double>")
        dists = F.transform(_lit_matrix(codebooks[j]), lambda c: _sub_d2(sub, c))
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return F.array(*codes)


def _fold_d2_matrix(sub: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(n, dsub) x (ksub, dsub) -> (n, ksub) squared L2 distances with the
    SAME sequential accumulation order as the JVM ``_sub_d2`` fold
    (((0 + d0²) + d1²) + ...): one IEEE-double add per dimension, in index
    order, so distances — and therefore argmin code assignment and ADC
    sums — are bit-identical to the HOF tier they replace."""
    n, dsub = sub.shape
    acc = np.zeros((n, cents.shape[0]), dtype=np.float64)
    for t in range(dsub):
        d = sub[:, t : t + 1] - cents[None, :, t]
        acc = acc + d * d
    return acc


def _list_matrix(col, name: str, width: int, dtype) -> np.ndarray:
    """An Arrow list column as an (n, width) matrix.  ``flatten()``
    honours a sliced array's offset, which ``.values`` does not; a null
    row has no vector to flatten and is refused by column name."""
    if col.null_count:
        raise ValueError(
            f"column {name!r} has {col.null_count} null row(s); the PQ "
            f"kernels need a length-{width} vector in every row"
        )
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return np.asarray(flat, dtype=dtype).reshape(len(col), width)


def _encode_column(col, name: str, books: list[np.ndarray]) -> np.ndarray:
    """(n, M) PQ codes for one Arrow batch's vector column."""
    dsub = books[0].shape[1]
    mat = _list_matrix(col, name, len(books) * dsub, np.float64)
    codes = np.empty((len(col), len(books)), dtype=np.int32)
    for j, book in enumerate(books):
        d2 = _fold_d2_matrix(mat[:, j * dsub : (j + 1) * dsub], book)
        codes[:, j] = d2.argmin(axis=1)
    return codes


def encode(
    corpus: DataFrame, codebooks: list[np.ndarray], vec_col: str = "embedding"
) -> DataFrame:
    """Corpus with a ``codes`` column (array<int>, length M) appended.

    r12 (guide §4.2, VERDICT r11 item 4): the per-row encode used to be the
    ``encode_expr`` HOF ladder — M×K zip_with/aggregate folds that Spark
    evaluates INTERPRETED per element (higher-order lambdas do not codegen),
    which made the encode pass the PQ query's dominant cost.  It is now one
    ``mapInArrow`` numpy kernel per batch (the j86/j107 precedent): distances
    accumulate in the same sequential order as the fold (bit-identical codes
    — pinned against the numpy reference in tests/test_pq.py), all other
    columns pass through untouched as Arrow buffers."""
    import pyarrow as pa
    from pyspark.sql import types as T

    m = len(codebooks)
    books = [np.ascontiguousarray(b, dtype=np.float64) for b in codebooks]

    def encode_batches(batches):
        for batch in batches:
            codes = _encode_column(batch.column(vec_col), vec_col, books)
            offsets = pa.array(np.arange(len(codes) + 1, dtype=np.int32) * m)
            codes_arr = pa.ListArray.from_arrays(offsets, pa.array(codes.ravel()))
            yield batch.append_column("codes", codes_arr)

    out_schema = T.StructType(corpus.schema.fields + [
        T.StructField("codes", T.ArrayType(T.IntegerType()))
    ])
    return corpus.mapInArrow(encode_batches, out_schema)


def adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list[np.ndarray],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance top-k: smallest approximate squared L2 first.

    The query side precomputes its M×K lookup table (exact subspace
    distances to every sub-centroid); a corpus vector's approximate
    distance is M table lookups summed.

    r12 (guide §4.2, VERDICT r11 item 4): the scoring used to be a
    broadcast join of every corpus row against every query with an
    interpreted zip_with/aggregate fold per pair.  It is now ONE
    ``mapInArrow`` kernel over the encoded corpus: queries are collected
    once (bounded by the same contract that let them broadcast — KB-scale),
    their LUTs are built with the fold's exact sequential add order (bit-
    identical adist), and each batch emits only its per-query partial top-k
    (the knn_bruteforce_arrow pattern), so the final window sees
    O(batches·q·k) rows instead of O(n·q)."""
    import pyarrow as pa

    m = len(codebooks)
    books = [np.ascontiguousarray(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]
    q_rows = queries.select(query_id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    nq = len(q_ids)
    # (nq, m, ksub) LUT, accumulated dimension-by-dimension like the fold.
    luts = np.empty((nq, m, books[0].shape[0]), dtype=np.float64)
    for j in range(m):
        luts[:, j, :] = _fold_d2_matrix(q_mat[:, j * dsub : (j + 1) * dsub], books[j])

    def adc_batches(batches):
        for batch in batches:
            ids = batch.column(id_col).to_numpy(zero_copy_only=False)
            n = len(ids)
            codes = _list_matrix(batch.column("codes"), "codes", m, np.int64)
            # (n, nq) ADC sums, one lookup-add per subspace in j order —
            # the fold's exact add sequence.
            acc = np.zeros((n, nq), dtype=np.float64)
            for j in range(m):
                acc = acc + luts[:, j, codes[:, j]].T
            out_q, out_n, out_d = [], [], []
            for qi in range(nq):
                mask = ids != q_ids[qi]
                cand_ids = ids[mask]
                cand_d = acc[mask, qi]
                order = np.lexsort((cand_ids, cand_d))[: min(k, len(cand_ids))]
                out_q.extend([q_ids[qi]] * len(order))
                out_n.extend(cand_ids[order])
                out_d.extend(cand_d[order])
            yield pa.RecordBatch.from_pydict(
                {
                    query_id_col: np.asarray(out_q, dtype=np.int64),
                    "neighbor_id": np.asarray(out_n, dtype=np.int64),
                    "adist": np.asarray(out_d, dtype=np.float64),
                }
            )

    scored = corpus_codes.select(id_col, "codes").mapInArrow(
        adc_batches, f"{query_id_col} long, neighbor_id long, adist double"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("adist").asc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            F.round("adist", 4).alias("adist"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


def adc_topk_rerank(
    corpus_codes: DataFrame,
    corpus_vecs: DataFrame,
    queries: DataFrame,
    codebooks: list[np.ndarray],
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ ANN with exact re-ranking (the FAISS ``IndexPQ`` + refine
    pattern): ADC over the compressed corpus shortlists ``shortlist``
    candidates per query, then exact cosine re-scores ONLY the shortlist
    and keeps top-k.

    This is the production PQ shape: the full corpus is touched only as
    M-byte codes (the cheap exhaustive pass); original vectors are fetched
    for q*shortlist rows via an equi join with the BROADCAST shortlist —
    at 100 TB the wide-vector table is never shuffled and never fully
    read beyond the candidate rows surviving parquet row-group pruning.
    Quantization error then only costs recall where a true neighbor falls
    outside the shortlist, which widening ``shortlist`` repairs at M-byte
    scan cost, not vector-scan cost."""
    cand = adc_topk(
        corpus_codes, queries, codebooks, k=shortlist,
        id_col=id_col, query_id_col=query_id_col,
    ).select(query_id_col, "neighbor_id")
    vecs = corpus_vecs.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nvec"))
    q = queries.select(query_id_col, F.col(vec_col).alias("__qvec"))
    from cassandra_snap_to_hadoop_spark.operators.similarity import cosine

    scored = (
        vecs.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            "neighbor_id",
            cosine(F.col("__qvec"), F.col("__nvec")).alias("cos"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            F.round("cos", 4).alias("cos"),
            F.col("rn").cast("int").alias("rn"),
        )
    )
