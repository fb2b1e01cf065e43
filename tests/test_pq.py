"""Product-quantization ANN tier (operators/pq.py, j3_knn_pq).

Pins the three properties the rows-only driver check can't see:
  * codebook training is deterministic and well-formed;
  * the JVM HOF encoder agrees EXACTLY with a numpy reference encoder
    (same argmin-on-ties convention) — the codegen fold is bit-faithful;
  * ADC top-k recall vs the exact brute-force tier clears a floor, and
    ADC distances are the true lookup-table sums (numpy cross-check).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.io import Tables
from cassandra_snap_to_hadoop_spark.operators import pq
from cassandra_snap_to_hadoop_spark.registry import load_all

REGISTRY = load_all()


def _normed(spark, sf_dir):
    """Embeddings with the same in-plan L2 normalization the registered
    query applies (squared L2 on the unit sphere is monotone with cosine)."""
    from cassandra_snap_to_hadoop_spark.operators.similarity import l2_normalize

    return Tables(spark, sf_dir).embeddings.withColumn(
        "embedding", l2_normalize(F.col("embedding"))
    )


@pytest.fixture(scope="module")
def emb_pdf(spark, sf_dir):
    return (
        _normed(spark, sf_dir)
        .select("vec_id", "embedding")
        .toPandas()
        .set_index("vec_id")
        .sort_index()
    )


@pytest.fixture(scope="module")
def books(spark, sf_dir):
    return pq.train_codebooks(_normed(spark, sf_dir), m=16, ksub=32, sample_n=400, iters=8, seed=7)


def _np_encode(x: np.ndarray, books: list[np.ndarray]) -> np.ndarray:
    m = len(books)
    dsub = books[0].shape[1]
    codes = np.empty((x.shape[0], m), dtype=np.int64)
    for j, cents in enumerate(books):
        sub = x[:, j * dsub : (j + 1) * dsub]
        d2 = (
            (sub * sub).sum(axis=1, keepdims=True)
            - 2.0 * (sub @ cents.T)
            + (cents * cents).sum(axis=1)
        )
        codes[:, j] = d2.argmin(axis=1)
    return codes


def test_training_deterministic_and_well_formed(spark, sf_dir, books):
    again = pq.train_codebooks(_normed(spark, sf_dir), m=16, ksub=32, sample_n=400, iters=8, seed=7)
    assert len(books) == 16
    for b1, b2 in zip(books, again):
        assert b1.shape == (32, 4)
        np.testing.assert_array_equal(b1, b2)
        assert np.isfinite(b1).all()


def test_jvm_encode_matches_numpy_reference(spark, sf_dir, books, emb_pdf):
    got = {
        r.vec_id: list(r.codes)
        for r in pq.encode(_normed(spark, sf_dir), books).select("vec_id", "codes").collect()
    }
    x = np.array(list(emb_pdf["embedding"]), dtype=np.float64)
    want = _np_encode(x, books)
    for i, vid in enumerate(emb_pdf.index):
        assert got[vid] == list(want[i]), f"vec {vid}: {got[vid]} != {list(want[i])}"


def test_adc_tier_distances_are_true_lut_sums(spark, sf_dir, books, emb_pdf):
    """The raw ADC shortlist tier: reported approximate distances must be
    exactly the numpy lookup-table sums (same codes, same codebooks)."""
    e = _normed(spark, sf_dir)
    coded = pq.encode(e, books).select("vec_id", "codes")
    queries = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = pq.adc_topk(coded, queries, books, k=10).collect()
    x = np.array(list(emb_pdf["embedding"]), dtype=np.float64)
    codes = _np_encode(x, books)
    idx = {vid: i for i, vid in enumerate(emb_pdf.index)}
    dsub = books[0].shape[1]
    by_q: dict[int, list] = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1}
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rn)
        assert [r.rn for r in rows] == list(range(1, 11))
        dists = [r.adist for r in rows]
        assert dists == sorted(dists)
        qv = x[idx[q]]
        for r in rows:
            want = 0.0
            for j, cents in enumerate(books):
                sub = qv[j * dsub : (j + 1) * dsub]
                c = cents[codes[idx[r.neighbor_id], j]]
                want += float(((sub - c) ** 2).sum())
            assert abs(want - r.adist) < 1e-3, (q, r.neighbor_id, want, r.adist)


def test_rerank_query_recall_and_exact_cosines(spark, sf_dir, emb_pdf):
    """The registered query (ADC shortlist-50 -> exact cosine top-5):
    reported cosines must be the TRUE cosines (re-rank is exact), and
    recall@5 vs brute force must clear the floor.  Measured 0.95 on this
    fixture (m=16, ksub=32, shortlist=50); floor leaves slack for
    codebook sensitivity while staying far above chance (5 of ~500)."""
    res = REGISTRY["j3_knn_pq"].fn(spark, sf_dir).collect()
    exact = REGISTRY["j3_knn_bruteforce"].fn(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(8))

    x = np.array(list(emb_pdf["embedding"]), dtype=np.float64)
    idx = {vid: i for i, vid in enumerate(emb_pdf.index)}
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rn)
        assert [r.rn for r in rows] == [1, 2, 3, 4, 5]
        assert all(r.neighbor_id != q for r in rows)
        assert [r.cos for r in rows] == sorted((r.cos for r in rows), reverse=True)
        for r in rows:
            true_cos = float(x[idx[q]] @ x[idx[r.neighbor_id]])
            assert abs(true_cos - r.cos) < 1e-3, (q, r.neighbor_id, true_cos, r.cos)

    ex_by_q: dict[int, set] = {}
    for r in exact:
        ex_by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(
        len(ex_by_q[q] & {r.neighbor_id for r in rows}) for q, rows in by_q.items()
    )
    recall = hits / (len(by_q) * 5)
    assert recall >= 0.7, f"recall@5 {recall}"


def test_codes_are_compact_ints(spark, sf_dir, books):
    stats = (
        pq.encode(_normed(spark, sf_dir), books)
        .select(F.explode("codes").alias("c"))
        .agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
        .collect()[0]
    )
    assert 0 <= stats.lo and stats.hi <= 31


def _small_books(seed: int = 3) -> list[np.ndarray]:
    rng = np.random.default_rng(seed)
    return [rng.random((4, 2)) for _ in range(3)]  # m=3, ksub=4, dsub=2


def test_encode_kernel_is_offset_safe():
    """A sliced column (non-zero offset into its list values, as a sliced
    Arrow batch has) encodes to the same codes as the matching rows of
    the unsliced column."""
    import pyarrow as pa

    books = _small_books()
    x = np.random.default_rng(4).random((10, 6))
    col = pa.array(x.tolist(), type=pa.list_(pa.float64()))
    full = pq._encode_column(col, "embedding", books)
    np.testing.assert_array_equal(full, _np_encode(x, books))
    sliced = col.slice(4, 5)
    assert sliced.offset == 4
    np.testing.assert_array_equal(pq._encode_column(sliced, "embedding", books), full[4:9])


def test_encode_null_embedding_names_the_column(spark):
    import pyarrow as pa

    books = _small_books()
    col = pa.array([[0.1] * 6, None], type=pa.list_(pa.float64()))
    with pytest.raises(ValueError, match="column 'embedding' has 1 null row"):
        pq._encode_column(col, "embedding", books)
    df = spark.createDataFrame(
        [(1, [0.1] * 6), (2, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="column 'embedding' has 1 null row"):
        pq.encode(df, books).collect()
