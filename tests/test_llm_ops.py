"""Unit + recall tests for the LLM-pipeline operators (dedup, similarity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.io import load
from cassandra_snap_to_hadoop_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash,
)
from cassandra_snap_to_hadoop_spark.operators.similarity import knn_bruteforce, knn_ivf

DOCS = "doc_id long, text string"


def test_exact_dedup_normalization(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello  World"),
            (2, "hello world"),  # same after normalize -> dup of 1
            (3, "HELLO   WORLD "),  # dup of 1
            (4, "different doc"),
            (5, ""),  # empty survives as its own group
        ],
        DOCS,
    )
    out = {r.survivor_id: r.dup_count for r in exact_dedup(df, "doc_id", "text").collect()}
    assert out == {1: 3, 4: 1, 5: 1}


def test_jaccard_pairs_identical_docs_score_1(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "a completely unrelated document about spark engines"),
        ],
        DOCS,
    )
    pairs = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.5).collect()}
    assert pairs == {(1, 2): 1.0}


def test_containment_dominates_jaccard(spark, sf_dir):
    """For every pair, containment = inter/min(|A|,|B|) >= jaccard =
    inter/union — the subset-duplicate detector can only be more
    sensitive.  Also: a doc fully embedded in a longer one must score
    containment 1.0 while its Jaccard is well below the threshold."""
    from cassandra_snap_to_hadoop_spark.operators.dedup import containment_pairs

    docs = load(spark, sf_dir, "documents").limit(200)
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.0).collect()
    }
    cont = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(docs, "doc_id", "text", k=3, threshold=0.0).collect()
    }
    assert set(jac) == set(cont)  # same candidate pairs (inter >= 1)
    for p, j in jac.items():
        assert cont[p] >= j - 1e-9, (p, cont[p], j)

    # synthetic subset: short doc quoted verbatim inside a much longer one
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "intro words here alpha beta gamma delta epsilon zeta "
            + " ".join(f"filler{i} pad{i} more{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    c = {(r.id_a, r.id_b): r.containment
         for r in containment_pairs(df, "doc_id", "text", k=3, threshold=0.5).collect()}
    assert c[(1, 2)] == 1.0
    j2 = jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.5).collect()
    assert not j2  # Jaccard misses the absorbed copy at the same threshold


def test_minhash_lsh_finds_near_duplicates(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    near = base.replace("delta", "delta2", 1)  # one shingle changed
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, "totally different words entirely here now " * 4)], DOCS
    )
    cand = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in cand
    assert (1, 3) not in cand and (2, 3) not in cand


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5).collect()
    }
    cand = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()}
    # every strongly-similar pair must be recalled by the banded LSH
    assert exact <= cand or len(exact) == 0


def test_dup_clusters_connected_components(spark):
    """Hand-built graph: chain 1-2-3, pair 10-11, isolates 20/21."""
    from cassandra_snap_to_hadoop_spark.operators.dedup import dup_clusters

    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 20, 21]], "id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    got = {r.id: r.cluster_id for r in dup_clusters(nodes, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 21}


def test_dup_clusters_long_chain_converges(spark):
    """A 12-node path needs multiple propagation rounds — exercises the
    fixpoint loop, not just one iteration."""
    from cassandra_snap_to_hadoop_spark.operators.dedup import dup_clusters

    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    got = {r.id: r.cluster_id for r in dup_clusters(nodes, pairs).collect()}
    assert got == {i: 0 for i in range(n)}


def test_dup_clusters_reports_convergence(spark):
    """A 6-node path needs 5 label hops: 2 rounds leave labels changing
    (not converged), the default budget reaches the fixpoint."""
    from cassandra_snap_to_hadoop_spark.operators.dedup import dup_clusters

    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(5)], "id_a long, id_b long")
    cut: dict = {}
    dup_clusters(nodes, pairs, max_iterations=2, stats=cut)
    assert cut == {"rounds": 2, "converged": False}
    full: dict = {}
    got = {r.id: r.cluster_id for r in dup_clusters(nodes, pairs, stats=full).collect()}
    assert got == {i: 0 for i in range(6)}
    assert full["converged"] is True


BLOCKS = "id long, k string, v long"


def _blocks(spark, rows):
    return spark.createDataFrame(rows, BLOCKS)


def test_blocked_pairs_contract(spark):
    """Blocks of 1, 2 and 4 rows plus two null-keyed rows: C(n,2) pairs
    per block, id_a < id_b everywhere, carried columns from each side,
    and the null key pairs with nothing."""
    from itertools import combinations

    from cassandra_snap_to_hadoop_spark.operators.dedup import blocked_pairs

    rows = [(1, "a", 10), (2, "b", 20), (3, "b", 30)]
    rows += [(i, "c", i * 10) for i in (4, 5, 6, 7)]
    rows += [(8, None, 80), (9, None, 90)]
    got = blocked_pairs(_blocks(spark, rows), "id", ["k"], carry=("v",))
    assert got.columns == ["id_a", "id_b", "k", "v_a", "v_b"]
    out = got.collect()
    assert len(out) == 0 + 1 + 6
    assert all(r.id_a < r.id_b for r in out)
    assert all((r.v_a, r.v_b) == (r.id_a * 10, r.id_b * 10) for r in out)
    want = {(2, 3, "b")} | {(a, b, "c") for a, b in combinations((4, 5, 6, 7), 2)}
    assert {(r.id_a, r.id_b, r.k) for r in out} == want


def test_blocked_pairs_edge_inputs(spark):
    """Empty and one-row inputs give no pairs; two ids sharing two blocks
    give one row per shared block (no distinct: the intersection counters
    count these rows)."""
    from cassandra_snap_to_hadoop_spark.operators.dedup import blocked_pairs

    assert blocked_pairs(_blocks(spark, []), "id", ["k"]).count() == 0
    assert blocked_pairs(_blocks(spark, [(1, "a", 0)]), "id", ["k"]).count() == 0
    two = _blocks(spark, [(1, "p", 0), (1, "q", 0), (2, "p", 0), (2, "q", 0)])
    got = sorted(tuple(r) for r in blocked_pairs(two, "id", ["k"]).collect())
    assert got == [(1, 2, "p"), (1, 2, "q")]
    # both keys must match: (k, v) blocks split the shared "p"
    two_keys = _blocks(spark, [(1, "p", 0), (2, "p", 1), (3, "p", 1)])
    assert [tuple(r) for r in blocked_pairs(two_keys, "id", ["k", "v"]).collect()] == [
        (2, 3, "p", 1)
    ]


def test_blocked_star_contract(spark):
    """n - 1 distinct edges per block, all rooted at the block minimum;
    singleton blocks, null keys and empty input give none; two ids
    sharing two blocks give one edge."""
    from cassandra_snap_to_hadoop_spark.operators.dedup import blocked_star

    rows = [(1, "a", 0), (2, "b", 0), (3, "b", 0)]
    rows += [(i, "c", 0) for i in (7, 4, 6, 5)]
    rows += [(8, None, 0), (9, None, 0)]
    got = blocked_star(_blocks(spark, rows), "id", ["k"])
    assert got.columns == ["id_a", "id_b"]
    assert sorted(tuple(r) for r in got.collect()) == [(2, 3), (4, 5), (4, 6), (4, 7)]
    assert blocked_star(_blocks(spark, []), "id", ["k"]).count() == 0
    assert blocked_star(_blocks(spark, [(1, "a", 0)]), "id", ["k"]).count() == 0
    two = _blocks(spark, [(1, "p", 0), (1, "q", 0), (2, "p", 0), (2, "q", 0)])
    assert [tuple(r) for r in blocked_star(two, "id", ["k"]).collect()] == [(1, 2)]


def test_simhash_identical_docs_same_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "one two three four"), (2, "one two three four"), (3, "five six seven eight")],
        DOCS,
    )
    fp = {r.id: r.simhash for r in simhash(df, "doc_id", "text").collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_knn_bruteforce_self_similarity(spark):
    # duplicate vectors: the duplicate must be the top neighbor with cos 1.0
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [1.0, 0.0, 0.0], 0),
        (3, [0.0, 1.0, 0.0], 0),
        (4, [0.7, 0.7, 0.0], 0),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = df.filter(F.col("vec_id") == 1).select(F.col("vec_id").alias("query_id"), "embedding")
    out = knn_bruteforce(df, q, k=1)
    row = out.collect()[0]
    assert row.neighbor_id == 2 and row.cos == 1.0


def test_knn_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = knn_bruteforce(emb, q, k=5).collect()
    approx = knn_ivf(emb, q, cluster_col="label", k=5).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    # 1-probe IVF over random labels is approximate; require sane shape +
    # nonzero aggregate recall (deterministic given fixed data)
    assert set(approx_sets) == set(exact_sets)
    hits = sum(len(exact_sets[q] & approx_sets[q]) for q in exact_sets)
    assert all(len(v) == 5 for v in approx_sets.values())
    assert hits >= 1


def test_knn_ivf_kmeans_recall_vs_bruteforce(spark, sf_dir):
    """Learned-cell IVF (KMeans, 2-probe) must beat-or-match the naive
    label-blocked 1-probe tier on aggregate recall: KMeans cells follow the
    actual vector geometry, and the second probe covers boundary queries."""
    from cassandra_snap_to_hadoop_spark.operators.similarity import kmeans_assign

    emb = load(spark, sf_dir, "embeddings")
    clustered = kmeans_assign(emb, n_clusters=8)
    q = clustered.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = knn_bruteforce(emb, q, k=5).collect()
    approx = knn_ivf(clustered, q, cluster_col="__cluster", k=5, n_probe=2).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(approx_sets) == set(exact_sets)
    assert all(len(v) == 5 for v in approx_sets.values())
    recall = sum(len(exact_sets[q] & approx_sets[q]) for q in exact_sets) / (5 * len(exact_sets))
    # label-blocked 1-probe recall on this data is ~0.2-0.4; learned cells
    # with 2 probes should clear half
    assert recall >= 0.5, recall


def test_language_id_learned_recovers_frequency_signal(spark):
    """Naive-Bayes language ID must classify perfectly when languages share
    a vocabulary but differ in token frequencies (the regime where the
    marker heuristic is blind).  Docs alternate train/test via doc_id % 10."""
    from cassandra_snap_to_hadoop_spark.operators.text import language_id_learned

    # lang A: mostly 'alpha', some 'beta'; lang B: the reverse.  Same vocab.
    rows = []
    for i in range(40):
        lang = "aa" if i < 20 else "bb"  # both langs hit the %10==0 train slice
        common, rare = ("alpha", "beta") if lang == "aa" else ("beta", "alpha")
        rows.append((i, " ".join([common] * 8 + [rare] * 2), lang))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = language_id_learned(df).collect()
    assert len(out) == 36  # 4 train docs held out
    assert all(r.pred_lang == r.true_lang for r in out)


def test_curation_funnel_monotone(spark, sf_dir):
    """Funnel invariants: stage counts never increase, stage 0 is the raw
    corpus, every retained_pct is n/n0."""
    from cassandra_snap_to_hadoop_spark.io import Tables
    from cassandra_snap_to_hadoop_spark.operators.curation import curation_funnel

    d = Tables(spark, sf_dir).documents
    rows = {r.stage: r for r in curation_funnel(d).collect()}
    assert list(sorted(rows)) == ["0_all", "1_quality", "2_exact_dedup", "3_near_dup"]
    n0 = rows["0_all"].n_docs
    assert n0 == d.count()
    last = n0
    for stage in ("1_quality", "2_exact_dedup", "3_near_dup"):
        assert rows[stage].n_docs <= last
        last = rows[stage].n_docs
    assert last > 0
    for r in rows.values():
        assert abs(r.retained_pct - round(r.n_docs / n0, 4)) < 1e-9


def test_hll_sketch_merge_estimates(spark, sf_dir):
    """Merged per-group sketches must estimate the GLOBAL distinct count
    (not the sum of group counts — groups share orderkeys) within HLL
    error bounds."""
    from cassandra_snap_to_hadoop_spark.io import Tables
    from cassandra_snap_to_hadoop_spark.registry import load_all
    from pyspark.sql import functions as F

    row = load_all()["e12_hll_sketch_merge"].fn(spark, sf_dir).first()
    exact = (
        Tables(spark, sf_dir).lineitem.select(F.countDistinct("l_orderkey").alias("n")).first().n
    )
    assert abs(row.merged_estimate - exact) / exact < 0.05
    assert row.merged_estimate < row.sum_of_group_exacts  # union dedups across groups


def test_sequence_packing_invariants(spark, sf_dir):
    """Packing is a prefix sum: per language, starts are cumulative, every
    offset is inside the bin budget, and bins are contiguous from 0."""
    from cassandra_snap_to_hadoop_spark.registry import load_all

    rows = load_all()["j13_sequence_packing"].fn(spark, sf_dir).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, docs in by_lang.items():
        docs.sort(key=lambda r: r.doc_id)
        start = 0
        for r in docs:
            assert 0 <= r.bin_offset < 2048
            assert r.bin_id == start // 2048
            assert r.bin_offset == start % 2048
            start += r.n_tokens
        assert docs[0].bin_id == 0


def test_curation_funnel_lsh_close_to_exact(spark, sf_dir):
    """The LSH funnel must agree with the exact funnel on the deterministic
    stages (0-2) exactly, and on the near-dup stage within LSH recall
    slack (banding can only MISS pairs or add band-collision candidates,
    so survivor counts stay within a small band of the exact count)."""
    from cassandra_snap_to_hadoop_spark.registry import load_all

    q = load_all()
    exact = {r.stage: r.n_docs for r in q["llm_curation_funnel"].fn(spark, sf_dir).collect()}
    lsh = {r.stage: r.n_docs for r in q["llm_curation_funnel_lsh"].fn(spark, sf_dir).collect()}
    for stage in ("0_all", "1_quality", "2_exact_dedup"):
        assert exact[stage] == lsh[stage]
    n2 = exact["2_exact_dedup"]
    assert abs(lsh["3_near_dup"] - exact["3_near_dup"]) <= max(3, 0.05 * n2)


def test_knn_arrow_tier_matches_hof_tier(spark, sf_dir):
    """The Arrow/BLAS blocked-matmul tier must produce the HOF fold tier's
    exact output (same neighbors, same 4dp scores, same ranks)."""
    from cassandra_snap_to_hadoop_spark.registry import load_all

    R = load_all()
    hof = sorted(map(tuple, R["j3_knn_bruteforce"].fn(spark, sf_dir).collect()))
    arrow = sorted(map(tuple, R["j3_knn_bruteforce_arrow"].fn(spark, sf_dir).collect()))
    assert hof == arrow


def test_exact_substring_dedup_semantics(spark):
    """Hand-computable ExactSubstr case, k=3:

      doc 1: "a b c d e"       — shares span "b c d" (and "a b c", "c d e"
      doc 2: "a b c d e"         by extension — identical doc) with doc 2;
      doc 3: "x b c d y"       — contains "b c d", duplicated via 1/2;
      doc 4: "p q r s t"       — unique, untouched;
      doc 5: "u v"             — shorter than k, untouched.

    Docs 1/2 lose everything (every position covered by a duplicated
    3-gram); doc 3 loses b,c,d keeping "x y"; 4 and 5 keep all."""
    from cassandra_snap_to_hadoop_spark.operators.dedup import exact_substring_dedup

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "A  b C d e"),  # normalizes identically to doc 1
            (3, "x b c d y"),
            (4, "p q r s t"),
            (5, "u v"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc: r for r in exact_substring_dedup(df, "doc_id", "text", k=3).collect()}
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert (got[1].n_tokens, got[1].n_removed, got[1].cleaned_md5) == (5, 5, md5(""))
    assert (got[2].n_tokens, got[2].n_removed, got[2].cleaned_md5) == (5, 5, md5(""))
    assert (got[3].n_tokens, got[3].n_removed, got[3].cleaned_md5) == (5, 3, md5("x y"))
    assert (got[4].n_tokens, got[4].n_removed, got[4].cleaned_md5) == (5, 0, md5("p q r s t"))
    assert (got[5].n_tokens, got[5].n_removed, got[5].cleaned_md5) == (2, 0, md5("u v"))


def test_exact_substring_dedup_no_duplicates_is_identity(spark):
    from cassandra_snap_to_hadoop_spark.operators.dedup import exact_substring_dedup

    df = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(10))) for i in range(20)],
        "doc_id long, text string",
    )
    out = exact_substring_dedup(df, "doc_id", "text", k=5).collect()
    assert all(r.n_removed == 0 and r.n_tokens == 10 for r in out)
