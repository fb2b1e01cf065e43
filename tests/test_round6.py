"""Round-6 additions: exact mask-histogram source overlap (e24's exact
twin) and the round-6 certified-twin conversions' cross-tier pins."""

from __future__ import annotations

import datetime

import pytest

from itertools import combinations

from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.io import Tables
from cassandra_snap_to_hadoop_spark.operators.text import tokens
from cassandra_snap_to_hadoop_spark.registry import load_all

REGISTRY = load_all()


def _shingle_sets(spark, sf_dir) -> dict[str, set]:
    """Independent per-source 3-gram sets, assembled in plain Python from
    the exploded relation — the third implementation every Spark/DuckDB
    pair is pinned against."""
    d = Tables(spark, sf_dir).documents
    w = tokens(F.col("text"))
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(w) - 2),
        lambda i: F.array_join(F.slice(w, i, 3), " "),
    )
    rows = (
        d.filter(F.size(w) >= 3)
        .select("source", F.explode(shingles).alias("s"))
        .distinct()
        .collect()
    )
    sets: dict[str, set] = {}
    for r in rows:
        sets.setdefault(r.source, set()).add(r.s)
    return sets


def test_e24_incl_excl_exact_against_python_sets(spark, sf_dir):
    """The mask-histogram formulation must reproduce |A|, |B|, |A∪B| and
    |A∩B| EXACTLY for every source pair — set algebra in plain Python is
    the pin."""
    out = {
        (r.src_a, r.src_b): r
        for r in REGISTRY["e24_overlap_incl_excl"].fn(spark, sf_dir).collect()
    }
    sets = _shingle_sets(spark, sf_dir)
    assert set(out) == {(x, y) for x, y in combinations(sorted(sets), 2)}
    for (sa, sb), r in out.items():
        assert r.n_a == len(sets[sa]), (sa, sb)
        assert r.n_b == len(sets[sb]), (sa, sb)
        assert r.n_union == len(sets[sa] | sets[sb]), (sa, sb)
        assert r.n_inter == len(sets[sa] & sets[sb]), (sa, sb)


def test_e24_sketch_tier_pinned_to_exact_twin(spark, sf_dir):
    """Since the round-7 in-place certification the registered output
    carries the EXACT intersection plus the in-band flag; this pin
    recomputes the LIVE sketch triple directly (the machinery the flag
    wraps) and asserts it lands within sketch tolerance of the exact
    twin — the triage contract: the sketch points at the pairs the
    exact tier then settles."""
    from pyspark.sql import functions as F2

    from cassandra_snap_to_hadoop_spark.io import Tables as T2
    from cassandra_snap_to_hadoop_spark.io import fan_out as fo
    from cassandra_snap_to_hadoop_spark.operators.text import tokens as toks

    exact = {
        (r.src_a, r.src_b): r
        for r in REGISTRY["e24_overlap_incl_excl"].fn(spark, sf_dir).collect()
    }
    reg = {
        (r.src_a, r.src_b): r
        for r in REGISTRY["e24_hll_overlap"].fn(spark, sf_dir).collect()
    }
    assert set(exact) == set(reg)
    for key, e in exact.items():
        assert reg[key].n_inter == e.n_inter, key
        assert reg[key].hll_inter_in_band == 1, key
    d = fo(T2(spark, sf_dir).documents)
    w = toks(F2.col("text"))
    shingles = F2.transform(
        F2.sequence(F2.lit(1), F2.size(w) - 2),
        lambda i: F2.array_join(F2.slice(w, i, 3), " "),
    )
    sh = d.filter(F2.size(w) >= 3).select("source", F2.explode(shingles).alias("s"))
    per_src = sh.groupBy("source").agg(F2.expr("hll_sketch_agg(s)").alias("sk"))
    a = per_src.select(F2.col("source").alias("src_a"), F2.col("sk").alias("sk_a"))
    b = per_src.select(F2.col("source").alias("src_b"), F2.col("sk").alias("sk_b"))
    est_u = F2.expr("hll_sketch_estimate(hll_union(sk_a, sk_b))")
    est_i = (
        F2.expr("hll_sketch_estimate(sk_a)")
        + F2.expr("hll_sketch_estimate(sk_b)")
        - est_u
    )
    est = {
        (r.src_a, r.src_b): (r.ei, r.eu)
        for r in a.join(F2.broadcast(b), F2.col("src_a") < F2.col("src_b"))
        .select(
            "src_a",
            "src_b",
            F2.greatest(est_i, F2.lit(0)).cast("long").alias("ei"),
            est_u.cast("long").alias("eu"),
        )
        .collect()
    }
    for key, e in exact.items():
        ei, eu = est[key]
        assert abs(eu - e.n_union) <= 0.05 * e.n_union + 20, (key, ei, eu, e)
        assert abs(ei - e.n_inter) <= 0.06 * e.n_union + 50, (key, ei, eu, e)


def test_e24_mask_histogram_mass_conserves(spark, sf_dir):
    """Σ mask-histogram counts == number of distinct shingles in the
    corpus — the histogram is a lossless partition of the shingle space
    (the property that makes every pair readable from one KB relation)."""
    d = Tables(spark, sf_dir).documents
    w = tokens(F.col("text"))
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(w) - 2),
        lambda i: F.array_join(F.slice(w, i, 3), " "),
    )
    n_distinct = (
        d.filter(F.size(w) >= 3)
        .select(F.explode(shingles).alias("s"))
        .distinct()
        .count()
    )
    out = REGISTRY["e24_overlap_incl_excl"].fn(spark, sf_dir)
    # any single source's n_a counts only masks containing it; the union
    # over ALL sources of "mask touches source" is every mask, so check
    # via a two-source union + the complement identity instead: total
    # distinct shingles equals n_union + (shingles in neither source),
    # recomputed from the python sets.
    sets = _shingle_sets(spark, sf_dir)
    allsh = set().union(*sets.values())
    assert len(allsh) == n_distinct
    first = out.limit(1).collect()[0]
    neither = len(allsh - (sets[first.src_a] | sets[first.src_b]))
    assert first.n_union + neither == n_distinct


def test_e21_certified_matches_native_sketch_law(spark, sf_dir):
    """Cross-tier CMS pin: the relational md5-CMS estimates and the native
    binary sketch estimates both over-estimate the same exact counts, and
    both respect their width's eps bound — the two tiers implement the
    same sketch with different hash families."""
    import math

    from cassandra_snap_to_hadoop_spark.io import load
    from cassandra_snap_to_hadoop_spark.operators.sketch import CountMinSketch
    from cassandra_snap_to_hadoop_spark.queries.round3b import _CMS_WIDTH

    rows = REGISTRY["e21_cms_heavy_hitters"].fn(spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events")
    raw = ev.agg(
        F.count_min_sketch("user_id", F.lit(0.001), F.lit(0.99), F.lit(42)).alias("s")
    ).collect()[0]
    sk = CountMinSketch.parse(bytes(raw.s))
    for r in rows:
        native = sk.estimate_long(r.user_id)
        assert r.cms_est >= r.exact_n
        assert native >= r.exact_n
        assert r.cms_est - r.exact_n <= math.e / _CMS_WIDTH * r.total_events
        assert native - r.exact_n <= 0.001 * sk.total_count


# ------------------------------------------------- large-star/small-star CC


def _h60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _union_find_min(n: int, edges: set) -> dict:
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in range(n)}


def test_two_phase_cc_equals_union_find_on_random_graphs(spark):
    """dup_clusters_two_phase (large-star/small-star) must equal exact
    union-find on the same deterministic random graphs the hash-min tier
    is pinned on — the two strategies are interchangeable."""
    from cassandra_snap_to_hadoop_spark.operators.dedup import dup_clusters_two_phase

    for seed, n, m in ((1, 40, 30), (2, 60, 80), (3, 25, 5)):
        edges = set()
        i = 0
        while len(edges) < m:
            a = _h60(f"{seed}:a:{i}") % n
            b = _h60(f"{seed}:b:{i}") % n
            i += 1
            if a == b:
                continue
            edges.add((min(a, b), max(a, b)))
        want = _union_find_min(n, edges)
        nodes = spark.createDataFrame([(v,) for v in range(n)], "id long")
        pairs = spark.createDataFrame(
            [(a, b) for a, b in sorted(edges)], "id_a long, id_b long"
        )
        got = {
            r.id: r.cluster_id
            for r in dup_clusters_two_phase(nodes, pairs, max_iterations=20).collect()
        }
        assert got == want, f"seed={seed}"


@pytest.mark.deep
def test_two_phase_cc_beats_hashmin_rounds_on_paths(spark):
    """The round-count win the dup_clusters docstring promises: on a path
    graph (worst-case diameter), hash-min pays ~one round per hop while
    large-star/small-star collapses in O(log n) rounds — both reaching
    the identical min-rooted labeling."""
    from cassandra_snap_to_hadoop_spark.operators.dedup import (
        dup_clusters,
        dup_clusters_two_phase,
    )

    n = 24  # path 0-1-2-...-23: diameter 23
    edges = {(v, v + 1) for v in range(n - 1)}
    nodes = spark.createDataFrame([(v,) for v in range(n)], "id long")
    pairs = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    s_hm: dict = {}
    hm = {
        r.id: r.cluster_id
        for r in dup_clusters(nodes, pairs, max_iterations=40, stats=s_hm).collect()
    }
    s_tp: dict = {}
    tp = {
        r.id: r.cluster_id
        for r in dup_clusters_two_phase(
            nodes, pairs, max_iterations=40, stats=s_tp
        ).collect()
    }
    want = {v: 0 for v in range(n)}
    assert hm == want and tp == want
    # hash-min needs ~diameter rounds (+1 to observe convergence);
    # two-phase needs O(log n) (+1 to observe the fixpoint).
    assert s_hm["rounds"] >= n - 2, s_hm
    assert s_tp["rounds"] <= 8, s_tp
    assert s_tp["rounds"] < s_hm["rounds"] // 2, (s_tp, s_hm)


# ---------------------------------------------------- round-6 new batch


def test_j100_kcore_matches_python_peel(spark, sf_dir):
    """The unrolled 8-round peel must equal the true k-core fixpoint
    (iterative peel in plain Python) — and the data must actually
    converge within the budget for the equality to mean anything."""
    from collections import defaultdict

    import duckdb

    from cassandra_snap_to_hadoop_spark.queries.round6 import _KCORE_K

    edges = (
        duckdb.connect()
        .execute(
            "SELECT DISTINCT l_orderkey, l_partkey + 1000000000 FROM "
            f"read_parquet('{sf_dir}/lineitem.parquet') WHERE l_quantity >= 25"
        )
        .fetchall()
    )
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    active = set(adj)
    rounds = 0
    while True:
        drop = {
            u for u in active if sum(1 for v in adj[u] if v in active) < _KCORE_K
        }
        if not drop:
            break
        active -= drop
        rounds += 1
    assert rounds <= 8, f"python peel needed {rounds} rounds — raise the unroll"
    want = {
        u: sum(1 for v in adj[u] if v in active) for u in active
    }
    got = {
        r.node: r.core_degree
        for r in REGISTRY["j100_kcore_decomposition"].fn(spark, sf_dir).collect()
    }
    assert got == want


@pytest.mark.parametrize(
    "rows",
    [
        [],
        [(1, 2, 3, 1, 30.0, 100.0, 0.05, 0.01, "N", "O", datetime.datetime(1995, 1, 2))],
    ],
    ids=["zero_rows", "one_row"],
)
def test_j100_kcore_empty_and_one_row_lineitem(spark, tmp_path, rows):
    """Degenerate corpora: no edges, or one edge whose endpoints both have
    degree 1 < k.  The peel must reach its fixpoint (the fused probe's
    zero count) and return an empty core, not fail."""
    from cassandra_snap_to_hadoop_spark.io import SCHEMAS

    spark.createDataFrame(rows, SCHEMAS["lineitem"]).coalesce(1).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    out = REGISTRY["j100_kcore_decomposition"].fn(spark, str(tmp_path))
    assert out.columns == ["node", "core_degree"]
    assert out.collect() == []


def test_e72_log_loss_constants_and_law(spark, sf_dir):
    """The injected ln constants must be the true micro-floored bin-
    midpoint logs, and the binned NLL must reproduce from (n, n_pos) in
    plain Python; NLL is non-negative (every constant is a negative
    micro-nat and counts are non-negative)."""
    import math

    from cassandra_snap_to_hadoop_spark.queries.round6 import _E72_LN1MP, _E72_LNP

    for b in range(10):
        m = (b + 0.5) / 10.0
        assert _E72_LNP[b] == math.floor(math.log(m) * 1_000_000)
        assert _E72_LN1MP[b] == math.floor(math.log(1 - m) * 1_000_000)
    rows = REGISTRY["e72_log_loss_binned"].fn(spark, sf_dir).collect()
    assert rows and sum(r.n for r in rows) > 0
    for r in rows:
        want = -(r.n_pos * _E72_LNP[r.bin] + (r.n - r.n_pos) * _E72_LN1MP[r.bin])
        assert r.nll_micro == want
        assert r.nll_micro >= 0
        assert 0 <= r.n_pos <= r.n


def test_e73_estimates_match_python(spark, sf_dir):
    """Both CBO estimates and the actual join count must reproduce from a
    plain-Python recomputation over the raw keys — and the audit's point:
    the bucketed estimate is at least as close as the uniform one here."""
    import duckdb

    con = duckdb.connect()
    a = [
        r[0]
        for r in con.execute(
            f"SELECT l_partkey FROM read_parquet('{sf_dir}/lineitem.parquet')"
            " WHERE l_quantity >= 45"
        ).fetchall()
    ]
    b = [
        r[0]
        for r in con.execute(
            f"SELECT p_partkey FROM read_parquet('{sf_dir}/part.parquet')"
            " WHERE p_size >= 40"
        ).fetchall()
    ]
    from collections import Counter

    ca, cb = Counter(a), Counter(b)
    actual = sum(n * cb.get(k, 0) for k, n in ca.items())
    est_uniform = (len(a) * len(b)) // max(len(ca), len(cb))
    est_bucketed = 0
    for bk in range(16):
        na = sum(1 for k in a if k % 16 == bk)
        nb = sum(1 for k in b if k % 16 == bk)
        nda = len({k for k in ca if k % 16 == bk})
        ndb = len({k for k in cb if k % 16 == bk})
        if nda and ndb:
            est_bucketed += (na * nb) // max(nda, ndb)
    row = REGISTRY["e73_join_cardinality_audit"].fn(spark, sf_dir).collect()[0]
    assert (row.n_a, row.n_b, row.ndv_a, row.ndv_b) == (
        len(a),
        len(b),
        len(ca),
        len(cb),
    )
    assert row.actual == actual
    assert row.est_uniform == est_uniform
    assert row.est_bucketed == est_bucketed
    assert row.err_bucketed <= row.err_uniform


def test_j101_dsir_matches_python(spark, sf_dir):
    """Full-pipeline DSIR pin: hashed-bigram counts (hashlib md5), Laplace
    log-ratios and per-doc micro-nat sums recomputed in plain Python.
    Floor boundaries tolerate ±1 micro-nat per FEATURE occurrence (the
    established ln-drift budget), exact n_bigrams."""
    import hashlib
    import math
    import re
    from collections import Counter

    import duckdb

    from cassandra_snap_to_hadoop_spark.queries.round6 import _DSIR_B

    docs = (
        duckdb.connect()
        .execute(
            f"SELECT doc_id, lang, text FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        .fetchall()
    )

    def feats(text):
        w = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        out = []
        for i in range(len(w) - 1):
            bg = w[i] + " " + w[i + 1]
            out.append(int(hashlib.md5(bg.encode()).hexdigest()[:15], 16) % _DSIR_B)
        return out

    ct: Counter = Counter()
    cs: Counter = Counter()
    per_doc = {}
    for doc_id, lang, text in docs:
        fs = feats(text)
        if not fs:
            continue
        per_doc[doc_id] = fs
        cs.update(fs)
        if lang == "en":
            ct.update(fs)
    tot_t, tot_s = sum(ct.values()), sum(cs.values())
    r = {
        f: math.floor(
            math.log(
                ((ct.get(f, 0) + 1) * (tot_s + _DSIR_B))
                / ((cs[f] + 1) * (tot_t + _DSIR_B))
            )
            * 1_000_000
        )
        for f in cs
    }
    got = {
        row.doc_id: row
        for row in REGISTRY["j101_dsir_importance"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(per_doc)
    for doc_id, fs in per_doc.items():
        assert got[doc_id].n_bigrams == len(fs)
        want = sum(r[f] for f in fs)
        assert abs(got[doc_id].w_micro - want) <= len(fs), doc_id


def test_sql_api_unpivot_reconstructs_wide(spark, sf_dir):
    """UNPIVOT output must carry exactly 3 rows per nation whose values
    reassemble the wide aggregate."""
    rows = REGISTRY["sql_api_unpivot"].fn(spark, sf_dir).collect()
    by_nation: dict = {}
    for r in rows:
        by_nation.setdefault(r.n_name, {})[r.measure] = r.value
    assert by_nation
    for nation, m in by_nation.items():
        assert set(m) == {"sum_qty", "sum_cents", "n_items"}, nation
        assert m["n_items"] > 0 and m["sum_qty"] > 0 and m["sum_cents"] > 0


def test_j102_l_diversity_matches_python(spark, sf_dir):
    """l-diversity audit pinned against plain-Python set counting over
    the raw customer rows (exact cents banding)."""
    from collections import defaultdict

    import duckdb

    rows = (
        duckdb.connect()
        .execute(
            "SELECT c_mktsegment, c_nationkey, CAST(ROUND(c_acctbal * 100) AS BIGINT)"
            f" FROM read_parquet('{sf_dir}/customer.parquet')"
        )
        .fetchall()
    )
    classes: dict = defaultdict(list)
    for seg, nat, cents in rows:
        band = int(cents) // 200000 if cents >= 0 else -((-int(cents)) // 200000)
        classes[(seg, nat)].append(band)
    l_divs = {k: len(set(v)) for k, v in classes.items()}
    sizes = {k: len(v) for k, v in classes.items()}
    low = [k for k, l in l_divs.items() if l < 3]
    row = REGISTRY["j102_l_diversity"].fn(spark, sf_dir).collect()[0]
    assert row.n_classes == len(classes)
    assert row.l_diversity == min(l_divs.values())
    assert row.classes_below_l3 == len(low)
    assert row.rows_below_l3 == sum(sizes[k] for k in low)
    assert row.at_risk_ppm == (sum(sizes[k] for k in low) * 1000000) // sum(
        sizes.values()
    )


# ------------------------------------------------------- round-6 batch 3


def test_e74_sprt_matches_python(spark, sf_dir):
    """SPRT LLR trajectory + decisions recomputed in plain Python from
    raw events; constants must be the true micro-floored Wald terms."""
    import math
    from collections import defaultdict

    import duckdb

    from cassandra_snap_to_hadoop_spark.queries.round6 import (
        _SPRT_C0,
        _SPRT_C1,
        _SPRT_LO,
        _SPRT_P0,
        _SPRT_P1,
        _SPRT_UP,
    )

    assert _SPRT_C1 == math.floor(math.log(_SPRT_P1 / _SPRT_P0) * 1_000_000)
    assert _SPRT_C0 == math.floor(
        math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) * 1_000_000
    )
    assert _SPRT_UP == math.floor(math.log(19) * 1_000_000)
    assert _SPRT_LO == math.floor(math.log(1 / 19) * 1_000_000)
    rows = (
        duckdb.connect()
        .execute(
            "SELECT user_id % 2, epoch_us(ts) // 86400000000,"
            " CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
            f" FROM read_parquet('{sf_dir}/events.parquet')"
        )
        .fetchall()
    )
    daily: dict = defaultdict(lambda: [0, 0])
    for arm, day, s in rows:
        d = daily[(arm, day)]
        d[0] += 1
        d[1] += s
    want = {}
    for arm in (0, 1):
        days = sorted(d for a, d in daily if a == arm)
        cn = cs = 0
        for d in days:
            n, s = daily[(arm, d)]
            cn += n
            cs += s
            llr = cs * _SPRT_C1 + (cn - cs) * _SPRT_C0
            dec = (
                "accept_h1"
                if llr >= _SPRT_UP
                else "accept_h0"
                if llr <= _SPRT_LO
                else "continue"
            )
            want[(arm, d)] = (cn, cs, llr, dec)
    got = {
        (r.arm, r.day): (r.cum_n, r.cum_s, r.llr_micro, r.decision)
        for r in REGISTRY["e74_sprt_sequential"].fn(spark, sf_dir).collect()
    }
    assert got == want


def _py_pav(bins):
    """Stack PAV: bins = [(bin, n, pos)] sorted; returns {bin: pool_min}."""
    stack = []  # each: [min_bin, members, n, pos]
    for b, n, pos in bins:
        cur = [b, [b], n, pos]
        while stack and stack[-1][3] * cur[2] > cur[3] * stack[-1][2]:
            top = stack.pop()
            cur = [top[0], top[1] + cur[1], top[2] + cur[2], top[3] + cur[3]]
        stack.append(cur)
    out = {}
    for pool in stack:
        for m in pool[1]:
            out[m] = (pool[0], pool[2], pool[3])
    return out


def test_e75_isotonic_matches_stack_pav_and_is_monotone(spark, sf_dir):
    """The unrolled relational PAV must equal the classic stack PAV run on
    the same bin aggregates, and the pooled rates must be monotone
    non-decreasing in bin order (the isotonic law)."""
    rows = sorted(
        REGISTRY["e75_isotonic_calibration"].fn(spark, sf_dir).collect(),
        key=lambda r: r.bin,
    )
    # reconstruct the raw per-bin (n, pos) from the pooled output: each
    # bin row carries its pool's aggregates, so group rows by pool and
    # derive the raw bins from e72's certified binning instead.
    e72 = {
        r.bin: (r.n, r.n_pos)
        for r in REGISTRY["e72_log_loss_binned"].fn(spark, sf_dir).collect()
    }
    pav = _py_pav([(b, e72[b][0], e72[b][1]) for b in sorted(e72)])
    assert {r.bin for r in rows} == set(e72)
    for r in rows:
        pool_min, pool_n, pool_pos = pav[r.bin]
        assert r.pool == pool_min, r
        assert r.pool_n == pool_n and r.pool_pos == pool_pos, r
        assert r.iso_ppm == (pool_pos * 1_000_000) // pool_n
    rates = [r.iso_ppm for r in rows]
    assert rates == sorted(rates), "isotonic law violated"


def test_a31_stcs_matches_python(spark, sf_dir):
    """Tier assignment, triggers and rewrite accounting recomputed from
    raw per-day counts in plain Python."""
    from collections import defaultdict

    import duckdb

    days = (
        duckdb.connect()
        .execute(
            "SELECT epoch_us(l_shipdate) // 86400000000, COUNT(*) FROM"
            f" read_parquet('{sf_dir}/lineitem.parquet') GROUP BY 1"
        )
        .fetchall()
    )
    tiers: dict = defaultdict(list)
    for _, n in days:
        tiers[len(str(int(n)))].append(int(n))
    got = {
        r.tier: r for r in REGISTRY["a31_stcs_tier_audit"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(tiers)
    for t, sizes in tiers.items():
        r = got[t]
        assert r.n_sstables == len(sizes)
        assert r.rows_total == sum(sizes)
        assert (r.min_rows, r.max_rows) == (min(sizes), max(sizes))
        due = len(sizes) >= 4
        assert r.compaction_due == int(due)
        assert r.merged_tier == (len(str(sum(sizes))) if due else t)
        assert r.rewrite_rows == (sum(sizes) if due else 0)


def test_d23_allen_partition_law_and_python_pin(spark, sf_dir):
    """Every same-customer pair lands in exactly ONE Allen bucket
    (histogram total == C(orders_per_cust, 2) summed), and the full
    classification matches a plain-Python interval-algebra reference."""
    from collections import Counter, defaultdict

    import duckdb

    rows = (
        duckdb.connect()
        .execute(
            "SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) // 86400000000"
            f" FROM read_parquet('{sf_dir}/orders.parquet')"
        )
        .fetchall()
    )
    by_cust: dict = defaultdict(list)
    for cust, k, lo in rows:
        by_cust[cust].append((k, lo, lo + 7))

    def allen(a_lo, a_hi, b_lo, b_hi):
        if a_hi < b_lo:
            return "precedes"
        if a_hi == b_lo:
            return "meets"
        if a_lo < b_lo and b_lo < a_hi and a_hi < b_hi:
            return "overlaps"
        if a_lo < b_lo and a_hi == b_hi:
            return "finished_by"
        if a_lo < b_lo and a_hi > b_hi:
            return "contains"
        if a_lo == b_lo and a_hi < b_hi:
            return "starts"
        if a_lo == b_lo and a_hi == b_hi:
            return "equals"
        if a_lo == b_lo and a_hi > b_hi:
            return "started_by"
        if a_lo > b_lo and a_hi < b_hi:
            return "during"
        if a_lo > b_lo and a_hi == b_hi:
            return "finishes"
        if b_lo < a_lo and a_lo < b_hi and b_hi < a_hi:
            return "overlapped_by"
        if a_lo == b_hi:
            return "met_by"
        return "preceded_by"

    want: Counter = Counter()
    total = 0
    for cust, ivs in by_cust.items():
        ivs.sort()
        for i in range(len(ivs)):
            for j in range(i + 1, len(ivs)):
                (ka, alo, ahi), (kb, blo, bhi) = ivs[i], ivs[j]
                want[allen(alo, ahi, blo, bhi)] += 1
                total += 1
    got = {
        r.relation: r.n_pairs
        for r in REGISTRY["d23_allen_interval_histogram"].fn(spark, sf_dir).collect()
    }
    assert got == dict(want)
    assert sum(got.values()) == total


def test_j103_kneser_ney_matches_python(spark, sf_dir):
    """Full KN pipeline pin: bigram/context/continuation counts and the
    quarter-lattice probability recomputed in plain Python; ±1 micro-nat
    per scored bigram (ln floor-boundary budget), exact n_bigrams.
    Also the smoothing laws: every probability is in (0, 1], and the
    per-context probabilities sum to 1 (KN is a proper distribution)."""
    import math
    import re
    from collections import Counter, defaultdict

    import duckdb

    docs = (
        duckdb.connect()
        .execute(
            f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        .fetchall()
    )
    bc: Counter = Counter()
    u1: Counter = Counter()
    nf: dict = defaultdict(set)
    np_: dict = defaultdict(set)
    per_doc = {}
    for doc_id, text in docs:
        w = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        bgs = [(w[i], w[i + 1]) for i in range(len(w) - 1)]
        if not bgs:
            continue
        per_doc[doc_id] = bgs
        for w1, w2 in bgs:
            bc[(w1, w2)] += 1
            u1[w1] += 1
            nf[w1].add(w2)
            np_[w2].add(w1)
    nt = len(bc)

    def q(w1, w2):
        num = max(4 * bc[(w1, w2)] - 3, 0) * nt + 3 * len(nf[w1]) * len(np_[w2])
        den = 4 * u1[w1] * nt
        assert 0 < num <= den * 1.0001  # proper probability (≤1 + fp slack)
        return math.floor(math.log(num / den) * 1_000_000)

    got = {
        r.doc_id: r
        for r in REGISTRY["j103_kneser_ney_bigram"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(per_doc)
    for doc_id, bgs in per_doc.items():
        assert got[doc_id].n_bigrams == len(bgs)
        want = sum(q(w1, w2) for w1, w2 in bgs)
        assert abs(got[doc_id].kn_micro - want) <= len(bgs), doc_id
    # proper-distribution law on a sample of contexts: sum_w2 p(w2|w1) == 1
    for w1 in list(u1)[:20]:
        total = sum(
            (max(4 * bc[(w1, w2)] - 3, 0) * nt + 3 * len(nf[w1]) * len(np_[w2]))
            / (4 * u1[w1] * nt)
            for w2 in nf[w1]
        )
        # discounting mass redistributed over SEEN continuations of w1 only
        # (training == scoring corpus), so the seen-set sum stays below 1
        # by the unseen-continuation mass routed through p_cont.
        assert total <= 1.0 + 1e-9, (w1, total)


def test_j104_ipf_matches_python_and_calibrates(spark, sf_dir):
    """IPF raking pinned against a plain-Python float fold (identical
    IEEE op order → EXACT equality), plus the calibration law: after the
    final column pass, column margins equal their targets to within the
    floor residual (≤ 1 unit per contributing cell), and row margins sit
    within the IPF iteration residual."""
    from collections import defaultdict

    import duckdb

    from cassandra_snap_to_hadoop_spark.queries.round6 import _IPF_ITERS

    con = duckdb.connect()
    cells = dict()
    for seg, nat, n in con.execute(
        "SELECT c_mktsegment, c_nationkey, COUNT(*) FROM"
        f" read_parquet('{sf_dir}/customer.parquet') GROUP BY 1, 2"
    ).fetchall():
        cells[(seg, nat)] = int(n)
    sub: dict = defaultdict(int)
    for seg, nat, n in con.execute(
        "SELECT c_mktsegment, c_nationkey, COUNT(*) FROM"
        f" read_parquet('{sf_dir}/customer.parquet')"
        " WHERE c_acctbal > 0 GROUP BY 1, 2"
    ).fetchall():
        sub[(seg, nat)] = int(n)
    rowt: dict = defaultdict(int)
    colt: dict = defaultdict(int)
    for (seg, nat), n in sub.items():
        rowt[seg] += n * 1_000_000
        colt[nat] += n * 1_000_000
    import math

    w = {k: v * 1_000_000 for k, v in cells.items()}
    for _ in range(_IPF_ITERS):
        cur: dict = defaultdict(int)
        for (seg, nat), v in w.items():
            cur[seg] += v
        w = {
            (seg, nat): math.floor(v * (rowt[seg] * 1.0 / cur[seg]))
            for (seg, nat), v in w.items()
        }
        cur = defaultdict(int)
        for (seg, nat), v in w.items():
            cur[nat] += v
        w = {
            (seg, nat): math.floor(v * (colt[nat] * 1.0 / cur[nat]))
            for (seg, nat), v in w.items()
        }
    got = {
        (r.seg, r.nat): r.w_micro
        for r in REGISTRY["j104_ipf_raking"].fn(spark, sf_dir).collect()
    }
    assert got == w
    # calibration law: column margins hit targets within the floor residual
    colm: dict = defaultdict(int)
    cells_per_col: dict = defaultdict(int)
    for (seg, nat), v in got.items():
        colm[nat] += v
        cells_per_col[nat] += 1
    for nat, target in colt.items():
        assert 0 <= target - colm[nat] <= cells_per_col[nat], nat


def test_k15_lateness_matches_python(spark, sf_dir):
    """Lateness buckets recomputed in plain Python from the raw arrival
    stream (event_id order per type)."""
    from collections import defaultdict

    import duckdb

    rows = (
        duckdb.connect()
        .execute(
            "SELECT event_type, event_id, epoch_us(ts) FROM"
            f" read_parquet('{sf_dir}/events.parquet') ORDER BY event_id"
        )
        .fetchall()
    )
    seen_max: dict = {}
    agg: dict = defaultdict(lambda: [0, 0])

    def bucket(late):
        if late is None:
            return "first"
        if late <= 0:
            return "in_order"
        if late <= 60_000_000:
            return "le_1m"
        if late <= 300_000_000:
            return "le_5m"
        if late <= 3_600_000_000:
            return "le_1h"
        return "gt_1h"

    for typ, _eid, tus in rows:
        late = seen_max[typ] - tus if typ in seen_max else None
        b = bucket(late)
        a = agg[(typ, b)]
        a[0] += 1
        a[1] = max(a[1], max(late or 0, 0))
        seen_max[typ] = max(seen_max.get(typ, tus), tus)
    got = {
        (r.event_type, r.bucket): (r.n, r.max_late_us)
        for r in REGISTRY["k15_lateness_histogram"].fn(spark, sf_dir).collect()
    }
    assert got == {k: tuple(v) for k, v in agg.items()}


def test_e76_poisson_surprise_matches_python(spark, sf_dir):
    """G statistic and flags recomputed in plain Python (±1 micro-nat on
    the ln term per cell); the critical constant must be the true
    chi-square(1) 0.95 quantile micro-floored."""
    import math
    from collections import Counter, defaultdict

    import duckdb

    from cassandra_snap_to_hadoop_spark.queries.round6 import _G_CRIT_MICRO

    assert _G_CRIT_MICRO == 3841458
    rows = (
        duckdb.connect()
        .execute(
            "SELECT event_type, epoch_us(ts) // 86400000000 FROM"
            f" read_parquet('{sf_dir}/events.parquet')"
        )
        .fetchall()
    )
    cells: Counter = Counter(rows)
    per_type: dict = defaultdict(lambda: [0, 0])
    for (typ, _day), k in cells.items():
        per_type[typ][0] += k
        per_type[typ][1] += 1
    got = {
        (r.event_type, r.day): r
        for r in REGISTRY["e76_poisson_surprise"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(cells)
    n_flagged = 0
    for (typ, day), k in cells.items():
        t, d = per_type[typ]
        want = math.floor(2 * k * math.log(k * d / t) * 1_000_000) - (
            2 * (k * d - t) * 1_000_000
        ) // d
        r = got[(typ, day)]
        assert r.k == k
        assert abs(r.g_micro - want) <= 1, (typ, day)
        if r.g_micro > _G_CRIT_MICRO:
            n_flagged += 1
        assert r.burst_flag == int(r.g_micro > _G_CRIT_MICRO)
        # G is non-negative up to the micro floor residual
        assert r.g_micro >= -2


def test_a32_skew_audit_matches_python(spark, sf_dir):
    from collections import Counter

    import duckdb

    months = Counter(
        m
        for (m,) in duckdb.connect()
        .execute(
            "SELECT date_trunc('month', l_shipdate) FROM"
            f" read_parquet('{sf_dir}/lineitem.parquet')"
        )
        .fetchall()
    )
    sizes = list(months.values())
    n, total, mx, mn = len(sizes), sum(sizes), max(sizes), min(sizes)
    r = REGISTRY["a32_partition_skew_audit"].fn(spark, sf_dir).collect()[0]
    assert (r.n_partitions, r.total_rows, r.max_rows, r.min_rows) == (
        n,
        total,
        mx,
        mn,
    )
    assert r.skew_ppm == (mx * n * 1_000_000) // total
    assert r.recommended_salt == (mx * n + total - 1) // total
    assert r.recommended_salt >= 1


def test_j105_contamination_matches_python(spark, sf_dir):
    """Full-pipeline python pin for the cluster-precision audit: bands,
    star edges, union-find components, direct-pair set, and exact
    Jaccard recomputed with hashlib/sets; plus the structural laws —
    every DIRECT pair is intra-component, and every component of size s
    contributes exactly C(s,2) audited pairs."""
    import hashlib
    import re
    from collections import defaultdict
    from itertools import combinations

    import duckdb

    from cassandra_snap_to_hadoop_spark.queries.round4c import _MH_N, _MH_ROWS

    docs = (
        duckdb.connect()
        .execute(
            f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        .fetchall()
    )

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    sh_sets = {}
    bands_by_bucket: dict = defaultdict(set)
    for doc_id, text in docs:
        w = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        sh = {" ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 1)) if len(w[i : i + 3]) == 3}
        if not sh:
            continue
        sh_sets[doc_id] = sh
        mins = [min(h60(f"{i}:{s}") for s in sh) for i in range(_MH_N)]
        n_bands = _MH_N // _MH_ROWS
        for b in range(n_bands):
            key = "|".join(
                str(mins[b * _MH_ROWS + r]) for r in range(_MH_ROWS)
            )
            bands_by_bucket[(b, key)].add(doc_id)
    direct = set()
    edges = set()
    for bucket, members_ in bands_by_bucket.items():
        if len(members_) < 2:
            continue
        hub = min(members_)
        for m in members_:
            if m != hub:
                edges.add((hub, m))
        for x, y in combinations(sorted(members_), 2):
            direct.add((x, y))
    # union-find over star edges
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict = defaultdict(set)
    for v in parent:
        comps[find(v)].add(v)
    want = {}
    for root, members_ in comps.items():
        if len(members_) < 2:
            continue
        for x, y in combinations(sorted(members_), 2):
            i = len(sh_sets[x] & sh_sets[y])
            u = len(sh_sets[x]) + len(sh_sets[y]) - i
            want[(x, y)] = (root, int((x, y) in direct), i * 1_000_000 // u)
    got = {
        (r.id_a, r.id_b): (r.cluster_id, r.is_direct, r.j_ppm)
        for r in REGISTRY["j105_cluster_contamination"].fn(spark, sf_dir).collect()
    }
    assert got == want
    # structural law: per component of size s, exactly C(s,2) pairs
    sizes: dict = defaultdict(int)
    for (x, y), (root, _d, _j) in want.items():
        sizes[root] += 1
    for root, members_ in comps.items():
        if len(members_) >= 2:
            s = len(members_)
            assert sizes[root] == s * (s - 1) // 2


def test_e77_conformal_matches_python_and_covers(spark, sf_dir):
    """Split-conformal pipeline pinned against plain-Python sets (md5
    split, scaled residuals, exact order-statistic radius, coverage
    counting), plus the conformal guarantee: pooled coverage within the
    exact binomial noise band around 90%."""
    import hashlib
    import math
    from collections import defaultdict

    import duckdb

    rows = (
        duckdb.connect()
        .execute(
            "SELECT o_orderkey, c.c_nationkey,"
            " CAST(ROUND(o_totalprice * 100) AS BIGINT)"
            f" FROM read_parquet('{sf_dir}/orders.parquet')"
            f" JOIN read_parquet('{sf_dir}/customer.parquet') c"
            " ON o_custkey = c.c_custkey"
        )
        .fetchall()
    )
    cal: dict = defaultdict(list)
    test: dict = defaultdict(list)
    for k, nat, cents in rows:
        side = cal if hashlib.md5(str(k).encode()).hexdigest()[0] < "8" else test
        side[nat].append((int(cents), k))
    want = {}
    for nat, pts in cal.items():
        t = sum(c for c, _ in pts)
        n = len(pts)
        resid = sorted((abs(c * n - t), k) for c, k in pts)
        kth = (9 * (n + 1) + 9) // 10
        if kth > len(resid) or nat not in test:
            continue
        q = resid[kth - 1][0]
        tp = test[nat]
        cov = sum(1 for c, _ in tp if abs(c * n - t) <= q)
        want[nat] = (n, len(tp), q, cov, cov * 1_000_000 // len(tp))
    got = {
        r.nat: (r.n_cal, r.n_test, r.q_scaled, r.n_covered, r.coverage_ppm)
        for r in REGISTRY["e77_conformal_intervals"].fn(spark, sf_dir).collect()
    }
    assert got == want
    n_total = sum(v[1] for v in want.values())
    n_cov = sum(v[3] for v in want.values())
    # distribution-free guarantee: pooled coverage ≈ 0.9 within ~4 binomial
    # standard deviations of the pooled test size.
    sd = math.sqrt(0.9 * 0.1 / n_total)
    assert abs(n_cov / n_total - 0.9) <= 4 * sd + 25 / n_total, (n_cov, n_total)


def test_e78_mcnemar_matches_python(spark, sf_dir):
    """Disagreement cells + continuity-corrected statistic recomputed in
    plain Python from the e72-certified binning inputs (the score agg is
    shared); the statistic's zero-disagreement edge returns 0."""
    rows = REGISTRY["e78_mcnemar_paired"].fn(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    # recompute from per-row scores via the shared _score_df
    from cassandra_snap_to_hadoop_spark.queries.round5 import _score_df

    import math

    sc = _score_df(spark, sf_dir).collect()
    b = c = n = 0
    for row in sc:
        y = 1 if row.label < 5 else 0
        p = math.floor(1000000.0 / (1.0 + math.exp(-(row.s / 1000000.0))) + 0.5)
        a_cls = 1 if p >= 500000 else 0
        b_cls = 1 if p >= 600000 else 0
        n += 1
        if a_cls == y and b_cls != y:
            b += 1
        if a_cls != y and b_cls == y:
            c += 1
    assert (r.n, r.dis_b, r.dis_c) == (n, b, c)
    want = 0 if b + c == 0 else (max(abs(b - c) - 1, 0) ** 2 * 1_000_000) // (b + c)
    assert r.mcnemar_micro == want
    assert r.significant == int(b + c > 0 and want > 3841458)


def test_j106_entropy_matches_python(spark, sf_dir):
    """Entropy recomputed in plain Python (±1 micro per type term before
    the DIV); laws: H = 0 iff one type; H ≤ ln(n_types) (uniform bound)."""
    import math
    import re
    from collections import Counter

    import duckdb

    docs = (
        duckdb.connect()
        .execute(
            f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        .fetchall()
    )
    got = {
        r.doc_id: r
        for r in REGISTRY["j106_token_entropy"].fn(spark, sf_dir).collect()
    }
    for doc_id, text in docs:
        w = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        tc = Counter(w)
        n = sum(tc.values())
        s = sum(
            math.floor(c * math.log(c / n) * 1_000_000) for c in tc.values()
        )
        r = got[doc_id]
        assert r.n == n and r.n_types == len(tc)
        want = (-s) // n
        assert abs(r.entropy_micro - want) <= (len(tc) + n) // max(n, 1) + 1, doc_id
        assert r.entropy_micro >= 0
        assert r.entropy_micro <= math.log(len(tc)) * 1_000_000 + len(tc) + 1


def test_f36_crossover_matches_python(spark, sf_dir):
    """Side (integer cross-multiplied MA comparison) and crossover events
    recomputed in plain Python over the daily counts."""
    from collections import Counter, defaultdict

    import duckdb

    rows = (
        duckdb.connect()
        .execute(
            "SELECT event_type, epoch_us(ts) // 86400000000 FROM"
            f" read_parquet('{sf_dir}/events.parquet')"
        )
        .fetchall()
    )
    daily: Counter = Counter(rows)
    by_type: dict = defaultdict(list)
    for (typ, day), n in sorted(daily.items()):
        by_type[typ].append((day, n))
    want = {}
    for typ, seq in by_type.items():
        prev_side = None
        for i, (day, n) in enumerate(seq):
            lo3, lo7 = max(0, i - 2), max(0, i - 6)
            s3 = sum(x for _, x in seq[lo3 : i + 1])
            c3 = i + 1 - lo3
            s7 = sum(x for _, x in seq[lo7 : i + 1])
            c7 = i + 1 - lo7
            if c7 != 7:
                continue
            side = 1 if s3 * c7 > s7 * c3 else (-1 if s3 * c7 < s7 * c3 else 0)
            cross = int(prev_side is not None and side != prev_side)
            want[(typ, day)] = (n, side, cross)
            prev_side = side
    got = {
        (r.event_type, r.day): (r.n, r.side, r.crossover)
        for r in REGISTRY["f36_ma_crossover"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_e75_isotonic_is_perfectly_calibrated_on_train(spark, sf_dir):
    """The defining property of isotonic recalibration: using each pool's
    rate as the predicted probability makes the TRAINING data perfectly
    calibrated — per pool, predicted mass equals observed positives
    exactly (iso_ppm · pool_n vs pool_pos · 1e6 differ only by the
    integer-division remainder, < pool_n)."""
    rows = REGISTRY["e75_isotonic_calibration"].fn(spark, sf_dir).collect()
    seen = set()
    for r in rows:
        if r.pool in seen:
            continue
        seen.add(r.pool)
        diff = r.pool_pos * 1_000_000 - r.iso_ppm * r.pool_n
        assert 0 <= diff < r.pool_n, r


def test_e79_delta_method_matches_python(spark, sf_dir):
    """The whole delta-method chain recomputed in plain Python with the
    IDENTICAL operation order — exact equality expected (shared IEEE
    sequence), not a tolerance check."""
    import math
    from collections import defaultdict

    import duckdb

    rows = (
        duckdb.connect()
        .execute(
            "SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) FROM"
            f" read_parquet('{sf_dir}/events.parquet')"
        )
        .fetchall()
    )
    per_user: dict = defaultdict(lambda: [0, 0])
    for uid, cents in rows:
        d = per_user[uid]
        d[0] += int(cents)
        d[1] += 1
    stats: dict = {a: [0, 0, 0, 0, 0, 0] for a in (0, 1)}  # n sx sy sxx syy sxy
    for uid, (x, y) in per_user.items():
        s = stats[uid % 2]
        s[0] += 1
        s[1] += x
        s[2] += y
        s[3] += x * x
        s[4] += y * y
        s[5] += x * y

    def var(n, sx, sy, sxx, syy, sxy):
        return (
            (sxx - sx * 1.0 * sx / n) / (n - 1)
            - 2.0 * (sx * 1.0 / sy) * ((sxy - sx * 1.0 * sy / n) / (n - 1))
            + (sx * 1.0 / sy) * (sx * 1.0 / sy) * ((syy - sy * 1.0 * sy / n) / (n - 1))
        ) / (n * (sy * 1.0 / n) * (sy * 1.0 / n))

    n0, sx0, sy0, sxx0, syy0, sxy0 = stats[0]
    n1, sx1, sy1, sxx1, syy1, sxy1 = stats[1]
    raw = (sx1 * 1.0 / sy1 - sx0 * 1.0 / sy0) / math.sqrt(
        var(n1, sx1, sy1, sxx1, syy1, sxy1)
        + var(n0, sx0, sy0, sxx0, syy0, sxy0)
    )
    z = math.floor(raw * 1000)
    r = REGISTRY["e79_ratio_metric_delta"].fn(spark, sf_dir).collect()[0]
    assert (r.n0, r.n1, r.sx0, r.sx1, r.sy0, r.sy1) == (
        n0,
        n1,
        sx0,
        sx1,
        sy0,
        sy1,
    )
    assert r.r0_ppm == math.floor(sx0 * 1.0 / sy0 * 1_000_000)
    assert r.r1_ppm == math.floor(sx1 * 1.0 / sy1 * 1_000_000)
    assert r.z_milli == z
    assert r.significant == int(math.floor(abs(raw) * 1000) > 1959)


def test_e80_qte_matches_python(spark, sf_dir):
    """Per-decile order statistics and treatment effects recomputed in
    plain Python with the identical ceiling-rank rule; the QTE identity
    qte = q1 - q0 holds per row."""
    from collections import defaultdict

    import duckdb

    rows = (
        duckdb.connect()
        .execute(
            "SELECT user_id % 2, event_id, CAST(ROUND(value * 100) AS BIGINT)"
            f" FROM read_parquet('{sf_dir}/events.parquet')"
            " WHERE value IS NOT NULL"
        )
        .fetchall()
    )
    arms: dict = defaultdict(list)
    for arm, k, cents in rows:
        arms[arm].append((int(cents), k))
    qs: dict = {}
    for arm, pts in arms.items():
        pts.sort()
        n = len(pts)
        for d in range(1, 10):
            qs[(d, arm)] = pts[(d * n + 9) // 10 - 1][0]
    got = {
        r.decile: (r.q0_cents, r.q1_cents, r.qte_cents)
        for r in REGISTRY["e80_quantile_treatment_effect"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(range(1, 10))
    for d in range(1, 10):
        q0, q1 = qs[(d, 0)], qs[(d, 1)]
        assert got[d] == (q0, q1, q1 - q0), d
