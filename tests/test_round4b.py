"""Round-4 continuation batch: recursive CTE, LATERAL top-k, ANOVA,
quantile normalization, Theil-Sen — each pinned to an independent pure-
Python reference computing the same integer arithmetic, plus plan-shape
assertions for the decorrelation / no-single-reducer claims."""

from __future__ import annotations

import duckdb

from cassandra_snap_to_hadoop_spark.plans.explain import plan_string
from cassandra_snap_to_hadoop_spark.registry import load_all

REGISTRY = load_all()
SF = "/root/testdata/sf0.001"


def _duck(sql: str):
    con = duckdb.connect()
    for t in ("orders", "lineitem", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con.execute(sql).fetchall()


def test_recursive_cte_matches_python_fold(spark):
    """The UnionLoop recursion must equal a plain Python fold of the same
    per-customer order chain (third implementation, no SQL anywhere)."""
    rows = _duck(
        """
        SELECT o_custkey, CAST(ROUND(o_totalprice * 100) AS BIGINT)
        FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey
        """
    )
    chains: dict[int, list[int]] = {}
    for ck, cents in rows:
        chains.setdefault(ck, []).append(cents)
    expect = {}
    for ck, amts in chains.items():
        bal = 0
        chain = amts[:12]
        for i, a in enumerate(chain):
            bal = a if i == 0 else (bal * 105) // 100 + a
        expect[ck] = (len(chain), bal)

    got = {
        r["custkey"]: (r["n_orders"], r["final_bal_cents"])
        for r in REGISTRY["sql_api_recursive_cte"].fn(spark, SF).collect()
    }
    assert got == expect


def test_recursive_cte_depth_is_capped(spark):
    """Bounded-recursion discipline: no chain exceeds the 12-order cap, so
    the iteration count of the plan is a constant independent of volume."""
    df = REGISTRY["sql_api_recursive_cte"].fn(spark, SF)
    assert df.agg({"n_orders": "max"}).collect()[0][0] <= 12


def test_recursive_cte_rows_bounded_by_input(spark):
    """The chain's UnionLoop takes the capped-order count as its row
    limit, so it runs past Spark's recursion row limit (lowered here
    below the chain's rows, as SF1 passes the 1,000,000 default) with
    unchanged results, and without a GlobalLimit's single-partition
    exchange."""
    key = "spark.sql.cteRecursionRowLimit"
    want = sorted(REGISTRY["sql_api_recursive_cte"].fn(spark, SF).collect())
    n_capped = spark.table("cs2h_rec_capped").count()
    spark.conf.set(key, "100")
    try:
        df = REGISTRY["sql_api_recursive_cte"].fn(spark, SF)
        assert sorted(df.collect()) == want
    finally:
        spark.conf.unset(key)
    p = plan_string(df, "simple")
    assert f"], {n_capped}" in p and len(want) < n_capped, p
    assert "GlobalLimit" not in p and "SinglePartition" not in p, p


def test_lateral_topk_decorrelates_to_partitioned_window(spark):
    """Catalyst must rewrite the correlated LATERAL LIMIT into a window/
    filter over ONE shuffle of orders — never a per-customer nested loop."""
    df = REGISTRY["d21_lateral_topk"].fn(spark, SF)
    p = plan_string(df, "simple")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p


def test_lateral_topk_equals_window_formulation(spark):
    """The lateral derived table is semantically g3's top-k-per-group:
    re-derive with an explicit row_number window and compare exactly."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cassandra_snap_to_hadoop_spark.io import Tables

    t = Tables(spark, SF)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("price_cents").desc(), F.col("o_orderkey")
    )
    expect = {
        tuple(r)
        for r in t.orders.select(
            "o_custkey", "o_orderkey", cents.alias("price_cents")
        )
        .withColumn("rn", F.row_number().over(w))
        .where("rn <= 2")
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_mktsegment", "o_orderkey", "price_cents")
        .collect()
    }
    got = {tuple(r) for r in REGISTRY["d21_lateral_topk"].fn(spark, SF).collect()}
    assert got == expect


def test_anova_f_matches_python_reference(spark):
    """Integer sufficient-statistics ANOVA recomputed in pure Python with
    the identical truncating-division order."""
    rows = _duck(
        "SELECT l_returnflag, CAST(ROUND(l_quantity) AS BIGINT) FROM lineitem"
    )
    groups: dict[str, list[int]] = {}
    for g, q in rows:
        groups.setdefault(g, []).append(q)
    n = sum(len(v) for v in groups.values())
    k = len(groups)
    s = sum(sum(v) for v in groups.values())
    q2 = sum(x * x for v in groups.values() for x in v)
    between_raw = sum((sum(v) * sum(v)) // len(v) for v in groups.values())
    ssb = between_raw - (s * s) // n
    ssw = q2 - between_raw
    f_micro = (ssb // (k - 1)) * 1_000_000 // (ssw // (n - k))

    row = REGISTRY["e49_anova_f"].fn(spark, SF).collect()[0]
    assert (row["n"], row["k"], row["ssb"], row["ssw"], row["f_micro"]) == (
        n,
        k,
        ssb,
        ssw,
        f_micro,
    )
    # quantity variation is mostly within-group on this data: F far from 0
    # would flag a generator change worth noticing.
    assert row["ssw"] > 0


def test_quantile_normalize_per_source_becomes_pooled_quantiles(spark):
    """After normalization every source's value multiset is drawn from the
    pooled distribution at its mapped ranks: (a) norm values ⊆ pooled
    values, (b) within a source the map is monotone in the original rank,
    (c) the overall min/max map to the pooled extremes."""
    df = REGISTRY["e50_quantile_normalize"].fn(spark, SF)
    rows = df.collect()
    pooled = sorted(r[0] for r in _duck("SELECT n_chars FROM documents"))
    pooled_set = set(pooled)
    assert all(r["norm_chars"] in pooled_set for r in rows)
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: (r["n_chars"], r["doc_id"]))
        norms = [r["norm_chars"] for r in rs]
        assert norms == sorted(norms), f"non-monotone map in {src}"
        # rank 1 maps to global rank 1 exactly (formula: (1-1)*n//n_s+1)
        assert norms[0] == pooled[0]


def test_theil_sen_matches_python_reference(spark):
    """Median-of-pairwise-slopes recomputed in pure Python (sign-split
    truncating division, lower median under the (slope, m1, m2) order)."""
    rows = _duck(
        """
        SELECT l_suppkey, CAST(year(l_shipdate)*12 + month(l_shipdate) AS BIGINT),
               CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        FROM lineitem GROUP BY 1, 2
        """
    )
    series: dict[int, list[tuple[int, int]]] = {}
    for sk, m, rev in rows:
        series.setdefault(sk, []).append((m, rev))
    expect = {}
    for sk, pts in series.items():
        pts.sort()
        slopes = []
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                (m1, r1), (m2, r2) = pts[i], pts[j]
                dv, dm = r2 - r1, m2 - m1
                s = (dv * 1_000_000) // dm if dv >= 0 else -((-dv * 1_000_000) // dm)
                slopes.append((s, m1, m2))
        if not slopes:
            continue
        slopes.sort()
        med = slopes[(len(slopes) + 1) // 2 - 1][0]
        expect[sk] = (len(slopes), med)

    got = {
        r["suppkey"]: (r["n_pairs"], r["ts_slope_micro"])
        for r in REGISTRY["e51_theil_sen_slope"].fn(spark, SF).collect()
    }
    assert got == expect


def test_welch_t_matches_python_reference(spark):
    """Welch t and df recomputed in pure Python with math.sqrt and the
    identical operation order."""
    import math

    rows = _duck2(
        """
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT)
        FROM events WHERE event_type IN ('purchase', 'click')
        """
    )
    a = [c for t, c in rows if t == "purchase"]
    b = [c for t, c in rows if t == "click"]
    n1, s1, q1 = len(a), sum(a), sum(x * x for x in a)
    n2, s2, q2 = len(b), sum(b), sum(x * x for x in b)
    v1 = (float(q1) - float(s1) * s1 / n1) / (n1 - 1)
    v2 = (float(q2) - float(s2) * s2 / n2) / (n2 - 1)
    dm = float(s1) / n1 - float(s2) / n2
    t = dm / math.sqrt(v1 / n1 + v2 / n2)
    se = v1 / n1 + v2 / n2
    df = se * se / ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1))
    t_micro = math.floor(t * 1_000_000 + 0.5) if t >= 0 else -math.floor(-t * 1_000_000 + 0.5)
    df_micro = math.floor(df * 1_000_000 + 0.5)

    row = REGISTRY["e52_welch_t"].fn(spark, SF).collect()[0]
    assert (row["n1"], row["n2"]) == (n1, n2)
    assert abs(row["t_micro"] - t_micro) <= 1  # 1-ulp quantization slack
    assert abs(row["df_micro"] - df_micro) <= 1


def _duck2(sql: str):
    con = duckdb.connect()
    for t in ("events", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con.execute(sql).fetchall()


def test_cohen_kappa_matches_python_reference(spark):
    """Kappa recomputed in exact integer arithmetic from j78's confusion
    matrix (collected once, |labels|² rows)."""
    cm = {
        (r["true_label"], r["pred_label"]): r["n"]
        for r in REGISTRY["j78_nearest_centroid_eval"].fn(spark, SF).collect()
    }
    n = sum(cm.values())
    diag = sum(v for (t, p), v in cm.items() if t == p)
    row_t = {}
    col_p = {}
    for (t, p), v in cm.items():
        row_t[t] = row_t.get(t, 0) + v
        col_p[p] = col_p.get(p, 0) + v
    pe_num = sum(r * col_p.get(t, 0) for t, r in row_t.items())
    num = n * diag - pe_num
    den = n * n - pe_num
    kappa_micro = (num * 1_000_000) // den if num >= 0 else -((-num) * 1_000_000 // den)

    row = REGISTRY["e53_cohen_kappa"].fn(spark, SF).collect()[0]
    assert (row["n_items"], row["diag"], row["pe_num"], row["kappa_micro"]) == (
        n,
        diag,
        pe_num,
        kappa_micro,
    )
    # nearest-centroid on separable labels should beat chance decisively
    assert row["kappa_micro"] > 0


def test_seasonal_decompose_additivity_and_reference(spark):
    """(a) exact additivity: trend + seasonal + resid == cnt·1e6 on every
    row; (b) full decomposition recomputed in pure Python from raw daily
    counts (zero-filled spine, centered MA, phase means)."""
    rows = REGISTRY["f28_seasonal_decompose"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert (
            r["trend_micro"] + r["seasonal_micro"] + r["resid_micro"]
            == r["cnt"] * 1_000_000
        ), r

    raw = _duck2(
        """
        SELECT event_type, epoch_us(ts) // 86400000000, COUNT(*)
        FROM events GROUP BY 1, 2
        """
    )
    days = [d for _, d, _ in raw]
    mn, mx = min(days), max(days)
    types = {t for t, _, _ in raw}
    counts = {(t, d): c for t, d, c in raw}
    expect = {}
    for t in types:
        series = [(d, counts.get((t, d), 0)) for d in range(mn, mx + 1)]
        for i in range(3, len(series) - 3):
            d, cnt = series[i]
            s7 = sum(c for _, c in series[i - 3 : i + 4])
            trend = (s7 * 1_000_000) // 7
            expect[(t, d)] = [cnt, trend, cnt * 1_000_000 - trend]
    # phase means over detrended values
    phase_sum: dict[tuple, int] = {}
    phase_n: dict[tuple, int] = {}
    for (t, d), (_, _, det) in expect.items():
        k = (t, d % 7)
        phase_sum[k] = phase_sum.get(k, 0) + det
        phase_n[k] = phase_n.get(k, 0) + 1
    got = {(r["event_type"], r["day_idx"]): r for r in rows}
    assert set(got) == set(expect)
    for (t, d), (cnt, trend, det) in expect.items():
        s, c = phase_sum[(t, d % 7)], phase_n[(t, d % 7)]
        seas = s // c if s >= 0 else -((-s) // c)
        r = got[(t, d)]
        assert (r["cnt"], r["trend_micro"], r["seasonal_micro"], r["resid_micro"]) == (
            cnt,
            trend,
            seas,
            det - seas,
        ), (t, d)


def test_bloom_prefilter_equals_naive_semi_join(spark):
    """Lossy-prefilter + exact-verify == exact: the Bloom path's output
    must equal the naive semi join against history, key for key."""
    from pyspark.sql import functions as F

    from cassandra_snap_to_hadoop_spark.io import Tables
    from cassandra_snap_to_hadoop_spark.operators.dedup import normalize_text

    docs = Tables(spark, SF).documents.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("k")
    )
    hist = docs.where("doc_id % 2 = 0")
    expect = {
        r["doc_id"]
        for r in docs.join(hist.select("k").distinct(), "k", "left_semi").collect()
    }
    got = {
        r["doc_id"]
        for r in REGISTRY["j82_bloom_prefilter_dedup"].fn(spark, SF).collect()
    }
    assert got == expect
    assert got  # the re-delivery scenario guarantees nonempty matches


def test_bloom_candidates_are_superset_no_false_negatives(spark):
    """The law the design rests on: every true duplicate key survives the
    Bloom prefilter (all its positions were inserted by history), so the
    candidate set is a superset of the exact-match set; and the history
    position structure stays broadcast-small in the plan."""
    from pyspark.sql import functions as F

    from cassandra_snap_to_hadoop_spark.io import Tables
    from cassandra_snap_to_hadoop_spark.operators.dedup import normalize_text

    m = 8192
    docs = Tables(spark, SF).documents.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("k")
    )
    hist = docs.where("doc_id % 2 = 0")
    seeds = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("seed")
    hist_pos = (
        hist.select(seeds, "k")
        .select("seed", F.pmod(F.xxhash64("k", "seed"), F.lit(m)).alias("pos"))
        .distinct()
    )
    probe = docs.select("doc_id", "k", seeds).select(
        "doc_id", "k", "seed",
        F.pmod(F.xxhash64("k", "seed"), F.lit(m)).alias("pos"),
    )
    candidates = {
        r["doc_id"]
        for r in probe.join(F.broadcast(hist_pos), ["seed", "pos"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("hits"))
        .where("hits = 3")
        .collect()
    }
    exact = {
        r["doc_id"]
        for r in docs.join(hist.select("k").distinct(), "k", "left_semi").collect()
    }
    assert exact <= candidates, "Bloom produced a false negative"

    p = plan_string(REGISTRY["j82_bloom_prefilter_dedup"].fn(spark, SF), "simple")
    assert "BroadcastHashJoin" in p, p


def test_silhouette_matches_python_reference(spark):
    """Simplified silhouette recomputed in pure Python/numpy-free integer
    arithmetic: micro-lattice centroids, exact int squared distances,
    rowwise sqrt chain, integer group sums."""
    import math

    from decimal import ROUND_HALF_UP, Decimal

    def _round_half_up(x: float) -> int:
        return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    rows = _duck2("SELECT vec_id, label, embedding FROM embeddings")
    vecs = {
        r[0]: (r[1], [_round_half_up(float(x) * 1_000_000) for x in r[2]])
        for r in rows
    }
    # centroids: TOWARD-ZERO integer mean per (label, dim) — engines'
    # DIV / // truncate toward zero; Python // floors (differs on
    # negative sums, the bug this reference initially had).
    by_label: dict[int, list] = {}
    for _, (lab, m) in vecs.items():
        by_label.setdefault(lab, []).append(m)
    dims = len(next(iter(vecs.values()))[1])
    cent = {
        lab: [int_div(sum(v[d] for v in ms), len(ms)) for d in range(dims)]
        for lab, ms in by_label.items()
    }
    sums: dict[int, list[int]] = {}
    for _, (lab, m) in vecs.items():
        d2 = {
            cl: sum((a - b) * (a - b) for a, b in zip(m, c))
            for cl, c in cent.items()
        }
        a2 = d2[lab]
        b2 = min(v for cl, v in d2.items() if cl != lab)
        s = (math.sqrt(float(b2)) - math.sqrt(float(a2))) / max(
            math.sqrt(float(a2)), math.sqrt(float(b2))
        )
        # Spark/DuckDB ROUND(double) = HALF_UP on the EXACT binary value
        # (BigDecimal semantics) — floor(x+0.5) drifts 1 ulp near .5.
        s_micro = _round_half_up(s * 1_000_000)
        acc = sums.setdefault(lab, [0, 0])
        acc[0] += 1
        acc[1] += s_micro

    got = {
        r["label"]: (r["n_vecs"], r["sum_s_micro"], r["mean_s_micro"])
        for r in REGISTRY["e54_silhouette"].fn(spark, SF).collect()
    }
    expect = {lab: (n, s, int_div(s, n)) for lab, (n, s) in sums.items()}
    assert got == expect


def int_div(a: int, b: int) -> int:
    """Toward-zero integer division (Spark DIV == DuckDB // semantics)."""
    return a // b if a >= 0 else -((-a) // b)


def test_cusum_recursive_matches_python_fold(spark):
    """The recursive-CTE CUSUM must equal a plain Python fold of the same
    integer recursion over the per-type daily series."""
    raw = _duck2(
        """
        SELECT event_type, epoch_us(ts) // 86400000000 AS d,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """
    )
    series: dict[str, list[int]] = {}
    for t, _, x in raw:
        series.setdefault(t, []).append(x)
    expect = {}
    for t, xs in series.items():
        mu = int_div(sum(xs), len(xs))
        k, h = int_div(mu, 20), int_div(mu, 4)
        s = s_max = alarms = 0
        for x in xs:
            s = max(0, s + x - mu - k)
            s_max = max(s_max, s)
            if s > h:
                alarms += 1
        expect[t] = (len(xs), alarms, s_max)

    got = {
        r["event_type"]: (r["n_days"], r["n_alarms"], r["max_cusum_cents"])
        for r in REGISTRY["f29_cusum_recursive"].fn(spark, SF).collect()
    }
    assert got == expect


def test_calinski_harabasz_matches_python_reference(spark):
    """VRC recomputed in pure Python on the shared milli lattice with
    toward-zero divisions throughout."""
    from decimal import ROUND_HALF_UP, Decimal

    def rhu(x: float) -> int:
        return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    rows = _duck2("SELECT vec_id, label, embedding FROM embeddings")
    vecs = [(r[1], [rhu(float(x) * 1_000) for x in r[2]]) for r in rows]
    dims = len(vecs[0][1])
    by_label: dict[int, list] = {}
    for lab, m in vecs:
        by_label.setdefault(lab, []).append(m)
    cent = {
        lab: [int_div(sum(v[d] for v in ms), len(ms)) for d in range(dims)]
        for lab, ms in by_label.items()
    }
    gcent = [
        int_div(sum(m[d] for _, m in vecs), len(vecs)) for d in range(dims)
    ]
    ssw = sum(
        (m[d] - cent[lab][d]) ** 2 for lab, m in vecs for d in range(dims)
    )
    ssb = sum(
        len(ms) * (cent[lab][d] - gcent[d]) ** 2
        for lab, ms in by_label.items()
        for d in range(dims)
    )
    n, k = len(vecs), len(by_label)
    vrc_micro = int_div(int_div(ssb, k - 1) * 1_000_000, int_div(ssw, n - k))

    row = REGISTRY["e55_calinski_harabasz"].fn(spark, SF).collect()[0]
    assert (row["n"], row["k"], row["ssb"], row["ssw"], row["vrc_micro"]) == (
        n,
        k,
        ssb,
        ssw,
        vrc_micro,
    )


def test_mase_matches_python_reference(spark):
    """Seasonal-naive vs naive-1 MASE recomputed in pure Python over the
    zero-filled daily series."""
    raw = _duck2(
        """
        SELECT event_type, epoch_us(ts) // 86400000000,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        FROM events GROUP BY 1, 2
        """
    )
    days = [d for _, d, _ in raw]
    mn, mx = min(days), max(days)
    counts = {(t, d): x for t, d, x in raw}
    types = {t for t, _, _ in raw}
    expect = {}
    for t in types:
        xs = [counts.get((t, d), 0) for d in range(mn, mx + 1)]
        idx = range(7, len(xs))
        mae7 = sum(abs(xs[i] - xs[i - 7]) for i in idx)
        mae1 = sum(abs(xs[i] - xs[i - 1]) for i in idx)
        expect[t] = (len(xs) - 7, mae7, mae1, (mae7 * 1_000_000) // mae1)

    got = {
        r["event_type"]: (
            r["n_evaluated"],
            r["mae7_cents"],
            r["mae1_cents"],
            r["mase_micro"],
        )
        for r in REGISTRY["e56_mase_forecast_eval"].fn(spark, SF).collect()
    }
    assert got == expect


def test_feature_hashing_matches_hashlib(spark):
    """Feature hashing recomputed with Python hashlib (a third md5
    implementation): same dims, same signs, same weights."""
    import hashlib
    import re

    docs = _duck("SELECT doc_id, text FROM documents")
    expect: dict[tuple, list[int]] = {}
    for doc_id, text in docs:
        norm = re.sub(r"\s+", " ", text.lower()).strip()
        for term in norm.split(" "):
            if not term:
                continue
            h = hashlib.md5(term.encode()).hexdigest()
            dim = int(h[:8], 16) % 256
            sgn = 1 if h[8] < "8" else -1
            acc = expect.setdefault((doc_id, dim), [0, 0])
            acc[0] += sgn
            acc[1] += 1

    got = {
        (r["doc_id"], r["dim"]): [r["weight"], r["n_terms"]]
        for r in REGISTRY["j83_feature_hashing"].fn(spark, SF).collect()
    }
    assert got == expect
    assert all(0 <= d < 256 for _, d in got)


def test_psi_matches_python_reference(spark):
    """PSI recomputed in pure Python with the identical per-bin double
    chain and micro quantization (Decimal half-up)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    rows = _duck(
        """
        SELECT CASE WHEN year(o_orderdate) <= 1996 THEN 'ref' ELSE 'cur' END,
               LEAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) // 5000000, 9)
        FROM orders
        """
    )
    n_ref: dict[int, int] = {}
    n_cur: dict[int, int] = {}
    for period, b in rows:
        (n_ref if period == "ref" else n_cur).setdefault(b, 0)
        (n_ref if period == "ref" else n_cur)[b] += 1
    bins = sorted(set(n_ref) | set(n_cur))
    t_ref = sum(n_ref.values())
    t_cur = sum(n_cur.values())
    psi = 0
    for b in bins:
        pr = float(max(n_ref.get(b, 0), 1)) / t_ref
        pc = float(max(n_cur.get(b, 0), 1)) / t_cur
        term = (pc - pr) * math.log(pc / pr) * 1_000_000
        psi += int(Decimal(term).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    row = REGISTRY["e58_psi_drift"].fn(spark, SF).collect()[0]
    assert (row["n_bins"], row["psi_micro"]) == (len(bins), psi)


def test_k_anonymity_matches_python_reference(spark):
    """k-anonymity stats recomputed from the raw quasi-identifier counts."""
    rows = _duck2_customer("SELECT c_mktsegment, c_nationkey FROM customer")
    classes: dict[tuple, int] = {}
    for seg, nk in rows:
        classes[(seg, nk)] = classes.get((seg, nk), 0) + 1
    n_rows = sum(classes.values())
    below = sum(v for v in classes.values() if v < 5)

    row = REGISTRY["j84_k_anonymity"].fn(spark, SF).collect()[0]
    assert (
        row["n_classes"],
        row["k_anonymity"],
        row["rows_below_k5"],
        row["n_rows"],
        row["at_risk_ppm"],
    ) == (
        len(classes),
        min(classes.values()),
        below,
        n_rows,
        below * 1_000_000 // n_rows,
    )


def _duck2_customer(sql: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM read_parquet('{SF}/customer.parquet')"
    )
    return con.execute(sql).fetchall()


def test_builtin_levenshtein_matches_python_dp(spark):
    """Spark's native levenshtein pinned against a pure-Python DP (third
    implementation beside DuckDB's C++) on every emitted pair."""

    def lev(s1: str, s2: str) -> int:
        prev = list(range(len(s2) + 1))
        for i, c1 in enumerate(s1, 1):
            cur = [i]
            for j, c2 in enumerate(s2, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (c1 != c2))
                )
            prev = cur
        return prev[-1]

    texts = dict(_duck("SELECT doc_id, substr(text, 1, 30) FROM documents"))
    rows = REGISTRY["i21_builtin_levenshtein"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["edit_dist"] == lev(texts[r["id_a"]], texts[r["id_b"]]), r
        assert r["edit_dist"] <= 10


def test_tar_shard_roundtrip_member_exact(spark):
    """Every member extracted from the tar shards must byte-match the
    source document (md5 via hashlib — independent of both engines),
    and the shard layout must hold 5 shards x 10 members."""
    import hashlib

    from cassandra_snap_to_hadoop_spark.io import Tables

    # run the query once to (re)stage and to verify it returns rows
    assert REGISTRY["a25_tar_shard_ingest"].fn(spark, SF).count() > 0

    from cassandra_snap_to_hadoop_spark.queries.layout import _staged

    tar_dir = _staged("a25_tar", SF, "documents")
    import tarfile

    texts = {
        r["doc_id"]: r["text"]
        for r in Tables(spark, SF)
        .documents.where("doc_id < 50")
        .select("doc_id", "text")
        .collect()
    }
    seen = {}
    shards = sorted(tar_dir.glob("*.tar"))
    assert len(shards) == 5
    for shard in shards:
        with tarfile.open(shard) as tf:
            members = tf.getmembers()
            assert len(members) == 10
            for m in members:
                doc_id = int(m.name.removesuffix(".txt"))
                seen[doc_id] = tf.extractfile(m).read()
    assert set(seen) == set(texts)
    for doc_id, blob in seen.items():
        assert (
            hashlib.md5(blob).hexdigest()
            == hashlib.md5(texts[doc_id].encode()).hexdigest()
        )


def test_polymorphic_udtf_schema_follows_input(spark):
    """The analyze hook must derive the output schema from the table
    argument: same columns + n_nulls, for two DIFFERENT input shapes
    from one registration."""
    df = REGISTRY["l9_polymorphic_udtf"].fn(spark, SF)
    assert df.columns == ["o_orderkey", "o_orderstatus", "price_cents", "n_nulls"]

    # same registered UDTF, different table shape -> different schema
    spark.range(3).selectExpr("id", "id * 2 AS d", "id * 3 AS t").createOrReplaceTempView(
        "cs2h_l9_other"
    )
    other = spark.sql("SELECT * FROM cs2h_with_null_count(TABLE(cs2h_l9_other))")
    assert other.columns == ["id", "d", "t", "n_nulls"]
    assert other.count() == 3
    assert all(r["n_nulls"] == 0 for r in other.collect())
