"""Round-6 additions — exact mask-histogram source overlap (the
inclusion-exclusion identity e24's HLL tier estimates, computed exactly
without any join on shingle values) and further depth operators.

Design rules inherited from the established discipline (round5.py
docstring): exact integer lattices, md5 when a hash must be reproduced
verbatim in both engines, fixed unrolled iteration budgets, blocked
candidate generation, KB-bounded broadcast joins for tiny relations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.io import Tables, fan_out
from cassandra_snap_to_hadoop_spark.operators.layout import checkpoint_observed
from cassandra_snap_to_hadoop_spark.operators.text import tokens
from cassandra_snap_to_hadoop_spark.registry import register

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_WORDS = f"string_split({_NORM}, ' ')"


@register(
    "e24_overlap_incl_excl",
    oracle=f"""
    WITH sh0 AS (
        SELECT DISTINCT source,
               unnest([array_to_string(w[i:i+2], ' ')
                       for i in range(1, len(w) - 1)]) AS s
        FROM (SELECT source, {_WORDS} AS w FROM documents)
        WHERE len(w) >= 3
    ), mask AS (
        SELECT s, list_sort(list(source)) AS m FROM sh0 GROUP BY s
    ), hist AS (
        SELECT m, CAST(COUNT(*) AS BIGINT) AS cnt FROM mask GROUP BY m
    ), srcs AS (
        SELECT DISTINCT source FROM documents
    ), pairs AS (
        SELECT a.source AS src_a, b.source AS src_b
        FROM srcs a JOIN srcs b ON a.source < b.source
    )
    SELECT p.src_a, p.src_b,
           CAST(SUM(CASE WHEN list_contains(h.m, p.src_a) THEN h.cnt
                         ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN list_contains(h.m, p.src_b) THEN h.cnt
                         ELSE 0 END) AS BIGINT) AS n_b,
           CAST(SUM(CASE WHEN list_contains(h.m, p.src_a)
                           OR list_contains(h.m, p.src_b) THEN h.cnt
                         ELSE 0 END) AS BIGINT) AS n_union,
           CAST(SUM(CASE WHEN list_contains(h.m, p.src_a) THEN h.cnt
                         ELSE 0 END)
              + SUM(CASE WHEN list_contains(h.m, p.src_b) THEN h.cnt
                         ELSE 0 END)
              - SUM(CASE WHEN list_contains(h.m, p.src_a)
                           OR list_contains(h.m, p.src_b) THEN h.cnt
                         ELSE 0 END) AS BIGINT) AS n_inter
    FROM pairs p, hist h
    GROUP BY 1, 2
    """,
    survey="E24x,E24,J26,E4",
)
def e24_overlap_incl_excl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT inclusion-exclusion source overlap (VERDICT r5 item 4b): the
    identity e24_hll_overlap's sketch tier only ESTIMATES —
    |A∩B| = |A| + |B| − |A∪B| — computed exactly, for every source pair,
    WITHOUT ever joining on shingle values.

    The trick is the mask histogram: one hash agg per 3-gram shingle
    builds the sorted set of sources containing it, a second hash agg
    counts shingles per distinct source-set — and from that KB-sized
    relation every pair's |A|, |B| and |A∪B| are CASE-WHEN sums (shingle
    s counts toward A∪B iff its mask touches either source).  j26's exact
    tier must equi-join (source, shingle) against itself and therefore
    caps fan-out with a discriminative-gram filter; this formulation has
    NO value join at all, so it needs no cap and covers every gram.

    Scale shape: tokenize/shingle map → (source, shingle) distinct →
    per-shingle mask agg (map-side combined) → per-mask count — then a
    crossJoin(broadcast(pairs)) over the mask histogram, which holds at
    most min(#shingles, 2^|sources|) rows; for governance-scale source
    counts (dozens) that is KB.  For thousands of sources the mask
    collapses to a bitmap (e19's bitmap_construct_agg) and the identity
    is unchanged — the HLL tier (e24_hll_overlap, rows-only) stays the
    triage path when even per-shingle masks are too many.

    The sketch tier's estimates are pinned against these exact values in
    tests/test_round6.py (inclusion-exclusion triple within HLL
    tolerance), closing the loop the e24 docstring promised."""
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
    mask = sh0.groupBy("s").agg(F.sort_array(F.collect_set("source")).alias("m"))
    hist = mask.groupBy("m").agg(F.count("*").cast("long").alias("cnt"))
    srcs = d.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
    )
    in_a = F.array_contains(F.col("m"), F.col("src_a"))
    in_b = F.array_contains(F.col("m"), F.col("src_b"))
    agg_a = F.sum(F.when(in_a, F.col("cnt")).otherwise(F.lit(0))).alias("n_a")
    agg_b = F.sum(F.when(in_b, F.col("cnt")).otherwise(F.lit(0))).alias("n_b")
    agg_u = F.sum(F.when(in_a | in_b, F.col("cnt")).otherwise(F.lit(0))).alias(
        "n_union"
    )
    return (
        hist.crossJoin(F.broadcast(pairs))
        .groupBy("src_a", "src_b")
        .agg(agg_a, agg_b, agg_u)
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_union",
            (F.col("n_a") + F.col("n_b") - F.col("n_union")).alias("n_inter"),
        )
    )


# ------------------------------------------------------------------ j100
# k-core decomposition: unrolled peeling rounds; both engines execute the
# same fixed budget (fixpoint argument: once no node falls below k, every
# further round is the identity, so early convergence never diverges).
_KCORE_K = 3
_KCORE_ROUNDS = 8
_KCORE_EDGES_SQL = """
    e AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS a, l_partkey + 1000000000 AS b
        FROM lineitem WHERE l_quantity >= 25
    ), a0 AS MATERIALIZED (
        SELECT a AS node FROM e UNION SELECT b FROM e
    )
"""


def _kcore_round_sql(r: int, k: int) -> str:
    p = r - 1
    return f"""
    d{r} AS MATERIALIZED (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT e.a AS node FROM e
            JOIN a{p} x ON e.a = x.node JOIN a{p} y ON e.b = y.node
            UNION ALL
            SELECT e.b FROM e
            JOIN a{p} x ON e.a = x.node JOIN a{p} y ON e.b = y.node
        ) GROUP BY 1
    ), a{r} AS MATERIALIZED (
        SELECT node FROM d{r} WHERE deg >= {k}
    )"""


_KCORE_SQL = (
    "WITH "
    + _KCORE_EDGES_SQL
    + ","
    + ",".join(_kcore_round_sql(r, _KCORE_K) for r in range(1, _KCORE_ROUNDS + 1))
    + f"""
    SELECT node, CAST(deg AS BIGINT) AS core_degree
    FROM d{_KCORE_ROUNDS} WHERE deg >= {_KCORE_K}
    """
)


@register("j100_kcore_decomposition", oracle=_KCORE_SQL, survey="J100,J71,J90")
def j100_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the bipartite order↔part incidence
    graph — the graph-tier density audit that complements j90 (which
    components exist) and j79 (how clique-ish they are): the k-core is
    what survives repeatedly peeling nodes of degree < k, the standard
    "dense nucleus" extraction for dup-graph triage, influence analysis
    and graph-cleaning before expensive pairwise work.

    Raw ids keep the degree distribution SCALE-INVARIANT (orders keep
    ~4 parts and parts ~30 orders at every SF — a modulus-folded node
    space would densify with data and make the core trivial), so the
    peeling depth stays shallow (≤3 rounds observed at sf0.001–0.1)
    while the unrolled budget is 8; both engines run the identical 8
    rounds, and early convergence is a fixpoint so the budget can never
    diverge (the j86/f29 unrolled-iteration argument).  The oracle
    unrolls the same peeling as MATERIALIZED CTEs; a pure-Python
    iterative peel pins the true fixpoint in tests/test_round6.py.

    Scale shape (r11 optimization — the standard DELTA peel): the old
    loop recomputed the induced-subgraph degree from scratch each round
    (edges semi-joined onto the active set twice + a 2|E| union agg:
    ~3|E| shuffled bytes per round).  Degrees-within-active obey
    deg_{{r+1}}(v) = deg_r(v) − #edges(v → dropped_r), so each round now
    touches only the edges INCIDENT TO THE JUST-DROPPED nodes: one join
    of the symmetric edge relation onto the (shrinking) dropped set —
    AQE broadcasts it once it is small — plus two KB-side hash joins to
    apply the per-node delta.  The identical trajectory d_1..d_8 as the
    oracle's unrolled CTE chain: d_1 = full degree; membership, degree
    values and the ROUNDS budget are unchanged, rounds after the
    fixpoint are the identity (the j90 argument), and every value stays
    an exact BIGINT.  Output = core nodes with their in-core degree."""
    li = Tables(spark, sf_dir).lineitem
    b = (F.col("l_partkey") + F.lit(1000000000).cast("long")).alias("dst")
    a = F.col("l_orderkey").alias("src")
    # Symmetric distinct edge relation in ONE shuffle: the node id spaces
    # are disjoint (orderkey < 1e9 <= shifted partkey), so symmetrize-
    # then-distinct == distinct-then-symmetrize, and a single 2|E|
    # distinct replaces the old (distinct checkpoint + two reads).
    sym = (
        li.where(F.col("l_quantity") >= 25)
        .select(
            F.explode(
                F.array(
                    F.struct(a, b),
                    F.struct(
                        (F.col("l_partkey") + F.lit(1000000000).cast("long")).alias(
                            "src"
                        ),
                        F.col("l_orderkey").alias("dst"),
                    ),
                )
            ).alias("e")
        )
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # live == d_r: (node, degree within the round-r active set).  The
    # first degree relation is the plain symmetric-degree agg (== the
    # oracle's d1, since a0 is exactly the edge-endpoint set).  Each live
    # is checkpointed with its fixpoint probe fused in: the job that
    # materializes d_r also counts its deg < k rows (the next dropped
    # set), so the stop test costs no job of its own.
    n_low = F.count(F.when(F.col("deg") < _KCORE_K, 1)).alias("n")
    live, probe = checkpoint_observed(
        sym.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg")), n_low
    )
    # 7 delta updates carry d_1 -> d_8 (the oracle's 8 materialized
    # degree relations); an empty dropped set is the fixpoint — every
    # remaining round is the identity, stop paying for no-op rounds.
    # ``live.where(deg >= k)`` IS the anti join against dropped (exact
    # complement of the same relation), so each round is just the delta
    # join + one left join that AQE broadcasts once dropped is small.
    for _ in range(_KCORE_ROUNDS - 1):
        if probe["n"] == 0:
            break
        dropped = live.where(F.col("deg") < _KCORE_K).select("node")
        delta = (
            sym.join(dropped.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.count("*").alias("dd"))
        )
        live, probe = checkpoint_observed(
            live.where(F.col("deg") >= _KCORE_K)
            .join(delta, "node", "left")
            .select(
                "node",
                (F.col("deg") - F.coalesce(F.col("dd"), F.lit(0))).alias("deg"),
            ),
            n_low,
        )
    return live.where(F.col("deg") >= _KCORE_K).select(
        "node", F.col("deg").cast("long").alias("core_degree")
    )


# ------------------------------------------------------------------- e72
# Binned negative log-likelihood: ln appears ONLY through the 20 injected
# constants below (ln of the 10 fixed bin midpoints and their complements,
# floor-quantized to micro-nats in Python) — zero cross-engine float
# arithmetic, the j97/e70 theory-constant pattern.
import math as _math

_E72_LNP = {b: int(_math.floor(_math.log((b + 0.5) / 10.0) * 1_000_000)) for b in range(10)}
_E72_LN1MP = {
    b: int(_math.floor(_math.log(1.0 - (b + 0.5) / 10.0) * 1_000_000)) for b in range(10)
}
_E72_LNP_CASE = (
    "CASE bin " + " ".join(f"WHEN {b} THEN {v}" for b, v in _E72_LNP.items()) + " END"
)
_E72_LN1MP_CASE = (
    "CASE bin " + " ".join(f"WHEN {b} THEN {v}" for b, v in _E72_LN1MP.items()) + " END"
)


def _register_e72() -> None:
    from cassandra_snap_to_hadoop_spark.queries.round5 import _SCORE_SQL

    oracle = f"""
    WITH {_SCORE_SQL}, probs AS (
        SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
               CAST(FLOOR(1000000.0 / (1.0 + exp(-(CAST(s AS DOUBLE) / 1000000.0)))
                          + 0.5) AS BIGINT) AS p_micro
        FROM sc
    ), binned AS (
        SELECT y, LEAST(p_micro // 100000, 9) AS bin FROM probs
    ), bins AS (
        SELECT CAST(bin AS INTEGER) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos
        FROM binned GROUP BY 1
    )
    SELECT bin, n, n_pos,
           CAST(-(n_pos * ({_E72_LNP_CASE})
                  + (n - n_pos) * ({_E72_LN1MP_CASE})) AS BIGINT) AS nll_micro
    FROM bins
    """

    @register(
        "e72_log_loss_binned", oracle=oracle, survey="E72,E62,E63"
    )
    def e72_log_loss_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Binned negative log-likelihood (cross-entropy / log loss) of the
        frozen sigmoid-calibrated scorer — the PROPER scoring rule that
        punishes confident mistakes exponentially, completing the eval
        tier (e62 ROC ranks, e68 PR under imbalance, e69 thresholds, e63
        Brier quadratic calibration; THIS is the loss LLM evals and
        perplexity reports actually quote).

        Exactness: each row's p_micro comes from the e63-proven
        single-rounding sigmoid order, then everything downstream is
        BIGINT: rows land in 10 fixed probability bins and the bin's NLL
        contribution is n_pos·(−ln m_b) + n_neg·(−ln(1−m_b)) with the 20
        ln constants floor-quantized to micro-nats IN PYTHON and injected
        verbatim into both engines (the j97 theory-constant pattern) — ln
        never runs cross-engine.  Binned NLL is the deployable form at
        100 TB: the 10-row histogram is mergeable across shards/days
        while per-row −ln(p) is not storable.

        Scale shape: one scan → score agg (e62's) → 10-group hash agg →
        constant arithmetic; no joins, no windows."""
        from cassandra_snap_to_hadoop_spark.queries.round5 import _score_df

        sc = _score_df(spark, sf_dir)
        probs = sc.select(
            F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
            F.floor(
                1000000.0 / (1.0 + F.exp(-(F.col("s").cast("double") / 1000000.0)))
                + 0.5
            )
            .cast("long")
            .alias("p_micro"),
        )
        bins = (
            probs.groupBy(
                F.least(F.expr("p_micro DIV 100000"), F.lit(9))
                .cast("int")
                .alias("bin")
            )
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("y").cast("long").alias("n_pos"),
            )
        )
        return bins.select(
            "bin",
            "n",
            "n_pos",
            F.expr(
                f"CAST(-(n_pos * ({_E72_LNP_CASE})"
                f" + (n - n_pos) * ({_E72_LN1MP_CASE})) AS BIGINT)"
            ).alias("nll_micro"),
        )


_register_e72()


@register(
    "e73_join_cardinality_audit",
    oracle="""
    WITH a AS (
        SELECT l_partkey AS k FROM lineitem WHERE l_quantity >= 45
    ), b AS (
        SELECT p_partkey AS k FROM part WHERE p_size >= 40
    ), ga AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_a,
               CAST(COUNT(DISTINCT k) AS BIGINT) AS ndv_a FROM a
    ), gb AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_b,
               CAST(COUNT(DISTINCT k) AS BIGINT) AS ndv_b FROM b
    ), sa AS (
        SELECT k % 16 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT k) AS BIGINT) AS ndv
        FROM a GROUP BY 1
    ), sb AS (
        SELECT k % 16 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT k) AS BIGINT) AS ndv
        FROM b GROUP BY 1
    ), bk AS (
        SELECT CAST(SUM((sa.n * sb.n) // GREATEST(sa.ndv, sb.ndv)) AS BIGINT)
                   AS est_bucketed
        FROM sa JOIN sb ON sa.bucket = sb.bucket
    ), act AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS actual FROM a JOIN b ON a.k = b.k
    )
    SELECT ga.n_a, gb.n_b, ga.ndv_a, gb.ndv_b,
           CAST((ga.n_a * gb.n_b) // GREATEST(ga.ndv_a, gb.ndv_b) AS BIGINT)
               AS est_uniform,
           bk.est_bucketed, act.actual,
           CAST(ABS((ga.n_a * gb.n_b) // GREATEST(ga.ndv_a, gb.ndv_b)
                    - act.actual) AS BIGINT) AS err_uniform,
           CAST(ABS(bk.est_bucketed - act.actual) AS BIGINT) AS err_bucketed
    FROM ga, gb, bk, act
    """,
    survey="E73,J53,A28",
)
def e73_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation audit — the optimizer-statistics
    self-check in the a30/j97 family: compute the classic CBO uniform
    estimate |A⋈B| ≈ |A|·|B| / max(ndv_A, ndv_B), the 16-bucket
    histogram-refined version (the same formula per hash bucket, summed),
    and the EXACT actual join cardinality, side by side with both
    absolute errors.  This is the check a table-stats pipeline (ANALYZE
    TABLE / j53 column profiles) runs to decide whether its histograms
    are fine-grained enough for join planning — and a direct measurement
    of why bucketed stats beat single-number NDV on skewed keys.

    Pure integer arithmetic end-to-end (counts, exact NDVs, truncating
    DIV), so the audit itself is hash-certifiable.

    Scale shape: two filtered scans → per-bucket hash aggs (16 rows
    each) + global aggs (1 row each) + the actual-count equi join;
    the estimate relations are KB and combine via broadcast — the only
    volume term is the join being audited."""
    t = Tables(spark, sf_dir)
    # r11 (guide §2.4): each single-column key relation feeds its global
    # agg, its bucket agg and the actual-count join — cut both so each
    # filtered scan runs once, not three times.
    a = t.lineitem.where(F.col("l_quantity") >= 45).select(
        F.col("l_partkey").alias("k")
    ).localCheckpoint(eager=False)
    b = (
        t.part.where(F.col("p_size") >= 40)
        .select(F.col("p_partkey").alias("k"))
        .localCheckpoint(eager=False)
    )
    ga = a.agg(
        F.count("*").cast("long").alias("n_a"),
        F.countDistinct("k").cast("long").alias("ndv_a"),
    )
    gb = b.agg(
        F.count("*").cast("long").alias("n_b"),
        F.countDistinct("k").cast("long").alias("ndv_b"),
    )
    sa = a.groupBy(F.expr("k % 16").alias("bucket")).agg(
        F.count("*").cast("long").alias("n_sa"),
        F.countDistinct("k").cast("long").alias("ndv_sa"),
    )
    sb = b.groupBy(F.expr("k % 16").alias("bucket")).agg(
        F.count("*").cast("long").alias("n_sb"),
        F.countDistinct("k").cast("long").alias("ndv_sb"),
    )
    bk = (
        sa.join(sb, "bucket")
        .select(
            F.expr("(n_sa * n_sb) div greatest(ndv_sa, ndv_sb)").alias("est_b")
        )
        .agg(F.sum("est_b").cast("long").alias("est_bucketed"))
    )
    act = a.join(b, "k").agg(F.count("*").cast("long").alias("actual"))
    return (
        ga.crossJoin(F.broadcast(gb))
        .crossJoin(F.broadcast(bk))
        .crossJoin(F.broadcast(act))
        .select(
            "n_a",
            "n_b",
            "ndv_a",
            "ndv_b",
            F.expr("(n_a * n_b) div greatest(ndv_a, ndv_b)").alias("est_uniform"),
            "est_bucketed",
            "actual",
            F.expr(
                "abs((n_a * n_b) div greatest(ndv_a, ndv_b) - actual)"
            ).alias("err_uniform"),
            F.expr("abs(est_bucketed - actual)").alias("err_bucketed"),
        )
    )


_DSIR_B = 4096  # hashed feature space (Laplace smoothing adds B to totals)
_DSIR_F_SQL = (
    "CAST(CAST(('0x' || substr(md5(bg), 1, 15)) AS UBIGINT) "
    f"% {_DSIR_B} AS BIGINT)"
)


@register(
    "j101_dsir_importance",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, {_WORDS} AS w FROM documents
    ), bg AS (
        SELECT doc_id, lang, {_DSIR_F_SQL} AS f
        FROM (
            SELECT doc_id, lang, w[i] || ' ' || w[i+1] AS bg
            FROM (SELECT doc_id, lang, w, unnest(range(1, len(w))) AS i
                  FROM t WHERE len(w) >= 2)
        )
    ), ct AS (
        SELECT f, COUNT(*) AS c FROM bg WHERE lang = 'en' GROUP BY 1
    ), cs AS (
        SELECT f, COUNT(*) AS c FROM bg GROUP BY 1
    ), tt AS (
        SELECT COUNT(*) AS n FROM bg WHERE lang = 'en'
    ), ts AS (
        SELECT COUNT(*) AS n FROM bg
    ), feat AS (
        SELECT cs.f,
               CAST(FLOOR(ln(((COALESCE(ct.c, 0) + 1) * (ts.n + {_DSIR_B})) * 1.0
                             / ((cs.c + 1) * (tt.n + {_DSIR_B})))
                          * 1000000) AS BIGINT) AS r
        FROM cs LEFT JOIN ct ON cs.f = ct.f
        CROSS JOIN tt CROSS JOIN ts
    )
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(feat.r) AS BIGINT) AS w_micro
    FROM bg JOIN feat ON bg.f = feat.f
    GROUP BY 1
    """,
    survey="J101,J41,J9",
)
def j101_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public method):
    score every document by how much more likely its HASHED-BIGRAM bag is
    under the target distribution (here: the English slice) than under
    the full-corpus source distribution — the standard pretraining-data
    selection signal one step past j77's perplexity buckets (which need a
    trained LM; DSIR needs only two count vectors).

    log w(doc) = Σ_features ln(p_target(f) / p_source(f)) with Laplace
    smoothing over the {_DSIR_B}-dim hashed feature space.  Exactness is
    the j41 discipline: each per-FEATURE log-ratio is computed as ln of
    ONE division of exact integer products — ((ct+1)·(tot_s+B)) /
    ((cs+1)·(tot_t+B)) — floor-quantized to micro-nats immediately, so
    per-doc sums are BIGINT and association-free; md5 features hash
    identically in both engines.

    Scale shape (r11 optimization, guide §1.1 first-principles + §2.3
    "shuffle keys and metadata instead of payloads"): ONE corpus-scan
    explode builds the per-(doc, en?, feature) count proxy, which
    localCheckpoints and feeds everything — the old plan re-derived the
    tokenize+md5 stream FOUR times (target counts, source counts, the
    two totals, the scoring join).  The feature table now folds out of
    the proxy with conditional sums (c_t = Σ en counts, c_s = Σ all) and
    BOTH totals come from the ≤B-row feature relation itself (n_s = Σc_s,
    n_t = Σc_t) — zero extra corpus passes; the scoring join broadcasts
    the B-row table onto the proxy and weights each feature by its
    per-doc count (Σ cnt·r ≡ the old per-instance Σ r, exact BIGINTs).
    Selection (top-k by weight) composes with j58/j43's certified
    samplers."""
    d = fan_out(Tables(spark, sf_dir).documents)
    w = tokens(F.col("text"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(w) - 1),
        lambda i: F.array_join(F.slice(w, i, 2), " "),
    )
    bgc = (
        d.filter(F.size(w) >= 2)
        .select("doc_id", "lang", F.explode(bigrams).alias("bg"))
        .select(
            "doc_id",
            (F.col("lang") == "en").alias("en"),
            F.pmod(
                F.conv(F.substring(F.md5(F.col("bg")), 1, 15), 16, 10).cast("long"),
                F.lit(_DSIR_B),
            ).alias("f"),
        )
        .groupBy("doc_id", "en", "f")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    counts = bgc.groupBy("f").agg(
        F.sum("cnt").alias("c_s"),
        F.sum(F.when(F.col("en"), F.col("cnt")).otherwise(0)).alias("c_t"),
    )
    totals = counts.agg(
        F.sum("c_s").alias("n_s"), F.sum("c_t").alias("n_t")
    )
    feat = counts.crossJoin(F.broadcast(totals)).select(
        "f",
        F.expr(
            f"CAST(FLOOR(ln(((c_t + 1) * (n_s + {_DSIR_B})) * 1.0"
            f" / ((c_s + 1) * (n_t + {_DSIR_B}))) * 1000000) AS BIGINT)"
        ).alias("r"),
    )
    return (
        bgc.join(F.broadcast(feat), "f")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("r")).cast("long").alias("w_micro"),
        )
    )


@register(
    "sql_api_unpivot",
    oracle="""
    WITH wide AS (
        SELECT n.n_name,
               CAST(SUM(l.l_quantity) AS BIGINT) AS sum_qty,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1
    )
    SELECT n_name, measure, value
    FROM (UNPIVOT wide ON sum_qty, sum_cents, n_items
          INTO NAME measure VALUE value)
    """,
    survey="SQL-5,E9,H1",
)
def sql_api_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API UNPIVOT surface (SURVEY §3.3 depth, e9's inverse): melt a
    wide per-nation aggregate (three BIGINT measures) into tidy
    (nation, measure, value) rows with ONE SQL text — the relational
    reshape feature-store exports and metric catalogs use, submitted
    through the front door rather than the DataFrame melt.  Spark 4 and
    DuckDB both ship native UNPIVOT; the measure NAMES become data, which
    is exactly what makes the reshape hash-checkable cross-engine.  All
    three measures are exact integers (quantity units, price cents,
    counts) so the long format hashes bit-identically.

    Scale shape: the star join + 25-group agg does all the volume work;
    UNPIVOT itself is a 3-way generate over the 25-row aggregate —
    constant cost at any SF."""
    from cassandra_snap_to_hadoop_spark.io import load

    for t in ("lineitem", "orders", "customer", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(f"cs2h_{t}")
    return spark.sql(
        """
        WITH wide AS (
            SELECT n.n_name,
                   CAST(SUM(l.l_quantity) AS BIGINT) AS sum_qty,
                   CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                       AS sum_cents,
                   CAST(COUNT(*) AS BIGINT) AS n_items
            FROM cs2h_lineitem l
            JOIN cs2h_orders o ON l.l_orderkey = o.o_orderkey
            JOIN cs2h_customer c ON o.o_custkey = c.c_custkey
            JOIN cs2h_nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1
        )
        SELECT n_name, measure, value
        FROM wide
        UNPIVOT (value FOR measure IN (sum_qty, sum_cents, n_items))
        """
    )


@register(
    "j102_l_diversity",
    oracle="""
    WITH cls AS (
        SELECT c_mktsegment, c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS class_size,
               CAST(COUNT(DISTINCT CAST(ROUND(c_acctbal * 100) AS BIGINT) // 200000) AS BIGINT) AS l_div
        FROM customer GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(l_div) AS BIGINT) AS l_diversity,
           CAST(SUM(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_below_l3,
           CAST(SUM(CASE WHEN l_div < 3 THEN class_size ELSE 0 END)
                AS BIGINT) AS rows_below_l3,
           CAST((SUM(CASE WHEN l_div < 3 THEN class_size ELSE 0 END)
                 * 1000000) // SUM(class_size) AS BIGINT) AS at_risk_ppm
    FROM cls
    """,
    survey="J102,J84,J21",
)
def j102_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007 — the published
    successor to k-anonymity): j84 guarantees each quasi-identifier class
    is LARGE, but a large class whose SENSITIVE attribute is uniform
    still leaks it (the "homogeneity attack"); l-diversity requires every
    class to contain >= l distinct sensitive values.  Audited here over
    j84's quasi-identifier tuple (market segment, nation) with the
    account-balance band (2000-unit buckets over exact cents —
    ROUND(bal*100) then truncating integer division, the engine-identical
    form; a raw float CAST would round in one engine and truncate in the
    other) as the sensitive attribute: the
    dataset's l = the minimum per-class distinct count, plus how many
    classes (and what row mass, ppm) sit below the conventional l=3
    release bar.

    Pure integer counting: one hash agg over the QI key with a distinct
    count inside, then a 1-row fold — the j84 shape with one extra
    distinct, still map-side combinable and bounded by the QI domain."""
    c = Tables(spark, sf_dir).customer
    cls = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").cast("long").alias("class_size"),
        F.countDistinct(F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT) div 200000"))
        .cast("long")
        .alias("l_div"),
    )
    return cls.agg(
        F.count("*").cast("long").alias("n_classes"),
        F.min("l_div").cast("long").alias("l_diversity"),
        F.sum(F.when(F.col("l_div") < 3, 1).otherwise(0))
        .cast("long")
        .alias("classes_below_l3"),
        F.sum(F.when(F.col("l_div") < 3, F.col("class_size")).otherwise(0))
        .cast("long")
        .alias("rows_below_l3"),
        F.expr(
            "CAST((SUM(CASE WHEN l_div < 3 THEN class_size ELSE 0 END)"
            " * 1000000) DIV SUM(class_size) AS BIGINT)"
        ).alias("at_risk_ppm"),
    )


# ------------------------------------------------------------------- e74
# SPRT constants, floor-quantized to micro-nats in Python and injected
# into both engines (the e72/j97 pattern): H0 p=0.18 vs H1 p=0.22,
# alpha = beta = 0.05.
_SPRT_P0, _SPRT_P1 = 0.18, 0.22
_SPRT_C1 = int(_math.floor(_math.log(_SPRT_P1 / _SPRT_P0) * 1_000_000))
_SPRT_C0 = int(
    _math.floor(_math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) * 1_000_000)
)
_SPRT_UP = int(_math.floor(_math.log(0.95 / 0.05) * 1_000_000))
_SPRT_LO = int(_math.floor(_math.log(0.05 / 0.95) * 1_000_000))


@register(
    "e74_sprt_sequential",
    oracle=f"""
    WITH ev AS (
        SELECT user_id % 2 AS arm,
               epoch_us(ts) // 86400000000 AS day,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s
        FROM events
    ), daily AS (
        SELECT arm, day, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(s) AS BIGINT) AS s
        FROM ev GROUP BY 1, 2
    ), cum AS (
        SELECT a.arm, a.day,
               CAST(SUM(b.n) AS BIGINT) AS cum_n,
               CAST(SUM(b.s) AS BIGINT) AS cum_s
        FROM daily a JOIN daily b ON b.arm = a.arm AND b.day <= a.day
        GROUP BY 1, 2
    )
    SELECT CAST(arm AS INTEGER) AS arm, day, cum_n, cum_s,
           CAST(cum_s * ({_SPRT_C1}) + (cum_n - cum_s) * ({_SPRT_C0})
                AS BIGINT) AS llr_micro,
           CASE WHEN cum_s * ({_SPRT_C1}) + (cum_n - cum_s) * ({_SPRT_C0})
                     >= {_SPRT_UP} THEN 'accept_h1'
                WHEN cum_s * ({_SPRT_C1}) + (cum_n - cum_s) * ({_SPRT_C0})
                     <= {_SPRT_LO} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM cum
    """,
    survey="E74,E31,E52",
)
def e74_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT (sequential probability ratio test) over the daily
    purchase-conversion stream, per experiment arm (user_id % 2) — the
    SEQUENTIAL leg of the A/B tier (e52 Welch / e31 Wilson / e40 CUPED
    are fixed-horizon; e66 TOST certifies equivalence): monitor the
    cumulative log-likelihood ratio for H1: p=0.22 vs H0: p=0.18 and
    stop the moment it crosses ln((1−β)/α) or ln(β/(1−α)) — the
    always-valid early-stopping discipline a metrics platform runs daily
    instead of peeking at a fixed-horizon p-value.

    Exactness: LLR_t = s_t·ln(p1/p0) + (n_t−s_t)·ln(q1/q0) — both ln
    factors and both thresholds are Python-injected micro-nat literals
    (the e72 pattern), so every per-day statistic and the decision
    string are pure BIGINT arithmetic.  Day boundaries are tz-free epoch
    days (unix_micros DIV 86400e6, the established idiom).

    Scale shape: one scan → (arm, day) hash agg (KB at any volume) →
    broadcast non-equi self-join for the cumulative (the e62 pattern —
    no unpartitioned window) → constant arithmetic."""
    ev = Tables(spark, sf_dir).events.select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("s"),
    )
    daily = ev.groupBy("arm", "day").agg(
        F.count("*").cast("long").alias("n"), F.sum("s").cast("long").alias("s")
    )
    cum = (
        daily.alias("a")
        .join(
            F.broadcast(daily.alias("b")),
            (F.col("b.arm") == F.col("a.arm")) & (F.col("b.day") <= F.col("a.day")),
        )
        .groupBy(F.col("a.arm").alias("arm"), F.col("a.day").alias("day"))
        .agg(
            F.sum("b.n").cast("long").alias("cum_n"),
            F.sum("b.s").cast("long").alias("cum_s"),
        )
    )
    llr = f"cum_s * ({_SPRT_C1}) + (cum_n - cum_s) * ({_SPRT_C0})"
    return cum.select(
        "arm",
        "day",
        "cum_n",
        "cum_s",
        F.expr(f"CAST({llr} AS BIGINT)").alias("llr_micro"),
        F.expr(
            f"CASE WHEN {llr} >= {_SPRT_UP} THEN 'accept_h1'"
            f" WHEN {llr} <= {_SPRT_LO} THEN 'accept_h0'"
            f" ELSE 'continue' END"
        ).alias("decision"),
    )


# ------------------------------------------------------------------- e75
_PAV_ROUNDS = 9  # 10 bins -> at most 9 merges; >=1 merge fires per round


def _pav_round_sql(r: int) -> str:
    p = r - 1
    return f"""
    p{r} AS MATERIALIZED (
        SELECT p, SUM(n) AS agg_n, SUM(pos) AS agg_pos FROM b{p} GROUP BY 1
    ), s{r} AS MATERIALIZED (
        SELECT x.p AS pi, MIN(y.p) AS pj FROM p{r} x JOIN p{r} y ON y.p > x.p
        GROUP BY 1
    ), v{r} AS MATERIALIZED (
        SELECT s.pi, s.pj FROM s{r} s
        JOIN p{r} i ON i.p = s.pi JOIN p{r} j ON j.p = s.pj
        WHERE i.agg_pos * j.agg_n > j.agg_pos * i.agg_n
    ), m{r} AS MATERIALIZED (
        SELECT v.pj AS from_p, v.pi AS to_p FROM v{r} v
        WHERE v.pi NOT IN (SELECT pj FROM v{r})
    ), b{r} AS MATERIALIZED (
        SELECT b.bin, b.n, b.pos, COALESCE(m.to_p, b.p) AS p
        FROM b{p} b LEFT JOIN m{r} m ON b.p = m.from_p
    )"""


def _register_e75() -> None:
    from cassandra_snap_to_hadoop_spark.queries.round5 import _SCORE_SQL

    oracle = (
        f"""
    WITH {_SCORE_SQL}, probs AS (
        SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
               CAST(FLOOR(1000000.0 / (1.0 + exp(-(CAST(s AS DOUBLE) / 1000000.0)))
                          + 0.5) AS BIGINT) AS p_micro
        FROM sc
    ), b0 AS MATERIALIZED (
        SELECT CAST(LEAST(p_micro // 100000, 9) AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS pos,
               CAST(LEAST(p_micro // 100000, 9) AS BIGINT) AS p
        FROM probs GROUP BY 1
    ),"""
        + ",".join(_pav_round_sql(r) for r in range(1, _PAV_ROUNDS + 1))
        + f"""
    SELECT CAST(b.bin AS INTEGER) AS bin, CAST(b.p AS INTEGER) AS pool,
           pf.agg_n AS pool_n, pf.agg_pos AS pool_pos,
           CAST((pf.agg_pos * 1000000) // pf.agg_n AS BIGINT) AS iso_ppm
    FROM b{_PAV_ROUNDS} b
    JOIN (SELECT p, CAST(SUM(n) AS BIGINT) AS agg_n,
                 CAST(SUM(pos) AS BIGINT) AS agg_pos
          FROM b{_PAV_ROUNDS} GROUP BY 1) pf ON pf.p = b.p
    """
    )

    @register("e75_isotonic_calibration", oracle=oracle, survey="E75,E63,E72")
    def e75_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Isotonic recalibration of the frozen sigmoid scorer via
        pool-adjacent-violators (PAV) over the 10 reliability bins — the
        standard non-parametric calibration MAP (Zadrozny & Elkan 2002)
        that e63's diagnosis feeds: wherever observed positive rate
        DECREASES as predicted probability increases, PAV merges the
        offending bins until rates are monotone, and the pooled rates ARE
        the recalibrated probabilities.

        Relational PAV: pools are represented by their minimum bin id;
        each unrolled round (9 suffice for 10 bins — at least one merge
        fires per round while any violation exists, and 10 pools admit at
        most 9 merges) finds adjacent pool pairs with rate_i > rate_j by
        exact INTEGER cross-multiplication (P_i·N_j > P_j·N_i — no
        rational rates), merges every chain-head violator (a pair merges
        only if its left pool is not itself the right side of another
        violation — deterministic, conflict-free), and relabels.  PAV's
        solution is unique regardless of merge order, so the fixed unroll
        is exact; a plain-Python stack PAV pins it, and monotonicity of
        the pooled rates is asserted as a law.

        Scale shape: one corpus scan → 10-row bin agg; all nine rounds
        operate on ≤10-row relations (broadcast joins, KB checkpoints) —
        the volume term is the scan, the PAV is free."""
        from cassandra_snap_to_hadoop_spark.queries.round5 import _score_df

        sc = _score_df(spark, sf_dir)
        probs = sc.select(
            F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
            F.floor(
                1000000.0
                / (1.0 + F.exp(-(F.col("s").cast("double") / 1000000.0)))
                + 0.5
            )
            .cast("long")
            .alias("p_micro"),
        )
        bins = (
            probs.groupBy(
                F.least(F.expr("p_micro DIV 100000"), F.lit(9))
                .cast("long")
                .alias("bin")
            )
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("y").cast("long").alias("pos"),
            )
        )
        # r11 optimization (guide §1.2 step 1): the PAV used to run as up
        # to 9 distributed rounds over the ≤10-row bin relation (~6 tiny
        # jobs per round: pools agg, successor join, violation join, merge
        # checkpoint + count, relabel checkpoint) — pure job overhead for
        # a relation that is ≤10 rows BY CONSTRUCTION.  The volume term
        # (corpus scan → 10-row bin agg) stays distributed; the merge now
        # runs as the canonical stack PAV over the collected integer
        # rows — the SAME algorithm the python pin in tests/test_round6
        # already replays, with the identical exact-integer violation
        # compare (P_i·N_j > P_j·N_i) and min-bin pool keys.  PAV's
        # solution is unique regardless of merge order, so the output is
        # unchanged (oracle hash-green at sf0.001/0.01/0.1).
        rows = sorted(
            (int(r["bin"]), int(r["n"]), int(r["pos"])) for r in bins.collect()
        )
        stack: list[list[int]] = []  # [min_bin, pool_n, pool_pos]
        for b, n, pos in rows:
            stack.append([b, n, pos])
            while len(stack) >= 2 and (
                stack[-2][2] * stack[-1][1] > stack[-1][2] * stack[-2][1]
            ):
                lo = stack.pop()
                stack[-1][1] += lo[1]
                stack[-1][2] += lo[2]
        out = []
        pool_of: dict[int, tuple[int, int, int]] = {}
        pool_iter = iter(stack)
        cur = next(pool_iter)
        nxt = next(pool_iter, None)
        for b, n, pos in rows:
            if nxt is not None and b >= nxt[0]:
                cur, nxt = nxt, next(pool_iter, None)
            pool_of[b] = (cur[0], cur[1], cur[2])
        for b, n, pos in rows:
            pk, pn, pp = pool_of[b]
            out.append((b, pk, pn, pp, (pp * 1000000) // pn))
        return spark.createDataFrame(
            out,
            "bin int, pool int, pool_n long, pool_pos long, iso_ppm long",
        )


_register_e75()


@register(
    "a31_stcs_tier_audit",
    oracle="""
    WITH files AS (
        SELECT epoch_us(l_shipdate) // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY 1
    ), tiers AS (
        SELECT CAST(length(CAST(n_rows AS VARCHAR)) AS INTEGER) AS tier,
               CAST(COUNT(*) AS BIGINT) AS n_sstables,
               CAST(SUM(n_rows) AS BIGINT) AS rows_total,
               CAST(MIN(n_rows) AS BIGINT) AS min_rows,
               CAST(MAX(n_rows) AS BIGINT) AS max_rows
        FROM files GROUP BY 1
    )
    SELECT tier, n_sstables, rows_total, min_rows, max_rows,
           CAST(CASE WHEN n_sstables >= 4 THEN 1 ELSE 0 END AS INTEGER)
               AS compaction_due,
           CAST(CASE WHEN n_sstables >= 4
                     THEN length(CAST(rows_total AS VARCHAR))
                     ELSE tier END AS INTEGER) AS merged_tier,
           CAST(CASE WHEN n_sstables >= 4 THEN rows_total ELSE 0 END
                AS BIGINT) AS rewrite_rows
    FROM tiers
    """,
    survey="A31,A29,B8",
)
def a31_stcs_tier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-tiered compaction (STCS) audit — Cassandra's DEFAULT
    compaction strategy, the operational model the reference's snapshots
    are born under: sstables (per-day row-count stats standing in for
    file sizes, the a29 convention) group into ORDER-OF-MAGNITUDE tiers;
    any tier holding >= 4 sstables is due for compaction (the
    min_threshold default), and the audit reports the post-merge
    destination tier and the rows that rewrite — the write-amplification
    line item a capacity plan reads.  Completes the layout tier's
    strategy coverage: a29 plans target-size binning (leveled-ish
    rewrite), THIS audits size-tiered triggers.

    Exactness: the tier key is the decimal digit COUNT of the exact
    integer size (length of the canonical integer string — both engines
    render integers identically), so tiering, triggers and destinations
    are all integer/string arithmetic with zero float.

    Scale shape: one map-side-combinable hash agg to per-day stats
    (metadata scale), then a ≤10-row tier agg — the audit never touches
    data volume beyond the first agg."""
    li = Tables(spark, sf_dir).lineitem
    files = li.groupBy(
        F.expr("unix_micros(l_shipdate) DIV 86400000000").alias("day")
    ).agg(F.count("*").cast("long").alias("n_rows"))
    tiers = files.groupBy(
        F.length(F.col("n_rows").cast("string")).cast("int").alias("tier")
    ).agg(
        F.count("*").cast("long").alias("n_sstables"),
        F.sum("n_rows").cast("long").alias("rows_total"),
        F.min("n_rows").cast("long").alias("min_rows"),
        F.max("n_rows").cast("long").alias("max_rows"),
    )
    return tiers.select(
        "tier",
        "n_sstables",
        "rows_total",
        "min_rows",
        "max_rows",
        F.when(F.col("n_sstables") >= 4, 1).otherwise(0).cast("int").alias(
            "compaction_due"
        ),
        F.when(
            F.col("n_sstables") >= 4,
            F.length(F.col("rows_total").cast("string")),
        )
        .otherwise(F.col("tier"))
        .cast("int")
        .alias("merged_tier"),
        F.when(F.col("n_sstables") >= 4, F.col("rows_total"))
        .otherwise(0)
        .cast("long")
        .alias("rewrite_rows"),
    )


_ALLEN_CASE = """
    CASE WHEN a_hi < b_lo THEN 'precedes'
         WHEN a_hi = b_lo THEN 'meets'
         WHEN a_lo < b_lo AND b_lo < a_hi AND a_hi < b_hi THEN 'overlaps'
         WHEN a_lo < b_lo AND a_hi = b_hi THEN 'finished_by'
         WHEN a_lo < b_lo AND a_hi > b_hi THEN 'contains'
         WHEN a_lo = b_lo AND a_hi < b_hi THEN 'starts'
         WHEN a_lo = b_lo AND a_hi = b_hi THEN 'equals'
         WHEN a_lo = b_lo AND a_hi > b_hi THEN 'started_by'
         WHEN a_lo > b_lo AND a_hi < b_hi THEN 'during'
         WHEN a_lo > b_lo AND a_hi = b_hi THEN 'finishes'
         WHEN b_lo < a_lo AND a_lo < b_hi AND b_hi < a_hi THEN 'overlapped_by'
         WHEN a_lo = b_hi THEN 'met_by'
         ELSE 'preceded_by' END
"""


@register(
    "d23_allen_interval_histogram",
    oracle=f"""
    WITH iv AS (
        SELECT o_custkey AS cust, o_orderkey AS k,
               epoch_us(o_orderdate) // 86400000000 AS lo,
               epoch_us(o_orderdate) // 86400000000 + 7 AS hi
        FROM orders
    ), pairs AS (
        SELECT a.lo AS a_lo, a.hi AS a_hi, b.lo AS b_lo, b.hi AS b_hi
        FROM iv a JOIN iv b ON a.cust = b.cust AND a.k < b.k
    )
    SELECT {_ALLEN_CASE} AS relation, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1
    """,
    survey="D23,D16,D6",
)
def d23_allen_interval_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra (Allen 1983) — classify every
    same-customer order-window pair (7-day fulfillment intervals) into
    the THIRTEEN mutually-exclusive interval relations and report the
    histogram.  d6/d16 answer "which intervals overlap"; temporal
    reasoning needs the full relation: 'meets' vs 'overlaps' vs 'during'
    drive different sessionization, SLA-chaining and entity-timeline
    decisions, and the 13-way CASE over exact integer day endpoints is
    the complete, deterministic decision tree (every pair lands in
    exactly one bucket — partition law tested).

    Scale shape: pairs are blocked on the CUSTOMER equi key (per-customer
    order density is scale-invariant, so candidate volume stays linear
    in orders — the d8/e26 argument); classification is one codegen CASE
    per pair; output is a ≤13-row histogram."""
    o = Tables(spark, sf_dir).orders
    iv = o.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("k"),
        F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("lo"),
        F.expr("unix_micros(o_orderdate) DIV 86400000000 + 7").alias("hi"),
    )
    a = iv.select(
        F.col("cust"),
        F.col("k").alias("ka"),
        F.col("lo").alias("a_lo"),
        F.col("hi").alias("a_hi"),
    )
    b = iv.select(
        F.col("cust"),
        F.col("k").alias("kb"),
        F.col("lo").alias("b_lo"),
        F.col("hi").alias("b_hi"),
    )
    pairs = a.join(b, "cust").where(F.col("ka") < F.col("kb"))
    return pairs.groupBy(F.expr(_ALLEN_CASE).alias("relation")).agg(
        F.count("*").cast("long").alias("n_pairs")
    )


@register(
    "j103_kneser_ney_bigram",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_WORDS} AS w FROM documents
    ), b AS (
        SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t
              WHERE len(w) >= 2)
    ), bc AS (
        SELECT w1, w2, COUNT(*) AS c FROM b GROUP BY 1, 2
    ), u1 AS (
        SELECT w1, COUNT(*) AS c1 FROM b GROUP BY 1
    ), nf AS (
        SELECT w1, COUNT(DISTINCT w2) AS nf FROM b GROUP BY 1
    ), np AS (
        SELECT w2, COUNT(DISTINCT w1) AS np FROM b GROUP BY 1
    ), tot AS (
        SELECT COUNT(*) AS nt FROM bc
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(FLOOR(ln(
                 (GREATEST(4 * bc.c - 3, 0) * tot.nt + 3 * nf.nf * np.np) * 1.0
                 / (4 * u1.c1 * tot.nt)) * 1000000) AS BIGINT)) AS BIGINT)
               AS kn_micro
    FROM b
    JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
    JOIN u1 ON b.w1 = u1.w1
    JOIN nf ON b.w1 = nf.w1
    JOIN np ON b.w2 = np.w2
    CROSS JOIN tot
    GROUP BY b.doc_id
    """,
    survey="J103,J41,J7",
)
def j103_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995 /
    Chen & Goodman 1999 — the smoothing KenLM and every serious n-gram
    quality filter actually use): absolute discounting D=0.75 with the
    CONTINUATION-count backoff p_cont(w2) = N1+(·w2)/N_types, the piece
    j41's simple interpolation lacks — "san francisco" makes "francisco"
    frequent but NOT diverse, and KN correctly scores it near-zero after
    unseen contexts.

    Exactness: D = 3/4 lets the whole probability clear denominators on
    an integer lattice — p = [max(4c−3,0)·Nt + 3·N1+(w1·)·N1+(·w2)] /
    (4·c(w1)·Nt) — so each scored bigram is ln of ONE division of exact
    BIGINT products, floor-quantized to micro-nats (the j41/j101
    discipline; overflow budget: every product ≤ ~5·10^11 at sf0.1,
    documented headroom 10^7 of int64).  Training == scoring corpus ⇒
    every c ≥ 1 ⇒ the numerator ≥ Nt > 0, no ln(0) path.

    Scale shape: one bigram explode (TF-IDF volume); FOUR count
    relations, all vocab/bigram-bounded hash aggs; scoring joins are
    equi joins on token keys + one broadcast scalar — the j41 shape with
    continuation counts riding the same explode."""
    d = fan_out(Tables(spark, sf_dir).documents)
    w = tokens(F.col("text"))
    b = (
        d.filter(F.size(w) >= 2)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size(w) - 1),
                    lambda i: F.struct(
                        F.element_at(w, i).alias("w1"),
                        F.element_at(w, i + 1).alias("w2"),
                    ),
                )
            ).alias("pos", "bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        # r11 (guide §2.4): ``b`` feeds the four count relations AND the
        # scoring join — five derivations of the tokenize+posexplode
        # subtree without a cut (15 Exchanges).  One persist-backed cut
        # runs the corpus pass once.
        .localCheckpoint(eager=False)
    )
    bc = b.groupBy("w1", "w2").agg(F.count("*").alias("c")).localCheckpoint(eager=False)
    u1 = b.groupBy("w1").agg(F.count("*").alias("c1"))
    nf = b.groupBy("w1").agg(F.countDistinct("w2").alias("nf"))
    np_ = b.groupBy("w2").agg(F.countDistinct("w1").alias("np"))
    tot = bc.agg(F.count("*").alias("nt"))
    scored = (
        b.join(bc, ["w1", "w2"])
        .join(u1, "w1")
        .join(nf, "w1")
        .join(np_, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(
                "CAST(FLOOR(ln((GREATEST(4 * c - 3, 0) * nt + 3 * nf * np) * 1.0"
                " / (4 * c1 * nt)) * 1000000) AS BIGINT)"
            ).alias("q"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum("q").cast("long").alias("kn_micro"),
    )


# ------------------------------------------------------------------ j104
_IPF_ITERS = 3  # row+column scaling pairs; margin errors audited in tests


def _ipf_round_sql(r: int) -> str:
    p = r - 1
    return f"""
    rs{r} AS MATERIALIZED (
        SELECT seg, SUM(w) AS cur FROM w{p} GROUP BY 1
    ), wr{r} AS MATERIALIZED (
        SELECT w.seg, w.nat,
               CAST(FLOOR(w.w * (rt.t * 1.0 / rs.cur)) AS BIGINT) AS w
        FROM w{p} w JOIN rs{r} rs ON rs.seg = w.seg
        JOIN rowt rt ON rt.seg = w.seg
    ), cs{r} AS MATERIALIZED (
        SELECT nat, SUM(w) AS cur FROM wr{r} GROUP BY 1
    ), w{r} AS MATERIALIZED (
        SELECT w.seg, w.nat,
               CAST(FLOOR(w.w * (ct.t * 1.0 / cs.cur)) AS BIGINT) AS w
        FROM wr{r} w JOIN cs{r} cs ON cs.nat = w.nat
        JOIN colt ct ON ct.nat = w.nat
    )"""


_IPF_SQL = (
    """
    WITH cells AS MATERIALIZED (
        SELECT c_mktsegment AS seg, c_nationkey AS nat,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM customer GROUP BY 1, 2
    ), sub AS MATERIALIZED (
        SELECT c_mktsegment AS seg, c_nationkey AS nat,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM customer WHERE c_acctbal > 0 GROUP BY 1, 2
    ), rowt AS MATERIALIZED (
        SELECT seg, CAST(SUM(n) * 1000000 AS BIGINT) AS t FROM sub GROUP BY 1
    ), colt AS MATERIALIZED (
        SELECT nat, CAST(SUM(n) * 1000000 AS BIGINT) AS t FROM sub GROUP BY 1
    ), w0 AS MATERIALIZED (
        SELECT seg, nat, CAST(n * 1000000 AS BIGINT) AS w FROM cells
    ),"""
    + ",".join(_ipf_round_sql(r) for r in range(1, _IPF_ITERS + 1))
    + f"""
    SELECT seg, CAST(nat AS BIGINT) AS nat, w AS w_micro
    FROM w{_IPF_ITERS}
    """
)


@register("j104_ipf_raking", oracle=_IPF_SQL, survey="J104,J16,J25")
def j104_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture calibration by iterative proportional fitting
    (IPF / raking, Deming & Stephan 1940 — the survey-weighting method
    and exactly what a training-data pipeline runs to reweight a corpus
    grid to target marginals): scale the (segment × nation) customer
    count grid until its row and column sums match the margins of the
    engaged subpopulation (acctbal > 0) — j16 balances one dimension by
    resampling; raking calibrates TWO dimensions with one weight field
    and no resampling.

    Exactness: weights live in micro-units; each scaling step is
    ``FLOOR(w · (target·1.0/current))`` with the multiply-by-double-ratio
    association mirrored verbatim in both engines (every operand chain
    is the same IEEE sequence, so the floors agree bit-for-bit); margins
    re-aggregate to exact BIGINTs between steps.  {_IPF_ITERS} unrolled
    row+column scaling pairs (the j86/f29 fixed-budget discipline);
    margin convergence (≤1 ppm per cell after the final column pass,
    row margins within the IPF residual) is audited in tests, python
    float pin is exact equality.

    Scale shape: the grid is |segments|·|nations| cells — metadata scale
    after one map-side-combinable hash agg per tier; every IPF step is a
    KB broadcast join."""
    c = Tables(spark, sf_dir).customer
    cells = c.groupBy(
        F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("nat")
    ).agg(F.count("*").cast("long").alias("n"))
    sub = (
        c.where(F.col("c_acctbal") > 0)
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("nat"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    rowt = sub.groupBy("seg").agg((F.sum("n") * 1000000).cast("long").alias("rt"))
    colt = sub.groupBy("nat").agg((F.sum("n") * 1000000).cast("long").alias("ct"))
    w = cells.select(
        "seg", "nat", (F.col("n") * 1000000).cast("long").alias("w")
    ).localCheckpoint(eager=True)
    for _ in range(_IPF_ITERS):
        rs = w.groupBy("seg").agg(F.sum("w").alias("cur"))
        w = (
            w.join(F.broadcast(rs), "seg")
            .join(F.broadcast(rowt), "seg")
            .select(
                "seg",
                "nat",
                F.expr("CAST(FLOOR(w * (rt * 1.0 / cur)) AS BIGINT)").alias("w"),
            )
        )
        cs = w.groupBy("nat").agg(F.sum("w").alias("cur"))
        w = (
            w.join(F.broadcast(cs), "nat")
            .join(F.broadcast(colt), "nat")
            .select(
                "seg",
                "nat",
                F.expr("CAST(FLOOR(w * (ct * 1.0 / cur)) AS BIGINT)").alias("w"),
            )
            .localCheckpoint(eager=True)
        )
    return w.select("seg", F.col("nat").cast("long").alias("nat"), F.col("w").alias("w_micro"))


@register(
    "k15_lateness_histogram",
    oracle="""
    WITH ev AS (
        SELECT event_type, event_id, epoch_us(ts) AS tus
        FROM events
    ), lat AS (
        SELECT event_type,
               MAX(tus) OVER (PARTITION BY event_type ORDER BY event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   - tus AS late_us
        FROM ev
    ), b AS (
        SELECT event_type,
               CASE WHEN late_us IS NULL THEN 'first'
                    WHEN late_us <= 0 THEN 'in_order'
                    WHEN late_us <= 60000000 THEN 'le_1m'
                    WHEN late_us <= 300000000 THEN 'le_5m'
                    WHEN late_us <= 3600000000 THEN 'le_1h'
                    ELSE 'gt_1h' END AS bucket,
               GREATEST(COALESCE(late_us, 0), 0) AS late_clamped
        FROM lat
    )
    SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(late_clamped) AS BIGINT) AS max_late_us
    FROM b GROUP BY 1, 2
    """,
    survey="K15,K4,K5",
)
def k15_lateness_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time lateness audit — THE measurement behind every watermark
    choice (K4 drops late rows at a given bound; THIS tells you what the
    bound should be): per event type, compare each event's timestamp to
    the maximum event time already ARRIVED (arrival order = event_id),
    bucket the lateness (in-order / ≤1m / ≤5m / ≤1h / >1h / first), and
    report counts + the worst straggler.  A streaming platform reads
    this to set `withWatermark` so K4's drop rate is a decision, not an
    accident.

    Exactness: pure integer epoch-micros arithmetic (tz-free); the
    running max is a PARTITIONED window (per event type) over the
    arrival key with an exclusive frame — first arrival yields NULL and
    its own bucket.

    Scale shape: one exchange on event_type, per-type running-max
    frames parallelize; output is a ≤|types|·6 histogram."""
    from pyspark.sql import Window

    ev = Tables(spark, sf_dir).events.select(
        "event_type", "event_id", F.expr("unix_micros(ts)").alias("tus")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lat = ev.select(
        "event_type", (F.max("tus").over(w) - F.col("tus")).alias("late_us")
    )
    b = lat.select(
        "event_type",
        F.when(F.col("late_us").isNull(), "first")
        .when(F.col("late_us") <= 0, "in_order")
        .when(F.col("late_us") <= 60000000, "le_1m")
        .when(F.col("late_us") <= 300000000, "le_5m")
        .when(F.col("late_us") <= 3600000000, "le_1h")
        .otherwise("gt_1h")
        .alias("bucket"),
        F.greatest(F.coalesce(F.col("late_us"), F.lit(0)), F.lit(0)).alias(
            "late_clamped"
        ),
    )
    return b.groupBy("event_type", "bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.max("late_clamped").cast("long").alias("max_late_us"),
    )


# ------------------------------------------------------------------- e76
# chi-square(1) 95% critical value, micro-floored in Python (injected).
_G_CRIT_MICRO = int(_math.floor(3.841458820694124 * 1_000_000))


@register(
    "e76_poisson_surprise",
    oracle=f"""
    WITH ev AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day FROM events
    ), cells AS (
        SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS k
        FROM ev GROUP BY 1, 2
    ), per_type AS (
        SELECT event_type, CAST(SUM(k) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS d
        FROM cells GROUP BY 1
    )
    SELECT c.event_type, c.day, c.k,
           CAST(FLOOR(2 * c.k * ln((c.k * p.d) * 1.0 / p.t) * 1000000)
                    AS BIGINT)
               - (2 * (c.k * p.d - p.t) * 1000000) // p.d AS g_micro,
           CAST(CASE WHEN
                CAST(FLOOR(2 * c.k * ln((c.k * p.d) * 1.0 / p.t) * 1000000)
                     AS BIGINT)
                - (2 * (c.k * p.d - p.t) * 1000000) // p.d > {_G_CRIT_MICRO}
                THEN 1 ELSE 0 END AS INTEGER) AS burst_flag
    FROM cells c JOIN per_type p ON p.event_type = c.event_type
    """,
    survey="E76,F14,E37",
)
def e76_poisson_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson burst detection by the G-test (likelihood-ratio "surprise",
    the count-data anomaly test f14's Gaussian z-score mis-models at low
    counts): per (event type, day) cell, G = 2k·ln(k/λ) − 2(k−λ) against
    the type's homogeneous daily rate λ = total/days, flagged at the
    χ²(1) 95% critical value (Python-injected micro constant).

    Exactness: λ = T/D stays RATIONAL — the ln argument is the single
    integer-product division (k·D)/T (j41/j103 discipline, micro-floored
    once), and the linear term 2(k·D−T)·10⁶ DIV D is pure BIGINT; the
    flag compares two integers.  Zero-count cells are absent by
    construction (only observed cells are scored; an absent day scores
    the linear term only and is recoverable from the per-type totals —
    documented, not silently included).

    Scale shape: one scan → (type, day) hash agg (KB) → per-type 1-row
    agg → broadcast join + constant arithmetic."""
    ev = Tables(spark, sf_dir).events.select(
        "event_type", F.expr("unix_micros(ts) div 86400000000").alias("day")
    )
    cells = ev.groupBy("event_type", "day").agg(
        F.count("*").cast("long").alias("k")
    )
    per_type = cells.groupBy("event_type").agg(
        F.sum("k").cast("long").alias("t"), F.count("*").cast("long").alias("d")
    )
    g = (
        "CAST(FLOOR(2 * k * ln((k * d) * 1.0 / t) * 1000000) AS BIGINT)"
        " - (2 * (k * d - t) * 1000000) DIV d"
    )
    return (
        cells.join(F.broadcast(per_type), "event_type")
        .select(
            "event_type",
            "day",
            "k",
            F.expr(g).alias("g_micro"),
            F.expr(
                f"CAST(CASE WHEN {g} > {_G_CRIT_MICRO} THEN 1 ELSE 0 END"
                " AS INT)"
            ).alias("burst_flag"),
        )
    )


@register(
    "a32_partition_skew_audit",
    oracle="""
    WITH parts AS (
        SELECT date_trunc('month', l_shipdate) AS m,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_partitions,
           CAST(SUM(n) AS BIGINT) AS total_rows,
           CAST(MAX(n) AS BIGINT) AS max_rows,
           CAST(MIN(n) AS BIGINT) AS min_rows,
           CAST((MAX(n) * COUNT(*) * 1000000) // SUM(n) AS BIGINT)
               AS skew_ppm,
           CAST((MAX(n) * COUNT(*) + SUM(n) - 1) // SUM(n) AS BIGINT)
               AS recommended_salt
    FROM parts
    """,
    survey="A32,B1,D11",
)
def a32_partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew audit over the ship-month layout key — the
    measurement that decides WHETHER to salt before d11's salted join /
    e15's salted agg pay their fan-out cost: per-partition row counts
    fold to max/min/total, the skew factor max/mean in ppm, and the
    recommended salt fan-out ceil(max/mean) (the smallest split that
    levels the hottest partition to the average).

    Exactness: skew and salt are integer formulas over exact counts —
    max·n_parts·10⁶ DIV total and the ceiling-division form
    (max·n_parts + total − 1) DIV total; no rational mean ever
    materializes.  (date_trunc is calendar bucketing of a DATE — no
    session-timezone dependence for date-typed columns; both engines
    truncate the same civil date.)

    Scale shape: one map-side-combinable hash agg to |months| rows, one
    1-row fold — the audit is metadata-priced at any volume."""
    li = Tables(spark, sf_dir).lineitem
    parts = li.groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("m")).agg(
        F.count("*").cast("long").alias("n")
    )
    return parts.agg(
        F.count("*").cast("long").alias("n_partitions"),
        F.sum("n").cast("long").alias("total_rows"),
        F.max("n").cast("long").alias("max_rows"),
        F.min("n").cast("long").alias("min_rows"),
        F.expr("CAST((MAX(n) * COUNT(*) * 1000000) DIV SUM(n) AS BIGINT)").alias(
            "skew_ppm"
        ),
        F.expr(
            "CAST((MAX(n) * COUNT(*) + SUM(n) - 1) DIV SUM(n) AS BIGINT)"
        ).alias("recommended_salt"),
    )


def _register_j105() -> None:
    from cassandra_snap_to_hadoop_spark.queries.round4c import _MH_N, _MH_ROWS
    from cassandra_snap_to_hadoop_spark.queries.round5 import (
        _CC_ITERS,
        _cc_sql_edges,
        _cc_sql_iters,
    )

    oracle = f"""
    WITH {_cc_sql_edges()}, {_cc_sql_iters(_CC_ITERS)},
    members AS (
        SELECT node AS doc_id, lbl FROM l{_CC_ITERS}
        WHERE lbl IN (SELECT lbl FROM l{_CC_ITERS} GROUP BY 1
                      HAVING COUNT(*) >= 2)
    ), cpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lbl
        FROM members a JOIN members b
          ON a.lbl = b.lbl AND a.doc_id < b.doc_id
    ), direct AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ), inter AS (
        SELECT p.id_a, p.id_b, CAST(COUNT(*) AS BIGINT) AS i
        FROM cpairs p
        JOIN sh x ON x.doc_id = p.id_a
        JOIN sh y ON y.doc_id = p.id_b AND y.sh = x.sh
        GROUP BY 1, 2
    ), sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY 1
    )
    SELECT p.id_a, p.id_b, CAST(p.lbl AS BIGINT) AS cluster_id,
           CAST(CASE WHEN d.id_a IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
               AS is_direct,
           CAST(COALESCE(i.i, 0) * 1000000
                // (sa.sz + sb.sz - COALESCE(i.i, 0)) AS BIGINT) AS j_ppm
    FROM cpairs p
    LEFT JOIN direct d ON d.id_a = p.id_a AND d.id_b = p.id_b
    LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
    JOIN sizes sa ON sa.doc_id = p.id_a
    JOIN sizes sb ON sb.doc_id = p.id_b
    """

    @register(
        "j105_cluster_contamination", oracle=oracle, survey="J105,J90,J2,J97"
    )
    def j105_cluster_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Dup-cluster contamination audit — the honesty check every
        transitive dedup pipeline owes its users: connected components
        merge by CHAINS (A~B, B~C ⇒ {{A,B,C}}), so a component can contain
        pairs that never shared a bucket and whose true Jaccard sits far
        below the dedup threshold.  For every intra-component pair this
        reports whether it was a DIRECT banded-LSH candidate (shared ≥1
        band bucket) or a transitive-only merge, with its EXACT shingle
        Jaccard in ppm — j97 audits the index's recall; THIS audits the
        cluster step's precision, and together they bound both error
        directions of the whole dedup pipeline.

        Exactness: components are the certified j90 propagation; Jaccard
        is integer intersection·10⁶ DIV union over the same distinct
        shingle relation the bands are built from.

        Scale shape: intra-component pair volume is Σ|C|² — bounded by
        band-bucket occupancy (components join ``dedup.blocked_star``
        buckets), the same bound the candidate join already pays; the
        intra-component pairs are ``dedup.blocked_pairs`` per component;
        the Jaccard join touches only member docs' shingles (inner-join
        pushdown), never the corpus; `direct` is ``dedup.blocked_pairs`` on
        the band buckets, once per pair."""
        from cassandra_snap_to_hadoop_spark.operators.dedup import (
            blocked_pairs,
            blocked_star,
            dup_clusters,
            md5_minhash_bands,
            shingles,
        )

        d = Tables(spark, sf_dir).documents
        bands = md5_minhash_bands(
            d, n_hashes=_MH_N, rows_per_band=_MH_ROWS
        ).localCheckpoint(eager=True)
        pairs = blocked_star(bands, "doc_id", ["band", "bkey"]).localCheckpoint(eager=True)
        nodes = d.select(F.col("doc_id").alias("id"))
        labels = dup_clusters(nodes, pairs, max_iterations=_CC_ITERS)
        comp = (
            labels.groupBy("cluster_id")
            .agg(F.count("*").alias("n_docs"))
            .filter(F.col("n_docs") >= 2)
            .select("cluster_id")
        )
        members = labels.join(comp, "cluster_id").select(
            F.col("id").alias("doc_id"), F.col("cluster_id").alias("lbl")
        )
        cpairs = blocked_pairs(members, "doc_id", ["lbl"]).localCheckpoint(eager=True)
        direct = (
            blocked_pairs(bands, "doc_id", ["band", "bkey"])
            .select("id_a", "id_b")
            .distinct()
            .withColumn("is_direct_f", F.lit(1))
        )
        # r11 (guide §2.4): the distinct shingle relation feeds both
        # intersection legs and the size agg — cut once so the tokenize
        # + explode + distinct chain runs once, not three times.
        sh = (
            fan_out(d)
            .select("doc_id", F.explode(shingles(F.col("text"), 3)).alias("sh"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        sx = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
        sy = sh.select(F.col("doc_id").alias("yid"), F.col("sh").alias("sh_b"))
        inter = (
            cpairs.join(sx, "id_a")
            .join(
                sy,
                (F.col("id_b") == F.col("yid")) & (F.col("sh_b") == F.col("sh_a")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count("*").cast("long").alias("i"))
        )
        sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("sz"))
        sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
        sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
        return (
            cpairs.join(direct, ["id_a", "id_b"], "left")
            .join(inter, ["id_a", "id_b"], "left")
            .join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.col("lbl").cast("long").alias("cluster_id"),
                F.coalesce(F.col("is_direct_f"), F.lit(0)).cast("int").alias(
                    "is_direct"
                ),
                F.expr(
                    "CAST(COALESCE(i, 0) * 1000000"
                    " DIV (sz_a + sz_b - COALESCE(i, 0)) AS BIGINT)"
                ).alias("j_ppm"),
            )
        )


_register_j105()


@register(
    "e77_conformal_intervals",
    oracle="""
    WITH o AS (
        SELECT o_orderkey AS k, c.c_nationkey AS nat,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '8'
                    THEN 1 ELSE 0 END AS is_cal
        FROM orders JOIN customer c ON o_custkey = c.c_custkey
    ), cal AS (
        SELECT nat, CAST(SUM(cents) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS n_cal
        FROM o WHERE is_cal = 1 GROUP BY 1
    ), resid AS (
        SELECT o.nat, ABS(o.cents * cal.n_cal - cal.t) AS r, o.k
        FROM o JOIN cal ON cal.nat = o.nat WHERE o.is_cal = 1
    ), ranked AS (
        SELECT nat, r,
               ROW_NUMBER() OVER (PARTITION BY nat ORDER BY r, k) AS rn
        FROM resid
    ), q AS (
        SELECT ranked.nat, CAST(ranked.r AS BIGINT) AS q_scaled
        FROM ranked JOIN cal ON cal.nat = ranked.nat
        WHERE ranked.rn = (9 * (cal.n_cal + 1) + 9) // 10
    ), test AS (
        SELECT o.nat,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(SUM(CASE WHEN ABS(o.cents * cal.n_cal - cal.t)
                                  <= q.q_scaled THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_covered
        FROM o
        JOIN cal ON cal.nat = o.nat
        JOIN q ON q.nat = o.nat
        WHERE o.is_cal = 0
        GROUP BY 1
    )
    SELECT CAST(t.nat AS BIGINT) AS nat, cal.n_cal, t.n_test, q.q_scaled,
           t.n_covered,
           CAST(t.n_covered * 1000000 // t.n_test AS BIGINT) AS coverage_ppm
    FROM test t JOIN cal ON cal.nat = t.nat JOIN q ON q.nat = t.nat
    """,
    survey="E77,E38,J12",
)
def e77_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk; Lei et al. 2018 — the
    distribution-free uncertainty method modern ML eval stacks quote):
    per nation, a deterministic md5 split (the j12 identity-stable
    discipline) carves calibration and test halves; the 90% conformal
    radius is the ⌈0.9·(n+1)⌉-th smallest calibration |residual| around
    the calibration mean, and the TEST half's empirical coverage audits
    the finite-sample guarantee (≥ 90% in expectation, distribution-free
    — asserted with the exact binomial tolerance in tests).

    Exactness: the rational mean never materializes — residuals are
    scaled by n_cal (|cents·n_cal − T|, exact BIGINT), the quantile is an
    exact order statistic (partitioned rank window, ⌈·⌉ via the
    ceiling-division form), and coverage is integer counting.

    Scale shape: one star join, per-nation hash aggs, ONE partitioned
    rank window over the calibration residuals, broadcast of the ≤|nat|
    quantile relation — no global order, no float."""
    o = (
        Tables(spark, sf_dir)
        .orders.join(
            Tables(spark, sf_dir).customer,
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("c_nationkey").alias("nat"),
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
            F.when(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
                < "8",
                1,
            )
            .otherwise(0)
            .alias("is_cal"),
        )
    )
    # r11 (guide §2.4): the per-nation calibration stats feed 4
    # consumers and the quantile relation feeds the test pass AND the
    # output join — both cut.  (The order-level star-join projection is
    # deliberately NOT cut: persisting a data-sized relation costs more
    # than re-scanning parquet — guide §5, measured in-sweep.)
    cal = (
        o.where(F.col("is_cal") == 1)
        .groupBy("nat")
        .agg(
            F.sum("cents").cast("long").alias("t"),
            F.count("*").cast("long").alias("n_cal"),
        )
        .localCheckpoint(eager=False)
    )
    from pyspark.sql import Window

    resid = (
        o.where(F.col("is_cal") == 1)
        .join(F.broadcast(cal), "nat")
        .select(
            "nat", "k", F.abs(F.col("cents") * F.col("n_cal") - F.col("t")).alias("r")
        )
    )
    w = Window.partitionBy("nat").orderBy("r", "k")
    ranked = resid.withColumn("rn", F.row_number().over(w))
    q = (
        ranked.join(F.broadcast(cal), "nat")
        .where(F.col("rn") == F.expr("(9 * (n_cal + 1) + 9) div 10"))
        .select("nat", F.col("r").cast("long").alias("q_scaled"))
        .localCheckpoint(eager=False)
    )
    test = (
        o.where(F.col("is_cal") == 0)
        .join(F.broadcast(cal), "nat")
        .join(F.broadcast(q), "nat")
        .groupBy("nat")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("cents") * F.col("n_cal") - F.col("t"))
                    <= F.col("q_scaled"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return (
        test.join(F.broadcast(cal), "nat")
        .join(F.broadcast(q), "nat")
        .select(
            F.col("nat").cast("long").alias("nat"),
            "n_cal",
            "n_test",
            "q_scaled",
            "n_covered",
            F.expr("CAST(n_covered * 1000000 DIV n_test AS BIGINT)").alias(
                "coverage_ppm"
            ),
        )
    )


def _register_e78() -> None:
    from cassandra_snap_to_hadoop_spark.queries.round5 import _SCORE_SQL

    oracle = f"""
    WITH {_SCORE_SQL}, probs AS (
        SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
               CAST(FLOOR(1000000.0 / (1.0 + exp(-(CAST(s AS DOUBLE) / 1000000.0)))
                          + 0.5) AS BIGINT) AS p_micro
        FROM sc
    ), cls AS (
        SELECT y,
               CASE WHEN p_micro >= 500000 THEN 1 ELSE 0 END AS a,
               CASE WHEN p_micro >= 600000 THEN 1 ELSE 0 END AS b
        FROM probs
    ), ct AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
                    AS BIGINT) AS dis_b,
               CAST(SUM(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END)
                    AS BIGINT) AS dis_c
        FROM cls
    )
    SELECT n, dis_b, dis_c,
           CAST(CASE WHEN dis_b + dis_c = 0 THEN 0
                ELSE (GREATEST(ABS(dis_b - dis_c) - 1, 0)
                      * GREATEST(ABS(dis_b - dis_c) - 1, 0)
                      * 1000000) // (dis_b + dis_c) END AS BIGINT)
               AS mcnemar_micro,
           CAST(CASE WHEN dis_b + dis_c > 0
                      AND (GREATEST(ABS(dis_b - dis_c) - 1, 0)
                           * GREATEST(ABS(dis_b - dis_c) - 1, 0)
                           * 1000000) // (dis_b + dis_c) > {_G_CRIT_MICRO}
                     THEN 1 ELSE 0 END AS INTEGER) AS significant
    FROM ct
    """

    @register("e78_mcnemar_paired", oracle=oracle, survey="E78,E69,E53")
    def e78_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
        """McNemar's test for PAIRED classifier comparison (the correct
        test when two models score the SAME examples — an unpaired e52
        t-test wastes the pairing and both classifiers share variance):
        model A = the calibrated scorer at the 0.5 cut, model B = the
        conservative 0.6 cut; only the DISAGREEMENT cells matter, and the
        continuity-corrected statistic (|b−c|−1)²/(b+c) against χ²(1)
        (the shared injected critical constant) says whether the
        threshold move changes accuracy beyond noise.  Completes the eval
        tier's comparison leg: e69 evaluates ONE operating point, e53
        agreement, THIS decides between two.

        Exactness: b, c are exact counts; the statistic is one integer
        expression with truncating DIV; the zero-disagreement edge is an
        explicit CASE (statistic 0, not a division error), and the
        continuity correction is clamped at zero — standard form
        max(|b−c|−1, 0)², so b == c yields statistic 0, not 1/(b+c)
        (ADVICE r6 item 2).

        Scale shape: one scan → score agg → 1-row fold; no joins."""
        from cassandra_snap_to_hadoop_spark.queries.round5 import _score_df

        sc = _score_df(spark, sf_dir)
        cls = sc.select(
            F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
            F.floor(
                1000000.0
                / (1.0 + F.exp(-(F.col("s").cast("double") / 1000000.0)))
                + 0.5
            )
            .cast("long")
            .alias("p_micro"),
        ).select(
            "y",
            F.when(F.col("p_micro") >= 500000, 1).otherwise(0).alias("a"),
            F.when(F.col("p_micro") >= 600000, 1).otherwise(0).alias("b"),
        )
        ct = cls.agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when((F.col("a") == F.col("y")) & (F.col("b") != F.col("y")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("dis_b"),
            F.sum(
                F.when((F.col("a") != F.col("y")) & (F.col("b") == F.col("y")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("dis_c"),
        )
        stat = (
            "CASE WHEN dis_b + dis_c = 0 THEN 0"
            " ELSE (GREATEST(ABS(dis_b - dis_c) - 1, 0)"
            " * GREATEST(ABS(dis_b - dis_c) - 1, 0)"
            " * 1000000) DIV (dis_b + dis_c) END"
        )
        return ct.select(
            "n",
            "dis_b",
            "dis_c",
            F.expr(f"CAST({stat} AS BIGINT)").alias("mcnemar_micro"),
            F.expr(
                f"CAST(CASE WHEN dis_b + dis_c > 0 AND {stat} >"
                f" {_G_CRIT_MICRO} THEN 1 ELSE 0 END AS INT)"
            ).alias("significant"),
        )


_register_e78()


@register(
    "j106_token_entropy",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({_WORDS}) AS w FROM documents
    ), tc AS (
        SELECT doc_id, w, COUNT(*) AS c FROM t GROUP BY 1, 2
    ), nn AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_types
        FROM tc GROUP BY 1
    ), terms AS (
        SELECT tc.doc_id,
               CAST(FLOOR(tc.c * ln(tc.c * 1.0 / nn.n) * 1000000) AS BIGINT)
                   AS q
        FROM tc JOIN nn ON nn.doc_id = tc.doc_id
    )
    SELECT nn.doc_id, nn.n, nn.n_types,
           CAST((-SUM(terms.q)) // nn.n AS BIGINT) AS entropy_micro
    FROM terms JOIN nn ON nn.doc_id = terms.doc_id
    GROUP BY 1, 2, 3
    """,
    survey="J106,J9,J17",
)
def j106_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram token entropy — the information-theoretic
    quality signal the j9 heuristics approximate with ratios: gibberish
    and keyword-stuffed documents sit at the entropy extremes
    (near-uniform noise maximizes H; single-token repetition minimizes
    it), and H is the standard low-cost screen before perplexity (j77)
    pays for an LM pass.  H = −Σ (c/n)·ln(c/n) = −(1/n)·Σ c·ln(c/n).

    Exactness: each type's term c·ln(c/n) is ln of ONE rational with
    integer operands (the j41 discipline), micro-floored before the sum;
    the final −S DIV n runs on non-negative integers.  The inner window
    SUM(c) OVER (doc) is PARTITIONED by doc on both engines.

    Scale shape: tokenize explode (corpus-scan volume) → (doc, word)
    hash agg → per-doc agg with a doc-partitioned total; no joins."""
    d = fan_out(Tables(spark, sf_dir).documents)
    w = tokens(F.col("text"))
    tc = (
        d.select("doc_id", F.explode(w).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    nn = tc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_types"),
    )
    terms = tc.join(nn, "doc_id").select(
        "doc_id",
        F.expr("CAST(FLOOR(c * ln(c * 1.0 / n) * 1000000) AS BIGINT)").alias("q"),
    )
    return (
        terms.groupBy("doc_id")
        .agg(F.sum("q").alias("s"))
        .join(nn, "doc_id")
        .select(
            "doc_id",
            "n",
            "n_types",
            F.expr("CAST((-s) DIV n AS BIGINT)").alias("entropy_micro"),
        )
    )


@register(
    "f36_ma_crossover",
    oracle="""
    WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), ma AS (
        SELECT event_type, day, n,
               CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS s3,
               CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS c3,
               CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS s7,
               CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS c7
        FROM daily
    ), sig AS (
        SELECT event_type, day, n,
               CASE WHEN s3 * c7 > s7 * c3 THEN 1
                    WHEN s3 * c7 < s7 * c3 THEN -1 ELSE 0 END AS side
        FROM ma WHERE c7 = 7
    )
    SELECT event_type, day, n, side,
           CAST(CASE WHEN LAG(side) OVER (PARTITION BY event_type ORDER BY day)
                          IS NOT NULL
                      AND side <> LAG(side) OVER (PARTITION BY event_type
                                                  ORDER BY day)
                     THEN 1 ELSE 0 END AS INTEGER) AS crossover
    FROM sig
    """,
    survey="F36,F4,F2",
)
def f36_ma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average crossover detection (the trading "golden cross",
    equally the ops signal for regime changes in event volume): per type,
    compare the trailing-3-day and trailing-7-day means of daily counts
    and flag every day the fast average crosses the slow one — f4
    computes the averages; THIS extracts the decision events.

    Exactness: the means never materialize — the comparison is the
    integer cross-multiplication s3·c7 vs s7·c3 (exact sign), so side
    and crossover are pure BIGINT logic; warm-up rows (fewer than 7
    prior days) are excluded identically by the c7 = 7 gate.

    Scale shape: (type, day) hash agg (KB), then PARTITIONED frames and
    one lag on the per-type daily relation — one exchange total."""
    from pyspark.sql import Window

    ev = Tables(spark, sf_dir).events.select(
        "event_type", F.expr("unix_micros(ts) div 86400000000").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count("*").cast("long").alias("n")
    )
    w3 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-2, 0)
    )
    w7 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    )
    ma = daily.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(w3).cast("long").alias("s3"),
        F.count("*").over(w3).cast("long").alias("c3"),
        F.sum("n").over(w7).cast("long").alias("s7"),
        F.count("*").over(w7).cast("long").alias("c7"),
    )
    sig = ma.where(F.col("c7") == 7).select(
        "event_type",
        "day",
        "n",
        F.when(F.col("s3") * F.col("c7") > F.col("s7") * F.col("c3"), 1)
        .when(F.col("s3") * F.col("c7") < F.col("s7") * F.col("c3"), -1)
        .otherwise(0)
        .alias("side"),
    )
    wl = Window.partitionBy("event_type").orderBy("day")
    return sig.select(
        "event_type",
        "day",
        "n",
        "side",
        F.when(
            F.lag("side").over(wl).isNotNull()
            & (F.col("side") != F.lag("side").over(wl)),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("crossover"),
    )


# ------------------------------------------------------------------- e79
# The ENTIRE float chain below is one shared expression template rendered
# identically for both engines (the j104 identical-IEEE-sequence
# discipline): every operand is an exact BIGINT stat, so both engines
# execute the same double ops in the same order and the final milli/ppm
# floors agree bit-for-bit.
_E79_VAR = (
    "((({sxx} - {sx} * 1.0 * {sx} / {n}) / ({n} - 1)"
    " - 2.0 * ({sx} * 1.0 / {sy}) * (({sxy} - {sx} * 1.0 * {sy} / {n}) / ({n} - 1))"
    " + ({sx} * 1.0 / {sy}) * ({sx} * 1.0 / {sy})"
    " * (({syy} - {sy} * 1.0 * {sy} / {n}) / ({n} - 1)))"
    " / ({n} * ({sy} * 1.0 / {n}) * ({sy} * 1.0 / {n})))"
)
_E79_RAW = (
    "((sx1 * 1.0 / sy1 - sx0 * 1.0 / sy0)"
    " / sqrt("
    + _E79_VAR.format(n="n1", sx="sx1", sy="sy1", sxx="sxx1", syy="syy1", sxy="sxy1")
    + " + "
    + _E79_VAR.format(n="n0", sx="sx0", sy="sy0", sxx="sxx0", syy="syy0", sxy="sxy0")
    + "))"
)
_E79_Z = f"FLOOR({_E79_RAW} * 1000)"
# Significance quantizes the MAGNITUDE (FLOOR(|z|·1000)) so the two-sided
# cut is symmetric around zero — flooring the signed z made a negative z
# in (−1.9600, −1.9591] significant while its mirror was not (ADVICE r6
# item 3).  ABS is an exact IEEE sign-bit operation, identical in both
# engines.
_E79_ABSZ = f"FLOOR(ABS({_E79_RAW}) * 1000)"


@register(
    "e79_ratio_metric_delta",
    oracle=f"""
    WITH u AS (
        SELECT user_id % 2 AS arm,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY user_id
    ), s AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM u GROUP BY 1
    ), wide AS (
        SELECT
            MAX(CASE WHEN arm = 0 THEN n END) AS n0,
            MAX(CASE WHEN arm = 1 THEN n END) AS n1,
            MAX(CASE WHEN arm = 0 THEN sx END) AS sx0,
            MAX(CASE WHEN arm = 1 THEN sx END) AS sx1,
            MAX(CASE WHEN arm = 0 THEN sy END) AS sy0,
            MAX(CASE WHEN arm = 1 THEN sy END) AS sy1,
            MAX(CASE WHEN arm = 0 THEN sxx END) AS sxx0,
            MAX(CASE WHEN arm = 1 THEN sxx END) AS sxx1,
            MAX(CASE WHEN arm = 0 THEN syy END) AS syy0,
            MAX(CASE WHEN arm = 1 THEN syy END) AS syy1,
            MAX(CASE WHEN arm = 0 THEN sxy END) AS sxy0,
            MAX(CASE WHEN arm = 1 THEN sxy END) AS sxy1
        FROM s
    )
    SELECT n0, n1, sx0, sx1, sy0, sy1,
           CAST(FLOOR(sx0 * 1.0 / sy0 * 1000000) AS BIGINT) AS r0_ppm,
           CAST(FLOOR(sx1 * 1.0 / sy1 * 1000000) AS BIGINT) AS r1_ppm,
           CAST({_E79_Z} AS BIGINT) AS z_milli,
           CAST(CASE WHEN {_E79_ABSZ} > 1959 THEN 1 ELSE 0 END AS INTEGER)
               AS significant
    FROM wide
    """,
    survey="E79,E52,E40",
)
def e79_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method z-test for a RATIO metric (revenue per event) with
    USER-level randomization — the A/B case e52's Welch t silently gets
    wrong: when the analysis unit (event) differs from the randomization
    unit (user), naive per-event variance ignores within-user clustering;
    the delta method computes var(Σx/Σy) from user-level sufficient
    statistics (Deng et al., KDD'18 practice — public method).

    Exactness: the six per-arm statistics are exact BIGINTs (cents via
    the ROUND(·*100) idiom); the variance/z chain is ONE shared
    expression template rendered for both engines, so the IEEE double
    sequence is identical and the final milli/ppm floors agree
    bit-for-bit (the j104 discipline); significance compares the
    magnitude-quantized FLOOR(|z|·1000) to the two-sided 5% critical
    value 1959 = floor(1.95996·1000), symmetric around zero by
    construction (ADVICE r6 item 3).

    Scale shape: per-user hash agg (map-side combined) → 2-row per-arm
    agg → 1-row pivot; no joins, no windows."""
    ev = Tables(spark, sf_dir).events
    u = ev.groupBy(F.col("user_id")).agg(
        (F.col("user_id") % 2).alias("arm"),
        F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias("x"),
        F.count("*").cast("long").alias("y"),
    )
    s = u.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    wide = s.agg(
        *[
            F.max(F.when(F.col("arm") == a, F.col(c))).alias(f"{c}{a}")
            for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
            for a in (0, 1)
        ]
    )
    return wide.select(
        "n0",
        "n1",
        "sx0",
        "sx1",
        "sy0",
        "sy1",
        F.expr("CAST(FLOOR(sx0 * 1.0 / sy0 * 1000000) AS BIGINT)").alias("r0_ppm"),
        F.expr("CAST(FLOOR(sx1 * 1.0 / sy1 * 1000000) AS BIGINT)").alias("r1_ppm"),
        F.expr(f"CAST({_E79_Z} AS BIGINT)").alias("z_milli"),
        F.expr(
            f"CAST(CASE WHEN {_E79_ABSZ} > 1959 THEN 1 ELSE 0 END AS INT)"
        ).alias("significant"),
    )


@register(
    "e80_quantile_treatment_effect",
    oracle="""
    WITH ev AS (
        SELECT user_id % 2 AS arm, event_id AS k,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    ), ranked AS (
        SELECT arm, cents,
               ROW_NUMBER() OVER (PARTITION BY arm ORDER BY cents, k) AS rn,
               COUNT(*) OVER (PARTITION BY arm) AS n
        FROM ev
    ), q AS (
        SELECT CAST(d.d AS INTEGER) AS decile, r.arm, r.cents
        FROM ranked r JOIN (SELECT unnest(range(1, 10)) AS d) d
          ON r.rn = (d.d * r.n + 9) // 10
    )
    SELECT a.decile,
           CAST(a.cents AS BIGINT) AS q0_cents,
           CAST(b.cents AS BIGINT) AS q1_cents,
           CAST(b.cents - a.cents AS BIGINT) AS qte_cents
    FROM q a JOIN q b ON a.decile = b.decile AND a.arm = 0 AND b.arm = 1
    """,
    survey="E80,E6,E52",
)
def e80_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects — the DISTRIBUTIONAL view of an A/B
    test that mean-based reads (e52 Welch, e79 delta-method) cannot see:
    per decile d, the difference between the arms' exact order
    statistics q₁(d) − q₀(d), which localizes WHERE the treatment moves
    the distribution (tails vs median) — the standard heterogeneity
    readout before a team ships a change that helps the p90 while
    hurting the p10.

    Exactness: the quantile is the exact ⌈d·n/10⌉-th order statistic per
    arm (ceiling via the integer form (d·n+9) DIV 10, deterministic
    (cents, event_id) tiebreak), values are exact cents; the 9-row
    decile join is arithmetic over integers — no interpolation, no
    float.

    Scale shape: a 2-arm PARTITION BY window would be a half-global sort
    per arm (two tasks own everything — the e30 single-reducer trap with
    the constant 2 instead of 1), so the ranking uses the two-pass
    global_rank machinery over (arm, cents, k): range partitions sort in
    parallel, offsets are KB driver metadata, and per-arm ranks fall out
    as global_rank − the arm's minimum rank + 1 (a 2-row broadcast)."""
    from cassandra_snap_to_hadoop_spark.operators.layout import global_rank

    ev = Tables(spark, sf_dir).events.where(F.col("value").isNotNull()).select(
        (F.col("user_id") % 2).alias("arm"),
        F.col("event_id").alias("k"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    granked = global_rank(ev, ["arm", "cents", "k"], out_col="gr")
    arm_stats = granked.groupBy("arm").agg(
        F.min("gr").alias("arm_lo"), F.count("*").cast("long").alias("n")
    )
    ranked = granked.join(F.broadcast(arm_stats), "arm").select(
        "arm",
        "cents",
        (F.col("gr") - F.col("arm_lo") + 1).alias("rn"),
        "n",
    )
    ds = ranked.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("decile")
    )
    q = ranked.join(
        F.broadcast(ds), F.col("rn") == F.expr("(decile * n + 9) div 10")
    ).select("decile", "arm", "cents")
    q0 = q.where(F.col("arm") == 0).select(
        "decile", F.col("cents").alias("q0_cents")
    )
    q1 = q.where(F.col("arm") == 1).select(
        "decile", F.col("cents").alias("q1_cents")
    )
    return (
        q0.join(q1, "decile")
        .select(
            "decile",
            "q0_cents",
            "q1_cents",
            (F.col("q1_cents") - F.col("q0_cents")).alias("qte_cents"),
        )
    )
