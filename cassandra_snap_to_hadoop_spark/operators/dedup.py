"""Deduplication operators (SURVEY §2-J1/J2) for LLM training-data pipelines.

Three tiers, all shuffle-bounded and driver-free:
  * exact        — normalize -> digest -> one hash aggregate.  O(n) shuffle
                   of (hash, id) pairs only; at 100 TB this is the cheapest
                   possible dedup (the digest is 16 bytes/row on the wire).
  * minhash LSH  — shingle -> minhash signature -> band buckets -> candidate
                   pairs only within buckets.  Pair generation is bounded by
                   bucket occupancy, never O(n^2).
  * simhash      — 64-bit near-dup fingerprint via bitwise majority of token
                   hashes; hamming-near duplicates collide on band keys.

Exact-Jaccard verification (used as the LSH oracle at small scale) blocks on
a cheap key before the pair join so the quadratic term is bounded per block.

The ``id_a < id_b`` block self-joins of the J2/J3 families (here, in
``similarity`` and in the queries) are one of two blocked shapes:
:func:`blocked_pairs` (the per-block clique) for similarity candidates,
:func:`blocked_star` (one edge per member to the block minimum) for
connected components.  Not on them: sorted-neighbourhood pairs (rank
offsets, ``round3d._snm_candidate_pairs``), the streaming near-dup band
semi-join (``a.id > b.id``, one side kept) and j89's directed cell edges
(``!=``, both directions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.io import fan_out
from cassandra_snap_to_hadoop_spark.operators.layout import checkpoint_observed


def normalize_text(col: F.Column) -> F.Column:
    """Canonical text normalization used by every dedup tier: lowercase,
    collapse whitespace runs, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """J1: exact dedup by normalized-text digest.

    Survivor is deterministic (min id per digest).  Returns one row per
    distinct content with ``dup_count``.  md5 (128-bit) keeps collision
    probability negligible at 100 TB row counts; xxhash64 is used only for
    bucketing, never identity.
    """
    h = F.md5(normalize_text(F.col(text_col)))
    return (
        df.withColumn("content_hash", h)
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count("*").alias("dup_count"),
        )
    )


def shingles(col: F.Column, k: int = 3) -> F.Column:
    """Word k-shingles as an array<string> (distinct).  Built with
    higher-order functions — no UDF, stays in codegen.

    Texts shorter than k words yield an empty array.  (The guard matters:
    ``sequence(1, 0)`` counts DOWN in Spark, so an unguarded short text
    produces an invalid slice index — found by Hypothesis.)"""
    words = F.split(normalize_text(col), " ")
    n = F.size(words) - F.lit(k - 1)
    built = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat_ws(" ", F.slice(words, i, k)),
        )
    )
    return F.when(n >= 1, built).otherwise(F.array().cast("array<string>"))


def blocked_pairs(
    df: DataFrame, id_col: str, keys: list[str], carry: tuple[str, ...] = ()
) -> DataFrame:
    """Every pair of distinct ids that share all ``keys`` — the blocked
    self-join under the J2/J3 similarity joins: emit (block key, id),
    join each block with itself on ``id_a < id_b``, verify.

    Returns ``(id_a, id_b, *keys, <c>_a, <c>_b for c in carry)`` with
    ``id_a < id_b``, ONE ROW PER SHARED BLOCK: two ids that meet in three
    blocks give three rows.  No ``distinct`` — the shingle-intersection
    counters count exactly those duplicates; LSH callers that want each
    pair once add their own ``distinct`` after projecting.  A null key
    never matches (SQL equality), so a null-keyed row pairs with nothing.

    Cost is Σ|block|² per key: the block-size distribution, not n,
    decides whether the join is linear or quadratic — callers bound it by
    their key choice (band width, prefix length, block column)."""
    a, b = df.alias("a"), df.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for key in keys:
        cond = cond & (F.col(f"a.{key}") == F.col(f"b.{key}"))
    return a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"a.{key}").alias(key) for key in keys],
        *[F.col(f"{side}.{c}").alias(f"{c}_{side}") for c in carry for side in "ab"],
    )


def blocked_star(df: DataFrame, id_col: str, keys: list[str]) -> DataFrame:
    """Distinct star edges ``(id_a = block minimum, id_b)`` of every block
    of ``df`` (rows sharing all ``keys``) with at least two members:
    |b| − 1 edges per block instead of :func:`blocked_pairs`' clique.

    The star connects the same components as the clique, so connected-
    component callers (j90 and its cluster consumers) pay linear edges in
    block occupancy.  The hub is the block minimum, so hub < id on every
    surviving row: the edges are already in (id_a < id_b) order for
    :func:`dup_clusters`.  A null key never matches the hub join."""
    hubs = (
        df.groupBy(*keys)
        .agg(F.min(id_col).alias("hub"), F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .drop("n")
    )
    return (
        df.join(hubs, list(keys))
        .filter(F.col(id_col) != F.col("hub"))
        .select(F.col("hub").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )


def _shingle_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    block_col: str | None,
    score_name: str,
    score: F.Column,
    threshold: float,
) -> DataFrame:
    """Shared body of :func:`jaccard_pairs` and :func:`containment_pairs`:
    explode(shingles) -> :func:`blocked_pairs` on shingle [+ block key]
    -> per-pair intersection count (one row per shared shingle) next to
    both set sizes -> ``score`` (over ``inter``, ``sz_a``, ``sz_b``)
    rounded to 4dp, kept at ``>= threshold``."""
    ex = fan_out(df).select(
        F.col(id_col).alias("id"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
        F.explode(shingles(F.col(text_col), k)).alias("sh"),
    )
    # r12 (guide §2.4): per-doc shingle count == size of the (distinct)
    # shingle array — a map-only expression over the input, NOT another
    # explode + groupBy exchange.  The old ex.groupBy derivation ran the
    # full shingling+explode+shuffle a third and fourth time (once per
    # size-join leg); docs whose array is empty gain a sz=0 row here, but
    # they can never appear in ``inter``, so the inner joins drop them —
    # output unchanged (oracle-verified).
    sizes = fan_out(df).select(
        F.col(id_col).alias("id"), F.size(shingles(F.col(text_col), k)).alias("sz")
    )
    inter = (
        blocked_pairs(ex, "id", ["sh"] + (["blk"] if block_col else []))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(score_name, F.round(score, 4))
        .filter(F.col(score_name) >= threshold)
        .select("id_a", "id_b", score_name)
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """J2 (exact tier): doc pairs with shingle-Jaccard >= threshold.

    :func:`blocked_pairs` on shingle [+ ``block_col``] -> per-pair
    intersection count vs sizes.  ``block_col`` bounds the candidate
    space; at scale the MinHash tier below replaces the raw shingle join.
    Output: (id_a < id_b, jaccard) rounded to 4dp.
    """
    inter, sz_a, sz_b = F.col("inter"), F.col("sz_a"), F.col("sz_b")
    return _shingle_overlap_pairs(
        df, id_col, text_col, k, block_col, "jaccard", inter / (sz_a + sz_b - inter), threshold
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """J2 variant: doc pairs by shingle CONTAINMENT — inter / min(|A|, |B|).

    Jaccard under-scores subset duplication (a paragraph quoted inside a
    10x longer page has tiny Jaccard but containment ~1), so corpus
    pipelines run BOTH: Jaccard for same-size near-dups, containment for
    wrapper/boilerplate-absorbed copies.  Same :func:`blocked_pairs`
    shingle join as ``jaccard_pairs`` (equi join on shingle [+ block],
    never all-pairs); only the score differs, and it divides the same
    integers on any engine, so the threshold cannot drift cross-engine.
    Output: (id_a < id_b, containment) rounded to 4dp.
    """
    inter, sz_a, sz_b = F.col("inter"), F.col("sz_a"), F.col("sz_b")
    return _shingle_overlap_pairs(
        df, id_col, text_col, k, block_col, "containment", inter / F.least(sz_a, sz_b), threshold
    )


def minhash_signature(df: DataFrame, id_col: str, text_col: str, k: int = 3, n_hashes: int = 32) -> DataFrame:
    """MinHash signatures without MLlib: each shingle is string-hashed ONCE
    (``xxhash64(sh)``), then the i-th "permutation" re-hashes that fixed-
    width long with seed i — variable-length string hashing happens once
    per shingle instead of ``n_hashes`` times, and the per-seed work is a
    single xxhash64 round over 8 bytes.  (A Carter-Wegman ``(a_i*h+b_i)
    mod p`` family was measured comparable but its deterministically-
    derived coefficients correlated the permutations — band collisions
    inflated 10x — so independent re-hashing wins.)  One shuffle on doc
    id, partial mins map-side."""
    ex = (
        fan_out(df)
        .select(F.col(id_col).alias("id"), F.explode(shingles(F.col(text_col), k)).alias("sh"))
        .select("id", F.xxhash64(F.col("sh")).alias("h"))
    )
    hashes = [F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"mh_{i}") for i in range(n_hashes)]
    return ex.groupBy("id").agg(*hashes)


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Banded LSH bucket keys per doc: (id, band, bkey) — one row per band,
    bkey = xxhash64 of that band's signature rows.  Docs sharing (band,
    bkey) are near-dup candidates.  Exposed separately from the pair join
    so incremental pipelines can PERSIST band keys and probe new docs
    against the accumulated corpus without recomputing old signatures."""
    rows_per_band = n_hashes // bands
    sig = minhash_signature(df, id_col, text_col, k, n_hashes)
    band_keys = F.array(
        *[
            F.xxhash64(F.lit(b), *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)])
            for b in range(bands)
        ]
    )
    return sig.select("id", F.posexplode(band_keys).alias("band", "bkey"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """J2 (scale tier): banded-LSH candidate pairs, deduplicated.

    Signature -> ``bands`` band-keys (xxhash64 of each row of the signature
    matrix) -> explode -> :func:`blocked_pairs` per (band, bkey) bucket ->
    distinct pairs.  Candidates within a bucket share a full band of
    minhashes, so bucket sizes stay tiny and the join never goes
    quadratic in n.
    """
    bucketed = minhash_band_keys(df, id_col, text_col, k, n_hashes, bands)
    return blocked_pairs(bucketed, "id", ["band", "bkey"]).select("id_a", "id_b").distinct()


def md5_minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    rows_per_band: int = 4,
    k: int = 3,
) -> DataFrame:
    """SQL-certifiable banded MinHash bucket keys: (id, band, bkey).

    The hash family is h_i(s) = first 60 bits of md5(i || ':' || s) — 15
    hex chars, so every value fits SIGNED int64 and DuckDB reproduces it
    digit-for-digit (the j64-md5 pattern).  Band key is the '|'-joined
    decimal rendering of the band's signature rows: string equality, no
    further hashing to diverge between engines.  The production tier
    (minhash_band_keys) keeps xxhash64 for speed; THIS family exists so
    banded-LSH pipelines can be hash-certified end-to-end
    (j2_minhash_lsh_md5, j90 connected components).

    Scale: shingle explode → one hash agg for the signature → posexplode
    of |bands| keys per doc.  Nothing leaves the JVM; candidates built on
    top of this are always per-(band, bkey) bucket, never all-pairs.
    """
    n_bands = n_hashes // rows_per_band
    ex = fan_out(df).select(
        F.col(id_col), F.explode(shingles(F.col(text_col), k)).alias("sh")
    )

    def h(i: int) -> F.Column:
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh"))), 1, 15), 16, 10
        ).cast("long")

    mh = ex.groupBy(id_col).agg(
        *[F.min(h(i)).alias(f"mh_{i}") for i in range(n_hashes)]
    )
    band_arr = F.array(
        *[
            F.concat_ws(
                "|",
                *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
            for b in range(n_bands)
        ]
    )
    return mh.select(id_col, F.posexplode(band_arr).alias("band", "bkey"))


def dup_clusters_two_phase(
    nodes: DataFrame,
    pairs: DataFrame,
    max_iterations: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """J2/J90 cluster assembly, large-star/small-star variant (Kiveris et
    al., SoCC'14, "Connected Components in MapReduce and Beyond") — the
    1000-executor upgrade :func:`dup_clusters`'s docstring promises: round
    count scales with log(component size) instead of component DIAMETER,
    so chain-shaped components (pathological crawl/link graphs) converge
    in a handful of rounds where hash-min pays one round per hop.  Same
    contract: (id, cluster_id = smallest id in the component).

    Each round is two edge REWRITES, both plain hash joins + aggregates
    over the canonical (a < b) edge relation:

    * LARGE-STAR: per node u over its symmetric neighborhood N(u), hang
      every LARGER neighbor off m = min(N(u) ∪ {u}) — long chains fold
      toward local minima in parallel;
    * SMALL-STAR: orient every edge toward its smaller endpoint; per node
      u, hang u and ALL its smaller neighbors off m = min(N⁻(u) ∪ {u}) —
      local minima collapse into one.

    The alternation's fixpoint is exactly the set of stars rooted at each
    component's minimum (paper, Thm 1-2); convergence is detected with an
    EXACT set-equality check on consecutive round outputs (count equal
    AND ``exceptAll`` empty — both KB-bounded driver-side scalars, the
    same contract as dup_clusters' exact changed==0 signal; a lossy
    checksum could declare a false fixpoint on hash collision).  If
    ``max_iterations`` is exhausted before the fixpoint,
    ``stats["converged"]`` records False so callers can detect a
    possibly-incomplete labeling (ADVICE r6 item 1).  Equivalence
    with hash-min propagation and exact union-find is pinned on random
    AND path graphs in tests/test_round6.py; the round-count win on
    chains is pinned by its deep-tier
    ``test_two_phase_cc_beats_hashmin_rounds_on_paths``."""
    edges = (
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    converged = False
    for _ in range(max_iterations):
        sym = edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mn"))
            .select("a", F.least(F.col("mn"), F.col("a")).alias("m"))
        )
        large = (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(
                F.least(F.col("b"), F.col("m")).alias("a"),
                F.greatest(F.col("b"), F.col("m")).alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        mins2 = large.groupBy("b").agg(F.min("a").alias("m"))
        small = (
            large.join(mins2, "b")
            .select(F.col("a").alias("x"), F.col("m").alias("y"))
            .unionByName(mins2.select(F.col("b").alias("x"), F.col("m").alias("y")))
            .where(F.col("x") != F.col("y"))
            .select(
                F.least(F.col("x"), F.col("y")).alias("a"),
                F.greatest(F.col("x"), F.col("y")).alias("b"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        rounds += 1
        # exact fixpoint signal: both relations are distinct (a < b) edge
        # sets, so equality ⟺ equal counts AND empty difference — two
        # KB-bounded driver scalars, no lossy checksum (ADVICE r6 item 1).
        prev_edges = edges
        edges = small
        if small.count() == prev_edges.count() and (
            small.exceptAll(prev_edges).limit(1).count() == 0
        ):
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    # at the fixpoint every component is a star (a = root = min id); the
    # defensive min-agg covers a max_iterations exhaustion mid-collapse.
    leaves = edges.groupBy(F.col("b").alias("id")).agg(
        F.min("a").alias("cluster_id")
    )
    return (
        nodes.select("id")
        .join(leaves, "id", "left")
        .select(
            "id", F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id")
        )
    )


def dup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    max_iterations: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """J2 cluster assembly: connected components of the near-dup pair graph
    by smallest-id label propagation.

    ``nodes``: one column ``id``; ``pairs``: columns ``id_a < id_b``.
    Each iteration joins labels across edges and keeps the per-node min —
    all distributed hash joins/aggregates; the driver loop only counts
    iterations (convergence ≤ graph diameter, bounded by max_iterations;
    near-dup components are tiny by construction so this is 2-3 rounds).
    Returns (id, cluster_id) where cluster_id = smallest id in the component.
    ``stats`` (when given) gets ``rounds`` and ``converged``: False when
    ``max_iterations`` ran out while labels were still changing, i.e. the
    labels may split a component.
    """
    # Lazy checkpoint: the first round's job materializes the symmetrized
    # distinct edge relation once; every later round reuses it instead of
    # re-running the symmetrize + distinct exchange (r11 optimization).
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = nodes.select(F.col("id"), F.col("id").alias("cluster_id"))
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("n_min"))
        )
        # Carry the OLD label through the round output so the convergence
        # probe is a per-row predicate, not a re-join of new labels to old
        # (r11 optimization).  The probe rides on the eager checkpoint job
        # (checkpoint_observed), so each round runs one job, computes
        # new_labels once and counts its changed labels in flight.
        new_labels, probe = checkpoint_observed(
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left").select(
                "id",
                F.col("cluster_id").alias("__old_cid"),
                F.least(F.col("cluster_id"), F.coalesce(F.col("n_min"), F.col("cluster_id"))).alias(
                    "cluster_id"
                ),
            ),
            F.count(F.when(F.col("cluster_id") != F.col("__old_cid"), 1)).alias("changed"),
        )
        labels = new_labels.select("id", "cluster_id")
        if stats is not None:
            stats["rounds"] = stats.get("rounds", 0) + 1
        if probe["changed"] == 0:
            converged = True
            break
    if stats is not None:
        stats["converged"] = converged
    return labels


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    token_hash: F.Column | None = None,
) -> DataFrame:
    """J2 (simhash tier): ``bits``-bit fingerprint = bitwise majority vote
    of token hashes.  Expressed as one aggregate per bit over exploded
    tokens — the conditional sums fuse into a single hash-aggregate pass.

    ``token_hash`` overrides the per-token hash expression (over column
    ``w``): the default xxhash64 is fastest but engine-specific
    (rows-only checks); j64's md5 twin passes a 60-bit md5-derived hash
    that DuckDB reproduces digit-for-digit, making the WHOLE simhash
    pipeline SQL-oracle-checkable."""
    h = F.xxhash64("w") if token_hash is None else token_hash
    ex = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("w"),
    ).select("id", h.alias("h"))
    bit_votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    votes = ex.groupBy("id").agg(*bit_votes)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseXOR(term)
    return votes.select("id", fp.alias("simhash"))


def exact_substring_dedup(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """J57: ExactSubstr dedup (Lee et al. 2022) — remove EVERY occurrence
    of any k-token span that appears >= 2 times anywhere in the corpus,
    then reassemble each document's surviving tokens in order.

    Returns (doc, n_tokens, n_removed, cleaned_md5).  The paper builds a
    single-node suffix array; the distributed restatement is: k-gram
    generation as a codegen HOF over the token array, "span occurs twice"
    as ONE hash aggregate on md5(gram) (32-byte shuffle key regardless of
    k; a collision could only over-remove, at 2^-64 odds), occurrence ->
    covered-position fan-out as a bounded explode (exactly k rows per
    duplicated occurrence), kept tokens via a left-anti hash join on
    (doc, pos), and order-preserving reassembly as the j29 sort-collect
    pattern.  Map-side partial aggregation applies to the gram count, so
    the one all-corpus structure combines before it shuffles."""
    base = fan_out(df).select(
        F.col(id_col).alias("doc"),
        F.filter(
            F.split(normalize_text(F.col(text_col)), " "), lambda t: t != F.lit("")
        ).alias("toks"),
    ).withColumn("n_tokens", F.size("toks"))

    grams = base.select(
        "doc",
        F.posexplode(
            F.when(
                F.col("n_tokens") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.col("n_tokens") - k),
                    lambda i: F.array_join(F.slice(F.col("toks"), i + 1, k), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("start", "gram"),
    ).select("doc", "start", F.md5("gram").alias("gh"))

    dup = grams.groupBy("gh").agg(F.count("*").alias("c")).filter(F.col("c") >= 2).select("gh")
    covered = (
        grams.join(dup, "gh", "left_semi")
        .select(
            "doc",
            F.explode(F.sequence(F.col("start"), F.col("start") + (k - 1))).alias("pos"),
        )
        .distinct()
    )
    tk = base.select("doc", F.posexplode("toks").alias("pos", "tok"))
    kept = tk.join(covered, ["doc", "pos"], "left_anti")
    agg = kept.groupBy("doc").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.getField("tok"),
                ),
                " ",
            )
        ).alias("cleaned_md5"),
    )
    return (
        base.select("doc", "n_tokens")
        .join(agg, "doc", "left")
        .select(
            "doc",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("cleaned_md5"), F.md5(F.lit(""))).alias("cleaned_md5"),
        )
    )


def ppjoin_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """J62: exact set-similarity join via PREFIX FILTERING (AllPairs /
    PPJoin family — Bayardo et al. WWW'07, Vernica et al. SIGMOD'10),
    the classic EXACT alternative to MinHash-LSH: no metadata blocking,
    no approximation, yet never an all-pairs join.

    Theorem: order every document's shingle set by ascending global
    document frequency (rarest first; ties broken by the shingle string
    so the order is total).  If ``J(x, y) >= t`` then the first
    ``|x| - ceil(t * |x|) + 1`` shingles of x and the corresponding
    prefix of y share at least one element — so joining on PREFIX
    shingles only loses no true pair, while the frequent shingles (the
    quadratic blowup in a naive shingle join) never enter the join.
    A second provable prune: ``J >= t  =>  min(|x|,|y|) >= t * max``.

    Candidates then verify EXACTLY: join each candidate pair back to the
    full shingle sets, count the real intersection, keep ``J >= t``.

    Distributed shape: df(shingle) is one hash aggregate; the prefix rank
    is a window partitioned BY DOCUMENT (never global); the candidate
    join is :func:`blocked_pairs` on the prefix shingle with the size
    prune applied inside the join; verification touches candidate pairs
    only.

    Arithmetic exactness (completeness is the operator's contract, so the
    prunes must never overshoot): when ``t`` is a small exact rational
    (decimal-string rational: ``Fraction(str(t))``, so 0.8 is exactly
    4/5 — denominator ≤ 10⁶ covers every humanly-written threshold), the
    prefix length, size prune, positional prune, and final verification
    all run in pure integer arithmetic (``ceil(t·sz)`` as
    ``(num·sz + den − 1) div den``; ``min ≥ t·max`` as
    ``den·min ≥ num·max``).  For a pathological computed float whose
    shortest repr has a huge denominator, the prunes compare against
    ``t·sz − 1e-9`` — conservative slack that can only ADMIT extra
    candidates (verified exactly later), never drop a boundary true pair
    — and verification uses the plain compare (no slack — it must not
    admit J < t).
    """
    ex = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), k)).alias("sh"),
    )
    # The exploded shingle relation feeds FIVE consumers (sizes, document
    # frequency, prefix ranking, and both verification sides).  Materialize
    # it once at the stage boundary — the in-engine analogue of the
    # stage-output files in Vernica et al.'s MapReduce formulation — or the
    # lazy DAG re-derives the tokenize+explode per consumer (measured ~2x
    # on the whole query at sf0.1).
    ex = ex.localCheckpoint(eager=False)
    # Per-document sorted shingle SETS — one hash aggregate.  Sizes fall out
    # for free, and verification below becomes a codegen array_intersect on
    # two bounded arrays instead of a second exploded join (measured ~2x on
    # the whole query at sf0.1).
    # r11: ``sets`` feeds THREE consumers (sizes + both verification
    # sides) — without a cut each re-runs the groupBy + sort shuffle.
    sets = ex.groupBy("id").agg(
        F.sort_array(F.collect_list("sh")).alias("shs"), F.count("*").alias("sz")
    ).localCheckpoint(eager=False)
    # Global document frequency per shingle — the canonical prefix order.
    dfreq = ex.groupBy("sh").agg(F.count("*").alias("df"))
    from pyspark.sql.window import Window

    ranked = ex.join(dfreq, "sh").withColumn(
        "pos", F.row_number().over(Window.partitionBy("id").orderBy("df", "sh"))
    )
    sizes = sets.select("id", "sz")
    # Prefix length in exact integer arithmetic where t permits (ADVICE
    # r3: float ceil(t*sz) can overshoot by 1 ulp and silently shrink the
    # prefix — over-pruning true pairs).  The rational comes from the
    # threshold's DECIMAL string (0.8 -> 4/5), not as_integer_ratio
    # (0.8 -> a 2^52 denominator that would overflow int64 products and
    # misstate the user's intent by 1 ulp).  ceil(num*sz/den) for
    # non-negative ints is (num*sz + den - 1) div den.
    from fractions import Fraction

    frac = Fraction(str(float(threshold)))
    t_num, t_den = frac.numerator, frac.denominator
    if t_den <= 10**6:
        ceil_t_sz = F.expr(f"({t_num} * sz + {t_den - 1}) div {t_den}")
        size_keep_expr = lambda lo, hi: F.lit(t_den) * lo >= F.lit(t_num) * hi  # noqa: E731
        # Final verification shares the exact integer compare.
        verify_keep_expr = size_keep_expr
    else:
        # conservative float slack: may lengthen the prefix / keep an
        # extra candidate (harmless — verification is exact), never prunes
        # a boundary true pair.
        ceil_t_sz = F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9))
        size_keep_expr = lambda lo, hi: lo >= F.lit(threshold) * hi - F.lit(1e-9)  # noqa: E731
        # Verification must NOT carry the slack (it would admit J < t
        # pairs); J == t exactly is unreachable for a non-dyadic float t
        # (J is a small-denominator rational), so the plain compare is
        # exact here.
        verify_keep_expr = lambda lo, hi: lo >= F.lit(threshold) * hi  # noqa: E731
    # r11: ``prefix`` is both sides of the candidate self-join — cut the
    # lineage so the dfreq join + per-doc rank window run once, not twice.
    prefix = (
        ranked.join(sizes, "id")
        .filter(F.col("pos") <= F.col("sz") - ceil_t_sz + 1)
        .select("id", "sh", "sz", "pos")
        .localCheckpoint(eager=False)
    )
    # Candidate join on prefix shingles with BOTH classic prunes:
    #   * size filter:        J >= t  =>  min(|x|,|y|) >= t * max(|x|,|y|)
    #   * positional filter:  a shared token at prefix positions (i, j)
    #     bounds the overlap by  1 + min(|x|-i, |y|-j); J >= t needs
    #     overlap >= ceil(t/(1+t) * (|x|+|y|)) = alpha.  The bound from
    #     the EARLIEST shared token is the largest, so keeping a pair iff
    #     MAX over observed shared prefix tokens of the bound >= alpha is
    #     lossless (it upper-bounds the classic first-common-token rule).
    #     With t = 0.75, alpha = ceil(3/7 * (sz_a + sz_b)) — 3/7 is kept
    #     as the exact rational t/(1+t) via integer-scaled arithmetic
    #     (7 * overlap_bound >= 3 * (sz_a + sz_b) avoids any float ulp).
    # Grouping by pair replaces the plain distinct() — same shuffle, and
    # the positional prune shrinks the verification set for free.
    bound = F.lit(1) + F.least(
        F.col("sz_a") - F.col("pos_a"), F.col("sz_b") - F.col("pos_b")
    )
    if t_den <= 10**6:
        # exact rational compare (t = num/den):  bound*(num+den) >= num*(sa+sb)
        pos_keep = F.col("max_bound") * F.lit(t_num + t_den) >= F.lit(t_num) * (
            F.col("_sa") + F.col("_sb")
        )
    else:
        # non-dyadic t: float compare with conservative slack (never prunes
        # a boundary true pair; may keep a handful of extra candidates)
        pos_keep = F.col("max_bound").cast("double") >= F.lit(
            threshold / (1.0 + threshold)
        ) * (F.col("_sa") + F.col("_sb")) - F.lit(1e-9)
    # The size prune is a filter over the join output that Catalyst
    # pushes into the join condition, as if written there.
    cand = (
        blocked_pairs(prefix, "id", ["sh"], carry=("sz", "pos"))
        .filter(
            size_keep_expr(
                F.least(F.col("sz_a"), F.col("sz_b")),
                F.greatest(F.col("sz_a"), F.col("sz_b")),
            )
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.max(bound).alias("max_bound"),
            F.max(F.col("sz_a")).alias("_sa"),
            F.max(F.col("sz_b")).alias("_sb"),
        )
        .filter(pos_keep)
        .select("id_a", "id_b")
    )
    # Exact verification: intersect the two full shingle sets per candidate.
    sa = sets.select(F.col("id").alias("id_a"), F.col("shs").alias("shs_a"), F.col("sz").alias("sz_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("shs").alias("shs_b"), F.col("sz").alias("sz_b"))
    inter = F.size(F.array_intersect(F.col("shs_a"), F.col("shs_b")))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", inter.cast("long"))
        .filter(
            verify_keep_expr(
                F.col("inter"), F.col("sz_a") + F.col("sz_b") - F.col("inter")
            )
        )
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4),
        )
        .select("id_a", "id_b", "jaccard")
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = 64,
    token_hash: F.Column | None = None,
) -> DataFrame:
    """J64: near-duplicate pairs at Hamming distance <= ``max_hamming``
    over the 64-bit simhash, found with the PIGEONHOLE band index (Manku,
    Jain & Das Sarma, WWW'07 — Google's web near-dup detector).

    Pigeonhole principle: split 64 bits into ``n_bands`` contiguous
    blocks; any two fingerprints within Hamming distance ``n_bands - 1``
    agree EXACTLY on at least one whole block.  So candidates are pairs
    colliding on (band index, band value) — :func:`blocked_pairs` on a
    16-bit bucket — and each candidate verifies with one
    ``bit_count(xor)``.
    For the guarantee to be lossless ``max_hamming <= n_bands - 1``.

    Returns (id_a < id_b, hamming).  Rows-only at the driver (simhash is
    xxhash64-seeded, engine-specific); completeness vs the brute-force
    all-pairs scan is test-pinned.
    """
    if max_hamming > n_bands - 1:
        raise ValueError("pigeonhole guarantee needs max_hamming <= n_bands - 1")
    if bits % n_bands:
        raise ValueError("bits must divide evenly into n_bands blocks")
    # r11: the fingerprint relation is BOTH sides of the band self-join —
    # without a lineage cut the whole simhash pass (token explode + md5 +
    # 64 conditional bit votes) runs twice.  (id, simhash) is two longs
    # per document, the cheapest possible thing to materialize.
    fp = simhash(df, id_col, text_col, bits=bits, token_hash=token_hash).localCheckpoint(
        eager=False
    )
    width = bits // n_bands
    mask = (1 << width) - 1
    bands = fp.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("bi"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv"))
    cand = (
        blocked_pairs(bands, "id", ["bi", "bv"], carry=("simhash",))
        .select(
            "id_a",
            "id_b",
            F.col("simhash_a").alias("fp_a"),
            F.col("simhash_b").alias("fp_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
