"""Round-7 additions — the SSTable binary seam made real (VERDICT r6
item 4) plus new depth operators.

a33/a34 certify the legacy ``ka``-format Data.db decoder
(``sources/sstable.py``) end-to-end: a bounded, deterministic subset of
the parquet source tables is re-encoded as REAL binary SSTable record
streams by the paired pure-Python writer (driver-side fixture staging,
fingerprint-keyed like every other staged layout), then read back
through the snapshot scan's binary branch — partition keys,
composite cell names, clustering columns, per-cell writetimes, cell
tombstones, expiring cells, and partition-level deletions all decoded
executor-side — and the reconciled rows hash-match the DuckDB oracle
reading the original parquet with the same deletion rules restated as
CASE expressions.  That closes the "binary parser seam documented but
unbuilt" gap VERDICT r1–r6 tracked.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.queries.layout import _staged
from cassandra_snap_to_hadoop_spark.registry import register
from cassandra_snap_to_hadoop_spark.session import apply_runtime_confs

# Fixed TTL-expiry reference instant and cell-tombstone local deletion
# time: explicit constants (never wall clock) so every read is
# deterministic and the oracle can restate the visibility rules exactly.
_AS_OF = 1_700_000_000
_LDT = 1_650_000_000
_TTL_PAST = 1_600_000_000  # expiring cells already expired at _AS_OF
_TTL_FUTURE = 1_800_000_000  # expiring cells still live at _AS_OF

_SUPPLIER_CQL = """CREATE TABLE ks1.supplier (
    s_suppkey bigint PRIMARY KEY,
    s_name text,
    s_nationkey int,
    s_acctbal double
);"""

_ORDERS_CQL = """CREATE TABLE ks1.orders_by_cust (
    o_custkey bigint,
    o_orderkey bigint,
    o_orderstatus text,
    o_totalprice double,
    o_orderdate timestamp,
    PRIMARY KEY (o_custkey, o_orderkey)
);"""


# Parquet source -> (snapshot table, schema.cql) of the staged fixtures.
_FIXTURE_TABLES = {
    "supplier": ("supplier", _SUPPLIER_CQL),
    "orders": ("orders_by_cust", _ORDERS_CQL),
}


def _stage_snapshot(prefix: str, sf_dir: str, source: str, tag: str, write):
    """Stage one SSTable snapshot of ``source`` (``supplier`` or
    ``orders``) in its fingerprint-keyed scratch dir: return early if an
    earlier run finished (``_SUCCESS``), else rebuild
    ``ks1/<table>/snapshots/<tag>`` with its ``schema.cql`` and let
    ``write(snap, meta)`` lay down the codec-specific files."""
    from cassandra_snap_to_hadoop_spark.sources.snapshot import parse_table_meta

    table, cql = _FIXTURE_TABLES[source]
    base = _staged(prefix, sf_dir, source)
    snap = base / "ks1" / table / "snapshots" / tag
    if (base / "_SUCCESS").exists():
        return base
    shutil.rmtree(base, ignore_errors=True)
    snap.mkdir(parents=True)
    (snap / "schema.cql").write_text(cql)
    write(snap, parse_table_meta(cql))
    (base / "_SUCCESS").touch()
    return base


def _supplier_partitions(sf_dir: str):
    """The supplier fixture truth every SSTable codec encodes: two
    generations (even/odd suppkeys) with the a33 deletion rules as
    partition/cell records — %97/%13 partition deletions, %5 cell
    tombstone, %7/%11 expired/surviving TTL cells."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/supplier.parquet",
        columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    )
    gens: dict[int, list] = {1: [], 2: []}
    for k, name, nat, bal in zip(*(t.column(c).to_pylist() for c in t.column_names)):
        base_ts = k * 1000
        if k % 97 == 0:
            # whole partition shadowed: every cell ts <= markedForDeleteAt
            deletion = (_LDT, base_ts + 999)
            name_ts = base_ts
        elif k % 13 == 0:
            # partial shadow: only s_name's cell sits under the tombstone
            deletion = (_LDT, base_ts - 1)
            name_ts = base_ts - 2
        else:
            deletion = None
            name_ts = base_ts
        if k % 5 == 0:
            nat_cell = ("tombstone", base_ts, _LDT)
        else:
            nat_cell = ("live", base_ts, nat)
        if k % 7 == 0:
            bal_cell = ("expiring", base_ts, bal, 60, _TTL_PAST)
        elif k % 11 == 0:
            bal_cell = ("expiring", base_ts, bal, 60, _TTL_FUTURE)
        else:
            bal_cell = ("live", base_ts, bal)
        gens[1 if k % 2 == 0 else 2].append(
            {
                "key": (k,),
                "deletion": deletion,
                "rows": [
                    {
                        "clustering": (),
                        "marker_ts": base_ts,
                        "cells": {
                            "s_name": ("live", name_ts, name),
                            "s_nationkey": nat_cell,
                            "s_acctbal": bal_cell,
                        },
                    }
                ],
            }
        )
    return gens


def _orders_partitions(sf_dir: str):
    """The clustered-orders fixture truth every SSTable codec encodes:
    the orderkey % 100 == 0 subset as partition key o_custkey,
    clustering o_orderkey, cell timestamps orderkey*10, split into two
    generations by customer parity."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/orders.parquet",
        columns=[
            "o_custkey",
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
        ],
    )
    ok_col = t.column("o_orderkey")
    t = t.filter(
        pc.equal(pc.subtract(ok_col, pc.multiply(pc.divide(ok_col, 100), 100)), 0)
    )
    # epoch micros straight from arrow — no tz-dependent datetime hop
    date_us = pc.cast(t.column("o_orderdate"), "int64").to_pylist()
    rows = sorted(
        zip(
            t.column("o_custkey").to_pylist(),
            t.column("o_orderkey").to_pylist(),
            t.column("o_orderstatus").to_pylist(),
            t.column("o_totalprice").to_pylist(),
            date_us,
        )
    )
    parts: dict[int, dict] = {}
    for ck, ok, status, price, dus in rows:
        p = parts.setdefault(ck, {"key": (ck,), "deletion": None, "rows": []})
        ts = ok * 10
        p["rows"].append(
            {
                "clustering": (ok,),
                "marker_ts": ts,
                "cells": {
                    "o_orderstatus": ("live", ts, status),
                    "o_totalprice": ("live", ts, price),
                    "o_orderdate": ("live", ts, dus // 1000),  # micros->millis
                },
            }
        )
    gens: dict[int, list] = {1: [], 2: []}
    for ck in sorted(parts):
        gens[1 if ck % 2 == 0 else 2].append(parts[ck])
    return gens


# The supplier roundtrip oracle, shared by every codec's roundtrip query:
# the visibility rules are format-independent truth.
_SUPPLIER_ORACLE = """
    SELECT s_suppkey,
           CASE WHEN s_suppkey % 13 = 0 THEN NULL ELSE s_name END AS v_name,
           CASE WHEN s_suppkey % 5 = 0 THEN CAST(NULL AS INTEGER)
                ELSE s_nationkey END AS v_nationkey,
           CASE WHEN s_suppkey % 7 = 0 THEN CAST(NULL AS DOUBLE)
                ELSE s_acctbal END AS v_acctbal,
           CAST(s_suppkey * 1000 AS BIGINT) AS writetime_us,
           CAST(CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE 2 END AS INTEGER) AS v_gen
    FROM supplier WHERE s_suppkey % 97 <> 0
    """

# The clustered-orders oracle, shared by every codec's clustering scan.
_ORDERS_ORACLE = """
    SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
           CAST(epoch_us(o_orderdate) AS BIGINT) AS orderdate_us,
           CAST(o_orderkey * 10 AS BIGINT) AS writetime_us
    FROM orders WHERE o_orderkey % 100 = 0
    """


def _supplier_scan(spark: SparkSession, sf_dir: str, stage, tag: str, gen_re: str):
    """Stage a supplier snapshot with ``stage`` and scan it back under
    the pinned as_of; ``gen_re`` pulls the generation out of
    ``_sstable``."""
    from cassandra_snap_to_hadoop_spark.sources.snapshot import snapshot_scan

    apply_runtime_confs(spark)
    base = stage(sf_dir)
    df = snapshot_scan(
        spark,
        str(base),
        "ks1",
        "supplier",
        tag,
        writetime="true",
        as_of=str(_AS_OF),
    )
    # NULLable value columns are prefixed v_ so the unique key
    # (s_suppkey) is the alphabetically-FIRST output column: any
    # order-insensitive row sort decides on it alone and never compares
    # a NULL cell against a value (the driver's hash sorts by name).
    return df.select(
        "s_suppkey",
        F.col("s_name").alias("v_name"),
        F.col("s_nationkey").alias("v_nationkey"),
        F.col("s_acctbal").alias("v_acctbal"),
        F.col("_writetime").alias("writetime_us"),
        F.regexp_extract(F.col("_sstable"), gen_re, 1).cast("int").alias("v_gen"),
    )


def _orders_scan(spark: SparkSession, sf_dir: str, stage, tag: str):
    """Stage a clustered-orders snapshot with ``stage`` and scan it
    back; timestamps leave as epoch micros (the tz-free idiom)."""
    from cassandra_snap_to_hadoop_spark.sources.snapshot import snapshot_scan

    apply_runtime_confs(spark)
    base = stage(sf_dir)
    df = snapshot_scan(
        spark,
        str(base),
        "ks1",
        "orders_by_cust",
        tag,
        writetime="true",
        as_of=str(_AS_OF),
    )
    return df.select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.unix_micros(F.col("o_orderdate")).alias("orderdate_us"),
        F.col("_writetime").alias("writetime_us"),
    )


def _stage_supplier_sstables(sf_dir: str):
    """Encode the supplier table as two ka-format Data.db generations
    (even/odd suppkeys) with the a33 deletion rules baked in as REAL
    binary tombstone/expiry/partition-deletion records."""
    from cassandra_snap_to_hadoop_spark.sources.sstable import write_data_db

    def write(snap, meta):
        for g, parts in _supplier_partitions(sf_dir).items():
            write_data_db(str(snap / f"ka-{g}-Data.db"), parts, meta)

    return _stage_snapshot("a33_sstable", sf_dir, "supplier", "tag-r7", write)


@register(
    "a33_sstable_binary_roundtrip",
    oracle=_SUPPLIER_ORACLE,
    survey="A33,A2,B3,B4",
)
def a33_sstable_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 with REAL SSTable bytes: the supplier table re-encoded as two
    legacy ka-format Data.db generations (pure-Python writer,
    sources/sstable.py), scanned back through the snapshot scan's
    binary branch, and hash-matched against the parquet source under the
    staged deletion rules:

    * suppkey % 97 == 0 — partition-level deletion ABOVE every cell
      timestamp: the whole partition disappears;
    * suppkey % 13 == 0 — partition deletion BETWEEN the s_name cell's
      timestamp and the others': only s_name is shadowed (certifies the
      per-cell timestamp comparison, not just the flag);
    * suppkey % 5 == 0 — s_nationkey cell tombstone -> NULL;
    * suppkey % 7 == 0 — s_acctbal expiring cell already expired at the
      pinned as_of -> NULL; % 11 == 0 writes a future-expiry cell that
      must SURVIVE (TTL decode is read, not just skipped);
    * writetime_us — the max surviving cell timestamp (suppkey*1000),
      decoded from the binary cell headers, not inferred;
    * gen — provenance via the _sstable column (even keys in gen 1).

    Scale shape: staging is a bounded driver-side fixture encode (the
    writer is the test harness; no SSTable binaries exist in this env,
    SURVEY §0); the SCAN is the product — one scan task per
    Data.db, decoded executor-side into Arrow batches, so a snapshot of
    10k SSTables fans out to 10k tasks with zero driver involvement
    beyond listing."""
    return _supplier_scan(
        spark, sf_dir, _stage_supplier_sstables, "tag-r7", r"ka-(\d+)-Data\.db$"
    )


def _stage_orders_sstables(sf_dir: str):
    """Encode a deterministic orders subset (orderkey % 100 == 0) as
    clustering-keyed ka-format SSTables: partition key o_custkey,
    clustering column o_orderkey — every cell name a true CompositeType
    blob (clustering value + column name + end-of-component bytes)."""
    from cassandra_snap_to_hadoop_spark.sources.sstable import write_data_db

    def write(snap, meta):
        for g, plist in _orders_partitions(sf_dir).items():
            write_data_db(str(snap / f"ka-{g}-Data.db"), plist, meta)

    return _stage_snapshot("a34_sstable", sf_dir, "orders", "tag-r7", write)


@register(
    "a34_sstable_clustering_scan",
    oracle=_ORDERS_ORACLE,
    survey="A34,A2,B5,D1",
)
def a34_sstable_clustering_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/B5 with clustering columns in REAL SSTable bytes: the wide-row
    layout (partition key o_custkey, clustering o_orderkey) where each
    logical row is a group of cells whose CompositeType names carry the
    clustering value — the regroup b5 performs on parquet stand-ins,
    here decoded from the binary composite encoding itself
    (<u16 len><bytes><0x00> per component).  Timestamp columns roundtrip
    Cassandra's epoch-millis cell values back to micros and are compared
    as epoch integers (the engine-wide tz-free idiom); writetime_us
    certifies the per-cell timestamp headers (orderkey*10).

    Partitions with MANY clustering rows (one per order of a customer)
    land in one Data.db each — multi-row partitions, two generations
    split by customer parity.  Scale shape: same as a33 — the decode is
    per-file executor-side streaming; this subset is the bounded fixture
    (orderkey % 100), the plan is the 100 TB plan."""
    return _orders_scan(spark, sf_dir, _stage_orders_sstables, "tag-r7")


# --------------------------------------------------------------------------
# Batch 2: statistics / time-series / eval depth operators.  Same
# acceptance bar as rounds 3-6: exact-integer or shared-IEEE-chain
# discipline, DuckDB oracle, pure-Python third-implementation pin.
# --------------------------------------------------------------------------

from pyspark.sql import Window  # noqa: E402

from cassandra_snap_to_hadoop_spark.io import Tables, fan_out  # noqa: E402


@register(
    "e81_cvm_two_sample",
    oracle="""
    WITH counts AS (
        SELECT n_chars AS v,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS cb
        FROM documents GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS n, CAST(SUM(cb) AS BIGINT) AS m
        FROM counts
    ), cum AS (
        SELECT v, ca, cb,
               SUM(ca) OVER (ORDER BY v) AS cuma,
               SUM(cb) OVER (ORDER BY v) AS cumb
        FROM counts
    ), terms AS (
        SELECT CAST(ROUND(
                   (ca + cb) * ((cuma * m - cumb * n) * 1.0 / (n * m))
                            * ((cuma * m - cumb * n) * 1.0 / (n * m))
                   * 1000000) AS BIGINT) AS t_micro
        FROM cum CROSS JOIN tot
    )
    SELECT n, m,
           CAST(SUM(t_micro) AS BIGINT) AS omega_sum_micro,
           CAST((n * m * SUM(t_micro)) // ((n + m) * (n + m)) AS BIGINT)
               AS cvm_t_micro
    FROM terms CROSS JOIN tot
    GROUP BY n, m
    """,
    survey="E81,E36,J8",
)
def e81_cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises drift statistic between the English
    corpus slice and the rest (n_chars distributions) — the INTEGRATED
    squared-ECDF-gap companion of e36's KS sup-gap: KS sees the worst
    point, CvM weighs the whole distribution, so slow body-wide drift
    that never produces one big gap still registers.

    Exactness: the ECDF gap at each distinct value is the exact BIGINT
    cross-product cuma·m − cumb·n (never a rational F value); each pooled
    term (ca+cb)·gap² is computed in double with an IDENTICAL operation
    order in both engines, micro-rounded per value, and summed as
    integers (the e37 per-cell discipline).  The final T·1e6 =
    n·m·Σ DIV (n+m)² is a pure-integer closed form (a float chain here
    drifted 1 ulp at a floor boundary — caught by the sf0.001 mirror).
    Gap products stay in int64 for n·m < 2^63; the n·m·Σ product bounds
    the exact tier at ~1e5 docs per side per micro-unit of Σ — beyond
    that, drop the 1e6 scaling a decade at a time.

    Scale shape: one corpus scan → per-distinct-value count agg; the
    cumulative window runs over the DISTINCT n_chars grid
    (domain-bounded, independent of corpus rows — the e36 exemption
    class); everything after is KB."""
    d = Tables(spark, sf_dir).documents
    counts = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1))
        .cast("long")
        .alias("cb"),
    )
    tot = counts.agg(
        F.sum("ca").cast("long").alias("n"), F.sum("cb").cast("long").alias("m")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = counts.select(
        "v",
        "ca",
        "cb",
        F.sum("ca").over(wv).alias("cuma"),
        F.sum("cb").over(wv).alias("cumb"),
    )
    terms = cum.crossJoin(F.broadcast(tot)).select(
        F.round(
            (F.col("ca") + F.col("cb"))
            * ((F.col("cuma") * F.col("m") - F.col("cumb") * F.col("n")) * 1.0
               / (F.col("n") * F.col("m")))
            * ((F.col("cuma") * F.col("m") - F.col("cumb") * F.col("n")) * 1.0
               / (F.col("n") * F.col("m")))
            * 1000000
        )
        .cast("long")
        .alias("t_micro"),
        "n",
        "m",
    )
    return terms.groupBy("n", "m").agg(
        F.sum("t_micro").cast("long").alias("omega_sum_micro"),
        F.expr(
            "CAST((n * m * SUM(t_micro)) DIV ((n + m) * (n + m)) AS BIGINT)"
        ).alias("cvm_t_micro"),
    )


_ACF_LAGS = 7


@register(
    "f38_acf_lags",
    oracle=f"""
    WITH daily AS (
        SELECT epoch_us(ts) // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM daily
    ), den AS (
        SELECT CAST(SUM((n * x - s) * (n * x - s)) AS BIGINT) AS d
        FROM daily CROSS JOIN stats
    ), lags AS (
        SELECT unnest(range(1, {_ACF_LAGS + 1})) AS k
    ), nums AS (
        SELECT k,
               CAST(SUM((n * a.x - s) * (n * b.x - s)) AS BIGINT) AS num,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM daily a
        JOIN lags ON TRUE
        JOIN daily b ON b.day = a.day + k
        CROSS JOIN stats
        GROUP BY k
    )
    SELECT CAST(k AS INTEGER) AS lag, n_pairs, num AS num_scaled, d AS den_scaled,
           CAST(num * 1000000 // d AS BIGINT) AS acf_ppm
    FROM nums CROSS JOIN den
    ORDER BY k
    """,
    survey="F38,F34,F26",
)
def f38_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily event-count series at lags
    1..{_ACF_LAGS} — the TIME-domain dependence diagnostic completing the
    series tier: f34 reads the spectrum, e47 the monotone trend, f33
    level shifts, e70 long-range scaling; ACF is what an analyst checks
    FIRST (seasonality shows as lag-7 peaks, drift as slow decay).

    Exactness: with x the integer daily counts, every centered product is
    kept scaled by n — (n·x_t − S)(n·x_{{t+k}} − S) is exact BIGINT (no
    rational mean), numerator and denominator are integer sums, and
    acf_ppm = num·1e6 DIV den with both engines truncating toward zero
    identically (negative autocorrelations hit the documented Python-//
    trap — the pin truncates, not floors).  Lag adjacency is an explicit
    day-arithmetic join, so calendar gaps produce missing pairs rather
    than silently misaligned ones.

    Scale shape: one scan → calendar-bounded daily agg; the lag join and
    everything after run on the |days| relation (KB at any volume)."""
    ev = Tables(spark, sf_dir).events
    # r11 (guide §2.4): the f45 cut — daily feeds the n/s fold, the
    # denominator fold and both lag-join sides; one events scan.
    daily = ev.groupBy(
        F.expr("unix_micros(ts) DIV 86400000000").alias("day")
    ).agg(F.count("*").cast("long").alias("x")).localCheckpoint(eager=False)
    stats = daily.agg(
        F.count("*").cast("long").alias("n"), F.sum("x").cast("long").alias("s")
    )
    den = (
        daily.crossJoin(F.broadcast(stats))
        .select(((F.col("n") * F.col("x") - F.col("s"))
                 * (F.col("n") * F.col("x") - F.col("s"))).alias("sq"))
        .agg(F.sum("sq").cast("long").alias("d"))
    )
    lags = spark.range(1, _ACF_LAGS + 1).select(F.col("id").alias("k"))
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    nums = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("k"))
        .crossJoin(F.broadcast(stats))
        .groupBy("k")
        .agg(
            F.sum(
                (F.col("n") * F.col("xa") - F.col("s"))
                * (F.col("n") * F.col("xb") - F.col("s"))
            )
            .cast("long")
            .alias("num"),
            F.count("*").cast("long").alias("n_pairs"),
        )
    )
    return (
        nums.crossJoin(F.broadcast(den))
        .select(
            F.col("k").cast("int").alias("lag"),
            "n_pairs",
            F.col("num").alias("num_scaled"),
            F.col("d").alias("den_scaled"),
            F.expr("CAST(num * 1000000 DIV d AS BIGINT)").alias("acf_ppm"),
        )
    )


def _register_e83() -> None:
    from cassandra_snap_to_hadoop_spark.queries.round5 import _SCORE_SQL

    oracle = f"""
    WITH {_SCORE_SQL}, ranked AS (
        SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
               ROW_NUMBER() OVER (ORDER BY s DESC, vec_id) AS r
        FROM sc
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
               CAST(SUM(y) AS BIGINT) AS pos_all
        FROM ranked
    ), dec AS (
        SELECT CAST((10 * (r - 1)) // n_all + 1 AS INTEGER) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(y) AS BIGINT) AS n_pos
        FROM ranked CROSS JOIN tot
        GROUP BY 1
    ), cum AS (
        SELECT decile, n_rows, n_pos,
               SUM(n_rows) OVER (ORDER BY decile) AS cum_n,
               SUM(n_pos) OVER (ORDER BY decile) AS cum_pos
        FROM dec
    )
    SELECT decile, n_rows, n_pos,
           CAST(cum_pos AS BIGINT) AS cum_pos,
           CAST(cum_pos * 1000000 // pos_all AS BIGINT) AS gain_ppm,
           CAST((cum_pos * n_all * 1000000) // (cum_n * pos_all) AS BIGINT)
               AS lift_ppm
    FROM cum CROSS JOIN tot
    ORDER BY decile
    """

    @register("e83_lift_gain_deciles", oracle=oracle, survey="E83,E62,G1")
    def e83_lift_gain_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Cumulative gains / lift table over the shared frozen scorer —
        the CAMPAIGN-targeting readout the threshold metrics don't give:
        e62/e68 integrate over all operating points, e69 evaluates one;
        the lift table answers "if I can only act on the top d deciles,
        what fraction of positives do I capture (gain) and at what
        multiple of random (lift)?".

        Exactness: deciles come from the exact global rank with a
        deterministic (s DESC, vec_id) tiebreak, assigned by the integer
        closed form 10·(r−1) DIV n + 1 (no ntile float); gains and lifts
        are pure-integer ppm divisions.

        Scale shape: global order WITHOUT the single-reducer window — the
        two-pass global_rank machinery (range partitions + KB offsets,
        the e80/g4 path); everything after the rank is a ≤10-row
        relation."""
        from cassandra_snap_to_hadoop_spark.operators.layout import global_rank
        from cassandra_snap_to_hadoop_spark.queries.round5 import _score_df

        sc = _score_df(spark, sf_dir).select(
            F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
            (-F.col("s")).alias("neg_s"),
            "vec_id",
        )
        ranked = global_rank(sc, ["neg_s", "vec_id"], out_col="r")
        tot = ranked.agg(
            F.count("*").cast("long").alias("n_all"),
            F.sum("y").cast("long").alias("pos_all"),
        )
        dec = (
            ranked.crossJoin(F.broadcast(tot))
            .groupBy(
                F.expr("CAST((10 * (r - 1)) DIV n_all + 1 AS INT)").alias("decile")
            )
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum("y").cast("long").alias("n_pos"),
            )
        )
        wd = Window.orderBy("decile").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = dec.select(
            "decile",
            "n_rows",
            "n_pos",
            F.sum("n_rows").over(wd).alias("cum_n"),
            F.sum("n_pos").over(wd).alias("cum_pos"),
        )
        return (
            cum.crossJoin(F.broadcast(tot))
            .select(
                "decile",
                "n_rows",
                "n_pos",
                F.col("cum_pos").cast("long").alias("cum_pos"),
                F.expr("CAST(cum_pos * 1000000 DIV pos_all AS BIGINT)").alias(
                    "gain_ppm"
                ),
                F.expr(
                    "CAST((cum_pos * n_all * 1000000) DIV (cum_n * pos_all)"
                    " AS BIGINT)"
                ).alias("lift_ppm"),
            )
        )


_register_e83()


@register(
    "e82_logrank_test",
    oracle="""
    WITH pu AS (
        SELECT user_id,
               CAST(user_id % 2 AS BIGINT) AS arm,
               MIN(epoch_us(ts) // 86400000000) AS d0,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN epoch_us(ts) // 86400000000 END) AS dp
        FROM events GROUP BY 1
    ), lt AS (
        SELECT arm,
               CAST(CASE WHEN dp IS NOT NULL AND dp - d0 <= 14
                         THEN dp - d0 ELSE 14 END AS BIGINT) AS t,
               CASE WHEN dp IS NOT NULL AND dp - d0 <= 14
                    THEN 1 ELSE 0 END AS observed
        FROM pu
    ), agg AS (
        SELECT t, arm,
               CAST(SUM(observed) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lt GROUP BY 1, 2
    ), wide AS (
        SELECT t,
               COALESCE(MAX(CASE WHEN arm = 1 THEN d END), 0) AS d1t,
               COALESCE(MAX(CASE WHEN arm = 0 THEN d END), 0) AS d0t,
               COALESCE(MAX(CASE WHEN arm = 1 THEN c END), 0) AS c1t,
               COALESCE(MAX(CASE WHEN arm = 0 THEN c END), 0) AS c0t
        FROM agg GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(c1t) AS BIGINT) AS tot1,
               CAST(SUM(c0t) AS BIGINT) AS tot0
        FROM wide
    ), risk AS (
        SELECT t, d1t, d0t,
               tot1 - COALESCE(SUM(c1t) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1t,
               tot0 - COALESCE(SUM(c0t) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n0t
        FROM wide CROSS JOIN tot
    ), terms AS (
        SELECT d1t,
               CAST(ROUND((d1t + d0t) * n1t * 1000.0 / (n1t + n0t))
                    AS BIGINT) AS e1_milli,
               CASE WHEN n1t + n0t > 1 THEN
                   CAST(ROUND((d1t + d0t) * 1.0 * n1t * n0t
                              * (n1t + n0t - d1t - d0t) * 1000.0
                              / ((n1t + n0t) * 1.0 * (n1t + n0t)
                                 * (n1t + n0t - 1))) AS BIGINT)
               ELSE 0 END AS v_milli
        FROM risk WHERE d1t + d0t > 0
    )
    SELECT CAST(SUM(d1t) AS BIGINT) AS o1,
           CAST(SUM(e1_milli) AS BIGINT) AS e1_milli,
           CAST(SUM(v_milli) AS BIGINT) AS v_milli,
           CAST(((SUM(d1t) * 1000 - SUM(e1_milli))
                 * (SUM(d1t) * 1000 - SUM(e1_milli)))
                // (SUM(v_milli) * 1000) AS BIGINT) AS chi2_milli
    FROM terms
    """,
    survey="E82,E39,E52",
)
def e82_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test between the two randomization arms'
    survival curves — the INFERENCE leg e39's Kaplan-Meier estimator
    lacks: KM draws the two churn curves, the log-rank test says whether
    they differ beyond noise, weighting every event time by its risk
    sets (a Welch t on lifetimes would ignore censoring entirely).

    Framing: time from a user's FIRST event to their first purchase,
    administratively right-censored at 14 days of follow-up (this
    synthetic corpus has no natural churn — every user stays active to
    the window end and every user eventually purchases, so the e39
    window-end censor yields zero events; the fixed follow-up horizon is
    the standard conversion-study design and is fully deterministic).
    Tz-free epoch-day arithmetic, arms = user_id % 2.  At each event time
    the observed
    arm-1 events d1t are exact integers; the expected count
    (d·n1/n) and hypergeometric variance (d·n1·n0·(n−d))/(n²·(n−1)) are
    milli-quantized per time with an identical double op order (the e37
    discipline) and summed as integers; the final
    chi2_milli = (O1·1000 − ΣE1_milli)² DIV (ΣV_milli·1000) is a pure
    integer closed form.  Overflow budget: (O1·1000 − E)² < 2^63 holds to
    ~3e6 observed events per arm.

    Scale shape: per-user reduction is the only corpus-scale stage; risk
    sets come from cumulative windows over DISTINCT lifetimes
    (calendar-bounded — the e39 exemption class); the fold is one row."""
    ev = Tables(spark, sf_dir).events
    pu = ev.groupBy("user_id").agg(
        F.expr("MIN(unix_micros(ts) DIV 86400000000)").alias("d0"),
        F.expr(
            "MIN(CASE WHEN event_type = 'purchase'"
            " THEN unix_micros(ts) DIV 86400000000 END)"
        ).alias("dp"),
    ).select((F.col("user_id") % 2).cast("long").alias("arm"), "d0", "dp")
    ev_ok = (F.col("dp").isNotNull()) & (F.col("dp") - F.col("d0") <= 14)
    lt = pu.select(
        "arm",
        F.when(ev_ok, F.col("dp") - F.col("d0")).otherwise(14).cast("long").alias("t"),
        F.when(ev_ok, 1).otherwise(0).alias("observed"),
    )
    agg = lt.groupBy("t", "arm").agg(
        F.sum("observed").cast("long").alias("d"),
        F.count("*").cast("long").alias("c"),
    )
    wide = agg.groupBy("t").agg(
        F.coalesce(F.max(F.when(F.col("arm") == 1, F.col("d"))), F.lit(0)).alias("d1t"),
        F.coalesce(F.max(F.when(F.col("arm") == 0, F.col("d"))), F.lit(0)).alias("d0t"),
        F.coalesce(F.max(F.when(F.col("arm") == 1, F.col("c"))), F.lit(0)).alias("c1t"),
        F.coalesce(F.max(F.when(F.col("arm") == 0, F.col("c"))), F.lit(0)).alias("c0t"),
    )
    tot = wide.agg(
        F.sum("c1t").cast("long").alias("tot1"),
        F.sum("c0t").cast("long").alias("tot0"),
    )
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        wide.crossJoin(F.broadcast(tot))
        .select(
            "t",
            "d1t",
            "d0t",
            (F.col("tot1") - F.coalesce(F.sum("c1t").over(wprev), F.lit(0))).alias("n1t"),
            (F.col("tot0") - F.coalesce(F.sum("c0t").over(wprev), F.lit(0))).alias("n0t"),
        )
        .where(F.col("d1t") + F.col("d0t") > 0)
    )
    terms = risk.select(
        "d1t",
        F.expr(
            "CAST(ROUND((d1t + d0t) * n1t * 1000.0 / (n1t + n0t)) AS BIGINT)"
        ).alias("e1_milli"),
        F.expr(
            "CASE WHEN n1t + n0t > 1 THEN"
            " CAST(ROUND((d1t + d0t) * 1.0 * n1t * n0t"
            " * (n1t + n0t - d1t - d0t) * 1000.0"
            " / ((n1t + n0t) * 1.0 * (n1t + n0t) * (n1t + n0t - 1)))"
            " AS BIGINT) ELSE 0 END"
        ).alias("v_milli"),
    )
    return terms.agg(
        F.sum("d1t").cast("long").alias("o1"),
        F.sum("e1_milli").cast("long").alias("e1_milli"),
        F.sum("v_milli").cast("long").alias("v_milli"),
        F.expr(
            "CAST(((SUM(d1t) * 1000 - SUM(e1_milli))"
            " * (SUM(d1t) * 1000 - SUM(e1_milli)))"
            " DIV (SUM(v_milli) * 1000) AS BIGINT)"
        ).alias("chi2_milli"),
    )


def _register_e84() -> None:
    from cassandra_snap_to_hadoop_spark.queries.round5 import _SIGN_SQL

    nbins = 20
    # ONE shared z template for both engines (the e79/j104 discipline) —
    # with explicit CAST(... AS DOUBLE): a bare `x * 1.0` is DOUBLE in
    # DuckDB but DECIMAL in Spark SQL, which silently switches the whole
    # chain to decimal arithmetic and drifts the floor (mirror-caught).
    z_tpl = (
        "FLOOR((CAST(sa1 AS DOUBLE) / (2.0 * n0 * n1)"
        " - CAST(sb1 AS DOUBLE) / (2.0 * n0 * n1))"
        " / sqrt("
        "((CAST(saa AS DOUBLE) * n1 - CAST(sa1 AS DOUBLE) * sa1)"
        " / (CAST(n1 AS DOUBLE) * (n1 - 1))"
        " + (CAST(sbb AS DOUBLE) * n1 - CAST(sb1 AS DOUBLE) * sb1)"
        " / (CAST(n1 AS DOUBLE) * (n1 - 1))"
        " - 2.0 * (CAST(sab AS DOUBLE) * n1 - CAST(sa1 AS DOUBLE) * sb1)"
        " / (CAST(n1 AS DOUBLE) * (n1 - 1)))"
        " / (CAST(n1 AS DOUBLE) * 4.0 * n0 * n0)"
        " + ((CAST(taa AS DOUBLE) * n0 - CAST(ta1 AS DOUBLE) * ta1)"
        " / (CAST(n0 AS DOUBLE) * (n0 - 1))"
        " + (CAST(tbb AS DOUBLE) * n0 - CAST(tb1 AS DOUBLE) * tb1)"
        " / (CAST(n0 AS DOUBLE) * (n0 - 1))"
        " - 2.0 * (CAST(tab AS DOUBLE) * n0 - CAST(ta1 AS DOUBLE) * tb1)"
        " / (CAST(n0 AS DOUBLE) * (n0 - 1)))"
        " / (CAST(n0 AS DOUBLE) * 4.0 * n1 * n1)"
        ") * 1000)"
    )
    # Two frozen scorers on the SAME vectors: A = the shared full-dim
    # sigmoid-input score, B = the even-dims-only ablation of the same
    # hash-signed sum (a deterministic second model, no training).
    score2_sql = f"""
    ex AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS micro
        FROM embeddings
    ), sc2 AS (
        SELECT vec_id, MIN(label) AS label,
               SUM(micro * ({_SIGN_SQL})) AS sa,
               SUM(CASE WHEN dim % 2 = 0
                        THEN micro * ({_SIGN_SQL}) ELSE 0 END) AS sb
        FROM ex GROUP BY 1
    )"""
    oracle = f"""
    WITH {score2_sql}, bounds AS (
        SELECT MIN(sa) AS loa, MAX(sa) AS hia,
               MIN(sb) AS lob, MAX(sb) AS hib
        FROM sc2
    ), binned AS (
        SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
               CAST((sa - loa) * {nbins} // (hia - loa + 1) AS BIGINT) AS ba,
               CAST((sb - lob) * {nbins} // (hib - lob + 1) AS BIGINT) AS bb
        FROM sc2 CROSS JOIN bounds
    ), tot AS (
        SELECT CAST(SUM(y) AS BIGINT) AS n1,
               CAST(COUNT(*) - SUM(y) AS BIGINT) AS n0
        FROM binned
    ), nega AS (
        SELECT ba AS b, CAST(COUNT(*) AS BIGINT) AS ne
        FROM binned WHERE y = 0 GROUP BY 1
    ), pa AS (
        SELECT b, 2 * COALESCE(SUM(ne) OVER (ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + ne AS p2x
        FROM nega
    ), placea AS (
        SELECT g.b,
               COALESCE(p.p2x,
                        2 * (SELECT COALESCE(SUM(ne), 0) FROM nega
                             WHERE b < g.b)) AS p2x
        FROM (SELECT DISTINCT ba AS b FROM binned) g
        LEFT JOIN pa p ON p.b = g.b
    ), negb AS (
        SELECT bb AS b, CAST(COUNT(*) AS BIGINT) AS ne
        FROM binned WHERE y = 0 GROUP BY 1
    ), pb AS (
        SELECT b, 2 * COALESCE(SUM(ne) OVER (ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + ne AS p2x
        FROM negb
    ), placeb AS (
        SELECT g.b,
               COALESCE(p.p2x,
                        2 * (SELECT COALESCE(SUM(ne), 0) FROM negb
                             WHERE b < g.b)) AS p2x
        FROM (SELECT DISTINCT bb AS b FROM binned) g
        LEFT JOIN pb p ON p.b = g.b
    ), posa AS (
        SELECT ba AS b, CAST(COUNT(*) AS BIGINT) AS np
        FROM binned WHERE y = 1 GROUP BY 1
    ), qa AS (
        SELECT b, 2 * COALESCE(SUM(np) OVER (ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + np AS q2x
        FROM posa
    ), qplacea AS (
        SELECT g.b,
               COALESCE(q.q2x,
                        2 * (SELECT COALESCE(SUM(np), 0) FROM posa
                             WHERE b < g.b)) AS q2x
        FROM (SELECT DISTINCT ba AS b FROM binned) g
        LEFT JOIN qa q ON q.b = g.b
    ), posb AS (
        SELECT bb AS b, CAST(COUNT(*) AS BIGINT) AS np
        FROM binned WHERE y = 1 GROUP BY 1
    ), qb AS (
        SELECT b, 2 * COALESCE(SUM(np) OVER (ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + np AS q2x
        FROM posb
    ), qplaceb AS (
        SELECT g.b,
               COALESCE(q.q2x,
                        2 * (SELECT COALESCE(SUM(np), 0) FROM posb
                             WHERE b < g.b)) AS q2x
        FROM (SELECT DISTINCT bb AS b FROM binned) g
        LEFT JOIN qb q ON q.b = g.b
    ), pcells AS (
        SELECT ba, bb, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM binned WHERE y = 1 GROUP BY 1, 2
    ), pstats AS (
        SELECT CAST(SUM(cnt * a.p2x) AS BIGINT) AS sa1,
               CAST(SUM(cnt * b.p2x) AS BIGINT) AS sb1,
               CAST(SUM(cnt * a.p2x * a.p2x) AS BIGINT) AS saa,
               CAST(SUM(cnt * b.p2x * b.p2x) AS BIGINT) AS sbb,
               CAST(SUM(cnt * a.p2x * b.p2x) AS BIGINT) AS sab
        FROM pcells JOIN placea a ON a.b = pcells.ba
                    JOIN placeb b ON b.b = pcells.bb
    ), ncells AS (
        SELECT ba, bb, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM binned WHERE y = 0 GROUP BY 1, 2
    ), nstats AS (
        SELECT CAST(SUM(cnt * (2 * n1 - a.q2x)) AS BIGINT) AS ta1,
               CAST(SUM(cnt * (2 * n1 - b.q2x)) AS BIGINT) AS tb1,
               CAST(SUM(cnt * (2 * n1 - a.q2x) * (2 * n1 - a.q2x)) AS BIGINT) AS taa,
               CAST(SUM(cnt * (2 * n1 - b.q2x) * (2 * n1 - b.q2x)) AS BIGINT) AS tbb,
               CAST(SUM(cnt * (2 * n1 - a.q2x) * (2 * n1 - b.q2x)) AS BIGINT) AS tab
        FROM ncells JOIN qplacea a ON a.b = ncells.ba
                    JOIN qplaceb b ON b.b = ncells.bb
                    CROSS JOIN tot
    )
    SELECT n1, n0,
           CAST(sa1 * 1000000 // (2 * n0 * n1) AS BIGINT) AS auc_a_ppm,
           CAST(sb1 * 1000000 // (2 * n0 * n1) AS BIGINT) AS auc_b_ppm,
           CAST({z_tpl} AS BIGINT) AS z_milli
    FROM pstats CROSS JOIN nstats CROSS JOIN tot
    """

    @register("e84_delong_auc_compare", oracle=oracle, survey="E84,E62,E78")
    def e84_delong_auc_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
        """DeLong paired AUC comparison between two frozen scorers on the
        SAME examples (full-dim score A vs even-dims ablation B) — the
        AUC-level sibling of e78's McNemar: e62 measures ONE model's AUC,
        THIS says whether A's ranking advantage over B exceeds noise,
        using the exact placement-covariance structure (DeLong, DeLong &
        Clarke-Pearson 1988) that a naive independent-AUC z-test ignores
        (the scores are correlated — they share the examples AND half the
        dimensions).

        Exactness: scores land in 20 fixed bins (the e62 compromise that
        keeps every relation domain-bounded); per-bin placements are kept
        scaled by 2 (2·negBelow + negEq — exact integers), per-positive
        JOINT placements come from the ≤400-cell (binA × binB) grid, and
        all five moment sums per class are exact BIGINTs.  The final
        variance/z chain is ONE shared expression rendered identically in
        both engines (the e79/j104 IEEE discipline).  Overflow budget:
        cnt·p2x² < 2^63 holds to ~5e8 examples.

        Scale shape: one embeddings scan → per-vector score agg → 20-row
        bin tables + ≤400-cell joint grids; everything after the scan is
        KB."""
        from cassandra_snap_to_hadoop_spark.queries.round5 import _score_df

        sc = _score_df(spark, sf_dir)
        # second scorer: even dims only, same hash-sign machinery
        e = Tables(spark, sf_dir).embeddings
        from cassandra_snap_to_hadoop_spark.io import fan_out

        ex = fan_out(e).select(
            "vec_id", F.posexplode("embedding").alias("dim", "x")
        )
        sign = F.when(
            F.substring(
                F.md5(F.concat(F.lit("dim:"), F.col("dim").cast("string"))), 1, 1
            )
            < "8",
            F.lit(1),
        ).otherwise(F.lit(-1))
        micro = F.round(F.col("x").cast("double") * 1000000).cast("long")
        sb = ex.groupBy("vec_id").agg(
            F.sum(F.when(F.col("dim") % 2 == 0, micro * sign).otherwise(0)).alias(
                "sb"
            )
        )
        # r11 (guide §2.4): ``both`` feeds the bounds agg AND the binning
        # — without a cut the two score scans (sa fold + sb posexplode)
        # each ran twice.  (vec_id-count rows of 3 ints: cheap to hold.)
        both = sc.join(sb, "vec_id").select(
            F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
            F.col("s").alias("sa"),
            "sb",
        ).localCheckpoint(eager=False)
        bounds = both.agg(
            F.min("sa").alias("loa"),
            F.max("sa").alias("hia"),
            F.min("sb").alias("lob"),
            F.max("sb").alias("hib"),
        )
        binned = both.crossJoin(F.broadcast(bounds)).select(
            "y",
            F.expr(f"CAST((sa - loa) * {nbins} DIV (hia - loa + 1) AS BIGINT)").alias(
                "ba"
            ),
            F.expr(f"CAST((sb - lob) * {nbins} DIV (hib - lob + 1) AS BIGINT)").alias(
                "bb"
            ),
        ).localCheckpoint(eager=True)
        tot = binned.agg(
            F.sum("y").cast("long").alias("n1"),
            (F.count("*") - F.sum("y")).cast("long").alias("n0"),
        )

        def place_table(col: str, y_val: int, out: str):
            """2x-scaled placement of each distinct bin of `col` among the
            class-y_val rows: 2*below + eq (0 for bins with no class rows
            below or at — the correlated-subquery COALESCE in the oracle)."""
            cls = (
                binned.where(F.col("y") == y_val)
                .groupBy(F.col(col).alias("b"))
                .agg(F.count("*").cast("long").alias("ne"))
            )
            allb = binned.select(F.col(col).alias("b")).distinct()
            # every bin joined to the class counts at-or-below it: the
            # <=20-row broadcast triangle join is the windowless form of
            # "2*below + eq" (bins absent from the class get eq = 0)
            cls2 = cls.select(F.col("b").alias("cb"), "ne")
            joined = (
                allb.join(F.broadcast(cls2), F.col("cb") <= F.col("b"), "left")
                .groupBy("b")
                .agg(
                    (
                        2 * F.coalesce(F.sum(F.when(F.col("cb") < F.col("b"), F.col("ne"))), F.lit(0))
                        + F.coalesce(F.sum(F.when(F.col("cb") == F.col("b"), F.col("ne"))), F.lit(0))
                    ).alias(out)
                )
            )
            return joined

        pa = place_table("ba", 0, "p2x")
        pb = place_table("bb", 0, "p2x_b")
        qa = place_table("ba", 1, "q2x")
        qb = place_table("bb", 1, "q2x_b")
        pcells = (
            binned.where(F.col("y") == 1)
            .groupBy("ba", "bb")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        pstats = (
            pcells.join(F.broadcast(pa.withColumnRenamed("b", "ba")), "ba")
            .join(F.broadcast(pb.withColumnRenamed("b", "bb")), "bb")
            .agg(
                F.sum(F.col("cnt") * F.col("p2x")).cast("long").alias("sa1"),
                F.sum(F.col("cnt") * F.col("p2x_b")).cast("long").alias("sb1"),
                F.sum(F.col("cnt") * F.col("p2x") * F.col("p2x"))
                .cast("long")
                .alias("saa"),
                F.sum(F.col("cnt") * F.col("p2x_b") * F.col("p2x_b"))
                .cast("long")
                .alias("sbb"),
                F.sum(F.col("cnt") * F.col("p2x") * F.col("p2x_b"))
                .cast("long")
                .alias("sab"),
            )
        )
        ncells = (
            binned.where(F.col("y") == 0)
            .groupBy("ba", "bb")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        nstats = (
            ncells.join(F.broadcast(qa.withColumnRenamed("b", "ba")), "ba")
            .join(F.broadcast(qb.withColumnRenamed("b", "bb")), "bb")
            .crossJoin(F.broadcast(tot))
            .select(
                "cnt",
                (2 * F.col("n1") - F.col("q2x")).alias("ra"),
                (2 * F.col("n1") - F.col("q2x_b")).alias("rb"),
            )
            .agg(
                F.sum(F.col("cnt") * F.col("ra")).cast("long").alias("ta1"),
                F.sum(F.col("cnt") * F.col("rb")).cast("long").alias("tb1"),
                F.sum(F.col("cnt") * F.col("ra") * F.col("ra"))
                .cast("long")
                .alias("taa"),
                F.sum(F.col("cnt") * F.col("rb") * F.col("rb"))
                .cast("long")
                .alias("tbb"),
                F.sum(F.col("cnt") * F.col("ra") * F.col("rb"))
                .cast("long")
                .alias("tab"),
            )
        )
        z_expr = z_tpl
        return (
            pstats.crossJoin(F.broadcast(nstats))
            .crossJoin(F.broadcast(tot))
            .select(
                "n1",
                "n0",
                F.expr("CAST(sa1 * 1000000 DIV (2 * n0 * n1) AS BIGINT)").alias(
                    "auc_a_ppm"
                ),
                F.expr("CAST(sb1 * 1000000 DIV (2 * n0 * n1) AS BIGINT)").alias(
                    "auc_b_ppm"
                ),
                F.expr(f"CAST({z_expr} AS BIGINT)").alias("z_milli"),
            )
        )


_register_e84()


_TRUSS_K = 4  # edges must sit in >= k-2 = 2 triangles
_TRUSS_ROUNDS = 6


def _truss_sql() -> str:
    """Unrolled k-truss peel as a MATERIALIZED CTE chain: each round
    keeps edges with >= K-2 common neighbors in the CURRENT edge set."""
    steps = []
    prev = "e0"
    for r in range(1, _TRUSS_ROUNDS + 1):
        steps.append(f"""
    s{r} AS MATERIALIZED (
        SELECT u, v FROM {prev}
        UNION ALL SELECT v AS u, u AS v FROM {prev}
    ), sup{r} AS (
        SELECT e.u, e.v, COUNT(*) AS sup
        FROM {prev} e
        JOIN s{r} a ON a.u = e.u
        JOIN s{r} b ON b.u = e.v AND b.v = a.v
        GROUP BY e.u, e.v
    ), e{r} AS MATERIALIZED (
        SELECT u, v FROM sup{r} WHERE sup >= {_TRUSS_K - 2}
    )""")
        prev = f"e{r}"
    rounds_union = "\n        UNION ALL ".join(
        f"SELECT {r} AS round, CAST(COUNT(*) AS BIGINT) AS n_edges FROM e{r}"
        for r in range(0, _TRUSS_ROUNDS + 1)
    )
    return f"""
    WITH base AS (
        SELECT DISTINCT
               LEAST(l_orderkey % 2048, l_partkey % 2048) AS u,
               GREATEST(l_orderkey % 2048, l_partkey % 2048) AS v
        FROM lineitem WHERE l_orderkey % 10 = 0
    ), e0 AS MATERIALIZED (
        SELECT u, v FROM base WHERE u <> v
    ),{",".join(steps)}
    SELECT CAST(round AS INTEGER) AS round, n_edges FROM (
        {rounds_union}
    ) ORDER BY round
    """


@register("j107_ktruss_peel", oracle=_truss_sql(), survey="J107,J100,J79")
def j107_ktruss_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss decomposition (k=4) of the order↔part co-occurrence graph
    — the EDGE-cohesion sibling of j100's k-core (node degrees) built on
    j79's triangle machinery: a k-truss keeps only edges participating
    in ≥ k−2 triangles, the standard community-core extractor that is
    strictly stronger than k-core (every k-truss is inside a (k−1)-core)
    and the third canonical iterative graph workload after components
    and cores.

    Parity argument (the j100/e75 fixpoint discipline): both engines
    apply the identical peel E_{{t+1}} = {{e : support_{{E_t}}(e) ≥ k−2}}
    for {_TRUSS_ROUNDS} unrolled rounds; peeling only REMOVES edges, so
    an unchanged edge COUNT is an unchanged edge SET (set equality from
    one KB scalar) and every further round is the identity — Spark exits
    early and back-fills the remaining trajectory rows with the fixed
    count, matching the oracle's full unroll exactly.  The output is the
    whole round-by-round |E_t| trajectory, hash-certifying each
    intermediate peel, not just the fixpoint.

    Scale shape: per round one symmetrize + two hash equi joins + a
    count agg (wedge fan-out bounded by the sparse subset's degree); the
    graph relation lives KB-scale after the first distinct.  At 100 TB
    the peel runs on the banded co-occurrence edges exactly like j100's
    core peel; round budget, not volume, is the cost floor."""
    li = Tables(spark, sf_dir).lineitem
    e = (
        li.where(F.col("l_orderkey") % 10 == 0)
        .select(
            F.least(F.col("l_orderkey") % 2048, F.col("l_partkey") % 2048).alias("u"),
            F.greatest(
                F.col("l_orderkey") % 2048, F.col("l_partkey") % 2048
            ).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    # r11 optimization (guide §4.2 + §2.4): the former implementation ran
    # the peel as 6 distributed rounds (per round: symmetrize + two wedge
    # hash joins + a count agg + an eager checkpoint + a count job) — at
    # sf0.1 that is ~13 sequential job barriers for a graph whose node
    # domain is FOLDED TO %2048 AT CONSTRUCTION, i.e. ≤2048 nodes and
    # ≤2048·2047/2 edges at EVERY scale factor.  The distributed part that
    # actually scales with data volume — the scan + distinct deriving the
    # bounded edge set — stays distributed; the peel itself now runs as
    # ONE Arrow-batched task (the j3 Arrow/BLAS-tier precedent):
    # adjacency as a bit-packed 2048×256 uint8 matrix, per-edge support =
    # popcount(row_u & row_v) — vectorized numpy, exact integers, all
    # rounds in-core, with the same fixpoint back-fill (identity rounds
    # once the count repeats — the monotone-peel argument).
    rounds, k_min = _TRUSS_ROUNDS, _TRUSS_K - 2

    def _peel(pdf):
        import numpy as np
        import pandas as pd

        n = 2048
        u = pdf["u"].to_numpy().astype(np.int64)
        v = pdf["v"].to_numpy().astype(np.int64)
        # SWAR popcount over packed uint64 words — exact integer common-
        # neighbor counts at ~0.02 s per round for the full edge set.
        m1 = np.uint64(0x5555555555555555)
        m2 = np.uint64(0x3333333333333333)
        m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
        h01 = np.uint64(0x0101010101010101)

        def popcount64(x):
            x = x - ((x >> np.uint64(1)) & m1)
            x = (x & m2) + ((x >> np.uint64(2)) & m2)
            x = (x + (x >> np.uint64(4))) & m4
            return (x * h01) >> np.uint64(56)

        counts = [int(u.size)]
        for _ in range(rounds):
            if len(counts) >= 2 and counts[-1] == counts[-2]:
                counts.append(counts[-1])  # fixpoint: identity rounds
                continue
            A = np.zeros((n, n), dtype=np.uint8)
            A[u, v] = 1
            A[v, u] = 1
            B = np.packbits(A, axis=1)
            band = np.bitwise_and(B[u], B[v]).view(np.uint64)
            sup = popcount64(band).sum(axis=1).astype(np.int64)
            keep = sup >= k_min
            u, v = u[keep], v[keep]
            counts.append(int(u.size))
        return pd.DataFrame(
            {
                "round": np.arange(len(counts), dtype=np.int32),
                "n_edges": np.array(counts, dtype=np.int64),
            }
        )

    return (
        e.withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(_peel, "round int, n_edges long")
    )


@register(
    "e86_gini_split_stump",
    oracle="""
    WITH pts AS (
        SELECT n_chars AS v,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(p) AS BIGINT) AS tp, CAST(SUM(c) AS BIGINT) AS tc
        FROM pts
    ), cum AS (
        SELECT v, SUM(p) OVER (ORDER BY v) AS cp, SUM(c) OVER (ORDER BY v) AS cc
        FROM pts
    ), cand AS (
        SELECT v, cp, cc, tp, tc,
               CAST(ROUND((
                   (CAST(cc AS DOUBLE)
                    - (CAST(cp AS DOUBLE) * cp
                       + CAST(cc - cp AS DOUBLE) * (cc - cp)) / cc)
                   + (CAST(tc - cc AS DOUBLE)
                      - (CAST(tp - cp AS DOUBLE) * (tp - cp)
                         + CAST(tc - cc - tp + cp AS DOUBLE)
                           * (tc - cc - tp + cp)) / (tc - cc))
               ) / tc * 1000000) AS BIGINT) AS w_gini_micro
        FROM cum CROSS JOIN tot
        WHERE cc < tc
    ), parent AS (
        SELECT CAST(ROUND((1.0
                   - (CAST(tp AS DOUBLE) * tp
                      + CAST(tc - tp AS DOUBLE) * (tc - tp))
                     / (CAST(tc AS DOUBLE) * tc)) * 1000000) AS BIGINT)
               AS parent_gini_micro
        FROM tot
    ), best AS (
        SELECT v, cp, cc, w_gini_micro
        FROM cand ORDER BY w_gini_micro, v LIMIT 1
    )
    SELECT CAST(b.v AS BIGINT) AS threshold,
           CAST(b.cc AS BIGINT) AS n_left, CAST(b.cp AS BIGINT) AS pos_left,
           CAST(t.tc - b.cc AS BIGINT) AS n_right,
           CAST(t.tp - b.cp AS BIGINT) AS pos_right,
           p.parent_gini_micro,
           b.w_gini_micro AS split_gini_micro,
           CAST(p.parent_gini_micro - b.w_gini_micro AS BIGINT) AS gain_micro
    FROM best b CROSS JOIN tot t CROSS JOIN parent p
    """,
    survey="E86,E37,J9",
)
def e86_gini_split_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best 1-D decision stump: the threshold on n_chars that best
    separates English from non-English documents by Gini impurity — the
    CART split-finding primitive (feature-importance scoring, shallow-
    tree labeling heuristics, and quality-gate threshold tuning all
    reduce to exactly this scan).

    Exactness: per-threshold weighted Gini is ONE double chain from
    exact cumulative BIGINTs, written with explicit CAST(.. AS DOUBLE)
    (the e84 decimal-literal rule) and micro-rounded; the argmin runs on
    the micro integers with a deterministic (gini, threshold) tiebreak.
    Weighted-gini identity used: n_side·gini_side = n_side −
    (pos² + neg²)/n_side, summed over both sides then divided by N.

    Scale shape: one corpus scan → per-distinct-value (pos, count) agg;
    the cumulative window runs over the DISTINCT n_chars grid
    (domain-bounded — the e36/e81 exemption class); candidate ranking is
    a KB sort."""
    d = Tables(spark, sf_dir).documents
    pts = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long").alias("p"),
        F.count("*").cast("long").alias("c"),
    )
    tot = pts.agg(
        F.sum("p").cast("long").alias("tp"), F.sum("c").cast("long").alias("tc")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = pts.select(
        "v",
        F.sum("p").over(wv).alias("cp"),
        F.sum("c").over(wv).alias("cc"),
    )
    gexpr = (
        "CAST(ROUND(("
        "(CAST(cc AS DOUBLE)"
        " - (CAST(cp AS DOUBLE) * cp"
        " + CAST(cc - cp AS DOUBLE) * (cc - cp)) / cc)"
        " + (CAST(tc - cc AS DOUBLE)"
        " - (CAST(tp - cp AS DOUBLE) * (tp - cp)"
        " + CAST(tc - cc - tp + cp AS DOUBLE)"
        " * (tc - cc - tp + cp)) / (tc - cc))"
        ") / tc * 1000000) AS BIGINT)"
    )
    cand = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("cc") < F.col("tc"))
        .select("v", "cp", "cc", "tp", "tc", F.expr(gexpr).alias("w_gini_micro"))
    )
    parent = tot.select(
        F.expr(
            "CAST(ROUND((1.0 - (CAST(tp AS DOUBLE) * tp"
            " + CAST(tc - tp AS DOUBLE) * (tc - tp))"
            " / (CAST(tc AS DOUBLE) * tc)) * 1000000) AS BIGINT)"
        ).alias("parent_gini_micro")
    )
    best = cand.orderBy("w_gini_micro", "v").limit(1)
    return (
        best.crossJoin(F.broadcast(parent))
        .select(
            F.col("v").cast("long").alias("threshold"),
            F.col("cc").alias("n_left"),
            F.col("cp").alias("pos_left"),
            (F.col("tc") - F.col("cc")).alias("n_right"),
            (F.col("tp") - F.col("cp")).alias("pos_right"),
            "parent_gini_micro",
            F.col("w_gini_micro").alias("split_gini_micro"),
            (F.col("parent_gini_micro") - F.col("w_gini_micro")).alias("gain_micro"),
        )
    )


# ONE shared partial-correlation template (exact BIGINT sums in, explicit
# CAST AS DOUBLE everywhere — the e84 decimal-literal rule).
_E88_R = (
    "((CAST(n AS DOUBLE) * s{a}{b} - CAST(s{a} AS DOUBLE) * s{b})"
    " / sqrt((CAST(n AS DOUBLE) * s{a}{a} - CAST(s{a} AS DOUBLE) * s{a})"
    " * (CAST(n AS DOUBLE) * s{b}{b} - CAST(s{b} AS DOUBLE) * s{b})))"
)
_E88_PARTIAL = (
    f"(({_E88_R.format(a='x', b='y')}"
    f" - {_E88_R.format(a='x', b='z')} * {_E88_R.format(a='y', b='z')})"
    f" / sqrt((1.0 - {_E88_R.format(a='x', b='z')} * {_E88_R.format(a='x', b='z')})"
    f" * (1.0 - {_E88_R.format(a='y', b='z')} * {_E88_R.format(a='y', b='z')})))"
)


@register(
    "e88_partial_correlation",
    oracle=f"""
    WITH m AS (
        SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
               CAST(ROUND(l_extendedprice / 100) AS BIGINT) AS y,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS z
        FROM lineitem
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(z) AS BIGINT) AS sz,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(z * z) AS BIGINT) AS szz,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * z) AS BIGINT) AS sxz,
               CAST(SUM(y * z) AS BIGINT) AS syz
        FROM m
    )
    SELECT n,
           CAST(FLOOR({_E88_R.format(a="x", b="y")} * 1000000) AS BIGINT)
               AS r_xy_ppm,
           CAST(FLOOR({_E88_R.format(a="x", b="z")} * 1000000) AS BIGINT)
               AS r_xz_ppm,
           CAST(FLOOR({_E88_R.format(a="y", b="z")} * 1000000) AS BIGINT)
               AS r_yz_ppm,
           CAST(FLOOR({_E88_PARTIAL} * 1000000) AS BIGINT) AS r_xy_given_z_ppm
    FROM s
    """,
    survey="E88,E41,E46",
)
def e88_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial Pearson correlation r(quantity, price | discount) — the
    confounder-controlled association the raw pairwise correlations
    (e46's rank tier, e41's OLS) cannot give directly: price and quantity
    both co-move with discount, and the partial coefficient
    (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) is the textbook closed form
    from exactly the three pairwise correlations.

    Exactness: the nine sufficient statistics are exact BIGINTs
    (quantity integer, price in whole dollars, discount in percent —
    quantized so every sum and product stays well inside int64 at 100 TB
    row counts); every correlation and the partial chain render from ONE
    shared CAST-AS-DOUBLE template in both engines (the e84 rule), ppm-
    floored.  numpy pin at 1e-9 relative.

    Scale shape: one scan → one 10-stat hash agg (map-side combinable) →
    1-row arithmetic.  Nothing else moves."""
    li = Tables(spark, sf_dir).lineitem
    m = li.select(
        F.round("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") / 100).cast("long").alias("y"),
        F.round(F.col("l_discount") * 100).cast("long").alias("z"),
    )
    s = m.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("szz"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("long").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("long").alias("syz"),
    )
    return s.select(
        "n",
        F.expr(
            f'CAST(FLOOR({_E88_R.format(a="x", b="y")} * 1000000) AS BIGINT)'
        ).alias("r_xy_ppm"),
        F.expr(
            f'CAST(FLOOR({_E88_R.format(a="x", b="z")} * 1000000) AS BIGINT)'
        ).alias("r_xz_ppm"),
        F.expr(
            f'CAST(FLOOR({_E88_R.format(a="y", b="z")} * 1000000) AS BIGINT)'
        ).alias("r_yz_ppm"),
        F.expr(f"CAST(FLOOR({_E88_PARTIAL} * 1000000) AS BIGINT)").alias(
            "r_xy_given_z_ppm"
        ),
    )


_BLOOM_BITS = 256
_BLOOM_K = 3


@register(
    "a35_bloom_file_skip_audit",
    oracle=f"""
    WITH rows_tagged AS (
        SELECT epoch_us(l_shipdate) // 2592000000000 AS file_id, l_partkey
        FROM lineitem
    ), bits AS (
        SELECT DISTINCT file_id, k,
               CAST(('0x' || substr(md5(k || ':' || l_partkey), 1, 15))
                    AS UBIGINT) % {_BLOOM_BITS} AS bit
        FROM rows_tagged CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS k) kk
    ), probes AS (
        SELECT DISTINCT l_partkey AS pk FROM lineitem WHERE l_partkey % 100 = 0
    ), probe_bits AS (
        SELECT pk, k,
               CAST(('0x' || substr(md5(k || ':' || pk), 1, 15))
                    AS UBIGINT) % {_BLOOM_BITS} AS bit
        FROM probes CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS k) kk
    ), files AS (
        SELECT DISTINCT file_id FROM rows_tagged
    ), cand AS (
        SELECT pb.pk, f.file_id
        FROM probe_bits pb CROSS JOIN files f
        JOIN bits b ON b.file_id = f.file_id AND b.k = pb.k AND b.bit = pb.bit
        GROUP BY pb.pk, f.file_id
        HAVING COUNT(*) = {_BLOOM_K}
    ), truth AS (
        SELECT DISTINCT l_partkey AS pk, epoch_us(l_shipdate) // 2592000000000
               AS file_id
        FROM lineitem
    )
    SELECT c.pk AS probe_key,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN t.pk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true,
           CAST(SUM(CASE WHEN t.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_positive
    FROM cand c
    LEFT JOIN truth t ON t.pk = c.pk AND t.file_id = c.file_id
    GROUP BY c.pk
    """,
    survey="A35,A28,J82",
)
def a35_bloom_file_skip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level Bloom-filter skipping audit — the INDEX structure next
    to a28's zonemaps: each monthly "file" of the fact table carries a
    {_BLOOM_BITS}-bit Bloom filter over l_partkey ({_BLOOM_K} md5 hash
    functions), and a point probe reads only files whose filter holds
    ALL probe bits.  The audit reports, per probed key, the candidate
    file count, the true file count, and the false-positive overhead —
    the no-false-NEGATIVES law (every true file is a candidate) is
    exactly the Bloom soundness guarantee and is what the hash match
    certifies end-to-end (tested as a law too).

    Exactness: bit positions are md5 mod {_BLOOM_BITS} — reproduced
    digit-for-digit in DuckDB (the j58/j64 idiom); everything else is
    exact set algebra.

    Scale shape: filters build in ONE scan as (file, bit) DISTINCT rows
    (≤ files×{_BLOOM_BITS} rows — the real format packs them to
    {_BLOOM_BITS // 8} bytes/file); probes join the KB filter relation,
    never the fact table.  At 100 TB this is parquet column-index /
    Iceberg bloom skipping restated relationally."""
    li = Tables(spark, sf_dir).lineitem
    ks = spark.range(_BLOOM_K).select(F.col("id").alias("k"))
    # fan_out (guide §2.5): the K·n md5 bit build (and the three distinct
    # partial aggs) inherited the one-split local scan's single task;
    # no-op at real scale where the fact scan is already parallel.
    tagged = fan_out(
        li.select(
            F.expr("unix_micros(l_shipdate) DIV 2592000000000").alias("file_id"),
            "l_partkey",
        )
    )
    bit = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("k"), F.col("l_partkey"))), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        % _BLOOM_BITS
    )
    bits = (
        tagged.crossJoin(F.broadcast(ks))
        .select("file_id", "k", bit.alias("bit"))
        .distinct()
    )
    probes = (
        li.where(F.col("l_partkey") % 100 == 0)
        .select(F.col("l_partkey").alias("pk"))
        .distinct()
    )
    pbit = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.col("k"), F.col("pk"))), 1, 15),
            16,
            10,
        )
        .cast("long")
        % _BLOOM_BITS
    )
    probe_bits = probes.crossJoin(F.broadcast(ks)).select("pk", "k", pbit.alias("bit"))
    files = tagged.select("file_id").distinct()
    cand = (
        probe_bits.crossJoin(F.broadcast(files))
        .join(bits, ["file_id", "k", "bit"])
        .groupBy("pk", "file_id")
        .agg(F.count("*").alias("hits"))
        .where(F.col("hits") == _BLOOM_K)
        .select("pk", "file_id")
    )
    truth = tagged.select(
        F.col("l_partkey").alias("tpk"), F.col("file_id").alias("tfid")
    ).distinct()
    return (
        cand.join(
            truth,
            (F.col("tpk") == F.col("pk")) & (F.col("tfid") == F.col("file_id")),
            "left",
        )
        .groupBy(F.col("pk").alias("probe_key"))
        .agg(
            F.count("*").cast("long").alias("n_candidates"),
            F.sum(F.when(F.col("tpk").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_true"),
            F.sum(F.when(F.col("tpk").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_false_positive"),
        )
    )


_E89_Z2 = (
    "((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * swp - CAST(p AS DOUBLE) * swn)"
    " * (CAST(n AS DOUBLE) * swp - CAST(p AS DOUBLE) * swn))"
    " / (CAST(p AS DOUBLE) * (n - p)"
    " * (CAST(n AS DOUBLE) * swwn - CAST(swn AS DOUBLE) * swn)))"
)


@register(
    "e89_cochran_armitage_trend",
    oracle=f"""
    WITH b AS (
        SELECT LEAST(n_chars // 200, 9) AS w,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS p,
               CAST(SUM(w * y) AS BIGINT) AS swp,
               CAST(SUM(w) AS BIGINT) AS swn,
               CAST(SUM(w * w) AS BIGINT) AS swwn
        FROM b
    )
    SELECT n, p, swp, swn, swwn,
           CAST(FLOOR({_E89_Z2} * 1000) AS BIGINT) AS z2_milli,
           CAST(CASE WHEN FLOOR({_E89_Z2} * 1000) > 3841 THEN 1 ELSE 0 END
                AS INTEGER) AS significant
    FROM s
    """,
    survey="E89,E37,J8",
)
def e89_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: is the English rate MONOTONE in the
    document-length bucket? — the ORDERED alternative e37's chi-square
    cannot see (chi2 treats buckets as nominal and dilutes a clean trend
    across dof; CA weights each bucket by its ordinal score and
    concentrates the signal into one degree of freedom).

    Exactness: the five sufficient statistics are exact BIGINTs; the z²
    statistic N·(N·Σwy − P·Σw)²/(P(N−P)(N·Σw² − (Σw)²)) renders from ONE
    shared CAST-AS-DOUBLE template (the e84 rule), milli-floored, and the
    5% decision compares to the injected χ²(1) critical value 3841 milli
    (the e78 constant).  Python pin.

    Scale shape: one scan → 5-stat map-side-combinable hash agg → 1-row
    arithmetic."""
    d = Tables(spark, sf_dir).documents
    b = d.select(
        F.least(F.expr("n_chars DIV 200"), F.lit(9)).cast("long").alias("w"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    s = b.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("p"),
        F.sum(F.col("w") * F.col("y")).cast("long").alias("swp"),
        F.sum("w").cast("long").alias("swn"),
        F.sum(F.col("w") * F.col("w")).cast("long").alias("swwn"),
    )
    return s.select(
        "n",
        "p",
        "swp",
        "swn",
        "swwn",
        F.expr(f"CAST(FLOOR({_E89_Z2} * 1000) AS BIGINT)").alias("z2_milli"),
        F.expr(
            f"CAST(CASE WHEN FLOOR({_E89_Z2} * 1000) > 3841 THEN 1 ELSE 0 END"
            " AS INT)"
        ).alias("significant"),
    )


@register(
    "e91_capture_recapture",
    oracle="""
    WITH days AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS day
        FROM events
    ), bounds AS (
        SELECT MIN(day) AS d1 FROM days
    ), c1 AS (
        SELECT DISTINCT user_id FROM days CROSS JOIN bounds WHERE day = d1
    ), c2 AS (
        SELECT DISTINCT user_id FROM days CROSS JOIN bounds WHERE day = d1 + 1
    ), m AS (
        SELECT CAST((SELECT COUNT(*) FROM c1) AS BIGINT) AS n1,
               CAST((SELECT COUNT(*) FROM c2) AS BIGINT) AS n2,
               CAST((SELECT COUNT(*) FROM c1 JOIN c2 USING (user_id))
                    AS BIGINT) AS n_both,
               CAST((SELECT COUNT(DISTINCT user_id) FROM days) AS BIGINT)
                   AS n_true
    )
    SELECT n1, n2, n_both, n_true,
           CAST(CASE WHEN n_both > 0 THEN (n1 * n2) // n_both ELSE 0 END
                AS BIGINT) AS lincoln_petersen,
           CAST(((n1 + 1) * (n2 + 1)) // (n_both + 1) - 1 AS BIGINT) AS chapman,
           CAST((((n1 + 1) * (n2 + 1)) // (n_both + 1) - 1 - n_true) * 1000000
                // n_true AS BIGINT) AS chapman_err_ppm
    FROM m
    """,
    survey="E91,E24,E4",
)
def e91_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln-Petersen / Chapman capture-recapture population estimate —
    the mark-recapture way to size a population you can only SAMPLE
    (total user base from two observation days), audited against the
    exact distinct count the estimator cannot see in the field: two
    capture occasions (the corpus's first two days), overlap m, and
    N̂ = n1·n2/m (Chapman's (n1+1)(n2+1)/(m+1) − 1 bias correction), all
    pure-integer closed forms; the reported error ppm is the estimator's
    real bias on this data.  Completes the estimation family: e4/e27
    sketch hardware, e24 set overlap, THIS statistical inference from
    overlap.

    Scale shape: one scan → two day-sliced distinct sets + one semi
    join; every relation after the scan is |users-per-day|."""
    ev = Tables(spark, sf_dir).events
    # r11 (guide §2.4): the narrow (user, day) projection feeds the
    # min-day fold, both capture slices and the true-count agg (4 scans
    # → 1), and each distinct capture set feeds its size fold AND the
    # overlap join — cut all three.
    days = ev.select(
        "user_id", F.expr("unix_micros(ts) DIV 86400000000").alias("day")
    ).localCheckpoint(eager=False)
    d1 = days.agg(F.min("day").alias("d1"))
    c1 = (
        days.crossJoin(F.broadcast(d1))
        .where(F.col("day") == F.col("d1"))
        .select("user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    c2 = (
        days.crossJoin(F.broadcast(d1))
        .where(F.col("day") == F.col("d1") + 1)
        .select("user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    m = (
        c1.agg(F.count("*").cast("long").alias("n1"))
        .crossJoin(c2.agg(F.count("*").cast("long").alias("n2")))
        .crossJoin(
            c1.join(c2, "user_id").agg(F.count("*").cast("long").alias("n_both"))
        )
        .crossJoin(
            days.select("user_id")
            .distinct()
            .agg(F.count("*").cast("long").alias("n_true"))
        )
    )
    return m.select(
        "n1",
        "n2",
        "n_both",
        "n_true",
        F.expr(
            "CAST(CASE WHEN n_both > 0 THEN (n1 * n2) DIV n_both ELSE 0 END"
            " AS BIGINT)"
        ).alias("lincoln_petersen"),
        F.expr("CAST(((n1 + 1) * (n2 + 1)) DIV (n_both + 1) - 1 AS BIGINT)").alias(
            "chapman"
        ),
        F.expr(
            "CAST((((n1 + 1) * (n2 + 1)) DIV (n_both + 1) - 1 - n_true) * 1000000"
            " DIV n_true AS BIGINT)"
        ).alias("chapman_err_ppm"),
    )


@register(
    "f39_overdispersion_index",
    oracle="""
    WITH daily AS (
        SELECT epoch_us(ts) // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM daily
    )
    SELECT n, sx,
           CAST((n * sxx - sx * sx) * 1000 // ((n - 1) * sx) AS BIGINT)
               AS dispersion_milli,
           CAST((n * sxx - sx * sx) * 1000 // sx AS BIGINT) AS chi2_milli,
           CAST(CASE WHEN (n * sxx - sx * sx) * 1000 // sx > 42557
                     THEN 1 ELSE 0 END AS INTEGER) AS overdispersed
    FROM s
    """,
    survey="F39,E76,F34",
)
def f39_overdispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher dispersion index of the daily event-count series — the
    Poisson-adequacy gate e76's per-bucket G-test needs answered first:
    D = s²/x̄ ≈ 1 under Poisson arrivals; D ≫ 1 (overdispersion) says
    bursts cluster and a negative-binomial model (or e76's per-bucket
    burst hunt) is the right next step.

    Exactness: with integer daily counts, (n·Σx² − S²) and (n−1)·S are
    exact BIGINTs, so the index and the chi-square statistic
    (n−1)·D = (n·Σx² − S²)/S are pure-integer milli divisions — no float
    anywhere; the 5% decision compares to the Python-injected χ²(29)
    critical value 42557 milli (this corpus spans 30 days; the constant
    is data-shape-locked and documented).  Python pin.

    Scale shape: scan → calendar-bounded daily agg → 3-stat fold."""
    ev = Tables(spark, sf_dir).events
    daily = ev.groupBy(
        F.expr("unix_micros(ts) DIV 86400000000").alias("day")
    ).agg(F.count("*").cast("long").alias("x"))
    s = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return s.select(
        "n",
        "sx",
        F.expr(
            "CAST((n * sxx - sx * sx) * 1000 DIV ((n - 1) * sx) AS BIGINT)"
        ).alias("dispersion_milli"),
        F.expr("CAST((n * sxx - sx * sx) * 1000 DIV sx AS BIGINT)").alias(
            "chi2_milli"
        ),
        F.expr(
            "CAST(CASE WHEN (n * sxx - sx * sx) * 1000 DIV sx > 42557"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("overdispersed"),
    )


_MAXCOV_STEPS = 5


def _maxcov_sql() -> str:
    steps = []
    prev_cov = "c0"
    outs = []
    for r in range(1, _MAXCOV_STEPS + 1):
        steps.append(f"""
    g{r} AS (
        SELECT ds.doc_id, COUNT(*) AS gain
        FROM ds LEFT JOIN {prev_cov} c ON c.sh = ds.sh
        WHERE c.sh IS NULL
        GROUP BY ds.doc_id
    ), w{r} AS MATERIALIZED (
        SELECT doc_id, gain FROM g{r}
        ORDER BY gain DESC, doc_id LIMIT 1
    ), c{r} AS MATERIALIZED (
        SELECT sh FROM {prev_cov}
        UNION
        SELECT ds.sh FROM ds JOIN w{r} w ON w.doc_id = ds.doc_id
    )""")
        outs.append(
            f"SELECT {r} AS step, w.doc_id, CAST(w.gain AS BIGINT) AS gain,"
            f" CAST((SELECT COUNT(*) FROM c{r}) AS BIGINT) AS total_covered"
            f" FROM w{r} w"
        )
        prev_cov = f"c{r}"
    return f"""
    WITH toks AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                   AS words
        FROM documents WHERE doc_id % 20 = 0
    ), ds AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               unnest(list_distinct([array_to_string(words[i:i+2], ' ')
                                     for i in range(1, greatest(len(words) - 1, 1))]))
                   AS sh
        FROM toks WHERE len(words) >= 3
    ), c0 AS (SELECT CAST(NULL AS VARCHAR) AS sh WHERE FALSE),{",".join(steps)}
    SELECT CAST(step AS INTEGER) AS step, CAST(doc_id AS BIGINT) AS doc_id,
           gain, total_covered
    FROM ({" UNION ALL ".join(outs)})
    ORDER BY step
    """


@register("j109_greedy_maxcover", oracle=_maxcov_sql(), survey="J109,J33,J39")
def j109_greedy_maxcover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage subset selection — the submodular coreset
    primitive behind diverse-subset training-data selection (facility
    location / MAXCOVER greedy, Nemhauser's (1−1/e) guarantee): pick
    {_MAXCOV_STEPS} documents, each maximizing the number of NOT-YET-
    COVERED trigram shingles, with a deterministic (gain DESC, doc_id)
    tiebreak.  j33 prunes near-duplicates; THIS answers the positive
    selection question ("which k docs cover the most distinct content"),
    and j39's curriculum ordering consumes exactly such scores.

    Parity argument: both engines run the identical greedy recursion
    (the j86 trajectory discipline) — gains, winner, and the covered-set
    cardinality are hash-certified PER STEP, so the whole greedy
    trajectory is value-checked, not just the final pick.

    Scale shape: per step one anti join vs the covered set + one per-doc
    count agg + a 1-row TakeOrdered argmax (the j40/e25 pattern);
    covered grows by ≤ one doc's shingles per step and localCheckpoints
    as a KB relation.  At 100 TB the doc-shingle relation shards and the
    per-step argmax is a map-side-combined top-1."""
    from cassandra_snap_to_hadoop_spark.operators.text import tokens as toks

    d = Tables(spark, sf_dir).documents.where(F.col("doc_id") % 20 == 0)
    words = toks(F.col("text"))
    shingles = F.expr(
        "transform(sequence(1, size(words) - 2),"
        " i -> concat_ws(' ', slice(words, i, 3)))"
    )
    ds = (
        d.select("doc_id", words.alias("words"))
        .where(F.size("words") >= 3)
        .select("doc_id", F.explode(shingles).alias("sh"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    covered = ds.select("sh").where(F.lit(False)).localCheckpoint(eager=True)
    rows = []
    for step in range(1, _MAXCOV_STEPS + 1):
        gains = (
            ds.join(covered, "sh", "left_anti")
            .groupBy("doc_id")
            .agg(F.count("*").alias("gain"))
        )
        w = gains.orderBy(F.col("gain").desc(), "doc_id").limit(1).collect()[0]
        covered = (
            covered.unionByName(
                ds.where(F.col("doc_id") == w.doc_id).select("sh")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        rows.append((step, int(w.doc_id), int(w.gain), covered.count()))
    return spark.createDataFrame(
        rows, "step int, doc_id long, gain long, total_covered long"
    )


@register(
    "b14_merkle_repair_ranges",
    oracle="""
    WITH a AS (
        SELECT l_orderkey AS k, l_linenumber AS ck,
               CAST(ROUND(l_quantity) AS BIGINT) AS q
        FROM lineitem
    ), b AS (
        SELECT k, ck,
               CASE WHEN k % 499 = 0 THEN q + 1 ELSE q END AS q
        FROM a WHERE k % 997 <> 0
    ), ha AS (
        SELECT DISTINCT
               CAST(('0x' || substr(md5(k || ':' || ck), 1, 1)) AS UBIGINT)
                   AS rng,
               md5(k || ':' || ck || ':' || q) AS rh
        FROM a
    ), hb AS (
        SELECT DISTINCT
               CAST(('0x' || substr(md5(k || ':' || ck), 1, 1)) AS UBIGINT)
                   AS rng,
               md5(k || ':' || ck || ':' || q) AS rh
        FROM b
    ), ma AS (
        SELECT rng, md5(string_agg(rh, '' ORDER BY rh)) AS mh,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ha GROUP BY 1
    ), mb AS (
        SELECT rng, md5(string_agg(rh, '' ORDER BY rh)) AS mh,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM hb GROUP BY 1
    ), cmp AS (
        SELECT ma.rng, ma.n AS n_a, COALESCE(mb.n, 0) AS n_b,
               CASE WHEN mb.mh IS NOT NULL AND ma.mh = mb.mh
                    THEN 1 ELSE 0 END AS in_sync
        FROM ma LEFT JOIN mb ON mb.rng = ma.rng
    ), diffs AS (
        SELECT cmp.rng,
               CAST(COUNT(*) AS BIGINT) AS n_repair
        FROM cmp
        JOIN (
            SELECT rng, rh FROM ha
            EXCEPT
            SELECT rng, rh FROM hb
        ) d ON d.rng = cmp.rng
        WHERE cmp.in_sync = 0
        GROUP BY 1
    )
    SELECT CAST(cmp.rng AS INTEGER) AS token_range, n_a, n_b,
           CAST(in_sync AS INTEGER) AS in_sync,
           CAST(COALESCE(d.n_repair, 0) AS BIGINT) AS n_repair_rows
    FROM cmp LEFT JOIN diffs d ON d.rng = cmp.rng
    """,
    survey="B14,B1,A6",
)
def b14_merkle_repair_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-tree anti-entropy — the EXACT mechanism `nodetool repair`
    uses to reconcile replicas without shipping data: per token range
    (md5 of the primary key, 16 ranges here), each replica reduces its
    rows to one range digest (md5 over the SORTED row hashes); ranges
    whose digests MATCH are skipped entirely, and only mismatched ranges
    stream their row-hash sets for the fine diff.  Replica B diverges
    deterministically (rows dropped at orderkey%997, a counter bumped at
    %499 — the b10 divergence pattern), and the audit reports per range:
    row counts, sync flag, and how many rows the repair would stream.

    This is the reference's operational heart restated relationally:
    b10 finds row-level divergence by brute force; THIS is the
    logarithmic-bandwidth protocol Cassandra actually runs, with the
    skip-synced-ranges property hash-certified (in-sync ranges MUST
    report 0 repair rows — law-tested too).

    Exactness: every digest is md5 (engine-identical); range digests are
    md5 over '' -joined SORTED row hashes (DuckDB ORDER BY inside
    string_agg == Spark sort_array over the collected set); set diffs
    are exact.

    Scale shape: ONE lineitem scan emits both replicas' row hashes (B's
    hash equals A's except at the bump keys, so the divergence model is
    re-hashed, not re-scanned) → ONE per-range hash agg builds both
    replicas' distinct hash sets side by side (the sorted digest is the
    only per-range reduction; ranges bound memory) → digest compare and
    the fine diff are column folds over that 16-row relation, and the
    diff is only evaluated for mismatched ranges — at 100 TB that is
    the entire point of the protocol."""
    li = Tables(spark, sf_dir).lineitem
    a = li.select(
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("ck"),
        F.round("l_quantity").cast("long").alias("q"),
    )

    # r11 second pass (guide §1.1 first-principles + §2.4): the whole
    # protocol is ONE exchange.  Replica B is replica A minus the k%997
    # drops with q bumped only at k%499 — so B's row hash EQUALS A's for
    # every non-bumped row, and one scan computes rng + rh_a once per row
    # and re-hashes only the ~1/499 bumped rows (the old two-branch build
    # paid two lineitem scans and ~4 md5/row).  The per-replica DISTINCT
    # (the testdata's (orderkey, linenumber) is NOT unique, and Merkle
    # anti-entropy reconciles row-version SETS — dedup is BY HASH VALUE,
    # exactly as before) moves INSIDE the range rollup as collect_set:
    # no separate distinct exchange, no checkpoint.  Both replicas' sets
    # are conditional aggregates of one groupBy(rng) (collect_set skips
    # the NULLs the conditions produce), so the digest compare AND the
    # fine diff (array_except on the per-range sorted sets) fold into the
    # same 16-row relation — the old plan's distinct exchange, two
    # rollup aggs, range join and repair anti-join all collapse into one
    # partial-aggregated exchange.  Memory class is unchanged: the
    # digest ALREADY required each range's full hash set in one task;
    # more/narrower ranges (real repair subdivides the ring) shrink both.
    rng = F.conv(
        F.substring(F.md5(F.concat_ws(":", "k", "ck")), 1, 1), 16, 10
    ).cast("long")
    rows = a.select(
        "k",
        rng.alias("rng"),
        F.md5(F.concat_ws(":", "k", "ck", "q")).alias("rh_a"),
        F.when(
            F.col("k") % 499 == 0,
            F.md5(F.concat_ws(":", F.col("k"), F.col("ck"), F.col("q") + 1)),
        ).alias("rh_bump"),
    )
    per = rows.groupBy("rng").agg(
        F.sort_array(F.collect_set("rh_a")).alias("hsa"),
        F.sort_array(
            F.collect_set(
                F.when(
                    F.col("k") % 997 != 0,
                    F.coalesce(F.col("rh_bump"), F.col("rh_a")),
                )
            )
        ).alias("hsb"),
    )
    # Digest/compare semantics identical to the old two-rollup form: a
    # range with no B rows has an EMPTY hsb (the old left join's NULL
    # digest) — n_b = 0 and in_sync = 0 (n_b > 0 guards the compare the
    # way mhb IS NOT NULL used to); in-sync ranges report 0 repair rows,
    # mismatched ranges report |A \ B| exactly.  Every A range has ≥1 row
    # by construction (B's keys are a subset of A's), matching the old
    # A-side-driven output.
    mha = F.md5(F.concat_ws("", F.col("hsa")))
    mhb = F.md5(F.concat_ws("", F.col("hsb")))
    n_b = F.size("hsb").cast("long")
    in_sync = F.when((n_b > 0) & (mha == mhb), 1).otherwise(0)
    return per.select(
        F.col("rng").cast("int").alias("token_range"),
        F.size("hsa").cast("long").alias("n_a"),
        n_b.alias("n_b"),
        in_sync.cast("int").alias("in_sync"),
        F.when(in_sync == 1, F.lit(0))
        .otherwise(F.size(F.array_except("hsa", "hsb")))
        .cast("long")
        .alias("n_repair_rows"),
    )


_MARKOV_STEPS = 8


def _markov_sql() -> str:
    steps = []
    prev = "v0"
    for r in range(1, _MARKOV_STEPS + 1):
        steps.append(f"""
    v{r} AS MATERIALIZED (
        SELECT p.dst AS et, CAST(SUM(v.m * p.p_micro) // 1000000 AS BIGINT) AS m
        FROM {prev} v JOIN p ON p.src = v.et
        GROUP BY 1
    )""")
        prev = f"v{r}"
    return f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ), c AS (
        SELECT prev_type AS src, event_type AS dst,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ), rt AS (
        SELECT src, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1
    ), p AS MATERIALIZED (
        SELECT c.src, c.dst, CAST(c.n * 1000000 // rt.tot AS BIGINT) AS p_micro
        FROM c JOIN rt ON rt.src = c.src
    ), types AS (
        SELECT DISTINCT event_type AS et FROM events
    ), k AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nk FROM types
    ), v0 AS MATERIALIZED (
        SELECT et, CAST(1000000 // nk AS BIGINT) AS m FROM types CROSS JOIN k
    ),{",".join(steps)}
    SELECT a.et AS event_type, a.m AS stationary_micro,
           CAST(ABS(a.m - b.m) AS BIGINT) AS step_delta_micro
    FROM v{_MARKOV_STEPS} a JOIN v{_MARKOV_STEPS - 1} b ON b.et = a.et
    """


@register("f41_markov_stationary", oracle=_markov_sql(), survey="F41,K4,J24")
def f41_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user event-type Markov chain by
    power iteration — the steady-state j24's transition counts imply:
    where does a long session SPEND its time, the number behind cache
    sizing, prefetch ordering, and funnel-leak triage.

    Exactness (the j104 IPF discipline, integer-lattice edition): the
    transition matrix lives on the micro lattice (n·1e6 DIV row-total),
    and every power step is v′[j] = Σ v[i]·P_micro[i][j] DIV 1e6 — pure
    BIGINT arithmetic, so all {_MARKOV_STEPS} unrolled steps are exact in
    both engines (no float anywhere).  step_delta_micro (the |v8 − v7|
    per-component residual) certifies convergence INSIDE the output.
    Flooring leaks ≤ K micro of mass per step by design — deterministic,
    identical in both engines, and the python pin replays it exactly.

    Scale shape: one scan → per-user LAG window (the k4/j24 exchange) →
    the 25-cell matrix; the iteration is {_MARKOV_STEPS} KB joins —
    volume lives only in the first two stages."""
    ev = Tables(spark, sf_dir).events
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev_type"),
    )
    c = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    rt = c.groupBy("src").agg(F.sum("n").cast("long").alias("tot"))
    p = (
        c.join(rt, "src")
        .select("src", "dst", F.expr("CAST(n * 1000000 DIV tot AS BIGINT)").alias("p_micro"))
        .localCheckpoint(eager=True)
    )
    types = ev.select(F.col("event_type").alias("et")).distinct()
    k = types.agg(F.count("*").cast("long").alias("nk"))
    v = (
        types.crossJoin(F.broadcast(k))
        .select("et", F.expr("CAST(1000000 DIV nk AS BIGINT)").alias("m"))
        .localCheckpoint(eager=True)
    )
    prev = v
    for _ in range(_MARKOV_STEPS):
        prev = v
        v = (
            v.join(p, F.col("src") == F.col("et"))
            .groupBy(F.col("dst").alias("net"))
            .agg(F.expr("CAST(SUM(m * p_micro) DIV 1000000 AS BIGINT)").alias("nm"))
            .select(F.col("net").alias("et"), F.col("nm").alias("m"))
            .localCheckpoint(eager=True)
        )
    return (
        v.join(
            prev.select(F.col("et").alias("pet"), F.col("m").alias("pm")),
            F.col("pet") == F.col("et"),
        )
        .select(
            F.col("et").alias("event_type"),
            F.col("m").alias("stationary_micro"),
            F.abs(F.col("m") - F.col("pm")).cast("long").alias("step_delta_micro"),
        )
    )


@register(
    "e93_srm_check",
    oracle="""
    WITH u AS (
        SELECT DISTINCT user_id, user_id % 2 AS arm FROM events
    ), s AS (
        SELECT CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
        FROM u
    )
    SELECT n1, n0,
           CAST((n1 - n0) * (n1 - n0) * 1000 // (n1 + n0) AS BIGINT)
               AS chi2_milli,
           CAST(CASE WHEN (n1 - n0) * (n1 - n0) * 1000 // (n1 + n0) > 3841
                     THEN 1 ELSE 0 END AS INTEGER) AS srm_detected
    FROM s
    """,
    survey="E93,E79,E37",
)
def e93_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the FIRST gate every A/B readout
    must pass before e79/e40/e52 mean anything: under a 50/50 split the
    arm sizes are binomial, and chi² = (n1−n0)²/(n1+n0) against χ²(1)
    flags assignment bugs (lost logging, bot filters biased by arm,
    redirect asymmetry).  An experiment that fails SRM is invalid no
    matter what its metrics say — this is the industry-standard triage
    (Kohavi's trustworthy-experiments checklist).

    Exactness: the simplified equal-split form is a pure-integer milli
    division from exact distinct-user counts; the 5% decision uses the
    injected 3841-milli χ²(1) constant (the e78/e89 cut).

    Scale shape: one scan → distinct users → 2-cell agg → 1-row
    arithmetic."""
    ev = Tables(spark, sf_dir).events
    u = ev.select("user_id").distinct().select((F.col("user_id") % 2).alias("arm"))
    s = u.agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n0"),
    )
    return s.select(
        "n1",
        "n0",
        F.expr(
            "CAST((n1 - n0) * (n1 - n0) * 1000 DIV (n1 + n0) AS BIGINT)"
        ).alias("chi2_milli"),
        F.expr(
            "CAST(CASE WHEN (n1 - n0) * (n1 - n0) * 1000 DIV (n1 + n0) > 3841"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("srm_detected"),
    )


# shared cosine template from exact integer micro sums (e84 CAST rule);
# centroids are compared UNNORMALIZED-sum vs sum — scale cancels in cosine.
_J110_COS = (
    "(CAST(dot AS DOUBLE)"
    " / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))))"
)


@register(
    "j110_embedding_centroid_drift",
    oracle=f"""
    WITH ex AS (
        SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS micro
        FROM embeddings
    ), lc AS (
        SELECT label, dim, CAST(SUM(micro) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ex GROUP BY 1, 2
    ), gc AS (
        SELECT dim, CAST(SUM(s) AS BIGINT) AS g FROM lc GROUP BY 1
    ), terms AS (
        SELECT label,
               CAST(SUM(s * g) AS BIGINT) AS dot,
               CAST(SUM(s * s) AS BIGINT) AS na,
               CAST(SUM(g * g) AS BIGINT) AS nb,
               CAST(MAX(n) AS BIGINT) AS n_vecs
        FROM lc JOIN gc USING (dim) GROUP BY 1
    )
    SELECT CAST(label AS INTEGER) AS label, n_vecs,
           CAST(FLOOR({_J110_COS} * 1000000) AS BIGINT) AS cos_to_global_ppm
    FROM terms
    """,
    survey="J110,J11,E65",
)
def j110_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift in embedding space: the cosine between
    each label's centroid and the GLOBAL centroid — the embedding-space
    drift audit a multimodal pipeline runs per ingest batch (a cluster
    whose centroid swings away from the corpus centroid signals a
    distribution break long before downstream eval moves; the
    distributional siblings are e65/e58 over scalar features, THIS is
    the vector-space leg).

    Exactness: per-(label, dim) sums of micro-quantized components are
    exact BIGINTs; centroid cosine uses SUMS directly (the 1/n scale
    cancels in cosine), so dot and norms are exact integers and the
    final cosine is one shared CAST-AS-DOUBLE chain, ppm-floored.
    Overflow budget: s·g < 2^63 holds to ~3e9 micro-mass per (label,
    dim) pair — beyond that drop to milli.

    Scale shape: one embeddings scan (posexplode — the j11 exchange) →
    (label × 64)-row agg → 64-row global agg → KB join.  numpy pin."""
    e = Tables(spark, sf_dir).embeddings
    ex = fan_out(e).select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.round(F.col("x").cast("double") * 1000000).cast("long").alias("micro"),
    )
    lc = ex.groupBy("label", "dim").agg(
        F.sum("micro").cast("long").alias("s"),
        F.count("*").cast("long").alias("n"),
    )
    gc = lc.groupBy("dim").agg(F.sum("s").cast("long").alias("g"))
    terms = (
        lc.join(gc, "dim")
        .groupBy("label")
        .agg(
            F.sum(F.col("s") * F.col("g")).cast("long").alias("dot"),
            F.sum(F.col("s") * F.col("s")).cast("long").alias("na"),
            F.sum(F.col("g") * F.col("g")).cast("long").alias("nb"),
            F.max("n").cast("long").alias("n_vecs"),
        )
    )
    return terms.select(
        F.col("label").cast("int").alias("label"),
        "n_vecs",
        F.expr(f"CAST(FLOOR({_J110_COS} * 1000000) AS BIGINT)").alias(
            "cos_to_global_ppm"
        ),
    )
