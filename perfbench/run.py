#!/usr/bin/env python3
"""The repo benchmark: one command, named workloads, checked outputs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One process, one Spark session on
``local[<cores>]``, one client in a closed loop: each operation starts
only after the previous one has finished.  Workloads (``WORKLOADS``):

* ``driver_bound`` — headline queries whose plan construction
  (``Query.fn``: driver-side Python, schema inference, eager convergence
  jobs) outweighs the final action.
* ``snapshot_export`` — the export job (``export.export_snapshot``), all
  execution, run twice: as a merged export of a 4-generation parquet
  stand-in snapshot and as a raw export of binary ``nb`` SSTables.

Inputs are generated from ``--seed`` into ``.perfbench_work/`` (see
``gen.py``), which is removed at exit.
A run sets up (session, registry import, input staging, an untimed check
pass that compares every query with its DuckDB oracle, and the workload's
untimed warm-up passes), then times whole passes over the workload's
operations, each in a seed-shuffled order, until ``--seconds`` have
elapsed (at least ``MIN_PASSES``); there are no conditional re-runs.  A
query operation is ``fn`` build plus a ``noop``-sink write, which forces
every column.  Cached RDDs are dropped after every operation, outside the
timed region.  Every export is checked against the generator's expected
output.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end metrics:

* ``setup_s`` — process start to the first timed pass, less the time the
  benchmark spends computing oracle answers;
* ``pass_s`` — the wall time of one pass: the sum over the operations of
  each one's median time over the timed passes (export output checks
  excluded).

``--trace 1`` is a separate traced run that reports the per-layer metrics
(``layers.py``, which also names the end-to-end metric and workload each
should move); its spans are written to ``.perfbench_work/trace/``.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PKG_DIR = os.path.join(ROOT, "cassandra_snap_to_hadoop_spark")

# Table scale for the query workloads (1.0 ~ TPC-H SF1 row counts), key
# count of the merged-export snapshot and row count of the raw-export one.
SCALE = 0.01
MERGE_KEYS = 10_000
RAW_ROWS = 5_000

# Operations per workload: registered query keys, plus the two snapshot
# exports ("export:merged", "export:raw").
WORKLOADS: dict[str, list[str]] = {
    "driver_bound": ["j100_kcore_decomposition", "e30_equidepth_scalable"],
    "snapshot_export": ["export:merged", "export:raw"],
}
EXPORT = "export:"
# The JVM's first-run costs land in the untimed check pass, but operations
# keep speeding up for a few more runs, by an amount that varies with the
# host, so each workload runs untimed warm-up passes until its per-pass
# times have about levelled off.  Then passes repeat until ``--seconds``
# have elapsed (at least MIN_PASSES), and each operation's time is the
# median over the timed passes.
WARMUP_PASSES = {"driver_bound": 2, "snapshot_export": 1}
MIN_PASSES = 3
TRACED_PASSES = 1


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(run_dir: str, trace: bool) -> str:
    """Process environment for the session: the package importable by
    Python workers from any cwd, every scratch file inside the checkout,
    and (traced runs) a local event log.  Returns the event-log dir."""
    tmp = os.path.join(run_dir, "tmp")
    log_dir = os.path.join(run_dir, "eventlog")
    for d in (tmp, log_dir):
        os.makedirs(d, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env["SPARK_GRAFT_CPUS"] = str(cores())
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])
    return log_dir


def drop_persisted(spark) -> None:
    """Unpersist every cached RDD so no state crosses operations."""
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist()


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class _PrefetchedOracle:
    """Stands in for a DuckDB connection in ``oracle.check_query`` so the
    oracle side runs before set-up is timed, not inside it."""

    class _Result:
        def __init__(self, rel):
            self.rows, self.columns, self.types = rel.fetchall(), rel.columns, rel.types

        def fetchall(self):
            return self.rows

    def __init__(self, con, sqls):
        self._results = {sql: self._Result(con.sql(sql)) for sql in sqls}

    def sql(self, sql):
        return self._results[sql]


class Bench:
    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.run_dir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
        self.log_dir = configure_env(self.run_dir, self.trace)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.excluded_s = 0.0  # benchmark-side checking time inside set-up
        self.layer: dict[str, float] = {}
        self.cores = cores()
        self.stopped = False

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        from cassandra_snap_to_hadoop_spark import registry, session

        t = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        self.layer["session.start_s"] = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        t = time.perf_counter()
        self.registry = registry.load_all()
        self.layer["registry.import_s"] = time.perf_counter() - t
        # The query modules stage derived inputs under <root>/.scratch/;
        # create it up front so the first run pays no extra cost.
        os.makedirs(os.path.join(ROOT, ".scratch"), exist_ok=True)

        from spans import Tracer, install

        self.tracer = Tracer(self.sc)
        if self.trace:
            install(self.tracer)
        self.ops = WORKLOADS[self.args.workload]
        self.keys = [op for op in self.ops if not op.startswith(EXPORT)]
        if self.keys:
            self.stage_tables()
        if len(self.keys) < len(self.ops):
            self.stage_snapshots()

    def stage_tables(self) -> None:
        import gen
        from cassandra_snap_to_hadoop_spark import oracle

        for k in self.keys:
            if k not in self.registry:
                raise SystemExit(f"unregistered query key: {k}")
        self.sf_dir = os.path.join(self.run_dir, "tables")
        gen.write_tables(self.args.seed, SCALE, self.sf_dir)
        t = time.perf_counter()
        con = oracle.duck_connection(self.sf_dir)
        sqls = [self.registry[k].oracle for k in self.keys if self.registry[k].oracle]
        self.oracle_con = _PrefetchedOracle(con, sqls)
        con.close()
        self.excluded_s += time.perf_counter() - t

    def stage_snapshots(self) -> None:
        import gen

        data_dir = os.path.join(self.run_dir, "snapshots")
        orders = gen.build_tables(self.args.seed, SCALE)["orders"].slice(0, RAW_ROWS)
        self.snapshots = {
            "merged": gen.write_merge_snapshot(self.args.seed, MERGE_KEYS, data_dir),
            "raw": gen.write_raw_snapshot(self.args.seed, orders, data_dir),
        }
        self.input_rows = sum(s["rows"] for s in self.snapshots.values())
        self.input_bytes = sum(s["bytes"] for s in self.snapshots.values())

    def check_pass(self) -> None:
        """The untimed check pass, in which every query is compared with
        its DuckDB oracle (exports are checked on every pass), then the
        workload's untimed warm-up passes."""
        from cassandra_snap_to_hadoop_spark import oracle

        times = {}
        for op in self.ops:
            t = time.perf_counter()
            if op.startswith(EXPORT):
                self.run_export(op, counts={})
            else:
                self.attempted += 1
                try:
                    res = oracle.check_query(self.spark, op, self.sf_dir, con=self.oracle_con)
                    ok, why = res.ok, "; ".join(res.issues)
                except Exception as exc:  # a failing operation is counted, not fatal
                    ok, why = False, f"{type(exc).__name__}: {exc}"
                if not ok:
                    self.fail(f"{op}: {why}")
                drop_persisted(self.spark)
            times[op] = time.perf_counter() - t
        shown = " ".join(f"{op}={t:.2f}" for op, t in times.items())
        print(f"perfbench: check pass {shown}", file=sys.stderr)
        for n in range(WARMUP_PASSES[self.args.workload]):
            self.one_pass(-1 - n, traced=False)

    def fail(self, why: str) -> None:
        """Count a failed operation; an exception's traceback goes to stderr."""
        self.failed += 1
        self.errors.append(why[:300])
        if sys.exc_info()[0] is not None:
            traceback.print_exc(file=sys.stderr)

    # ---------------------------------------------------------- operations
    def run_query(self, key: str, counts: dict) -> float:
        q = self.registry[key]
        tr = self.tracer
        self.attempted += 1
        try:
            with tr.operation(f"op:{key}"):
                t0 = time.perf_counter()
                with tr.span("queries.build"):
                    df = q.fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                if tr.enabled:  # plan inspection stays outside the timing
                    from cassandra_snap_to_hadoop_spark.plans.explain import count_shuffles

                    counts["plans.exchanges"] = counts.get("plans.exchanges", 0) + count_shuffles(df)
                t2 = time.perf_counter()
                with tr.span("execute"):
                    df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
        except Exception as exc:
            self.fail(f"{key}: {type(exc).__name__}: {exc}")
            return float("nan")
        finally:
            drop_persisted(self.spark)
        return (t1 - t0) + (t3 - t2)

    def run_export(self, op: str, counts: dict) -> float:
        import gen
        from cassandra_snap_to_hadoop_spark import export

        mode = op[len(EXPORT):]
        snap = self.snapshots[mode]
        out = os.path.join(self.run_dir, f"sink-{mode}")
        shutil.rmtree(out, ignore_errors=True)
        self.attempted += 1
        try:
            with self.tracer.operation(f"op:{op}", mode=mode):
                t0 = time.perf_counter()
                with self.tracer.span("execute"):  # an export is all execution
                    res = export.export_snapshot(
                        self.spark,
                        snap["data_dir"],
                        snap["keyspace"],
                        snap["table"],
                        gen.SNAPSHOT_TAG,
                        out,
                        merge=mode == "merged",
                        key_cols=["pk", "ck"] if mode == "merged" else None,
                    )
                dt = time.perf_counter() - t0
        except Exception as exc:
            self.fail(f"{op}: {type(exc).__name__}: {exc}")
            return float("nan")
        finally:
            drop_persisted(self.spark)
        files = [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")]
        written = sum(os.path.getsize(f) for f in files)
        counts["sinks.files_written"] = counts.get("sinks.files_written", 0) + len(files)
        counts["sinks.bytes_written"] = counts.get("sinks.bytes_written", 0) + written
        why = self.check_export(mode, res, out)
        if why:
            self.fail(f"{op}: {why}")
            return float("nan")
        return dt

    def check_export(self, mode: str, res: dict, out: str) -> str | None:
        """Compare the sink with what the generator says it must hold."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if res.get("verified") is not True:
            return f"export not verified: {res}"
        sink = pq.read_table(out)
        snap = self.snapshots[mode]
        if mode == "raw":
            names = pc.value_counts(sink.column("_sstable")).to_pylist()
            got = {os.path.basename(v["values"]): v["counts"] for v in names}
            if got != snap["per_file"]:
                return f"per-SSTable row counts {got} != {snap['per_file']}"
            return None
        want = snap["expected"]
        got = sink.select(want.column_names).sort_by([("pk", "ascending"), ("ck", "ascending")])
        got = got.set_column(
            got.schema.get_field_index("l_shipdate"),
            "l_shipdate",
            got.column("l_shipdate").cast(pa.int64()),
        )
        if got.num_rows != want.num_rows:
            return f"merged rows {got.num_rows} != expected survivors {want.num_rows}"
        for c in want.column_names:
            if got.column(c).to_pylist() != want.column(c).to_pylist():
                return f"merged column {c} differs from the expected LWW survivors"
        return None

    def scan_sources(self) -> None:
        """Traced runs: a standalone noop-timed scan of each snapshot."""
        import gen
        from cassandra_snap_to_hadoop_spark.sources import snapshot

        for mode, snap in self.snapshots.items():
            with self.tracer.operation(f"op:scan-{mode}"):
                with self.tracer.span("sources.scan"):
                    df = snapshot.snapshot_scan(
                        self.spark, snap["data_dir"], snap["keyspace"], snap["table"], gen.SNAPSHOT_TAG
                    )
                    df.write.format("noop").mode("overwrite").save()

    # -------------------------------------------------------------- passes
    def one_pass(self, n: int, traced: bool) -> dict:
        order = list(self.ops)
        random.Random(self.args.seed * 7919 + n).shuffle(order)
        self.tracer.enabled = traced
        first_span = len(self.tracer.spans)
        counts: dict = {}
        times = {}
        for op in order:
            if op.startswith(EXPORT):
                times[op] = self.run_export(op, counts)
            else:
                times[op] = self.run_query(op, counts)
        if traced and len(self.keys) < len(self.ops):
            self.scan_sources()
        self.tracer.enabled = False
        shown = " ".join(f"{op}={t:.2f}" for op, t in times.items())
        print(f"perfbench: pass {n}{' traced' if traced else ''} {shown}", file=sys.stderr)
        return {
            "pass_s": sum(times.values()),
            "times": times,
            "traced": traced,
            "spans": (first_span, len(self.tracer.spans)),
            "counts": counts,
        }

    def measure(self) -> list[dict]:
        """Whole passes until ``--seconds`` have elapsed, at least MIN_PASSES
        (traced runs: untraced, traced, untraced, ..., so that each traced
        pass has an untraced pass on both sides)."""
        passes = []
        start = time.perf_counter()
        least = 2 * TRACED_PASSES + 1 if self.trace else MIN_PASSES
        while len(passes) < least or time.perf_counter() - start < self.args.seconds:
            traced = self.trace and len(passes) % 2 == 1
            passes.append(self.one_pass(len(passes), traced))
        return passes

    # ------------------------------------------------------------- results
    def peak_rss_mb(self) -> float:
        jvm = self.sc._gateway.proc.pid
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (vm_hwm_kb(jvm) + py) / 1024.0

    def end_to_end(self, passes: list[dict]) -> dict:
        """``pass_s``: the sum over the workload's operations of each one's
        median time over the passes in which it succeeded."""
        per_op = [[p["times"][op] for p in passes if not math.isnan(p["times"][op])] for op in self.ops]
        if not all(per_op):
            return {}
        return {
            "setup_s": (self.setup_s, "s"),
            "pass_s": (sum(statistics.median(t) for t in per_op), "s"),
        }

    def shutdown(self) -> None:
        """Stop the session and wait for the JVM to exit.  Safe to call
        again, and after a set-up that failed half way."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None or self.stopped:
            return
        self.stopped = True
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: the repo benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: program package not found at {PKG_DIR}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    bench = Bench(args)
    try:
        bench.setup()
        t_check = time.perf_counter()
        bench.check_pass()
        bench.setup_s = time.perf_counter() - T0 - bench.excluded_s
        print(
            f"perfbench: set-up {bench.setup_s:.2f} s (session {bench.layer['session.start_s']:.2f} s,"
            f" check pass {time.perf_counter() - t_check:.2f} s)",
            file=sys.stderr,
        )
        passes = bench.measure()
        metrics = {} if bench.trace else bench.end_to_end(passes)
        if bench.trace:
            bench.layer["memory.peak_rss_mb"] = bench.peak_rss_mb()
        bench.shutdown()
        if bench.trace:
            import layers
            from spans import EventLog, find_event_log

            bench.tracer.write(os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json"))
            metrics = layers.per_layer(bench, passes, EventLog(find_event_log(bench.log_dir)))
    finally:
        bench.shutdown()
        shutil.rmtree(bench.run_dir, ignore_errors=True)
    for e in bench.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    result = {
        "correct": bench.failed == 0 and bool(metrics),
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
