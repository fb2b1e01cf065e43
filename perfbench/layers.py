"""Per-layer metrics of the traced run, and what each should move.

``LAYERS`` maps every per-layer metric to its unit, its direction, and
the end-to-end metric and workload a change to that layer should move
(``"*"``: every workload).  ``per_layer`` computes the metrics from the
recorded spans (``spans.Tracer``) and the local event log
(``spans.EventLog``): one value per traced pass, reported as the median
over the traced passes of the run.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import GROUP_PREFIX, children, duration, self_time_by_layer

LAYERS: dict[str, dict[str, str]] = {
    "session.start_s": {"unit": "s", "better": "lower", "moves": "setup_s", "workload": "*"},
    "registry.import_s": {"unit": "s", "better": "lower", "moves": "setup_s", "workload": "*"},
    "queries.build_s": {"unit": "s", "better": "lower", "moves": "pass_s", "workload": "driver_bound"},
    "queries.build_jobs": {"unit": "count", "better": "lower", "moves": "pass_s", "workload": "driver_bound"},
    "io.load_calls": {"unit": "count", "better": "lower", "moves": "pass_s", "workload": "driver_bound"},
    "io.load_jobs": {"unit": "count", "better": "lower", "moves": "pass_s", "workload": "driver_bound"},
    "io.load_s": {"unit": "s", "better": "lower", "moves": "pass_s", "workload": "driver_bound"},
    "plans.exchanges": {"unit": "count", "better": "lower", "moves": "pass_s", "workload": "driver_bound"},
    "execute.s": {"unit": "s", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "execute.jobs": {"unit": "count", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "execute.stages": {"unit": "count", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "execute.tasks": {"unit": "count", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "execute.task_run_s": {"unit": "s", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "execute.task_cpu_s": {"unit": "s", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "execute.gc_s": {"unit": "s", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "execute.task_wait_s": {"unit": "s", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "execute.core_busy_frac": {"unit": "fraction", "better": "higher", "moves": "pass_s", "workload": "snapshot_export"},
    "execute.shuffle_write_bytes": {"unit": "bytes", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "execute.shuffle_read_bytes": {"unit": "bytes", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "execute.spill_bytes": {"unit": "bytes", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "execute.failed_tasks": {"unit": "count", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "sources.scan_s": {"unit": "s", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "sources.files": {"unit": "count", "better": "higher", "moves": "pass_s", "workload": "snapshot_export"},
    "sources.rows": {"unit": "count", "better": "higher", "moves": "pass_s", "workload": "snapshot_export"},
    "cassandra.merge_rows_in": {"unit": "count", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "cassandra.merge_rows_out": {"unit": "count", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "cassandra.merge_shuffle_bytes": {"unit": "bytes", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "sinks.write_s": {"unit": "s", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "sinks.verify_s": {"unit": "s", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "sinks.source_scans": {"unit": "count", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "sinks.files_written": {"unit": "count", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "sinks.bytes_written": {"unit": "bytes", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "export.self_s": {"unit": "s", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "export.rows_per_s": {"unit": "1/s", "better": "higher", "moves": "pass_s", "workload": "snapshot_export"},
    "export.stored_bytes_ratio": {"unit": "ratio", "better": "lower", "moves": "pass_s", "workload": "snapshot_export"},
    "memory.peak_rss_mb": {"unit": "MB", "better": "lower", "moves": "pass_s", "workload": "*"},
    "trace.pass_s": {"unit": "s", "better": "lower", "moves": "pass_s", "workload": "*"},
    "trace.overhead_s": {"unit": "s", "better": "lower", "moves": "pass_s", "workload": "*"},
}

# Marker of the snapshot source's scan node in a physical plan.
SNAPSHOT_SCAN = "cassandra_snapshot"
SCAN_ROWS = "number of output rows"
EXECUTE_KEYS = (
    "stages", "tasks", "failed_tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)


def _subtree(spans: list[dict], kids: dict, roots: list[int]) -> list[int]:
    out, todo = [], list(roots)
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo.extend(kids[sid])
    return out


def _scan_rows(totals: dict) -> float:
    return sum(v for k, v in totals.items() if k.startswith("sql::BatchScan") and k.endswith(SCAN_ROWS))


def pass_layers(bench, p: dict, log) -> dict[str, float]:
    """Per-layer values of one traced pass."""
    spans = bench.tracer.spans
    kids = children(spans)
    lo, hi = p["spans"]
    mine = spans[lo:hi]
    named: dict[str, list[int]] = defaultdict(list)
    for s in mine:
        named[s["name"]].append(s["id"])

    def jobs(roots: list[int]) -> list[int]:
        return log.jobs_in_groups({f"{GROUP_PREFIX}{s}" for s in _subtree(spans, kids, roots)})

    def secs(name: str) -> float:
        return sum(duration(spans[s]) for s in named[name])

    m: dict[str, float] = {k: 0.0 for k in LAYERS}
    m["queries.build_s"] = secs("queries.build")
    m["queries.build_jobs"] = len(jobs(named["queries.build"]))
    m["io.load_calls"] = len(named["io.load"])
    m["io.load_jobs"] = len(jobs(named["io.load"]))
    m["io.load_s"] = secs("io.load")
    m["plans.exchanges"] = p["counts"].get("plans.exchanges", 0)

    ex_jobs = jobs(named["execute"])
    ex = log.task_totals(ex_jobs)
    m["execute.s"] = secs("execute")
    m["execute.jobs"] = len(ex_jobs)
    for k in EXECUTE_KEYS:
        m[f"execute.{k}"] = ex.get(k, 0)
    m["execute.task_run_s"] = ex.get("task_run_ms", 0) / 1e3
    m["execute.task_cpu_s"] = ex.get("task_cpu_ns", 0) / 1e9
    m["execute.gc_s"] = ex.get("gc_ms", 0) / 1e3
    m["execute.task_wait_s"] = ex.get("task_wait_ms", 0) / 1e3
    if m["execute.s"]:
        m["execute.core_busy_frac"] = m["execute.task_run_s"] / (bench.cores * m["execute.s"])

    if hasattr(bench, "snapshots"):
        ops = [s["id"] for s in mine if s["parent"] is None and not s["name"].startswith("op:scan-")]
        scan_jobs = jobs(named["sources.scan"])
        scan = log.task_totals(scan_jobs)
        m["sources.scan_s"] = secs("sources.scan")
        m["sources.files"] = scan.get("tasks", 0)
        m["sources.rows"] = _scan_rows(scan)
        for sid in ops:
            op = spans[sid]
            op_jobs = jobs([sid])
            m["sinks.source_scans"] += sum(
                log.plan_has(e, SNAPSHOT_SCAN) for e in log.executions(op_jobs)
            )
            if op.get("mode") != "merged":
                continue
            writes = [s for s in _subtree(spans, kids, [sid]) if spans[s]["name"] == "sinks.export_parquet"]
            w = log.task_totals(jobs(writes))
            m["cassandra.merge_rows_in"] += _scan_rows(w)
            m["cassandra.merge_rows_out"] += w.get("final_agg_rows", 0)
            m["cassandra.merge_shuffle_bytes"] += w.get("shuffle_write_bytes", 0)
        m["sinks.write_s"] = secs("sinks.export_parquet")
        m["sinks.verify_s"] = secs("sinks.verify_export")
        m["sinks.files_written"] = p["counts"].get("sinks.files_written", 0)
        m["sinks.bytes_written"] = p["counts"].get("sinks.bytes_written", 0)
        m["export.self_s"] = self_time_by_layer(mine).get("export.export_snapshot", 0.0)
        export_s = sum(t for op, t in p["times"].items() if op.startswith("export:"))
        m["export.rows_per_s"] = bench.input_rows / export_s
        m["export.stored_bytes_ratio"] = m["sinks.bytes_written"] / bench.input_bytes
    return m


def trace_overhead(passes: list[dict]) -> float:
    """Median over traced passes of its time minus the mean of the
    untraced passes next to it, so warm-up drift along the run cancels.
    The first pass, still warming up, is no one's neighbour."""
    diffs = []
    for i, p in enumerate(passes):
        if p["traced"]:
            near = [q["pass_s"] for q in passes[max(1, i - 1) : i + 2] if not q["traced"]]
            diffs.append(p["pass_s"] - statistics.mean(near))
    return statistics.median(diffs)


def per_layer(bench, passes: list[dict], log) -> dict[str, tuple[float, str]]:
    traced = [p for p in passes if p["traced"]]
    rows = [pass_layers(bench, p, log) for p in traced]
    out = {k: statistics.median(r[k] for r in rows) for k in LAYERS}
    out["session.start_s"] = bench.layer["session.start_s"]
    out["registry.import_s"] = bench.layer["registry.import_s"]
    out["memory.peak_rss_mb"] = bench.layer["memory.peak_rss_mb"]
    out["trace.pass_s"] = statistics.median(p["pass_s"] for p in traced)
    out["trace.overhead_s"] = trace_overhead(passes)
    return {k: (v, LAYERS[k]["unit"]) for k, v in out.items()}
