"""Layer tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's side only: ``install`` wraps the
program's public layer functions in place (``io.load``,
``sources.snapshot.snapshot_scan``, ``operators.cassandra.lww_merge``,
``sources.sinks.export_parquet``/``verify_export*`` and
``export.export_snapshot``), and ``run.py`` opens the ``queries.build``,
``execute`` and ``sources.scan`` spans around its own calls.  Every span
carries a name, start, end, parent and the id of the operation it belongs
to, and it sets a Spark job group while open, so each job in the local
event log can be charged to the innermost span that launched it.

``EventLog`` reads that log (``spark.eventLog.dir`` inside the checkout)
with the standard ``json`` module: jobs, stages, task metrics and the SQL
metrics of each plan node.  Nothing here uses the Spark UI or the network.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "cassandra_snap_to_hadoop_spark"

# (module, function, span name): the public layer entry points.  The
# observed sink pair is wrapped too, so the sink spans survive a switch of
# export_snapshot to fused verification.
WRAPPED = (
    ("io", "load", "io.load"),
    ("sources.snapshot", "snapshot_scan", "sources.snapshot_scan"),
    ("operators.cassandra", "lww_merge", "cassandra.lww_merge"),
    ("sources.sinks", "export_parquet", "sinks.export_parquet"),
    ("sources.sinks", "export_parquet_observed", "sinks.export_parquet"),
    ("sources.sinks", "verify_export", "sinks.verify_export"),
    ("sources.sinks", "verify_export_observed", "sinks.verify_export"),
    ("export", "export_snapshot", "export.export_snapshot"),
)

GROUP_PREFIX = "perfbench-span-"


class Tracer:
    """In-memory span recorder; spans are written out once, at the end."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = 0

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    @contextmanager
    def operation(self, name: str, **attrs):
        """Root span of one operation; its descendants share its op id."""
        if self.enabled:
            self._op += 1
        with self.span(name, **attrs) as rec:
            yield rec

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self_time_by_layer(self.spans)}, fh)


def install(tracer: Tracer) -> None:
    """Wrap each public layer function in a span, in its own module and
    in every package module that imported it by name."""
    for mod_name, fn_name, span_name in WRAPPED:
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        orig = getattr(mod, fn_name)

        def wrapper(*args, __orig=orig, __name=span_name, **kwargs):
            with tracer.span(__name):
                return __orig(*args, **kwargs)

        wrapped = functools.wraps(orig)(wrapper)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith(PKG) and getattr(m, fn_name, None) is orig:
                setattr(m, fn_name, wrapped)


def children(spans: list[dict]) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    return kids


def duration(s: dict) -> float:
    return s["end"] - s["start"]


def self_time_by_layer(spans: list[dict]) -> dict[str, float]:
    """Span duration minus the time its (sequential) children cover,
    summed per span name."""
    by_id = {s["id"]: s for s in spans}
    kids = children(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["end"] is None:
            continue
        done = [by_id[c] for c in kids[s["id"]] if by_id[c]["end"] is not None]
        out[s["name"]] += duration(s) - sum(duration(c) for c in done)
    return dict(out)


class EventLog:
    """Jobs, stages, tasks and SQL node metrics from one event-log file."""

    def __init__(self, path: str):
        self.job_group: dict[int, str | None] = {}
        self.job_exec: dict[int, int | None] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.stage_submit: dict[tuple[int, int], int] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)  # stage -> task ends
        self.plan_nodes: dict[int, list[dict]] = defaultdict(list)  # exec -> nodes
        self.acc_node: dict[int, tuple[str, str]] = {}  # accumulator -> (node, metric)
        self.final_agg_accs: set[int] = set()  # output-row metrics of final aggregates
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    self.job_group[jid] = props.get("spark.jobGroup.id")
                    eid = props.get("spark.sql.execution.id")
                    self.job_exec[jid] = int(eid) if eid is not None else None
                    self.job_stages[jid] = list(ev.get("Stage IDs", []))
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                    self.stage_submit[key] = info.get("Submission Time") or 0
                elif kind == "SparkListenerTaskEnd":
                    self.tasks[ev["Stage ID"]].append(ev)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    self._add_plan(ev["executionId"], ev["sparkPlanInfo"])

    def _add_plan(self, exec_id: int, info: dict) -> None:
        name, simple = info.get("nodeName", ""), info.get("simpleString", "")
        final_agg = name.endswith("Aggregate") and "functions=[" in simple and "partial_" not in simple
        for m in info.get("metrics", []):
            self.acc_node[m["accumulatorId"]] = (name, m["name"])
            if final_agg and m["name"] == "number of output rows":
                self.final_agg_accs.add(m["accumulatorId"])
        self.plan_nodes[exec_id].append({"name": name, "simple": simple})
        for c in info.get("children", []):
            self._add_plan(exec_id, c)

    def jobs_in_groups(self, groups: set[str]) -> list[int]:
        return [j for j, g in self.job_group.items() if g in groups]

    def task_totals(self, jobs: list[int]) -> dict[str, float]:
        """Task-metric sums over the stages that the given jobs ran."""
        out: dict[str, float] = defaultdict(float)
        seen_stages = set()
        for j in jobs:
            for sid in self.job_stages.get(j, []):
                if sid in seen_stages or sid not in self.tasks:
                    continue
                seen_stages.add(sid)
                out["stages"] += 1
                for ev in self.tasks[sid]:
                    info = ev.get("Task Info", {})
                    tm = ev.get("Task Metrics") or {}
                    out["tasks"] += 1
                    out["failed_tasks"] += 1 if info.get("Failed") else 0
                    out["task_run_ms"] += tm.get("Executor Run Time", 0)
                    out["task_cpu_ns"] += tm.get("Executor CPU Time", 0)
                    out["gc_ms"] += tm.get("JVM GC Time", 0)
                    submit = self.stage_submit.get((sid, ev.get("Stage Attempt ID", 0)))
                    if submit and info.get("Launch Time"):
                        out["task_wait_ms"] += max(0, info["Launch Time"] - submit)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    out["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables", []):
                        node = self.acc_node.get(acc.get("ID"))
                        if node is None:
                            continue
                        try:
                            upd = float(acc.get("Update", 0))
                        except (TypeError, ValueError):
                            continue
                        out[f"sql::{node[0]}::{node[1]}"] += upd
                        if acc.get("ID") in self.final_agg_accs:
                            out["final_agg_rows"] += upd
        return dict(out)

    def executions(self, jobs: list[int]) -> set[int]:
        return {self.job_exec[j] for j in jobs if self.job_exec.get(j) is not None}

    def plan_has(self, exec_id: int, marker: str) -> bool:
        return any(marker in n["simple"] or marker in n["name"] for n in self.plan_nodes[exec_id])


def find_event_log(log_dir: str) -> str:
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]
