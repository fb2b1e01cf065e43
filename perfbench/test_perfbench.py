"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _fake_bench(times: list[dict]) -> tuple[run.Bench, list[dict]]:
    bench = run.Bench.__new__(run.Bench)
    bench.ops = list(times[0])
    bench.setup_s = 1.0
    passes = [{"pass_s": sum(t.values()), "times": t, "traced": False} for t in times]
    return bench, passes


def test_metric_names_and_units(spec):
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]), m
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_printed_end_to_end_metrics_match_spec(spec):
    bench, passes = _fake_bench([{"a": 1.0, "b": 2.0}, {"a": 1.5, "b": 2.5}])
    got = bench.end_to_end(passes)
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: u for k, (_, u) in got.items()} == want
    assert got["pass_s"][0] == pytest.approx(3.5)


def test_every_per_layer_metric_names_what_it_moves(spec):
    workloads = {w["name"] for w in spec["workloads"]}
    e2e = {m["name"] for m in spec["end_to_end"]}
    assert [m["name"] for m in spec["per_layer"]] == list(layers.LAYERS)
    for m in spec["per_layer"]:
        info = layers.LAYERS[m["name"]]
        assert info["unit"] == m["unit"] and info["better"] == m["better"]
        assert info["moves"] in e2e, m["name"]
        assert info["workload"] in workloads | {"*"}, m["name"]


def test_workloads_are_disjoint_registered_headline_keys(spec):
    import bench as headline
    from cassandra_snap_to_hadoop_spark.registry import load_all

    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    registry = load_all()
    seen: set[str] = set()
    for ops in run.WORKLOADS.values():
        keys = [op for op in ops if not op.startswith(run.EXPORT)]
        assert not seen & set(keys)
        seen |= set(keys)
        for k in keys:
            assert k in registry and k in headline.HEADLINE, k


def test_command_and_paths(spec):
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert 1 <= spec["run_seconds"] <= 60


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_generator_is_deterministic_per_seed(tmp_path):
    def write(seed: int, name: str) -> dict:
        out = str(tmp_path / name)
        gen.write_tables(seed, 0.001, os.path.join(out, "tables"))
        meta = gen.write_merge_snapshot(seed, 2_000, os.path.join(out, "snap"))
        assert meta["rows"] == 2_000 + 3 * 200 and meta["files"] == 4
        return meta

    a, b = write(5, "a"), write(5, "b")
    write(6, "c")
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert a["expected"].equals(b["expected"])

    def overwritten(name: str) -> set:
        snap = os.path.join(
            str(tmp_path / name), "snap", gen.MERGE_KEYSPACE, gen.MERGE_TABLE, "snapshots", gen.SNAPSHOT_TAG
        )
        t = pq.read_table(os.path.join(snap, "gen-1.parquet"), columns=["pk", "ck"])
        return set(zip(t.column("pk").to_pylist(), t.column("ck").to_pylist()))

    assert overwritten("a") == overwritten("b")
    assert overwritten("a") != overwritten("c")


def test_lww_survivors_follow_writetime_then_seq():
    import numpy as np

    def g(pk, wt, seq, tomb):
        n = len(pk)
        return {
            "pk": np.array(pk), "ck": np.zeros(n, dtype=np.int64), "v": np.array(seq),
            "_writetime": np.array(wt), "_tombstone": np.array(tomb), "_seq": np.array(seq),
        }

    gens = [g([0, 1, 2], [10, 10, 10], [0, 1, 2], [False] * 3),
            g([0, 1, 2], [20, 10, 30], [3, 4, 5], [False, False, True])]
    got = gen._lww_survivors(gens)
    # key 0: newer writetime wins; key 1: writetime tie falls to _seq;
    # key 2: the winning version is a tombstone, so the key is gone.
    assert got.column("pk").to_pylist() == [0, 1]
    assert got.column("v").to_pylist() == [3, 4]


def test_self_time_subtracts_children():
    s = [
        {"id": 0, "name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "build", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "io", "parent": 1, "start": 2.0, "end": 3.0},
    ]
    assert spans.self_time_by_layer(s) == {"op": 7.0, "build": 2.0, "io": 1.0}


def test_trace_overhead_compares_with_neighbouring_untraced_passes():
    # Untraced passes speed up along the run (warm-up, the first pass most);
    # each traced pass costs 0.5 s more than the untraced passes beside it.
    s = [9.0, 3.5, 3.0, 3.0, 2.0]
    passes = [{"pass_s": v, "traced": i % 2 == 1} for i, v in enumerate(s)]
    assert layers.trace_overhead(passes) == pytest.approx(0.5)


def test_cli_without_program_exits_nonzero(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "PKG_DIR", str(tmp_path / "missing"))
    assert run.main(["--workload", "driver_bound", "--seed", "1", "--seconds", "1"]) != 0


def test_cli_rejects_unknown_workload():
    with pytest.raises(SystemExit):
        run.main(["--workload", "nope", "--seed", "1", "--seconds", "1"])

