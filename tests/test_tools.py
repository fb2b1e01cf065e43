"""The measurement tools run in-process on the suite's session: the scale
probe times registered queries on generated tables at two scales,
opt_measure reports the plan flags next to its timings, and dump_plans
prints the listed keys' physical plans."""

from __future__ import annotations

import importlib.util
import json
import re
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _load(name: str, rel: str):
    spec = importlib.util.spec_from_file_location(name, REPO / rel)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_scale_probe_times_a_registered_query(spark, tmp_path, capsys, monkeypatch):
    probe = _load("scale_probe_mod", "tools/scale_probe.py")
    # get_spark reuses the live session; pin the core count it re-applies
    # to the test session's own
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert probe.main(["2", "e2_groupby_pricing_summary"]) == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines() if not ln.startswith("#")]
    assert len(lines) == 1, lines
    assert re.fullmatch(
        r"e2_groupby_pricing_summary: 1x=\d+\.\d\ds 2x=\d+\.\d\ds ratio=\d+\.\d "
        r"\((~linear|SUPER-LINEAR)\)",
        lines[0],
    ), lines[0]
    assert list(tmp_path.iterdir()) == []  # both table sets removed


def test_scale_probe_reports_a_failing_key_and_goes_on(spark, tmp_path, capsys, monkeypatch):
    probe = _load("scale_probe_mod", "tools/scale_probe.py")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(probe, "BASE_SCALE", 0.001)
    assert probe.main(["2", "no_such_query,e2_groupby_pricing_summary"]) == 1
    lines = [ln for ln in capsys.readouterr().out.splitlines() if not ln.startswith("#")]
    assert lines[0] == "no_such_query: FAIL KeyError: 'no_such_query'"
    assert lines[1].startswith("e2_groupby_pricing_summary: 1x=")
    assert list(tmp_path.iterdir()) == []


def test_opt_measure_reports_plan_flags(spark, sf_dir, tmp_path, capsys, monkeypatch):
    opt = _load("opt_measure_mod", "tools/opt_measure.py")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    out = tmp_path / "m.json"
    opt.main(["e2_groupby_pricing_summary", "--sf", sf_dir, "--runs", "1", "--json", str(out)])
    line = capsys.readouterr().out.splitlines()[0]
    assert line.startswith("e2_groupby_pricing_summary: median=")
    assert line.endswith("cartesian=False rowwise_python=False"), line
    rec = json.loads(out.read_text())["e2_groupby_pricing_summary"]
    assert rec["cartesian"] is False and rec["rowwise_python"] is False


def test_dump_plans_prints_one_section_per_key(spark, sf_dir, capsys, monkeypatch):
    dump = _load("dump_plans_mod", "tools/dump_plans.py")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert dump.main([sf_dir, "e2_groupby_pricing_summary"]) == 0
    out = capsys.readouterr().out
    assert re.findall(r"^## .*$", out, re.M) == ["## e2_groupby_pricing_summary"]
    assert "== Physical Plan ==" in out
