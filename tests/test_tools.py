"""Repo tools: certified-union round ordering and the bench_scaling
CPU-affinity guard (no Spark needed)."""

import importlib.util
import json
import os
import sys

TOOLS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")


def _load(name):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(TOOLS, f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_certified_union_orders_rounds_numerically(tmp_path, monkeypatch):
    # by filename r100 < r11 < r9; by round r9 < r11 < r100, so r100's
    # rows must win for every query it reports
    ok = {"rows_match": True, "schema_match": True, "hash_match": True}
    bad = {"rows_match": False, "schema_match": True}
    rounds = {
        9: {"q_a": ok, "q_b": bad, "q_c": ok},
        11: {"q_a": bad, "q_b": ok},
        100: {"q_a": ok, "q_c": bad},
    }
    for r, rows in rounds.items():
        (tmp_path / f"CORRECTNESS_r{r}.json").write_text(json.dumps(rows))
    cu = _load("certified_union")
    monkeypatch.setattr(cu, "REPO", str(tmp_path))
    union, consumed = cu.certified_union()
    assert consumed == [
        "CORRECTNESS_r9.json", "CORRECTNESS_r11.json", "CORRECTNESS_r100.json"
    ]
    assert union == ["q_a", "q_b"]


def test_bench_scaling_refuses_levels_above_affinity(monkeypatch, capsys):
    bs = _load("bench_scaling")
    avail = len(os.sched_getaffinity(0))

    def no_run(*_a, **_k):
        raise AssertionError("no run may start")

    monkeypatch.setattr(bs, "run_level", no_run)
    monkeypatch.setattr(sys, "argv", ["bench_scaling.py", "1", str(avail + 1)])
    assert bs.main() != 0
    assert f"exceeds the {avail} CPUs" in capsys.readouterr().err

