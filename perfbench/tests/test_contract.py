"""BENCHMARK.json names exactly the metrics run.py reports."""

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_workloads_match():
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)


def test_end_to_end_metrics_match():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert all(0 < m["bound"] <= 0.25 for m in BENCH["end_to_end"])
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_per_layer_metrics_match():
    names = [m["name"] for m in BENCH["per_layer"]]
    assert names == run.per_layer_names()
    assert len(set(names)) == len(names) <= 128
    assert all(m["unit"] == run.unit_of(m["name"]) for m in BENCH["per_layer"])


def test_missing_program_exits_nonzero(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "kg_build", "--seed", "1"]) == 2
    assert capsys.readouterr().out == ""
