"""BENCHMARK.json and the metrics run.py prints must name the same things."""

import json
import os
import re

from perfbench import run, spec

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_run_py():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER


def test_workloads_are_runnable():
    names = [w["name"] for w in _bench()["workloads"]]
    assert set(names) <= set(run.WORKLOADS)
    assert set(names) <= set(spec.STREAMING) | {"batch_registry"}


def test_contract_limits():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= b["run_seconds"] <= 60 and 2 <= len(b["workloads"]) <= 8
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) and max(bounds.values()) <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
