"""BENCHMARK.json agrees with what run.py prints, and stays within the
limits of its format: key set, name and unit patterns, counts, bounds
and size."""

import json
import os
import re

import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_keys_and_limits():
    b = load()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200
               and "\n" not in w["why"] for w in b["workloads"])
    metrics = b["end_to_end"] + b["per_layer"]
    names = [m["name"] for w in (b["workloads"], metrics) for m in w]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
               for m in metrics)
    assert all(set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
               for m in b["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in b["per_layer"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in b["end_to_end"])}]
    assert len(json.dumps(b)) <= 64 * 1024


def test_metrics_match_the_program():
    b = load()
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == workloads.E2E_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == workloads.LAYER_UNITS
