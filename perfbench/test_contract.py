"""BENCHMARK.json agrees with what the benchmark prints (no Spark needed)."""

from __future__ import annotations

import json
import os

from perfbench.metrics import END_TO_END, per_layer_names, unit
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_benchmark_json_matches_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert doc["command"] == ["python3", "perfbench/run.py"]
    assert [(w["name"], w["why"]) for w in doc["workloads"]] == [(n, w.why) for n, w in WORKLOADS.items() if w.listed]
    assert [(m["name"], m["unit"]) for m in doc["end_to_end"]] == [(n, unit(n)) for n in END_TO_END]
    assert [(m["name"], m["unit"]) for m in doc["per_layer"]] == [(n, unit(n)) for n in per_layer_names()]
    assert max(m["bound"] for m in doc["end_to_end"]) == next(m["bound"] for m in doc["end_to_end"] if m["name"] == "setup_s")
