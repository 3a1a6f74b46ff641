"""BENCHMARK.json must list exactly the metrics the runner reports.

Run with ``python -m pytest perfbench/test_benchmark_json.py`` from the
repository root; needs no Spark session.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.workloads import PER_LAYER, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def test_workloads_exist():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


def test_end_to_end_metrics_match_result_line():
    assert [m["name"] for m in SPEC["end_to_end"]] == list(run.RESULT_METRICS)
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])


def test_per_layer_metrics_match_tracer():
    assert [(m["name"], m["better"]) for m in SPEC["per_layer"]] == list(PER_LAYER)
    for m in SPEC["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"]), m["name"]
