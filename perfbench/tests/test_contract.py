"""BENCHMARK.json lists exactly the metrics the benchmark prints."""
from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_metrics_match():
    listed = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert listed == run.E2E_UNITS


def test_per_layer_metrics_match():
    listed = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert listed == run._per_layer()


def test_workloads_match():
    names = [w["name"] for w in _bench()["workloads"]]
    assert names == list(run.WORKLOADS)
