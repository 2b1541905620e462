"""BENCHMARK.json names the metrics the workloads emit, with their units."""

from __future__ import annotations

import json
import os

from perfbench import workloads as W

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_per_layer_metrics_match_the_code():
    declared = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert declared == W.layer_units()


def test_workloads_and_end_to_end_metrics():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(W.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == W.END_TO_END
    assert all(m["bound"] <= 0.25 for m in b["end_to_end"])
