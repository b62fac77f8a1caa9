"""BENCHMARK.json names every metric the benchmark prints, with its unit."""

from __future__ import annotations

import json
from pathlib import Path

import run

SPEC = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())


def test_end_to_end_metrics_declared():
    declared = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert declared == run.E2E_UNITS


def test_per_layer_metrics_declared():
    declared = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert declared == run.LAYER_UNITS


def test_workloads_exist():
    assert {w["name"] for w in SPEC["workloads"]} <= set(run.WORKLOADS)
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def test_tail_percentile_leaves_ten_samples_beyond():
    assert run.tail_percentile(8) == 100
    assert run.tail_percentile(48) == 75
    assert run.tail_percentile(100) == 90
    for n in range(20, 200):
        values = list(range(n))
        tail = run.percentile(values, run.tail_percentile(n))
        assert sum(v > tail for v in values) >= 10
