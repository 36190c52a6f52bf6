"""BENCHMARK.json declares exactly what run.py prints."""

import json
import os

import run
from workloads import WORKLOADS

SPEC = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def test_benchmark_json_matches_the_metrics_printed():
    with open(SPEC) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]
