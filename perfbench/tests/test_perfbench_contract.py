"""BENCHMARK.json names exactly the workloads and metrics run.py reports."""

import json
import os

import run

SPEC = os.path.join(run.ROOT, "BENCHMARK.json")


def test_benchmark_json_matches_run():
    with open(SPEC) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [m["name"] for m in spec["end_to_end"]] == [
        "setup_s", "total_s", "op_p50_s", "op_p90_s", "peak_rss_mb"
    ]


def test_tail_quantile_leaves_ten_samples_above():
    assert run.tail_quantile(200) == 0.9
    assert run.tail_quantile(50) == 0.8
    assert run.tail_quantile(20) == 0.5
    for n in range(20, 300):
        q = run.tail_quantile(n)
        assert n * (1 - q) >= 10 - 1e-9 or q == 0.5
