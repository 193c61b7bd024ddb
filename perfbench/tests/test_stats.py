"""Metric math and the benchmark's declared contract (no Spark)."""

import json
import os

import pytest

from perfbench import host, stats
from perfbench.inputs import MIN_TIMED_WAVES, WORKLOADS


def test_crawl_end_to_end_medians_and_rates():
    e2e = stats.crawl_end_to_end([2.0, 4.0, 3.0], [100, 100, 100], 30.5, 2048.0)
    assert e2e == {
        "crawl_urls_per_s": 300 / 9.0,
        "wave_p50_s": 3.0,
        "setup_s": 30.5,
        "peak_rss_mb": 2048.0,
    }
    # an even sample count takes the mean of the middle two
    assert stats.crawl_end_to_end([1.0, 5.0], [10, 30], 1.0, 1.0)["wave_p50_s"] == 3.0
    with pytest.raises(ValueError):
        stats.crawl_end_to_end([], [], 1.0, 1.0)
    with pytest.raises(ValueError):
        stats.crawl_end_to_end([1.0], [1, 2], 1.0, 1.0)


def test_result_counts_failures_against_attempts():
    metrics = {k: 1.0 for k in stats.END_TO_END}
    ok = stats.result(["", "", ""], metrics, stats.END_TO_END)
    assert ok["correct"] is True and ok["attempted"] == 3 and ok["failed"] == 0
    bad = stats.result(["", "pop rows differ from the oracle", ""], metrics, stats.END_TO_END)
    assert bad["correct"] is False and bad["attempted"] == 3 and bad["failed"] == 1
    assert set(bad) == {"correct", "attempted", "failed", "metrics"}
    assert bad["metrics"]["setup_s"] == {"value": 1.0, "unit": "s"}
    with pytest.raises(ValueError):
        stats.result([], metrics, stats.END_TO_END)
    with pytest.raises(ValueError):
        stats.result([""], {"setup_s": 1.0}, stats.END_TO_END)


def test_per_layer_medians_cover_every_layer_metric():
    waves = [{k: float(i) for k in stats.PER_LAYER} for i in (1, 5, 2)]
    out = stats.per_layer_medians(waves, 1.25)
    assert set(out) == set(stats.PER_LAYER)
    assert out["functions.parse.task_s"] == 2.0
    assert out["trace_overhead"] == 1.25


def test_benchmark_json_matches_the_code():
    with open(os.path.join(host.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == stats.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == stats.PER_LAYER
    for w in WORKLOADS.values():
        assert w.timed_waves(spec["run_seconds"]) == MIN_TIMED_WAVES
