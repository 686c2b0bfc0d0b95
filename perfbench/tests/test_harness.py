"""Unit tests of the benchmark harness's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import metrics  # noqa: E402


@pytest.mark.parametrize("text, want", [
    ("703 ms", 0.703),
    ("1.2 s", 1.2),
    ("2.5 m", 150.0),
    ("4.0 MiB", 4.0 * 2**20),
    ("0.0 B", 0.0),
    ("590.1 KiB", 590.1 * 1024),
    ("257,868", 257868.0),
    ("1", 1.0),
    ("total (min, med, max (stageId: taskId))\n"
     "82 ms (30 ms, 52 ms, 52 ms (stage 20.0: task 33))", 0.082),
    ("total (min, med, max (stageId: taskId))\n"
     "128.5 MiB (64.2 MiB, 64.2 MiB, 64.2 MiB (stage 26.0: task 18))",
     128.5 * 2**20),
])
def test_parse_metric_value(text, want):
    assert metrics.parse_metric_value(text) == pytest.approx(want)


@pytest.mark.parametrize("text", [
    "(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 26.0: task 18))",
    "total (min, med, max (stageId: taskId))",
    "n/a",
    "3 parsecs",
])
def test_parse_metric_value_rejects(text):
    assert metrics.parse_metric_value(text) is None


def test_tail_percentile_has_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    pct, val = metrics.tail_percentile(samples)
    assert (pct, val) == (90.0, 90.0)
    assert sum(1 for s in samples if s > val) == metrics.TAIL_BEYOND
    pct, val = metrics.tail_percentile(samples[:40])
    assert (pct, val) == (75.0, 30.0)


def test_tail_percentile_small_samples_report_max():
    # below 2 * TAIL_BEYOND samples the rule would fall to the median
    # or under it; the maximum is reported instead
    assert metrics.tail_percentile([3.0, 1.0, 2.0, 5.0, 4.0]) == (100.0, 5.0)
    assert metrics.tail_percentile([7.0]) == (100.0, 7.0)
    pct, val = metrics.tail_percentile([float(i) for i in range(20)])
    assert (pct, val) == (50.0, 9.0)
    with pytest.raises(ValueError):
        metrics.tail_percentile([])


def test_self_time_counts_overlap_once_and_clips():
    # op 0..10; stages 1..4 and 3..6 overlap (cover 1..6), 8..12 is
    # clipped to 8..10: covered 7 s, self 3 s
    assert metrics.self_time(0, 10, [(1, 4), (3, 6), (8, 12)]) == pytest.approx(3.0)
    assert metrics.self_time(0, 10, []) == 10.0
    # a child covering the whole span leaves no self time
    assert metrics.self_time(0, 10, [(-1, 11)]) == 0.0
    # nested and empty intervals
    assert metrics.union_length([(0, 10), (2, 3), (5, 5)]) == 10.0


def test_benchmark_json_matches_harness():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == harness.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["neardup", "lifecycle"]
