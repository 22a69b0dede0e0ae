"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

import json
import os

import pytest

from perfbench.sparkstats import parse_metric
from perfbench.tracing import Span, percentile, self_times, supported_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("text, want", [
    ("0 ms", 0.0),
    ("9 ms", 9.0),
    ("1.1 s", 1100.0),
    ("2.5 min", 150_000.0),
    ("354.3 KiB", 354.3 * 1024),
    ("1367.2 KiB", 1367.2 * 1024),
    ("2.0 MiB", 2.0 * 2 ** 20),
    ("0.0 B", 0.0),
    ("236.0 B", 236.0),
    ("12,964", 12964.0),
    ("4", 4.0),
    ("total (min, med, max (stageId: taskId))\n3.8 s (855 ms, 942 ms, 1.1 s"
     " (stage 4.0: task 13))", 3800.0),
    ("total (min, med, max (stageId: taskId))\n716.4 KiB (178.9 KiB, 179.2 KiB,"
     " 179.2 KiB (stage 4.0: task 16))", 716.4 * 1024),
])
def test_parse_metric_units(text, want):
    assert parse_metric(text) == pytest.approx(want)


@pytest.mark.parametrize("text", [None, "", "n/a", "3 parsecs"])
def test_parse_metric_rejects(text):
    assert parse_metric(text) is None


def _span(i, parent, start, end):
    return Span(i, f"s{i}", parent, "r", start, start * 1e3, end)


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 5.0, 9.0),
        _span(3, 2, 6.0, 7.0),   # grandchild: counts against 2, not 0
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 2.0 - 4.0)
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(3.0)
    assert own[3] == pytest.approx(1.0)


def test_self_time_overlapping_and_overhanging_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 2.0, 6.0),
        _span(2, 0, 4.0, 8.0),    # overlaps 1: union is [2, 8]
        _span(3, 0, 9.0, 12.0),   # runs past the parent: clipped to [9, 10]
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_supported_percentile_needs_ten_beyond():
    assert supported_percentile(3) is None
    assert supported_percentile(19) is None
    assert supported_percentile(20) == 50.0
    assert supported_percentile(40) == 75.0
    assert supported_percentile(100) == 90.0
    assert supported_percentile(200) == 95.0
    assert supported_percentile(1000) == 99.0
    assert supported_percentile(10_000) == 99.9


def test_percentile_is_a_measured_value():
    xs = [float(x) for x in range(1, 21)]
    assert percentile(xs, 50) == 10.0
    assert percentile(xs, 90) == 18.0
    assert percentile([3.0], 99) == 3.0


def test_benchmark_json_matches_the_metrics_the_run_prints():
    from perfbench.run import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
