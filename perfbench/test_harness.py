"""Tests for the benchmark's own helpers. They need no Spark session:

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import harness  # noqa: E402
from sparktrace import summarize  # noqa: E402


def test_percentile_is_nearest_rank():
    xs = [15, 20, 35, 40, 50]
    assert harness.percentile(xs, 5) == 15
    assert harness.percentile(xs, 30) == 20
    assert harness.percentile(xs, 40) == 20
    assert harness.percentile(xs, 50) == 35
    assert harness.percentile(xs, 100) == 50
    assert harness.percentile([3.0], 50) == 3.0
    # order of the input does not matter
    assert harness.percentile([50, 15, 40, 20, 35], 50) == 35
    assert harness.median([4, 1, 3, 2]) == 2.5
    assert harness.median([5, 1, 3]) == 3


@pytest.mark.parametrize("bad", [0, -1, 100.5])
def test_percentile_rejects_out_of_range(bad):
    with pytest.raises(ValueError):
        harness.percentile([1, 2], bad)
    with pytest.raises(ValueError):
        harness.percentile([], 50)


@pytest.mark.parametrize(
    "n, p",
    [(10, None), (11, 9), (20, 50), (40, 75), (100, 90), (1000, 99), (200, 95)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    got = harness.tail_percentile(n)
    assert got == p
    if got is not None:
        rank = -(-got * n // 100)
        assert n - rank >= 10
        # one percentile higher would leave fewer than ten
        if got < 99:
            assert n - -(-(got + 1) * n // 100) < 10


def test_tail_reports_percentile_and_count():
    xs = list(range(1, 101))
    assert harness.tail(xs) == (90, 90, 100)
    # too few samples for any percentile: the maximum, labelled 100
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100, 3)


def test_interval_union():
    assert harness.interval_union([]) == 0
    assert harness.interval_union([(0, 1), (2, 3)]) == 2
    assert harness.interval_union([(0, 2), (1, 3)]) == 3
    assert harness.interval_union([(1, 3), (0, 2), (5, 6), (5.5, 5.7)]) == 4
    assert harness.interval_union([(0, 10), (2, 3)]) == 10
    assert harness.interval_union([(0, 1), (1, 2)]) == 2  # touching
    assert harness.interval_union([(3, 1)]) == 0  # empty interval ignored


def test_summarize_splits_wall_into_jobs_and_driver():
    jobs = [
        {"start": 10.0, "end": 11.0, "stage_ids": [1, 2]},
        {"start": 10.5, "end": 12.0, "stage_ids": [2, 3]},
    ]
    stage = {
        "tasks": 4, "run_s": 1.0, "cpu_s": 0.5, "gc_s": 0.1, "input_rows": 10,
        "shuffle_write_bytes": 100, "spill_bytes": 0, "task_skew": 1.0,
    }
    stages = {1: dict(stage), 3: dict(stage, run_s=2.0, task_skew=3.0)}  # 2 was skipped
    out = summarize(jobs, stages, wall_s=5.0)
    assert out["n_jobs"] == 2
    assert out["job_s"] == 2.0
    assert out["driver_s"] == 3.0
    assert out["tasks"] == 8 and out["run_s"] == 3.0
    assert out["task_skew"] == 3.0  # of the longest-running stage


def test_metric_name_pattern():
    ok = ["setup_s", "build.ingest.wall_s", "query.wand.p50_s", "a-b.c_1"]
    bad = ["", "build ingest", "p50%", "rss/mb", "naïve"]
    assert all(harness.METRIC_NAME.fullmatch(n) for n in ok)
    assert not any(harness.METRIC_NAME.fullmatch(n) for n in bad)


def test_benchmark_json_names_every_printed_metric():
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = workloads.per_layer_names()
    assert [m["name"] for m in spec["per_layer"]] == names
    assert all(harness.METRIC_NAME.fullmatch(n) for n in names)
    assert len(set(names)) == len(names)
    for m in spec["per_layer"]:
        assert m["unit"] == workloads.unit_of(m["name"])
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)


def test_driver_heap_fits_the_host():
    gib = 1024 * 1024
    assert harness.driver_heap_mb({"MemTotal": 16 * gib, "MemAvailable": 15 * gib}) == 2048
    # never more than half of what is free, never under 1 GiB
    assert harness.driver_heap_mb({"MemTotal": 64 * gib, "MemAvailable": 3 * gib}) == 1536
    assert harness.driver_heap_mb({"MemTotal": 4 * gib, "MemAvailable": 1 * gib}) == 1024
    assert harness.driver_heap_mb({"MemTotal": 512 * gib, "MemAvailable": 500 * gib}) == 4096


def test_run_window_times_whole_rounds():
    from workloads import run_window

    def op():
        return 1.0

    samples: list[float] = []
    # a window that closes at once still runs one whole round
    run_window(0.0, op, samples, limit=100, rounds=7)
    assert len(samples) == 7
    samples = []
    run_window(0.0, op, samples, limit=100)
    assert len(samples) == 1
    # the limit ends the loop even inside a round
    samples = []
    run_window(60.0, op, samples, limit=10, rounds=7)
    assert len(samples) == 10
