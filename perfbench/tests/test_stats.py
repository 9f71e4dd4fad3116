"""Unit tests for the benchmark's helpers, on synthetic inputs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402
from stats import Span  # noqa: E402
from tracing import parse_event_log  # noqa: E402


def test_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert stats.percentile(xs, 90) == 90.0  # exactly ten lie beyond
    assert stats.percentile(xs, 91) is None  # nine would
    assert stats.percentile(xs[:19], 50) is None  # 10th of 19: nine beyond
    assert stats.percentile(xs[:20], 50) == 10.0


def test_highest_percentile():
    assert stats.highest_percentile([1.0] * 19) is None
    p, v = stats.highest_percentile([float(i) for i in range(1, 41)])
    assert (p, v) == (75, 30.0)
    assert stats.highest_percentile([float(i) for i in range(1, 1001)]) == (99, 990.0)


def test_union_of_overlapping_intervals():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert stats.union_length([(0, 10), (2, 3), (4, 5)]) == 10.0  # nested
    assert stats.union_length([(0, 1), (1, 2)]) == 2.0  # touching
    assert stats.union_length([(3, 3), (5, 4)]) == 0.0  # empty ones


def test_driver_gap_is_wall_minus_stage_union():
    # a 10 s query; stages 1-4 and 3-6 overlap, 8-12 runs past the end:
    # active 1-6 and 8-10, idle 0-1 and 6-8
    assert stats.driver_gap(0.0, 10.0, [(1, 4), (3, 6), (8, 12)]) == 3.0
    # a stage of another query before the start is clipped away
    assert stats.driver_gap(5.0, 7.0, [(0, 6)]) == 1.0
    assert stats.driver_gap(0.0, 3.0, []) == 3.0


def test_span_self_time():
    spans = [
        Span(0, "query", 0.0, 10.0, None, "q"),
        Span(1, "build", 0.0, 4.0, 0, "q"),
        Span(2, "stage", 1.0, 3.0, 1, "q"),
        Span(3, "stage", 2.0, 3.5, 1, "q"),  # overlaps the first
        Span(4, "exec", 5.0, 9.0, 0, "q"),
    ]
    own = stats.self_times(spans)
    assert own == {0: 2.0, 1: 1.5, 2: 2.0, 3: 1.5, 4: 4.0}


def test_event_log_attribution(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Submission Time": 900, "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 1_000_000_000,
            "Memory Bytes Spilled": 2**20, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 2**21},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 9000}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Submission Time": 1000, "Completion Time": 2500}},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = parse_event_log([str(path)])
    assert set(out) == {"g1"}  # the ungrouped job is not attributed
    g = out["g1"]
    # stage 0 was skipped (no completion event): one stage and task ran
    assert (g["job_times"], g["stages"], g["tasks"]) == ([0.9], 1, 1)
    assert g["executor_run_s"] == 1.5 and g["executor_cpu_s"] == 1.0
    assert g["shuffle_read_mb"] == 2.0 and g["shuffle_write_mb"] == 1.0
    assert g["spill_mb"] == 1.0
    assert g["stage_intervals"] == [(1.0, 2.5)]
