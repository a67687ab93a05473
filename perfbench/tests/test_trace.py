"""Tests of the benchmark's span and event-log code. No Spark needed:
python3 -m pytest perfbench/tests"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import trace  # noqa: E402


class FakeClock:
    def __init__(self):
        self.t = 100.0

    def __call__(self):
        return self.t


class FakeSc:
    def __init__(self):
        self.props = {}
        self.seen = []

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        self.props[k] = v
        self.seen.append(v)


def test_union_length_merges_and_clips():
    assert trace.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert trace.union_length([(0, 10)], 2, 4) == 2
    assert trace.union_length([(5, 6)], 0, 5) == 0
    assert trace.union_length([]) == 0


def test_self_time_subtracts_children_union():
    clock = FakeClock()
    tr = trace.Tracer(clock=clock)
    with tr.span("blocking"):
        clock.t = 101
        with tr.span("lsh"):
            clock.t = 104
        with tr.span("compact"):
            clock.t = 106
        clock.t = 110
    assert [s.wall for s in tr.spans] == [10, 3, 2]
    assert trace.self_times(tr.spans) == [5, 3, 2]
    assert [s.layer for s in tr.spans] == ["blocking"] * 3


def test_self_time_counts_overlapping_children_once():
    spans = [
        trace.Span("a", "a", 0, 10),
        trace.Span("b", "a", 1, 5, parent=0),
        trace.Span("c", "a", 4, 12, parent=0),  # overlaps b, ends after a
    ]
    assert trace.self_times(spans) == [1, 4, 8]


def test_top_level_span_sets_and_restores_job_group():
    sc = FakeSc()
    sc.props[trace.JOB_GROUP] = "unit-traced-2"
    tr = trace.Tracer(sc)
    with tr.span("scoring"):
        assert sc.props[trace.JOB_GROUP] == "scoring"
        with tr.span("jw"):
            assert sc.props[trace.JOB_GROUP] == "scoring"
    assert sc.props[trace.JOB_GROUP] == "unit-traced-2"


def _events():
    def task(stage, failed=False, shuffle=0, py=None):
        acc = [{"Name": "number of output rows", "Update": "7"}]
        if py is not None:
            acc.append({"Name": trace.PY_BYTES, "Update": str(py)})
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Failed": failed, "Killed": False, "Accumulables": acc},
                "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}

    return [
        {"Event": "SparkListenerLogStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {trace.JOB_GROUP: "extract"}},
        task(0, py=2_000_000),
        task(1, shuffle=500_000),
        task(1, failed=True),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000,
         "Job Result": {"Result": "JobSucceeded"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000,
         "Stage IDs": [2], "Properties": {}},
        task(2),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4500,
         "Job Result": {"Result": "JobFailed"}},
    ]


def test_parse_event_log():
    lines = [json.dumps(e) for e in _events()] + [""]
    jobs = trace.parse_event_log(lines)
    assert [j.job_id for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert (j0.group, j0.start, j0.end, j0.succeeded) == ("extract", 1.0, 3.0, True)
    assert (j0.tasks, j0.failed_tasks, j0.shuffle_bytes, j0.py_bytes) == (3, 1, 500_000, 2_000_000)
    assert (j1.group, j1.succeeded, j1.tasks) == (None, False, 1)


def test_layer_totals_driver_time_and_attribution():
    jobs = trace.parse_event_log(json.dumps(e) for e in _events())
    spans = [
        trace.Span("extract", "extract", 0.5, 3.5),
        trace.Span("sub", "extract", 0.6, 0.9, parent=0),
        trace.Span("streaming", "streaming", 3.9, 5.0),
    ]
    t = trace.layer_totals(spans, jobs)
    ex = t["extract"]
    assert ex["wall_s"] == 3.0
    assert abs(ex["driver_s"] - 1.0) < 1e-9  # job 0 busy 1.0 -> 3.0
    assert (ex["jobs"], ex["failed_tasks"], ex["shuffle_mb"], ex["py_mb"]) == (1, 1, 0.5, 2.0)
    # job 1 has no group: not the streaming span's unless matched by time
    assert t["streaming"]["jobs"] == 0
    t = trace.layer_totals(spans, jobs, time_matched={"streaming"})
    assert t["streaming"]["jobs"] == 1
    assert abs(t["streaming"]["driver_s"] - 0.6) < 1e-9
