"""Span self times and event-log folding on canned inputs.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402


def _task(stage, run_ms, cpu_ns, gc_ms, read_b=0, write_b=0, spill_b=0, py=None):
    acc = [{"Name": k, "Update": str(v)} for k, v in (py or {}).items()]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": acc + [{"Name": "number of output rows", "Update": "9"}]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill_b,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read_b},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write_b},
        },
    }


CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_000,
     "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "triples"}},
    _task(0, 400, 300_000_000, 10, write_b=2_000_000),
    _task(0, 600, 500_000_000, 30, write_b=1_000_000),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 11_000},
    # stage 0 is listed again but skipped: it stays with job 0's group
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 12_000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "media"}},
    _task(1, 1000, 900_000_000, 0, read_b=3_000_000, spill_b=500_000,
          py={"time to run Python workers": 700, "data sent to Python workers": 4_000_000,
              "data returned from Python workers": 1_000_000}),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 14_000},
    # a job outside any group, and one that never ended
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 15_000,
     "Stage IDs": [2], "Properties": {}},
    _task(2, 50, 1, 0),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 15_100},
    {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 16_000,
     "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "media"}},
]


def test_fold_event_log_groups_tasks_by_job_group():
    groups, jobs = spans.fold_event_log(json.dumps(e) + "\n" for e in CANNED)
    t = groups["triples"]
    assert (t["jobs"], t["tasks"]) == (1, 2)
    assert t["task_s"] == pytest.approx(1.0)
    assert t["cpu_s"] == pytest.approx(0.8)
    assert t["gc_s"] == pytest.approx(0.04)
    assert t["shuffle_write_mb"] == pytest.approx(3.0)
    assert t["py_run_s"] == 0
    m = groups["media"]
    assert (m["jobs"], m["tasks"]) == (2, 1)
    assert m["shuffle_read_mb"] == pytest.approx(3.0)
    assert m["spill_mb"] == pytest.approx(0.5)
    assert m["py_run_s"] == pytest.approx(0.7)
    assert m["py_sent_mb"] == pytest.approx(4.0)
    assert m["py_recv_mb"] == pytest.approx(1.0)
    assert groups[None]["tasks"] == 1
    # the unfinished job 3 has no interval
    assert set(jobs) == {("triples", 10.0, 11.0), ("media", 12.0, 14.0), (None, 15.0, 15.1)}


class FakeClock:
    def __init__(self, ticks):
        self.ticks = iter(ticks)

    def __call__(self):
        return next(self.ticks)


def test_nested_spans_have_known_self_times():
    groups_set = []
    # pass [0, 100]; linking [10, 60] holding components [20, 50];
    # media [70, 90]
    clock = FakeClock([0, 10, 20, 50, 60, 70, 90, 100])
    t = spans.Tracer(groups_set.append, clock=clock, trace_id="x")
    with t.span("pass"):
        with t.span("linking"):
            with t.span("components"):
                pass
        with t.span("media"):
            pass
    by_name = {s["name"]: s for s in t.spans}
    self_s = spans.self_times(t.spans)
    assert {n: self_s[s["id"]] for n, s in by_name.items()} == {
        "pass": 100 - 50 - 20,
        "linking": 50 - 30,
        "components": 30,
        "media": 20,
    }
    # self times partition the root span exactly
    assert sum(self_s.values()) == by_name["pass"]["end"] - by_name["pass"]["start"]
    assert by_name["components"]["parent"] == by_name["linking"]["id"]
    assert {s["trace"] for s in t.spans} == {"x"}
    # the job group follows the innermost open span
    assert groups_set == [
        "pass", "linking", "components", "linking", "pass", "media", "pass", None
    ]


def test_layer_metrics_driver_time_is_self_time_outside_own_jobs():
    clock = FakeClock([0, 10, 20, 50, 60, 100])
    t = spans.Tracer(clock=clock)
    with t.span("pass"):
        with t.span("linking"):
            with t.span("components"):
                pass
    jobs = [
        ("linking", 12, 18),  # inside linking's own time
        ("linking", 25, 30),  # inside the child span: not linking's
        ("components", 20, 45),
        ("pass", 55, 70),
    ]
    groups = {"linking": {"jobs": 2, "py_run_s": 0.0}}
    m = spans.layer_metrics(t.spans, groups, jobs)
    assert m["linking"]["self_s"] == 20
    assert m["linking"]["driver_s"] == 20 - 6
    assert m["linking"]["jobs"] == 2
    assert m["components"]["driver_s"] == 30 - 25
    assert m["components"]["jobs"] == 0
    assert m["pass"]["self_s"] == 50
    assert m["pass"]["driver_s"] == 50 - 10


def test_interval_helpers():
    assert spans.union([(3, 5), (0, 1), (1, 2), (4, 6)]) == [(0, 2), (3, 6)]
    assert spans.length([(0, 2), (1, 3), (5, 5)]) == 3
    assert spans.subtract([(0, 10)], [(2, 3), (5, 12)]) == [(0, 2), (3, 5)]
