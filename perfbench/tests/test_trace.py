"""Attribution of Spark jobs to benchmark spans on an event log recorded
from Spark: span ``grouped`` ran its jobs under its job group, span
``threaded`` ran one ``count`` from a plain thread (no group), and one job
ran after every span had closed."""

import json
import os

import pytest

from perfbench.trace import (
    Span,
    Tracer,
    attribute_jobs,
    parse_event_log,
    spark_metrics,
    tasks_of_jobs,
    union_length,
)

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(FIX, "eventlog.jsonl")) as f:
        jobs, tasks = parse_event_log(f)
    with open(os.path.join(FIX, "spans.json")) as f:
        spans = [Span(**s) for s in json.load(f)]
    return jobs, tasks, spans


def test_parse_event_log(recorded):
    jobs, tasks, _ = recorded
    assert sorted(jobs) == [0, 1, 2, 3, 4]
    assert jobs[0]["group"] == jobs[1]["group"] == "perfbench-span-1"
    assert all(jobs[j]["group"] is None for j in (2, 3, 4))
    assert all(j["end"] >= j["submit"] for j in jobs.values())
    assert all(t["job"] in jobs for t in tasks)
    assert len(tasks) == 8


def test_attribution_by_group_then_interval(recorded):
    jobs, _, spans = recorded
    owner = attribute_jobs(jobs, spans)
    by_name = {s.sid: s.name for s in spans}
    assert {j: by_name.get(sid) for j, sid in owner.items()} == {
        0: "grouped", 1: "grouped",       # job group
        2: "threaded", 3: "threaded",     # plain thread: by interval
        4: None,                          # after every span
    }


def test_group_wins_over_interval(recorded):
    jobs, _, spans = recorded
    # a span that covers every job's submission time but owns no group
    wide = Span(99, "wide", None, None, start=0.0, end=1e12)
    owner = attribute_jobs(jobs, spans + [wide])
    assert owner[0] == owner[1] == 1
    assert owner[4] == 99


def test_spark_metrics_over_subtree(recorded):
    jobs, tasks, spans = recorded
    owner = attribute_jobs(jobs, spans)
    outer = spans[0]
    m = spark_metrics(outer, {0, 1, 2}, owner, jobs, tasks)
    assert m["jobs"] == 4
    assert m["tasks"] == tasks_of_jobs([0, 1, 2, 3], tasks)
    assert m["tasks"] == sum(1 for t in tasks if t["job"] != 4)
    assert 0.0 <= m["driver_gap_s"] <= outer.wall
    assert m["task_overhead_s"] >= 0.0 and m["executor_cpu_s"] > 0.0


def test_union_length():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert union_length([], 0, 1) == 0.0


def test_self_time_subtracts_children():
    tr = Tracer()
    tr.spans = [Span(0, "req", None, 7, 0.0, 10.0),
                Span(1, "a", 0, 7, 1.0, 4.0),
                Span(2, "b", 0, 7, 3.0, 6.0),
                Span(3, "c", 1, 7, 1.5, 2.0)]
    assert tr.self_time(0) == pytest.approx(5.0)
    assert tr.self_time(1) == pytest.approx(2.5)
    assert tr.subtree(0) == {0, 1, 2, 3}


def test_untraced_span_records_time_and_request_id():
    tr = Tracer()
    with tr.span("outer", rid=3):
        with tr.span("inner") as inner:
            pass
    assert inner.rid == 3 and inner.parent == 0
    assert tr.spans[0].end >= inner.end >= inner.start >= tr.spans[0].start


def test_task_metrics_and_python_bytes():
    start = {"Event": "SparkListenerJobStart", "Job ID": 7,
             "Submission Time": 1000, "Stage IDs": [3], "Properties": {}}
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1500,
                          "Accumulables": [
                              {"Name": "data sent to Python workers",
                               "Update": "2048"}]},
            "Task Metrics": {"Executor Run Time": 400,
                             "Executor CPU Time": 300_000_000,
                             "JVM GC Time": 20,
                             "Shuffle Read Metrics": {
                                 "Remote Bytes Read": 5,
                                 "Local Bytes Read": 7},
                             "Shuffle Write Metrics": {
                                 "Shuffle Bytes Written": 11}}}
    end = {"Event": "SparkListenerJobEnd", "Job ID": 7,
           "Completion Time": 1600}
    jobs, tasks = parse_event_log(json.dumps(e) for e in (start, task, end))
    assert jobs[7] == {"submit": 1.0, "end": 1.6, "group": None,
                       "stages": [3]}
    (t,) = tasks
    assert t["job"] == 7 and t["python_in"] == 2048.0
    assert (t["cpu_s"], t["gc_s"], t["run_s"]) == (0.3, 0.02, 0.4)
    assert (t["shuffle_read"], t["shuffle_write"]) == (12, 11)
    span = Span(0, "s", None, None, start=0.5, end=2.0)
    m = spark_metrics(span, {0}, {7: 0}, jobs, tasks)
    assert m["task_overhead_s"] == pytest.approx(0.1)
    assert m["driver_gap_s"] == pytest.approx(1.5 - 0.6)
