"""Span self time, coverage, event-log parsing and job-to-span attribution."""

from __future__ import annotations

import json

import pytest

from perfbench.trace import (
    Job,
    Span,
    Tracer,
    attribute_jobs,
    layer_metrics,
    parse_event_log,
    progress_epoch,
    self_times,
    span_coverage,
)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 0),
        Span(1, "queries.build", 0.0, 6.0, 0, 0),
        Span(2, "exec.count", 1.0, 3.0, 1, 0),
        Span(3, "exec.count", 2.0, 4.0, 1, 0),  # overlaps its sibling
        Span(4, "exec.write", 6.0, 9.0, 0, 0),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(1.0)
    assert st["queries.build"] == pytest.approx(3.0)  # 6 minus [1, 4]
    assert st["exec.count"] == pytest.approx(4.0)
    assert st["exec.write"] == pytest.approx(3.0)
    assert sum(st.values()) == pytest.approx(11.0)  # overlapping siblings count twice


def test_span_coverage_counts_layer_spans_below_the_op():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 0),
        Span(1, "queries.build", 0.5, 4.0, 0, 0),
        Span(2, "exec.count", 1.0, 2.0, 1, 0),
        Span(3, "exec.write", 4.0, 9.5, 0, 0),
    ]
    ops = [{"id": 0, "start": 0.0, "end": 10.0}]
    assert span_coverage(spans, ops) == pytest.approx(0.9)


def test_tracer_nests_spans_and_tags_op():
    tr = Tracer()
    tr.op = 3
    with tr.span("op"):
        with tr.span("queries.build"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert inner.op == outer.op == 3
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_job_attribution_by_group_then_time():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 0),
        Span(1, "queries.build", 0.0, 6.0, 0, 0),
        Span(2, "streaming.drain", 2.0, 5.0, 1, 0),
        Span(3, "exec.write", 6.0, 10.0, 0, 0),
    ]
    jobs = [
        Job(0, 1.0, 1.5, "perfbench/1"),  # our group
        Job(1, 3.0, 3.5, "3f2a-stream-run-id"),  # stream thread's own group
        Job(2, 7.0, 8.0, "perfbench/1"),  # stale group: span 1 had closed
        Job(3, 7.5, 8.0, None),
        Job(4, 20.0, 21.0, None),  # outside every span
    ]
    assert attribute_jobs(jobs, spans) == {0: 1, 1: 2, 2: 3, 3: 3}


def _events():
    def ev(kind, **kw):
        return json.dumps({"Event": kind, **kw})

    task = {
        "Task Info": {"Launch Time": 1000, "Finish Time": 1500, "Accumulables": [
            {"Name": "data sent to Python workers", "Update": "100"},
            {"Name": "number of output rows", "Update": "7"},
        ]},
        "Task Metrics": {
            "Executor Run Time": 400, "Executor CPU Time": 300_000_000, "JVM GC Time": 10,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 6,
                                     "Total Records Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 70},
            "Input Metrics": {"Records Read": 0},
        },
    }
    return [
        ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
           "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "perfbench/1"}}),
        ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0}}),
        ev("SparkListenerTaskEnd", **{"Stage ID": 0}, **task),
        ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
        ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 2000}),
        # job 1 reuses stage 0 (skipped) and runs stage 2
        ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 2500,
           "Stage IDs": [0, 2], "Properties": {}}),
        ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 2}}),
        ev("SparkListenerTaskEnd", **{"Stage ID": 2}, **task),
        ev("SparkListenerTaskEnd", **{"Stage ID": 2}, **task),
        ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 2}}),
        ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 3000}),
    ]


def test_parse_event_log_maps_tasks_to_the_job_that_ran_them():
    jobs = {j.id: j for j in parse_event_log(_events())}
    assert jobs[0].group == "perfbench/1" and jobs[1].group is None
    assert (jobs[0].stages, len(jobs[0].tasks)) == (1, 1)
    assert (jobs[1].stages, len(jobs[1].tasks)) == (1, 2)
    t = jobs[0].tasks[0]
    assert t["wall_s"] == 0.5 and t["cpu_s"] == pytest.approx(0.3)
    assert t["py_sent"] == 100 and t["shuffle_read"] == 11 and t["records"] == 0
    assert (jobs[0].start, jobs[0].end) == (1.0, 2.0)


def test_layer_metrics_split_convert_write_into_sample_and_write():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 0),
        Span(1, "operators.convert", 0.0, 10.0, 0, 0),
        Span(2, "sources.ndjson.read", 0.0, 3.0, 1, 0),
        Span(3, "exec.write", 3.0, 9.0, 1, 0),
        Span(4, "exec.read_parquet", 9.0, 9.5, 1, 0),
    ]
    jobs = [
        Job(0, 1.0, 2.5, "perfbench/2", stages=1, tasks=[{"records": 10}]),
        Job(1, 3.0, 4.0, "perfbench/3", stages=1, tasks=[{"records": 10}]),
        Job(2, 4.0, 8.0, "perfbench/3", stages=2, tasks=[{"records": 0}, {"records": 5}]),
    ]
    for j in jobs:
        for t in j.tasks:
            t.update(wall_s=1.0, run_s=1.0, cpu_s=0.5, gc_s=0.0, shuffle_read=0,
                     shuffle_write=0, spill=0, py_sent=0, py_returned=0)
    ops = [{"id": 0, "start": 0.0, "end": 10.0}]
    batches = [(5.0, {"addBatch": 1500, "triggerExecution": 2000}), (50.0, {"addBatch": 1})]
    m = layer_metrics(ops, spans, jobs, batches, cores=4)
    assert m["sources.ndjson.read_s"] == pytest.approx(3.0)
    assert m["sources.ndjson.infer_job_s"] == pytest.approx(1.5)
    assert m["sources.ndjson.scan_tasks"] == 1
    assert m["operators.convert.sample_job_s"] == pytest.approx(1.0)
    assert m["operators.convert.write_job_s"] == pytest.approx(4.0)
    assert m["operators.convert.verify_s"] == pytest.approx(0.5)
    assert m["exec.jobs"] == 3 and m["exec.stages"] == 4 and m["exec.tasks"] == 4
    assert m["exec.execute_s"] == pytest.approx(6.5)
    assert m["exec.empty_task_ratio"] == pytest.approx(0.25)
    assert m["exec.slot_busy_ratio"] == pytest.approx(4 / 40)
    assert m["streaming.batches"] == 1
    assert m["streaming.add_batch_s"] == pytest.approx(1.5)
    assert m["streaming.engine_s"] == pytest.approx(0.5)
    assert m["trace.span_coverage"] == pytest.approx(1.0)


def test_progress_epoch():
    assert progress_epoch("1970-01-01T00:00:01.500Z") == pytest.approx(1.5)
