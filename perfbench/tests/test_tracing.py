"""Event-log aggregation by job group and the self-time arithmetic.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import json
import os

import pytest

from tracing import (
    Span,
    Tracer,
    aggregate_by_group,
    layer_metrics,
    self_time,
    unaccounted_share,
)

# a real Spark 4.1 log trimmed to JobStart/TaskEnd: group g1 is one
# pandas-UDF job (4 tasks) plus its localCheckpoint count (1+4 tasks),
# g2 a groupBy count (4 map tasks, 1 reduce task)
LOG = os.path.join(os.path.dirname(__file__), "data", "events_two_groups.jsonl")
MB = 1 << 20


def _log():
    with open(LOG) as f:
        return f.readlines()


def test_aggregates_task_counters_by_job_group():
    g = aggregate_by_group(_log())
    assert set(g) == {"g1", "g2"}
    assert g["g1"]["tasks"] == 9 and g["g2"]["tasks"] == 5
    assert g["g1"]["task_s"] == pytest.approx(8.266)
    assert g["g2"]["task_s"] == pytest.approx(0.564)
    # Python-worker time and Arrow bytes come only from the UDF group
    assert g["g1"]["python_s"] == pytest.approx(5.48)
    assert g["g1"]["arrow_mb"] * MB == pytest.approx(1616032)
    assert g["g2"]["python_s"] == g["g2"]["arrow_mb"] == 0
    assert g["g1"]["shuffle_write_mb"] * MB == pytest.approx(236)
    assert g["g2"]["shuffle_write_mb"] * MB == pytest.approx(1141)
    assert g["g1"]["tasks_failed"] == g["g2"]["tasks_failed"] == 0


def test_ungrouped_jobs_are_dropped_and_failures_counted():
    extra = [
        {"Event": "SparkListenerJobStart", "Job ID": 9, "Stage IDs": [90],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 90,
         "Task Info": {"Failed": False}, "Task Metrics": {"Executor Run Time": 5000}},
        {"Event": "SparkListenerJobStart", "Job ID": 10, "Stage IDs": [91],
         "Properties": {"spark.jobGroup.id": "g3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 91,
         "Task Info": {"Failed": True}, "Task Metrics": {"Executor Run Time": 250}},
    ]
    g = aggregate_by_group(_log() + [json.dumps(e) for e in extra])
    assert g["g1"]["task_s"] == pytest.approx(8.266)  # stage 90 went nowhere
    assert g["g3"]["tasks_failed"] == 1 and g["g3"]["task_s"] == pytest.approx(0.25)


def _span(i, start, end, parent=None, name=None):
    return Span(name or f"s{i}", start, end, parent, "p", i)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 5.0, parent=0),  # overlaps s1: [1, 5) covered once
        _span(3, 8.0, 12.0, parent=0),  # runs past the parent: clipped to 2
        _span(4, 1.5, 2.0, parent=1),  # a grandchild is not the root's child
    ]
    assert self_time(spans[0], spans) == pytest.approx(10 - 4 - 2)
    assert self_time(spans[1], spans) == pytest.approx(2.5)
    assert unaccounted_share(spans[0], spans) == pytest.approx(0.4)


def test_tracer_nests_spans_and_sets_job_groups():
    class SC:
        def __init__(self):
            self.calls = []

        def setJobGroup(self, g, d):
            self.calls.append(g)

        def clearJobGroup(self):
            self.calls.append(None)

    sc, tr = SC(), Tracer("p")
    with tr.span("pass") as root:
        with tr.span("a.f", sc):
            with tr.span("b.g", sc):
                pass
    assert [s.parent for s in tr.spans] == [None, root.id, 1]
    # leaving a span restores the enclosing span's group
    assert sc.calls == ["a.f", "b.g", "a.f", "pass"]


def test_job_self_time_is_wall_minus_its_layers():
    spans = [
        _span(0, 0.0, 20.0, name="pass"),
        _span(1, 0.0, 3.0, 0, "spans_pipeline.extract_spans"),
        _span(2, 3.0, 8.0, 0, "lineage.run_extract_resumable"),
        _span(3, 8.0, 15.0, 0, "jobs.run_spans_job"),
    ]
    groups = {"spans_pipeline.extract_spans": {
        "task_s": 6.0, "gc_s": 0.5, "python_s": 0.0, "arrow_mb": 0.0,
        "shuffle_write_mb": 0.0, "fetch_wait_s": 0.0, "spill_mb": 0.0,
        "tasks_failed": 0.0, "tasks": 4.0}}
    m = layer_metrics(spans, groups, cores=4, job_layers={
        "lineage.run_extract_resumable": ["spans_pipeline.extract_spans"],
        "jobs.run_spans_job": ["lineage.run_extract_resumable"],
    })
    assert m["lineage.run_extract_resumable.self_s"] == pytest.approx(5 - 3)
    assert m["jobs.run_spans_job.self_s"] == pytest.approx(7 - 5)
    assert m["spans_pipeline.extract_spans.slot_util"] == pytest.approx(6 / (3 * 4))
    assert m["jobs.run_spans_job.task_s"] == 0.0  # no event-log group
    assert "pass.wall_s" not in m
