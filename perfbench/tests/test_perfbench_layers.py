"""Spans, self time and job attribution of the traced run, without Spark."""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402


class FakeContext:
    def __init__(self):
        self.props: dict[str, str | None] = {}

    def setJobGroup(self, group, desc):
        self.props["spark.jobGroup.id"] = group
        self.props["spark.job.description"] = desc

    def setLocalProperty(self, key, value):
        self.props[key] = value


def _job(group, submit, end):
    return {"group": group, "submit": submit, "end": end, "tasks": 1,
            "shuffle_write_mb": 0.0, "executor_run_s": 1.0, "gc_s": 0.0, "call_site": ""}


def test_nested_spans_restore_groups_and_self_time():
    sc = FakeContext()
    tr = layers.Tracer(sc)
    with tr.span("outer"):
        assert sc.props["spark.jobGroup.id"] == "bench:outer"
        with tr.span("inner"):
            assert sc.props["spark.jobGroup.id"] == "bench:inner"
            time.sleep(0.05)
        assert sc.props["spark.jobGroup.id"] == "bench:outer"
        time.sleep(0.02)
    assert sc.props["spark.jobGroup.id"] is None
    assert tr.get("inner")["parent"] == "outer"
    assert tr.self_time("outer") == pytest.approx(tr.seconds("outer") - tr.seconds("inner"))
    assert tr.self_time("outer") >= 0.015


def test_jobs_of_takes_group_and_unclaimed_thread_jobs():
    tr = layers.Tracer(FakeContext())
    tr.spans = [
        {"name": "run", "parent": None, "start": 10.0, "end": 20.0},
        {"name": "inner", "parent": "run", "start": 12.0, "end": 13.0},
    ]
    jobs = [
        _job("bench:run", 10.5, 11.0),
        _job("", 14.0, 15.0),  # submitted by a pipeline thread inside "run"
        _job("", 12.5, 12.8),  # inside the inner span: not "run"'s
        _job("", 25.0, 26.0),  # outside every span
        _job("bench:inner", 12.1, 12.2),
    ]
    got = tr.jobs_of("run", jobs)
    assert sorted(j["submit"] for j in got) == [10.5, 14.0]
    assert sorted(j["submit"] for j in tr.jobs_of("inner", jobs)) == [12.1, 12.5]


def test_pipeline_metrics_driver_gap():
    tr = layers.Tracer(FakeContext())
    tr.spans = [{"name": "run_dedup", "parent": None, "start": 0.0, "end": 10.0}]
    jobs = [_job("bench:run_dedup", 1.0, 4.0), _job("", 3.0, 6.0)]
    m = layers.pipeline_metrics(tr, "run_dedup", jobs)
    assert m["pipeline.jobs"] == 2 and m["pipeline.tasks"] == 2
    assert m["pipeline.driver_gap_s"] == pytest.approx(5.0)
    assert m["pipeline.traced_wall_s"] == pytest.approx(10.0)
