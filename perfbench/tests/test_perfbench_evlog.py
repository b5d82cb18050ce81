"""The event-log reader on synthetic Spark listener events."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import evlog  # noqa: E402


def _events():
    def job(jid, group, t0, t1, stages):
        props = {"spark.job.description": "stage:x", "callSite.short": f"count at x.py:{jid}"}
        if group:
            props["spark.jobGroup.id"] = group
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
             "Stage IDs": stages, "Properties": props},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1},
        ]

    def task(stage, run_ms, gc_ms, shuffle_bytes):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes}}}

    ev = [{"Event": "SparkListenerApplicationStart", "Timestamp": 0}]
    ev += job(0, "bench:a", 1000, 2000, [0, 1])
    ev += [task(0, 400, 10, 2_000_000), task(1, 100, 0, 0)]
    ev += job(1, "bench:a", 3000, 3500, [2])
    ev += [task(2, 300, 5, 1_000_000)]
    ev += job(2, None, 3200, 4000, [3])
    ev += [task(3, 50, 0, 0)]
    ev += job(3, "bench:b", 5000, 5100, [4])  # no tasks
    ev += job(4, "bench:b", 6000, 6100, [5])[:1]  # never ends: dropped
    return ev


def _write(path, events, torn=False):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
        if torn:
            f.write('{"Event": "SparkListenerJob')


def test_by_group_rollup(tmp_path):
    p = tmp_path / "app-1"
    _write(p, _events(), torn=True)
    g = evlog.by_group(str(p))
    a = g["bench:a"]
    assert a["jobs"] == 2 and a["tasks"] == 3
    assert a["wall_s"] == pytest.approx(2.5)
    assert a["gap_s"] == pytest.approx(1.0)  # 2.0 s -> 3.0 s, no job running
    assert a["shuffle_write_mb"] == pytest.approx(3.0)
    assert a["executor_run_s"] == pytest.approx(0.8)
    assert a["gc_s"] == pytest.approx(0.015)
    assert g[evlog.NO_GROUP]["jobs"] == 1
    assert g["bench:b"]["jobs"] == 1 and g["bench:b"]["tasks"] == 0


def test_overlapping_jobs_gap():
    js = [{"submit": 0.0, "end": 2.0}, {"submit": 1.0, "end": 3.0}, {"submit": 5.0, "end": 6.0}]
    for j in js:
        j.update(tasks=0, shuffle_write_mb=0.0, executor_run_s=0.0, gc_s=0.0)
    r = evlog.rollup(js)
    assert r["wall_s"] == 6.0 and r["gap_s"] == pytest.approx(2.0)


def test_rolling_dir_and_app_root(tmp_path):
    ev = _events()
    app = tmp_path / "root" / "eventlog_v2_app-1"
    app.mkdir(parents=True)
    _write(app / "events_10_app-1", ev[9:])
    _write(app / "events_2_app-1", ev[:9])
    whole = tmp_path / "whole"
    _write(whole, ev)
    assert evlog.jobs(str(tmp_path / "root")) == evlog.jobs(str(whole))


@pytest.mark.skipif(shutil.which("zstd") is None, reason="zstd command not installed")
def test_zstd_log(tmp_path):
    plain = tmp_path / "app"
    _write(plain, _events())
    subprocess.run(["zstd", "-q", str(plain), "-o", str(tmp_path / "app.zstd")], check=True)
    assert evlog.jobs(str(tmp_path / "app.zstd")) == evlog.jobs(str(plain))
