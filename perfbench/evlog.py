"""Spark event-log reader: jobs, tasks, driver gaps, shuffle and GC per
job group.

Reads a plain JSON-lines log file, a ``.zstd`` file (through the
``zstd`` command-line tool), or a rolling-log directory of ordered
``events_<n>_*`` parts, and an event-log root holding one application
(the newest is taken). Jobs are keyed by ``spark.jobGroup.id``, not by
job description: a description set inside a call can outlive it.
"""

from __future__ import annotations

import json
import os
import subprocess
from collections.abc import Iterator

NO_GROUP = ""


def _log_files(path: str) -> list[str]:
    if os.path.isdir(path):
        entries = [os.path.join(path, f) for f in os.listdir(path) if not f.startswith(".")]
        parts = [e for e in entries if os.path.basename(e).startswith("events_")]
        if parts:
            return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        if not entries:
            raise FileNotFoundError(f"no event log under {path}")
        return _log_files(max(entries, key=os.path.getmtime))
    return [path]


def _lines(path: str) -> Iterator[str]:
    if path.endswith(".zstd") or path.endswith(".zstd.inprogress"):
        out = subprocess.run(["zstd", "-dc", path], capture_output=True, text=True,
                             check=True).stdout
        yield from out.splitlines()
        return
    with open(path) as f:
        yield from f


def read_events(path: str) -> Iterator[dict]:
    for fp in _log_files(path):
        for line in _lines(fp):
            line = line.strip()
            if not line:
                continue
            try:
                yield json.loads(line)
            except json.JSONDecodeError:
                continue  # a torn last line of a log still being written


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def jobs(path: str) -> list[dict]:
    """One dict per completed job: id, group, desc, call_site, submit and
    end (epoch seconds), tasks, executor_run_s, gc_s, shuffle_write_mb."""
    out: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in read_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            out[jid] = {
                "id": jid,
                "group": props.get("spark.jobGroup.id") or NO_GROUP,
                "desc": props.get("spark.job.description") or "",
                "call_site": props.get("callSite.short") or "",
                "submit": ev["Submission Time"] / 1000.0,
                "end": None, "tasks": 0, "executor_run_s": 0.0, "gc_s": 0.0,
                "shuffle_write_mb": 0.0,
            }
            for sid in ev.get("Stage IDs") or []:
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in out:
                out[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = out.get(stage_job.get(ev.get("Stage ID")))
            if job is None:
                continue
            m = ev.get("Task Metrics") or {}
            job["tasks"] += 1
            job["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            job["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
    return [j for j in sorted(out.values(), key=lambda j: j["id"]) if j["end"] is not None]


def rollup(job_list: list[dict]) -> dict:
    """jobs, tasks, wall_s (first submit to last end), gap_s (part of that
    window with no job running: driver-side time), shuffle_write_mb,
    executor_run_s and gc_s of a set of jobs."""
    if not job_list:
        return {"jobs": 0, "tasks": 0, "wall_s": 0.0, "gap_s": 0.0,
                "shuffle_write_mb": 0.0, "executor_run_s": 0.0, "gc_s": 0.0}
    t0 = min(j["submit"] for j in job_list)
    t1 = max(j["end"] for j in job_list)
    busy = covered([(j["submit"], j["end"]) for j in job_list])
    return {
        "jobs": len(job_list),
        "tasks": sum(j["tasks"] for j in job_list),
        "wall_s": t1 - t0,
        "gap_s": (t1 - t0) - busy,
        "shuffle_write_mb": sum(j["shuffle_write_mb"] for j in job_list),
        "executor_run_s": sum(j["executor_run_s"] for j in job_list),
        "gc_s": sum(j["gc_s"] for j in job_list),
    }


def by_group(path: str) -> dict[str, dict]:
    """``rollup`` of every job group in the log (``""``: jobs with none)."""
    groups: dict[str, list[dict]] = {}
    for j in jobs(path):
        groups.setdefault(j["group"], []).append(j)
    return {g: rollup(js) for g, js in groups.items()}


if __name__ == "__main__":
    import sys

    if len(sys.argv) != 2:
        sys.exit("usage: python3 perfbench/evlog.py <event-log file or dir>")
    print(json.dumps(by_group(sys.argv[1]), indent=1, sort_keys=True))
