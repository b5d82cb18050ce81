"""Steadiness check: run each workload repeatedly, one seed per run, and
print every end-to-end metric's spread against its bound.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workloads a,b] [--trace]

Spread is the distance between the first and third quartile of the runs'
values (``statistics.quantiles(values, n=4)``) as a share of their median.
``--trace`` adds one traced run per workload and prints its tracing
overhead: the traced ``run_dedup`` wall minus the untraced median, or,
when the traced wall is not above the untraced upper quartile, only the
bound that quartile gives.
Raw results go to ``.perfbench_work/steady.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} exited {p.returncode}:\n{p.stdout}\n{p.stderr[-3000:]}")
    for line in lines[:-1]:
        print(f"  {line}")
    out = json.loads(lines[-1])
    out["elapsed_s"] = time.time() - t0
    return out


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    raw: dict = {}
    for name in names:
        runs = []
        for i in range(args.runs):
            r = run_once(name, args.first_seed + i, bench["run_seconds"], 0)
            print(f"{name} seed {args.first_seed + i}: correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']} "
                  f"elapsed={r['elapsed_s']:.1f}s")
            runs.append(r)
        raw[name] = {"runs": runs}
        print(f"{name}: {len(runs)} runs, mean elapsed "
              f"{statistics.mean(r['elapsed_s'] for r in runs):.1f}s")
        for metric, bound in bounds.items():
            vals = [r["metrics"][metric]["value"] for r in runs]
            s = spread(vals) if len(vals) >= 2 else float("nan")
            flag = "ok" if s <= bound / 3 else ("within bound" if s <= bound else "OVER BOUND")
            print(f"  {metric:20s} median {statistics.median(vals):12.4f} "
                  f"spread {s:.4f} bound {bound} ({flag})")
        if args.trace:
            t = run_once(name, args.first_seed, bench["run_seconds"], 1)
            raw[name]["trace"] = t
            walls = [r["metrics"]["dedup_wall_s"]["value"] for r in runs]
            q1, wall, q3 = statistics.quantiles(walls, n=4)
            traced = t["metrics"]["pipeline.traced_wall_s"]["value"]
            # one traced call against the untraced quartiles: a traced wall
            # at or below the upper quartile resolves no overhead, it only
            # bounds it
            verdict = (f"{traced - wall:+.3f}s" if traced > q3 else
                       f"not resolved (traced wall at or below the untraced upper "
                       f"quartile {q3:.3f}s, so at most {q3 - wall:.3f}s)")
            print(f"  traced run_dedup {traced:.3f}s, untraced median {wall:.3f}s, "
                  f"tracing overhead {verdict}; trace elapsed {t['elapsed_s']:.1f}s")
            for k, v in sorted(t["metrics"].items()):
                print(f"    {k:32s} {v['value']:.6g} {v['unit']}")
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench_work", "steady.json"), "w") as f:
        json.dump(raw, f, indent=1)


if __name__ == "__main__":
    main()
