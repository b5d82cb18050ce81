"""Extra benchmarks. ``bench.py`` is FROZEN for measurement (the driver
times rounds with its round-start copy), so everything exploratory lives
here:

  python bench_extra.py queries          noop-isolated per-query timings
                                         (guide §1.4) at SPARK_GRAFT_SF_DIR,
                                         warm + best-of-BENCH_XREPEATS
  python bench_extra.py scaling_paired   paired local[BASE] / local[4*BASE]
                                         dedup legs through bench.py,
                                         BENCH_PAIR_ROUNDS rounds, median
                                         paired scaling ratio

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_N_FILES as in bench.py;
BENCH_XREPEATS (queries); BENCH_PAIR_ROUNDS, BENCH_SCALE_BASE
(scaling_paired).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_FILES = int(os.environ.get("BENCH_N_FILES", "40000"))


def queries() -> None:
    """Per-query noop-sink timings: one warm pass, then best/median of
    BENCH_XREPEATS (default 3) — isolates the computation from the one-shot
    plan-compile cost bench.py's single-shot protocol includes."""
    import bench as bench_mod
    import __spark_entry__ as entry_mod
    from datasketches_spark.session import get_spark

    spark = get_spark("bench_extra", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    reps = int(os.environ.get("BENCH_XREPEATS", "3"))
    out: dict = {}
    qs = entry_mod.queries()
    for name in bench_mod.HEADLINE:
        if name == "dedup_pipeline_e2e":
            continue
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        df = qs[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()  # warm
        ts = []
        for _ in range(reps):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 3))
        out[name] = {"best": min(ts), "samples": ts}
    print(json.dumps({"mode": "queries", "sf_dir": SF_DIR, "cpus": CPUS,
                      "queries": out}))


def scaling_paired() -> None:
    """PAIRED same-regime scaling readings (VERDICT r5 item 1 fallback
    protocol, promoted to a first-class campaign): N rounds, each running
    the local[BASE] and local[4*BASE] dedup legs BACK-TO-BACK via the
    frozen ``bench.py`` (BENCH_MODE=dedup_only subprocesses — the same
    legs the managed probe uses), so both legs of every ratio sample the
    SAME venue weather regime. Reports every pair and the median paired
    ratio. This is robust exactly where the best-of-leg statistic is not:
    on a host whose memory weather shifts between attempts, best-of mixes
    regimes across legs and the ratio measures the weather.

    Env: BENCH_PAIR_ROUNDS (default 3), BENCH_SCALE_BASE (default 2),
    BENCH_N_FILES / SPARK_GRAFT_* as bench.py."""
    rounds = int(os.environ.get("BENCH_PAIR_ROUNDS", "3"))
    base = int(os.environ.get("BENCH_SCALE_BASE", "2"))
    pair = (base, 4 * base)
    bench_py = os.path.join(_REPO, "bench.py")

    def leg(n: int) -> dict:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(n), BENCH_SCALING="0",
                   BENCH_MODE="dedup_only")
        p = subprocess.run([sys.executable, bench_py], env=env,
                           capture_output=True, text=True, timeout=5400)
        line = [l for l in p.stdout.strip().splitlines() if l.startswith("{")][-1]
        return json.loads(line)

    pairs = []
    for i in range(rounds):
        lo = leg(pair[0])
        hi = leg(pair[1])
        ratio = hi["value"] / (4.0 * lo["value"])
        pairs.append({
            "round": i + 1,
            f"files_per_sec_{pair[0]}": lo["value"],
            f"files_per_sec_{pair[1]}": hi["value"],
            f"wall_{pair[0]}": lo["queries"]["dedup_pipeline_e2e"],
            f"wall_{pair[1]}": hi["queries"]["dedup_pipeline_e2e"],
            "mem_probe_lo": lo.get("mem_probe_mbps"),
            "mem_probe_hi": hi.get("mem_probe_mbps"),
            "paired_ratio": round(ratio, 3),
        })
        print(json.dumps(pairs[-1]), flush=True)
    ratios = sorted(p["paired_ratio"] for p in pairs)
    median = ratios[len(ratios) // 2] if len(ratios) % 2 else round(
        (ratios[len(ratios) // 2 - 1] + ratios[len(ratios) // 2]) / 2, 3)
    print(json.dumps({"mode": "scaling_paired", "n_files": N_FILES,
                      "pair": list(pair), "rounds": rounds,
                      "median_paired_ratio": median, "pairs": pairs}))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        queries()
    elif mode == "scaling_paired":
        scaling_paired()
    else:
        raise SystemExit(f"unknown mode {mode}")
