"""Near-duplicate dedup benchmark.

    python3 perfbench/run.py --workload planted --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It generates the workload's documents
from ``--seed`` (perfbench/workloads.py), starts one local Spark session
at ``local[<cpus>]`` with an 8g driver, warms up with one ``run_dedup``
on the lowest tenth of the ids, then calls ``run_dedup`` in the
workload's mode until ``--seconds`` have passed (at least once).

Every call is checked: one cluster row per file, clusters equal to the
connected components of the reported pairs, and one digest of pairs and
clusters across calls and across earlier runs of the same input and the
same package files in this checkout. The pairs are scored against an
exact 5-gram Jaccard oracle (perfbench/oracle.py): recall and precision
must reach 0.99.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a
separate run with the Spark event log on: it calls each module's public
functions from outside, one span each (perfbench/layers.py), and reports
the per-layer metrics. Both print one JSON object as the last line:
``{"correct", "attempted", "failed", "metrics"}``.

All files go under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import evlog
import layers
import oracle
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "8g"
WARMUP_FRACTION = 0.1  # of the input, as its lowest ids
MIN_ITERS = 1
ITER_TIMEOUT_S = 110.0
RUN_BUDGET_S = 165.0  # stop starting iterations that would end past this
MIN_RECALL = 0.99
MIN_PRECISION = 0.99
PRECISION_MARGIN = 0.05


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def set_venue(run_dir: str, eventlog: str | None) -> None:
    """Pin every setting the session factory reads, so the caller's
    environment cannot change the venue."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in [k for k in os.environ if k.startswith(("SPARK_GRAFT_", "DSS_", "BENCH_"))]:
        del os.environ[k]
    os.environ.pop("DEDUP_PROFILE", None)
    os.environ.update({
        "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "spark-local"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CONF": ";".join([
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress=false",
            "spark.eventLog.compress=false",
        ]),
    })
    if eventlog:
        os.environ["SPARK_GRAFT_EVENTLOG"] = eventlog


class Session:
    """One Spark session; ``close`` stops it and waits for its JVM."""

    def __init__(self):
        from datasketches_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0

    def collect_garbage(self) -> None:
        """Full GC in the JVM and here, so no iteration inherits another's
        garbage."""
        gc.collect()
        self.spark._jvm.System.gc()

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        spark, self.spark = self.spark, None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            spark.stop()
            gw.shutdown()
        finally:
            # the JVM exits when its stdin closes, even if stop() failed
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def write_input(docs, run_dir: str, name: str) -> str:
    path = os.path.join(run_dir, f"{name}.parquet")
    docs.to_parquet(path, index=False)
    return path


def input_digest(wl) -> str:
    h = hashlib.sha256()
    for c in wl.docs["content"]:
        h.update(c.encode())
        h.update(b"\0")
    return h.hexdigest()[:16]


class Iteration:
    """One ``run_dedup`` call, timed until both deliverables exist, and
    its collected outputs."""

    def __init__(self, spark, wl, docs, cfg, ckpt: str | None, span=contextlib.nullcontext):
        from datasketches_spark.pipeline import run_dedup

        sc = spark.sparkContext
        timer = threading.Timer(ITER_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        try:
            with span():
                t0 = time.perf_counter()
                res = run_dedup(spark, docs, cfg, checkpoint_dir=ckpt,
                                light_stages=wl.light_stages)
                clusters, pairs = res.clusters, res.dup_pairs
                if ckpt is None:
                    # store-less: the deliverables are plans until computed
                    clusters = clusters.persist()
                    clusters.count()
                    pairs = pairs.persist()
                    pairs.count()
                self.wall_s = time.perf_counter() - t0
        finally:
            timer.cancel()
        self.clusters = [tuple(r) for r in clusters.select("doc_id", "cluster_id").collect()]
        self.pairs = [tuple(r) for r in pairs.select("id_a", "id_b", "kind").collect()]
        spark.catalog.clearCache()

    def digest(self) -> str:
        return oracle.digest(self.pairs) + oracle.digest(self.clusters)

    def problem(self, n_files: int) -> str | None:
        ids = sorted(d for d, _ in self.clusters)
        if ids != list(range(n_files)):
            return f"{len(self.clusters)} cluster rows for {n_files} files"
        if any(a >= b for a, b, _ in self.pairs):
            return "a pair with id_a >= id_b"
        if oracle.components(ids, self.pairs) != dict(self.clusters):
            return "clusters are not the connected components of the pairs"
        return None


def program_digest() -> str:
    """Hash of the package's files, so that outputs of different code are
    never compared with each other."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "datasketches_spark")
    for d, dirs, files in os.walk(pkg):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for f in sorted(files):
            path = os.path.join(d, f)
            h.update(os.path.relpath(path, pkg).encode() + b"\0")
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def check_digest(wl, seed: int, value: str) -> str | None:
    """Compare with the digest earlier runs of the same code recorded for
    this input."""
    key = f"{wl.name}:{seed}:{input_digest(wl)}:{program_digest()}"
    path = os.path.join(WORK, "digests.json")
    known = {}
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
    if key in known:
        return None if known[key] == value else f"digest {value} != earlier {known[key]}"
    known[key] = value
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(known, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return None


class TruthThread(threading.Thread):
    """Computes the oracle truth while the Spark session starts (the JVM
    start mostly waits), so the check does not lengthen the run."""

    def __init__(self, wl, cfg):
        super().__init__(daemon=True)
        self.wl, self.cfg = wl, cfg
        self.truth = self.error = None
        self.start()

    def run(self) -> None:
        try:
            self.truth = oracle.Truth(self.wl.docs["id"].to_numpy(),
                                      self.wl.docs["content"].tolist(),
                                      self.cfg.jaccard_threshold, self.cfg.ngram)
        except Exception as e:  # re-raised in the main thread by score()
            self.error = e

    def score(self, it: Iteration) -> dict[str, float]:
        self.join()
        if self.error is not None:
            raise self.error
        return oracle.score(self.truth, it.pairs, dict(it.clusters), PRECISION_MARGIN)


def quality_problems(q: dict[str, float]) -> list[str]:
    out = []
    if q["recall"] < MIN_RECALL:
        out.append(f"pair_recall {q['recall']:.4f} < {MIN_RECALL}")
    if q["precision"] < MIN_PRECISION:
        out.append(f"pair_precision {q['precision']:.4f} < {MIN_PRECISION}")
    return out


def timed_run(args, wl, sess: Session, docs, run_dir: str, truth: TruthThread,
              setup_s: float, deadline: float) -> dict:
    cfg = truth.cfg
    n_files = len(wl.docs)
    walls, problems, digests, last = [], [], set(), None
    attempted = 0
    t_start = time.perf_counter()
    while attempted < MIN_ITERS or time.perf_counter() - t_start < args.seconds:
        if walls and time.perf_counter() + 1.5 * max(walls) > deadline:
            break
        attempted += 1
        sess.collect_garbage()
        ckpt = os.path.join(run_dir, f"ckpt{attempted}") if wl.use_store else None
        try:
            it = Iteration(sess.spark, wl, docs, cfg, ckpt)
        except Exception as e:  # a failed iteration is counted, not fatal
            problems.append(f"iteration {attempted}: {type(e).__name__}: {e}")
            continue
        finally:
            if ckpt:
                shutil.rmtree(ckpt, ignore_errors=True)
        p = it.problem(n_files)
        if p:
            problems.append(f"iteration {attempted}: {p}")
            continue
        walls.append(it.wall_s)
        digests.add(it.digest())
        last = it
    if last is None:
        raise RuntimeError("every iteration failed: " + "; ".join(problems))
    if len(digests) > 1:
        problems.append(f"outputs differ across iterations: {sorted(digests)}")
    p = check_digest(wl, args.seed, sorted(digests)[0])
    if p:
        problems.append(p)
    q = truth.score(last)
    problems += quality_problems(q)
    failed = attempted - len(walls)
    med = statistics.median(walls)
    print(f"{wl.name}: n_files={n_files} dedup_wall_s median={med:.3f} "
          f"max={max(walls):.3f} n={len(walls)} failed_frac={failed / attempted:.3f} "
          f"setup_s={setup_s:.3f} (session {sess.start_s:.3f}) "
          f"driver_peak_rss_mb={sess.peak_rss_mb():.1f} "
          f"recall={q['recall']:.4f} direct_recall={q['direct_recall']:.4f} "
          f"precision={q['precision']:.4f}")
    for p in problems:
        print(f"problem: {p}")
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "dedup_wall_s": {"value": med, "unit": "s"},
            "files_per_s": {"value": n_files / med, "unit": "files/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "pair_recall": {"value": q["recall"], "unit": "ratio"},
            "direct_pair_recall": {"value": q["direct_recall"], "unit": "ratio"},
            "pair_precision": {"value": q["precision"], "unit": "ratio"},
        },
    }


def traced_run(args, wl, sess: Session, docs, run_dir: str, truth: TruthThread,
               eventlog: str) -> dict:
    spark, cfg = sess.spark, truth.cfg
    tr = layers.Tracer(spark.sparkContext)
    n_files = len(wl.docs)
    # the traced run_dedup comes first, as warm as a timed call, so that
    # its wall minus the untraced median is the cost of tracing
    ckpt = os.path.join(run_dir, "ckpt_traced") if wl.use_store else None
    problems = []
    sess.collect_garbage()
    it = Iteration(spark, wl, docs, cfg, ckpt, span=lambda: tr.span("run_dedup"))
    p = it.problem(n_files)
    if p:
        problems.append(p)
    m = layers.store_metrics(ckpt)
    m["checkpoints.resume_s"] = 0.0
    attempted = 1
    if ckpt:
        attempted += 1
        again = Iteration(spark, wl, docs, cfg, ckpt, span=lambda: tr.span("resume"))
        m["checkpoints.resume_s"] = tr.seconds("resume")
        if again.digest() != it.digest():
            problems.append("resumed run gave different outputs")
        shutil.rmtree(ckpt, ignore_errors=True)
    reps = wl.docs.drop_duplicates("content")["content"].tolist()
    kern = layers.kernel_metrics(tr, reps, cfg)
    m.update(layers.operator_metrics(tr, spark, docs, wl, cfg, run_dir, n_files))
    p = check_digest(wl, args.seed, it.digest())
    if p:
        problems.append(p)
    problems += quality_problems(truth.score(it))
    m["session.start_s"] = sess.start_s
    m["session.peak_rss_mb"] = sess.peak_rss_mb()
    sess.close()
    all_jobs = evlog.jobs(eventlog)
    m.update(kern)
    m.update(layers.layer_job_metrics(tr, all_jobs, kern, cpus()))
    m.update(layers.pipeline_metrics(tr, "run_dedup", all_jobs))
    tr.write(os.path.join(WORK, f"spans_{wl.name}_{args.seed}.json"))
    shares = {s["name"]: tr.self_time(s["name"]) for s in tr.spans}
    total = sum(shares.values())
    print(f"{wl.name}: self-time shares " + " ".join(
        f"{k}={v / total:.3f}" for k, v in sorted(shares.items(), key=lambda kv: -kv[1])))
    for p in problems:
        print(f"problem: {p}")
    missing = set(layers.PER_LAYER) ^ set(m)
    if missing:
        raise RuntimeError(f"per-layer metrics out of step with PER_LAYER: {sorted(missing)}")
    out = {k: {"value": m[k], "unit": u} for k, u in layers.PER_LAYER.items()}
    return {"correct": not problems, "attempted": attempted,
            "failed": min(len(problems), attempted),
            "metrics": out}


def main(argv: list[str] | None = None) -> int:
    deadline = time.perf_counter() + RUN_BUDGET_S
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    try:
        from datasketches_spark.config import DedupConfig
    except ImportError as e:
        print(f"program under test not found next to perfbench/: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    eventlog = os.path.join(run_dir, "eventlog") if args.trace else None
    set_venue(run_dir, eventlog)
    sess = None
    try:
        t_setup = time.perf_counter()
        wl = workloads.make(args.workload, args.seed)
        path = write_input(wl.docs, run_dir, "input")
        warm_path = write_input(wl.docs.iloc[:int(len(wl.docs) * WARMUP_FRACTION)], run_dir,
                                "warmup")
        cfg = DedupConfig()
        truth = TruthThread(wl, cfg)
        sess = Session()
        # warm-up: one run_dedup in the workload's mode on a slice of the
        # input (worker start, code generation and JIT cost about as much
        # as on the whole input)
        ckpt = os.path.join(run_dir, "warmup_ckpt") if wl.use_store else None
        Iteration(sess.spark, wl, sess.spark.read.parquet(warm_path), cfg, ckpt)
        docs = sess.spark.read.parquet(path)
        setup_s = time.perf_counter() - t_setup
        if args.trace:
            result = traced_run(args, wl, sess, docs, run_dir, truth, eventlog)
        else:
            result = timed_run(args, wl, sess, docs, run_dir, truth, setup_s, deadline)
    finally:
        try:
            if sess is not None:
                sess.close()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
