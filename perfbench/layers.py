"""Traced run: spans around calls into each module's public functions,
Spark jobs attributed by job group, and the per-layer metrics.

Every span sets its own job group (``bench:<name>``) for the calls it
wraps and restores the parent's on exit. Spans live in memory and are
written once, at the end. A span's self time is its duration minus the
part its child spans cover. Jobs the pipeline submits from its own
threads carry no group (a Python thread does not inherit one); they are
given to the innermost span whose window holds their submission time.

Python-worker time is not in the executor metrics of the event log, so
kernel time comes from in-process spans around the kernel calls.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager

import evlog

GROUP_PREFIX = "bench:"
ARROW_BATCH = 2048  # the session's spark.sql.execution.arrow.maxRecordsPerBatch

# every per-layer metric a traced run reports, with its unit
PER_LAYER = {
    "kernels.tokenize_s": "s", "kernels.token_hash_s": "s", "kernels.shingle_s": "s",
    "kernels.unique_sets_s": "s", "kernels.minhash_s": "s", "kernels.simhash_s": "s",
    "kernels.kmv_build_s": "s", "kernels.total_s": "s", "kernels.shingles_per_s": "1/s",
    "kernels.over_k_frac": "ratio",
    "signatures.stage_s": "s", "signatures.tasks": "count", "signatures.boundary_s": "s",
    "exact_dedup.s": "s", "exact_dedup.distinct_frac": "ratio",
    "lsh.bands_s": "s", "lsh.bucket_stats_s": "s", "lsh.buckets_gt1": "count",
    "lsh.dropped_buckets": "count", "lsh.candidate_edges": "count",
    "verify.s": "s", "verify.candidate_pairs": "count", "verify.verified_pairs": "count",
    "verify.useful_ratio": "ratio", "verify.over_k_pairs": "count",
    "verify.shuffle_write_mb": "MB",
    "cc.s": "s", "cc.rounds": "count", "cc.edges_in": "count",
    "checkpoints.bytes_written_mb": "MB", "checkpoints.stages_written": "count",
    "checkpoints.resume_s": "s",
    "pipeline.jobs": "count", "pipeline.tasks": "count", "pipeline.driver_gap_s": "s",
    "pipeline.shuffle_write_mb": "MB", "pipeline.executor_run_s": "s", "pipeline.gc_s": "s",
    "pipeline.traced_wall_s": "s",
    "session.start_s": "s", "session.peak_rss_mb": "MB",
}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, spark_calls: bool = True):
        parent = self._stack[-1] if self._stack else None
        if spark_calls:
            self.sc.setJobGroup(GROUP_PREFIX + name, name)
        self._stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            self.spans.append({"name": name, "parent": parent, "start": t0, "end": t1})
            if spark_calls:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(GROUP_PREFIX + parent, parent)

    def get(self, name: str) -> dict:
        return next(s for s in reversed(self.spans) if s["name"] == name)

    def seconds(self, name: str) -> float:
        s = self.get(name)
        return s["end"] - s["start"]

    def self_time(self, name: str) -> float:
        s = self.get(name)
        kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == name]
        return (s["end"] - s["start"]) - evlog.covered(kids)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)

    def jobs_of(self, name: str, all_jobs: list[dict]) -> list[dict]:
        """Jobs in the span's group, plus group-less jobs submitted inside
        its window and inside no other span that started later."""
        s = self.get(name)
        mine = [j for j in all_jobs if j["group"] == GROUP_PREFIX + name]
        inner = [c for c in self.spans if c["start"] >= s["start"] and c["end"] <= s["end"]
                 and c is not s]
        for j in all_jobs:
            if j["group"] == evlog.NO_GROUP and s["start"] <= j["submit"] <= s["end"] and not any(
                    c["start"] <= j["submit"] <= c["end"] for c in inner):
                mine.append(j)
        return mine


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def kernel_metrics(tr: Tracer, contents: list[str], cfg) -> dict:
    """Single-process time of each NumPy kernel over ``contents``, in the
    signature stage's Arrow-batch shape."""
    import numpy as np

    from datasketches_spark.kernels import kmv, minhash, shingles, simhash

    names = ["tokenize", "token_hash", "shingle", "unique_sets", "minhash", "simhash",
             "kmv_build"]
    secs = dict.fromkeys(names, 0.0)
    n_shingles = n_over_k = 0
    params = minhash.perm_params(cfg.num_perm, cfg.seed)

    def timed(name, fn, *a, **kw):
        t0 = time.perf_counter()
        out = fn(*a, **kw)
        secs[name] += time.perf_counter() - t0
        return out

    with tr.span("kernels", spark_calls=False):
        for i in range(0, len(contents), ARROW_BATCH):
            texts = contents[i:i + ARROW_BATCH]
            toks = timed("tokenize", lambda: [shingles.tokenize(t or "") for t in texts])
            th = timed("token_hash", shingles.hash_tokens_batch, toks, cfg.seed)
            streams = timed("shingle", shingles.shingle_hashes_batch, th, cfg.ngram, cfg.seed)
            sets = timed("unique_sets", shingles.unique_sets_batch, streams)
            timed("minhash", minhash.signatures_batch, sets, cfg.num_perm, cfg.seed, params)
            timed("simhash", simhash.fingerprints_batch, sets)
            timed("kmv_build", kmv.build_batch, sets, k=cfg.k, seed=cfg.seed, p=cfg.p)
            sizes = np.fromiter((s.shape[0] for s in sets), dtype=np.int64, count=len(sets))
            n_shingles += int(sizes.sum())
            n_over_k += int((sizes > cfg.k).sum())
    out = {f"kernels.{n}_s": v for n, v in secs.items()}
    total = sum(secs.values())
    out["kernels.shingles_per_s"] = n_shingles / total if total else 0.0
    out["kernels.over_k_frac"] = n_over_k / max(1, len(contents))
    out["kernels.total_s"] = total
    return out


def operator_metrics(tr: Tracer, spark, docs, wl, cfg, run_dir: str, n_files: int) -> dict:
    """The pipeline's operators called one by one, each in its own span."""
    from pyspark.sql import functions as F

    from datasketches_spark.operators import exact_dedup, lsh, verify
    from datasketches_spark.operators.connected_components import connected_components
    from datasketches_spark.operators.signatures import build_signatures
    from datasketches_spark.plans.checkpoints import CheckpointStore

    m: dict = {}
    cores = spark.sparkContext.defaultParallelism
    base = docs.withColumnRenamed("id", "doc_id")
    with tr.span("exact_dedup"):
        hashed = exact_dedup.with_sha256(base).persist()
        groups = exact_dedup.exact_dup_groups(hashed)
        exact_edges = exact_dedup.exact_dup_edges(hashed, groups).persist()
        exact_edges.count()
        reps = exact_dedup.distinct_content_docs(hashed).select("doc_id", "content")
        # the pipeline's task count for the signature stage
        reps = reps.repartition(max(64, 2 * cores)).persist()
        n_distinct = reps.count()
    m["exact_dedup.distinct_frac"] = n_distinct / n_files

    with tr.span("signatures"):
        _noop(build_signatures(reps, cfg))
    sig = build_signatures(reps, cfg).persist()
    sig.count()

    with tr.span("lsh.bands"):
        bands = lsh.band_table(sig, cfg).persist()
        bands.count()
    with tr.span("lsh.bucket_stats"):
        stats = lsh.bucket_stats(bands).filter(F.col("bucket_size") > 1).persist()
        row = stats.agg(F.count(F.lit(1)).alias("gt1"),
                        F.count(F.when(F.col("bucket_size") > cfg.bucket_cap, 1)).alias("drop"),
                        ).first()
    m["lsh.buckets_gt1"] = int(row["gt1"])
    m["lsh.dropped_buckets"] = int(row["drop"])
    with tr.span("lsh.candidate_edges"):
        star, _ = lsh.candidate_edges(bands, cfg, stats)
        star = star.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b")).persist()
        n_star = star.count()
    m["lsh.candidate_edges"] = n_star

    store = None
    if wl.use_store and not wl.light_stages:
        store = CheckpointStore(spark, os.path.join(run_dir, "verify_store"), cfg)
    with tr.span("verify"):
        verified = verify.verify_star_edges_with_fallback(
            bands, stats, sig, cfg, store=store,
            store_upstream=["signatures", "bands", "bucket_stats"]).persist()
        n_verified = verified.count()
    # the candidate set the fallback re-enumerates: every pair inside a
    # bucket that holds a star edge which failed verification
    memb = bands.join(stats.filter(F.col("bucket_size") <= cfg.bucket_cap)
                      .select("band", "bhash", "rep"), ["band", "bhash"])
    passed = star.join(verified.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
    failed = star.join(passed, ["id_a", "id_b"], "left_anti")
    bad = (memb.join(failed.select(F.col("id_a").alias("rep"), F.col("id_b").alias("doc_id")),
                     ["rep", "doc_id"]).select("band", "bhash").distinct())
    bb = memb.join(bad, ["band", "bhash"])
    fb = (bb.select("band", "bhash", F.col("doc_id").alias("id_a"))
          .join(bb.select("band", "bhash", F.col("doc_id").alias("id_b")), ["band", "bhash"])
          .filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b").distinct()
          .join(passed, ["id_a", "id_b"], "left_anti"))
    cands = star.unionByName(fb).persist()
    n_cand = cands.count()
    # candidates with a file above k shingles: verify's estimation branch
    big = sig.filter(F.col("n_shingles") > cfg.k).select("doc_id")
    n_over_k = (cands.join(big.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi")
                .unionByName(cands.join(big.select(F.col("doc_id").alias("id_b")), "id_b",
                                        "left_semi")).distinct().count())
    m["verify.candidate_pairs"] = n_cand
    m["verify.verified_pairs"] = n_verified
    m["verify.useful_ratio"] = n_verified / n_cand if n_cand else 1.0
    m["verify.over_k_pairs"] = n_over_k

    edges = verified.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")) \
        .unionByName(exact_edges).persist()
    m["cc.edges_in"] = edges.count()
    with tr.span("cc"):
        _noop(connected_components(edges))
    spark.catalog.clearCache()
    if store is not None:
        shutil.rmtree(store.root, ignore_errors=True)
    return m


def pipeline_metrics(tr: Tracer, name: str, all_jobs: list[dict]) -> dict:
    js = tr.jobs_of(name, all_jobs)
    s = tr.get(name)
    busy = evlog.covered([(max(j["submit"], s["start"]), min(j["end"], s["end"]))
                           for j in js])
    r = evlog.rollup(js)
    return {
        "pipeline.jobs": r["jobs"],
        "pipeline.tasks": r["tasks"],
        "pipeline.driver_gap_s": (s["end"] - s["start"]) - busy,
        "pipeline.shuffle_write_mb": r["shuffle_write_mb"],
        "pipeline.executor_run_s": r["executor_run_s"],
        "pipeline.gc_s": r["gc_s"],
        "pipeline.traced_wall_s": s["end"] - s["start"],
    }


def store_metrics(ckpt: str | None) -> dict:
    if ckpt is None or not os.path.isdir(ckpt):
        return {"checkpoints.bytes_written_mb": 0.0, "checkpoints.stages_written": 0}
    size = n_manifests = 0
    for d, _, files in os.walk(ckpt):
        for f in files:
            size += os.path.getsize(os.path.join(d, f))
            n_manifests += f == "manifest.json"
    return {"checkpoints.bytes_written_mb": size / 1e6,
            "checkpoints.stages_written": n_manifests}


def layer_job_metrics(tr: Tracer, all_jobs: list[dict], kern: dict, cores: int) -> dict:
    """Per-layer numbers that come from the event log and the spans."""
    def rollup(name):
        return evlog.rollup(tr.jobs_of(name, all_jobs))

    sig_s = tr.seconds("signatures")
    cc = tr.jobs_of("cc", all_jobs)
    return {
        "signatures.stage_s": sig_s,
        "signatures.tasks": rollup("signatures")["tasks"],
        "signatures.boundary_s": sig_s - kern["kernels.total_s"] / cores,
        "exact_dedup.s": tr.seconds("exact_dedup"),
        "lsh.bands_s": tr.seconds("lsh.bands"),
        "lsh.bucket_stats_s": tr.seconds("lsh.bucket_stats"),
        "verify.s": tr.seconds("verify"),
        "verify.shuffle_write_mb": rollup("verify")["shuffle_write_mb"],
        "cc.s": tr.seconds("cc"),
        # one convergence-check job per checked round
        "cc.rounds": sum(1 for j in cc if j["call_site"].startswith("first at")),
    }
