"""Round-5 additions: trimmed Jaccard point estimate, loud non-string
token failure, full-coverage POSIX input fingerprint, light-stages
checkpoint mode."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketches_spark.config import DedupConfig
from datasketches_spark.kernels import kmv

CFG = DedupConfig()


# --------------------------- loud failure on non-string tokens (ADVICE r4)

def test_hash_tokens_batch_rejects_non_string_token():
    """pd.factorize codes missing values as -1; a negative gather would
    silently alias the LAST unique's hash — the kernel must raise instead
    (the public API once failed loudly via .encode(None))."""
    from datasketches_spark.kernels import shingles

    with pytest.raises(TypeError, match="non-string token"):
        shingles.hash_tokens_batch([["a", None, "b"]])
    with pytest.raises(TypeError, match="non-string token"):
        shingles.hash_tokens_batch([["a"], [float("nan")]])
    # strings still hash exactly as before
    (h,) = shingles.hash_tokens_batch([["a", "b", "a"]])
    (h2,) = shingles.hash_tokens_batch([["a", "b", "a"]])
    assert np.array_equal(h, h2) and h.shape == (3,) and h[0] == h[2]


# --------------------------------- trimmed Jaccard point estimate corner

def test_jaccard_kmv_both_empty_is_one(spark):
    """kmv.jaccard's corner: J(∅, ∅) = 1 — the column estimate and the
    grouped bucket pass must agree (the column once returned 0 for the
    empty-union case)."""
    from datasketches_spark.operators import lsh
    from datasketches_spark.operators.verify import (
        verify_pairs,
        verify_star_edges_with_fallback,
    )

    sig = spark.createDataFrame(
        [(0, [0] * CFG.num_perm, [], kmv.MAX_THETA_LONG),
         (1, [0] * CFG.num_perm, [], kmv.MAX_THETA_LONG)],
        "doc_id LONG, minhash ARRAY<LONG>, kmv_entries ARRAY<LONG>, kmv_theta LONG")
    pairs = spark.createDataFrame([(0, 1)], "id_a LONG, id_b LONG")
    r = verify_pairs(pairs, sig, CFG, keep_below_threshold=True,
                     with_bounds=True).collect()[0]
    lb, est, ub = kmv.jaccard(kmv.empty_sketch(), kmv.empty_sketch(), k=CFG.k)
    assert (r["jaccard_kmv"], r["jaccard_lb"], r["jaccard_ub"]) == (est, lb, ub) == (1.0, 1.0, 1.0)
    bands = spark.createDataFrame([(0, 0, 42), (1, 0, 42)], "doc_id LONG, band INT, bhash LONG")
    (g,) = verify_star_edges_with_fallback(bands, lsh.bucket_stats(bands), sig, CFG).collect()
    assert (g["id_a"], g["id_b"], g["jaccard_kmv"]) == (0, 1, est)


# ------------------------- full-coverage POSIX fingerprint (no sample hole)

def test_fingerprint_detects_inplace_overwrite_of_any_file(spark, tmp_path, monkeypatch):
    """An in-place same-size overwrite of ANY input file must change the
    fingerprint — even one a stat SAMPLE would skip (DSS_FP_MAX_STAT=1
    reproduces the old sampled hole; POSIX inputs now bulk-stat every
    file via scandir)."""
    from datasketches_spark.plans.checkpoints import input_fingerprint

    monkeypatch.setenv("DSS_FP_MAX_STAT", "1")
    path = str(tmp_path / "tbl")
    spark.range(100).repartition(8).write.parquet(path)
    df = spark.read.parquet(path)
    fp1 = input_fingerprint(df)
    # same-size in-place touch of the LAST data file (never the single
    # stride-sample head): bump mtime only
    parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    victim = os.path.join(path, parts[-1])
    st = os.stat(victim)
    os.utime(victim, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    fp2 = input_fingerprint(spark.read.parquet(path))
    assert fp1 != fp2


def test_fingerprint_stable_without_changes(spark, tmp_path):
    from datasketches_spark.plans.checkpoints import input_fingerprint

    path = str(tmp_path / "tbl2")
    spark.range(50).write.parquet(path)
    fp1 = input_fingerprint(spark.read.parquet(path))
    fp2 = input_fingerprint(spark.read.parquet(path))
    assert fp1 == fp2 and fp1 is not None


# ------------------------------------------ light-stages checkpoint mode

HEAVY_STAGES = {"signatures", "verified_edges", "clusters",
                "cluster_assignments", "dup_pairs"}


def test_light_mode_equals_full_mode(spark, tmp_path):
    """light_stages and the checkpoint root must change WHERE
    materialization happens, never the results: identical clusters and
    dup_pairs in full, checkpoint-light and store-less light mode, each
    recording its decisions, and only the expensive stage boundaries get
    checkpoint manifests in light mode."""
    from datasketches_spark.pipeline import run_dedup
    from datasketches_spark.sources.corpus import generate_corpus

    cpath = str(tmp_path / "corpus")
    generate_corpus(spark, 400, seed=7).write.parquet(cpath)
    corpus = spark.read.parquet(cpath)
    full = run_dedup(spark, corpus, CFG, checkpoint_dir=str(tmp_path / "full"))
    light = run_dedup(spark, corpus, CFG, checkpoint_dir=str(tmp_path / "light"),
                      light_stages=True)
    storeless = run_dedup(spark, corpus, CFG, light_stages=True)
    fp = sorted((r["id_a"], r["id_b"]) for r in full.dup_pairs.collect())
    lp = sorted((r["id_a"], r["id_b"]) for r in light.dup_pairs.collect())
    sp = sorted((r["id_a"], r["id_b"]) for r in storeless.dup_pairs.collect())
    assert fp == lp == sp and len(fp) > 0
    fc = sorted((r["doc_id"], r["cluster_id"]) for r in full.clusters.collect())
    lc = sorted((r["doc_id"], r["cluster_id"]) for r in light.clusters.collect())
    sl = sorted((r["doc_id"], r["cluster_id"]) for r in storeless.clusters.collect())
    assert fc == lc == sl
    for res in (full, light, storeless):
        assert "decisions" in res.metrics
        # every edge is one pair here: the CC solver choice sees the same
        # edge count in all three modes
        assert res.metrics["decisions"]["n_edges"] == len(fp)
        assert res.metrics["decisions"]["cc_local"] is True
    light_manifests = {d for d in os.listdir(str(tmp_path / "light"))
                       if os.path.isfile(os.path.join(str(tmp_path / "light"), d, "manifest.json"))}
    assert light_manifests == HEAVY_STAGES
    full_manifests = {d for d in os.listdir(str(tmp_path / "full"))
                      if os.path.isfile(os.path.join(str(tmp_path / "full"), d, "manifest.json"))}
    assert HEAVY_STAGES < full_manifests  # full mode keeps every stage


def test_light_mode_resume(spark, tmp_path):
    """A second light-mode run over the same dir resumes every HEAVY stage
    (manifest chains resolve through the skipped light stages) and yields
    identical pairs."""
    from datasketches_spark.pipeline import run_dedup
    from datasketches_spark.sources.corpus import generate_corpus

    cpath = str(tmp_path / "corpus")
    generate_corpus(spark, 400, seed=9).write.parquet(cpath)
    corpus = spark.read.parquet(cpath)
    ckpt = str(tmp_path / "ckpt")
    r1 = run_dedup(spark, corpus, CFG, checkpoint_dir=ckpt, light_stages=True)
    p1 = sorted((r["id_a"], r["id_b"]) for r in r1.dup_pairs.collect())
    r2 = run_dedup(spark, corpus, CFG, checkpoint_dir=ckpt, light_stages=True)
    p2 = sorted((r["id_a"], r["id_b"]) for r in r2.dup_pairs.collect())
    assert p1 == p2
    with open(os.path.join(ckpt, "metrics.json")) as f:
        m = json.load(f)
    resumed = {s["stage"] for s in m["lineage"] if s.get("resumed")}
    assert resumed == HEAVY_STAGES, m["lineage"]


def test_light_mode_cross_mode_never_stale_resumes(spark, tmp_path):
    """A light-mode run over a FULL-mode checkpoint dir (and vice versa)
    must recompute, not resume against mismatched upstream chains."""
    from datasketches_spark.pipeline import run_dedup
    from datasketches_spark.sources.corpus import generate_corpus

    cpath = str(tmp_path / "corpus")
    generate_corpus(spark, 200, seed=3).write.parquet(cpath)
    corpus = spark.read.parquet(cpath)
    ckpt = str(tmp_path / "ckpt")
    run_dedup(spark, corpus, CFG, checkpoint_dir=ckpt)  # full
    r2 = run_dedup(spark, corpus, CFG, checkpoint_dir=ckpt, light_stages=True)
    with open(os.path.join(ckpt, "metrics.json")) as f:
        m = json.load(f)
    # the heavy stages were written by full mode with different upstream
    # chains -> light mode recomputes them (no silent stale resume)
    resumed = {s["stage"] for s in m["lineage"] if s.get("resumed")}
    assert resumed == set(), m["lineage"]
    assert r2.dup_pairs.count() >= 0


# ---------------------------------------- media near-dup pairs (planted)

def test_media_near_dups_planted_recall(spark):
    """Planted slightly-perturbed images (4 pixels ±1 grey level) must be
    recovered by decode → features → hyperplane-LSH cosine pairs, and
    unrelated random images must not flood in at the 0.995 threshold."""
    from datasketches_spark.operators.multimodal import (
        media_near_dup_pairs, synthetic_media_with_near_dups)

    n, roles, dup_role = 200, 5, 4
    media = synthetic_media_with_near_dups(spark, n, seed=11, roles=roles,
                                           dup_role=dup_role)
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in media_near_dup_pairs(media, dim=64, threshold=0.995,
                                         fake=False).collect()}
    truth = {(m - 1, m) for m in range(n) if m % roles == dup_role}
    hit = sum(1 for p in truth if p in got)
    assert hit / len(truth) >= 0.95, (hit, len(truth))
    for p in truth:
        if p in got:
            assert got[p] > 0.995
    # precision guard: unrelated pairs must not flood in
    extras = set(got) - truth
    assert len(extras) <= 0.1 * len(truth), sorted(extras)[:10]


def test_media_near_dups_fake_codec_path(spark):
    """The fake-decoder branch (unsupported codecs) flows through the same
    LSH plumbing: identical payloads collide at cosine 1."""
    import pandas as pd

    from datasketches_spark.operators.multimodal import MEDIA_SCHEMA, media_near_dup_pairs

    payload = b"\x00FAKECODEC" + bytes(range(64))
    rows = [(0, "image", "image/jpeg", payload, None),
            (1, "image", "image/jpeg", payload, None),
            (2, "image", "image/jpeg", b"\x00OTHER" + bytes(range(64)), None)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {(r["id_a"], r["id_b"]) for r in
           media_near_dup_pairs(media, dim=32, threshold=0.999, fake=True).collect()}
    assert (0, 1) in got and not any(2 in p for p in got)


# ---------------------------------------- light-mode job-count regression

def test_light_mode_job_count_bounded(spark, tmp_path):
    """The light-stages fixed floor is (jobs x per-job scheduler latency);
    the pipeline plus the count below runs 13 jobs here, the prewarm and
    dup_pairs threads' jobs included. Pin a ceiling via a job group so a
    regression back toward the 79-job AQE-per-query-stage regime (or a
    new accidental count/materialization action) fails loudly. The
    ceiling is the measured count + 3."""
    from datasketches_spark.pipeline import run_dedup
    from datasketches_spark.sources.corpus import generate_corpus

    cpath = str(tmp_path / "corpus")
    generate_corpus(spark, 400, seed=11).write.parquet(cpath)
    corpus = spark.read.parquet(cpath)
    sc = spark.sparkContext
    sc.setJobGroup("light_job_count", "job-count regression probe")
    try:
        res = run_dedup(spark, corpus, CFG, checkpoint_dir=str(tmp_path / "ck"),
                        light_stages=True)
        assert res.clusters.count() == 400
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("light_job_count")
    # the terminal clusters.count() above is included
    assert 0 < len(jobs) <= 16, f"light-mode pipeline ran {len(jobs)} jobs"
    # the signature stage ran one task per core: one part file each
    ck = tmp_path / "ck" / "signatures"
    data_dir = json.loads((ck / "manifest.json").read_text())["data_dir"]
    parts = [f for f in os.listdir(ck / data_dir) if f.startswith("part-")]
    assert len(parts) == sc.defaultParallelism


# ------------------------------------------------- round-5 session seams

def test_parse_extra_conf():
    """SPARK_GRAFT_CONF parsing: k=v;k2=v2, values may contain '=',
    blanks/empty entries ignored, later duplicates win."""
    from datasketches_spark.session import parse_extra_conf

    assert parse_extra_conf("") == {}
    assert parse_extra_conf(None) == {}
    assert parse_extra_conf("a=1;b=2") == {"a": "1", "b": "2"}
    assert parse_extra_conf(" a = 1 ; ;noequals; b = x=y ") == {
        "a": "1", "b": "x=y"}
    assert parse_extra_conf("a=1;a=2") == {"a": "2"}


def test_run_dedup_light_restores_session_conf(spark):
    """run_dedup(light_stages=True) sets spark.sql.shuffle.partitions to
    one task per core and disables AQE for the run; both must be restored
    on exit so later queries in the same session plan under the caller's
    configuration."""
    from datasketches_spark.config import DedupConfig
    from datasketches_spark.pipeline import run_dedup
    from datasketches_spark.sources.corpus import generate_corpus

    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    docs = generate_corpus(spark, 200, seed=7)
    res = run_dedup(spark, docs, DedupConfig(), light_stages=True)
    res.clusters.count()
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_sp
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev_aqe
    # store-less light mode: the signature stage ran one task per core
    n_cores = spark.sparkContext.defaultParallelism
    assert res.signatures.rdd.getNumPartitions() == n_cores
