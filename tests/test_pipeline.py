"""Layer-3 end-to-end: planted-truth recall, sha256 invariant, resume."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketches_spark.config import DedupConfig
from datasketches_spark.kernels import shingles
from datasketches_spark.pipeline import run_dedup
from datasketches_spark.sources.corpus import generate_corpus, truth_pairs

N_FILES = 1000
CFG = DedupConfig(jaccard_threshold=0.8)


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_corpus(spark, N_FILES, seed=42).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def result(spark, corpus, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    return run_dedup(spark, corpus, CFG, checkpoint_dir=ckpt)


def exact_truth(spark, corpus, threshold):
    """Ground truth via the frozen NumPy oracle: exact shingle Jaccard on
    every planted pair."""
    tp = truth_pairs(spark, N_FILES)
    texts = {r["id"]: r["content"] for r in corpus.select("id", "content").collect()}
    rows = tp.collect()
    out = []
    for r in rows:
        j = shingles.exact_jaccard(texts[r["id_a"]], texts[r["id_b"]], CFG.ngram, CFG.seed)
        out.append((r["id_a"], r["id_b"], r["kind"], j))
    return [(a, b) for a, b, kind, j in out if j >= threshold], out


def test_corpus_deterministic(spark):
    a = generate_corpus(spark, 100, seed=42).orderBy("id").select("content").collect()
    b = generate_corpus(spark, 100, seed=42, partitions=3).orderBy("id").select("content").collect()
    assert a == b


def test_sha256_invariant(result, corpus):
    """Per-row content sha256 equality through the pipeline (BASELINE.json)."""
    expected = corpus.select(F.col("id").alias("doc_id"), F.sha2("content", 256).alias("exp"))
    diff = result.docs.join(expected, "doc_id").filter(F.col("sha256") != F.col("exp")).count()
    assert diff == 0
    assert result.docs.count() == N_FILES


def test_dup_pair_recall(spark, corpus, result):
    """Recall ≥ 0.99 against planted pairs whose exact shingle Jaccard
    clears the threshold, measured at cluster level (a true pair is found
    if both ends land in the same cluster)."""
    truth, detail = exact_truth(spark, corpus, CFG.jaccard_threshold)
    assert len(truth) > 50
    clusters = {r["doc_id"]: r["cluster_id"] for r in result.clusters.collect()}
    hit = sum(1 for a, b in truth if clusters[a] == clusters[b])
    recall = hit / len(truth)
    assert recall >= 0.99, f"recall {recall}: missed {[p for p in truth if clusters[p[0]] != clusters[p[1]]][:10]}"


def test_precision_no_wild_merges(spark, corpus, result):
    """Pairs claimed as near-dups must really be similar: every verified
    edge's exact Jaccard ≥ threshold - estimation slack."""
    edges = result.verified_edges.collect()
    texts = {r["id"]: r["content"] for r in corpus.select("id", "content").collect()}
    assert len(edges) > 0
    bad = []
    for r in edges:
        j = shingles.exact_jaccard(texts[r["id_a"]], texts[r["id_b"]], CFG.ngram, CFG.seed)
        if j < CFG.jaccard_threshold - 0.15:
            bad.append((r["id_a"], r["id_b"], j, r["jaccard_kmv"]))
    assert not bad, bad[:10]


def test_exact_dups_clustered(result):
    """Planted exact pairs (roles 14,15 per 20-id window) share clusters."""
    clusters = {r["doc_id"]: r["cluster_id"] for r in result.clusters.collect()}
    for gid in range(N_FILES // 20):
        a, b = gid * 20 + 14, gid * 20 + 15
        assert clusters[a] == clusters[b]


def test_singletons_stay_single(spark, corpus, result):
    """Documents planted as singletons must not be clustered with anything
    (precision at the cluster level)."""
    from collections import Counter

    clusters = {r["doc_id"]: r["cluster_id"] for r in result.clusters.collect()}
    sizes = Counter(clusters.values())
    singles = [d for d in range(N_FILES) if d % 20 <= 13]
    merged = [d for d in singles if sizes[clusters[d]] > 1]
    assert len(merged) <= max(2, 0.005 * len(singles)), merged[:10]


def test_resume_from_checkpoint(spark, corpus, tmp_path_factory):
    """Second run over the same checkpoint dir resumes every stage and
    produces identical outputs. The corpus goes through parquet first: only
    file-backed inputs have a stable identity (input fingerprint) — an
    in-memory DataFrame deliberately NEVER resumes (see
    test_checkpoint_never_resumes_unfingerprintable_input)."""
    import os

    cpath = str(tmp_path_factory.mktemp("corpus_resume") / "docs")
    corpus.write.mode("overwrite").parquet(cpath)
    corpus = spark.read.parquet(cpath)
    ckpt = str(tmp_path_factory.mktemp("ckpt_resume"))
    r1 = run_dedup(spark, corpus, CFG, checkpoint_dir=ckpt)
    pairs1 = sorted((r["id_a"], r["id_b"]) for r in r1.dup_pairs.collect())
    r2 = run_dedup(spark, corpus, CFG, checkpoint_dir=ckpt)
    import json, os

    with open(os.path.join(ckpt, "metrics.json")) as f:
        m = json.load(f)
    resumed = [s for s in m["lineage"] if s.get("resumed")]
    assert len(resumed) >= 5, m["lineage"]
    pairs2 = sorted((r["id_a"], r["id_b"]) for r in r2.dup_pairs.collect())
    assert pairs1 == pairs2


def test_core_tasks_is_default_parallelism():
    """The signature-stage task count is one task per core: 4 at
    local[4], 32 at 32 cores."""
    from unittest import mock

    from pyspark import SparkContext

    from datasketches_spark.session import core_tasks

    for cores in (4, 32):
        sc = mock.Mock(spec=SparkContext)
        sc.defaultParallelism = cores
        assert core_tasks(sc) == cores


def test_light_conf_window_is_per_session(spark):
    """Two sessions' light-mode windows each switch AQE off and set the
    shuffle width to one task per core, and each restore their own
    session's confs, whatever the exit order; a nested window on one
    session restores only at the outermost exit."""
    from datasketches_spark.pipeline import _LIGHT_CONF_STATE, _light_conf_window
    from datasketches_spark.session import core_tasks

    # fresh sessions: a failure midway leaves no conf change on ``spark``
    s1, s2 = spark.newSession(), spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "7")
    prev = {s: (s.conf.get("spark.sql.adaptive.enabled"),
                s.conf.get("spark.sql.shuffle.partitions")) for s in (s1, s2)}
    w1, w2 = _light_conf_window(s1), _light_conf_window(s2)
    w1.__enter__()
    w2.__enter__()
    for s in (s1, s2):
        assert (s.conf.get("spark.sql.adaptive.enabled"),
                s.conf.get("spark.sql.shuffle.partitions")) == (
                    "false", str(core_tasks(spark.sparkContext)))
        s.conf.set("spark.sql.shuffle.partitions", "3")  # a change inside the window
    with _light_conf_window(s1):
        s1.conf.set("spark.sql.shuffle.partitions", "5")
    assert s1.conf.get("spark.sql.adaptive.enabled") == "false"
    w1.__exit__(None, None, None)
    assert (s1.conf.get("spark.sql.adaptive.enabled"),
            s1.conf.get("spark.sql.shuffle.partitions")) == prev[s1]
    assert s2.conf.get("spark.sql.adaptive.enabled") == "false"
    w2.__exit__(None, None, None)
    assert (s2.conf.get("spark.sql.adaptive.enabled"),
            s2.conf.get("spark.sql.shuffle.partitions")) == prev[s2]
    assert _LIGHT_CONF_STATE == {}


def test_light_run_never_plans_at_the_session_width(spark, tmp_path):
    """Every shuffle of a light run, the prewarm's exact groups included,
    plans at one task per core: on a session whose own width is W, no
    completed stage of the run has W tasks, and both confs come back."""
    sc = spark.sparkContext
    s = spark.newSession()
    width = 5 * sc.defaultParallelism + 3
    s.conf.set("spark.sql.shuffle.partitions", str(width))
    prev_aqe = s.conf.get("spark.sql.adaptive.enabled")
    cpath = str(tmp_path / "corpus")
    generate_corpus(s, 400, seed=11).write.parquet(cpath)
    corpus = s.read.parquet(cpath)
    sc.setJobGroup("light_width", "shuffle-width probe")
    try:
        res = run_dedup(s, corpus, CFG, checkpoint_dir=str(tmp_path / "ck"),
                        light_stages=True)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert res.clusters.count() == 400
    tracker = sc.statusTracker()
    stages = [tracker.getStageInfo(sid)
              for jid in tracker.getJobIdsForGroup("light_width")
              for sid in tracker.getJobInfo(jid).stageIds]
    ran = {st.stageId: st.numTasks for st in stages
           if st is not None and st.numCompletedTasks > 0}
    assert ran, "no completed stage found in the run's job group"
    assert width not in ran.values(), ran
    assert s.conf.get("spark.sql.shuffle.partitions") == str(width)
    assert s.conf.get("spark.sql.adaptive.enabled") == prev_aqe


def test_run_dedup_restores_caller_job_label(spark):
    """Stages label their jobs (``stage:<name>``); run_dedup must hand the
    caller's label back on return and on error, so jobs the caller runs on
    the returned tables are not attributed to the last stage."""
    from pyspark.errors import AnalysisException

    sc = spark.sparkContext
    docs = generate_corpus(spark, 200, seed=5)
    sc.setJobDescription("caller:probe")
    try:
        res = run_dedup(spark, docs, CFG, light_stages=True)
        assert sc.getLocalProperty("spark.job.description") == "caller:probe"
        assert res.clusters.count() == 200
        with pytest.raises(AnalysisException):  # docs_meta selects repo
            run_dedup(spark, docs.drop("repo"), CFG, light_stages=True)
        assert sc.getLocalProperty("spark.job.description") == "caller:probe"
    finally:
        sc.setLocalProperty("spark.job.description", None)


def test_run_dedup_worker_threads_join_caller_job_group(spark, tmp_path):
    """The prewarm and dup_pairs threads carry the caller's job group, so
    ``sc.cancelJobGroup`` reaches every job of a run: none lands outside
    the group (two did before the threads inherited it)."""
    sc = spark.sparkContext
    cpath = str(tmp_path / "corpus")
    generate_corpus(spark, 400, seed=11).write.parquet(cpath)
    corpus = spark.read.parquet(cpath)
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("caller_group", "job-group probe")
    try:
        run_dedup(spark, corpus, CFG, checkpoint_dir=str(tmp_path / "ck"),
                  light_stages=True)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    assert tracker.getJobIdsForGroup("caller_group")


def test_cc_star_rounds_equal_local_solve(spark, tmp_path, monkeypatch):
    """A zero broadcast budget forces the star rounds; they must give the
    same dup_pairs and clusters as the driver-side solve the default run
    picks, and each run records its choice."""
    from datasketches_spark.operators import verify

    cpath = str(tmp_path / "corpus")
    generate_corpus(spark, 400, seed=7).write.parquet(cpath)
    corpus = spark.read.parquet(cpath)

    def run(name):
        res = run_dedup(spark, corpus, CFG, checkpoint_dir=str(tmp_path / name),
                        light_stages=True)
        pairs = sorted((r["id_a"], r["id_b"], r["kind"]) for r in res.dup_pairs.collect())
        clusters = sorted((r["doc_id"], r["cluster_id"]) for r in res.clusters.collect())
        return res.metrics["decisions"], pairs, clusters

    d_local, pairs_local, clusters_local = run("local")
    monkeypatch.setattr(verify, "BROADCAST_BUDGET_BYTES", 0)
    d_star, pairs_star, clusters_star = run("star")
    assert d_local["cc_local"] is True and d_star["cc_local"] is False
    assert d_local["n_edges"] == d_star["n_edges"] > 0
    assert pairs_local == pairs_star and len(pairs_local) > 0
    assert clusters_local == clusters_star
    assert len({c for _, c in clusters_local}) < len(clusters_local)
