"""Round-6 optimization pins: every change here reshapes HOW something is
computed, never WHAT — these tests pin the equalities the optimizations
rely on.

1. ``build_signatures(parts=...)`` slices are bit-identical to the full
   build on the requested columns (queries that consume one slice skip
   the other kernels).
2. ``kmv_group_partials``'s batched per-batch path (vectorized murmur3 +
   lexsort distinct + ``build_batch``) matches a naive per-group
   build/union loop — including the null group and many-group inputs.
3. The JVM ``distinct()`` pre-pass in front of ``kmv_distinct_by_group``
   is invariant: a KMV sketch depends only on the distinct value set, and
   the merged estimate is partitioning-independent (global k-smallest).
4. The rewritten ``language_id`` (one InSet-prefiltered aggregate pass)
   matches the specification form (per-language filter counts) on mixed
   multi-language documents.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from datasketches_spark.config import DedupConfig
from datasketches_spark.functions import text as tx
from datasketches_spark.kernels import kmv
from datasketches_spark.kernels.murmur3 import sketch_hash_longs_vec
from datasketches_spark.operators.signatures import (
    build_signatures, kmv_distinct_by_group, kmv_group_partials)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat and the dog ate the food for lunch"),
        (1, "der hund ist nicht ein tier mit den anderen von hier"),
        (2, ""),
        (3, "le chat est dans la maison et les chiens ne sont pas la"),
        (4, "el perro es una mascota que vive con los otros por la casa"),
        (5, "x " * 300),
        (6, "short"),
        (7, "the the the und und le le el el"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "content"])


def test_signature_parts_slices_match_full_build(spark, docs):
    cfg = DedupConfig()
    full = build_signatures(docs, cfg).collect()
    full_by_id = {r["doc_id"]: r for r in full}
    for parts, cols in [
        (frozenset({"simhash"}), ["simhash"]),
        (frozenset({"minhash"}), ["minhash"]),
        (frozenset({"kmv"}), ["kmv_entries", "kmv_theta"]),
        (frozenset({"minhash", "kmv"}), ["minhash", "kmv_entries", "kmv_theta"]),
        (frozenset(), []),
    ]:
        sliced = build_signatures(docs, cfg, parts=parts).collect()
        assert len(sliced) == len(full)
        for r in sliced:
            f = full_by_id[r["doc_id"]]
            # invariant columns always present and identical
            for c in ["n_tokens", "n_shingles", "span_fps"]:
                assert r[c] == f[c], (c, r["doc_id"])
            for c in cols:
                assert r[c] == f[c], (c, r["doc_id"])
            # omitted parts are absent from the schema, not null-filled
            for absent in {"minhash", "simhash", "kmv_entries", "kmv_theta"} - set(cols):
                assert absent not in r.asDict()


def _naive_distinct_by_group(rows: list[tuple], cfg: DedupConfig) -> dict:
    """Single-process reference: per-group build over ALL values at once."""
    groups: dict = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    out = {}
    for g, vals in groups.items():
        arr = np.asarray(vals, dtype=np.int64).view(np.uint64).reshape(-1, 1)
        sk = kmv.build(sketch_hash_longs_vec(arr, cfg.seed), k=cfg.k, seed=cfg.seed)
        out[g] = int(round(sk.estimate()))
    return out


def test_kmv_group_partials_batched_matches_naive(spark):
    cfg = DedupConfig(k=64)  # small k: exercises estimation-mode trimming
    rng = np.random.default_rng(7)
    rows = [(f"g{int(i)}", int(v)) for i, v in zip(
        rng.integers(0, 50, size=5000), rng.integers(0, 10**6, size=5000))]
    rows += [(None, int(v)) for v in rng.integers(0, 500, size=200)]  # null group
    df = spark.createDataFrame(rows, ["g", "v"]).repartition(7)
    got = {r["g"]: r["est"] for r in
           kmv_distinct_by_group(df, "g", "v", cfg, out_col="est").collect()}
    want = _naive_distinct_by_group(rows, cfg)
    assert got == want


def test_kmv_group_partials_row_count_scaling(spark):
    """Partial count stays n_partitions x n_groups (not per Arrow batch)."""
    cfg = DedupConfig()
    rows = [(f"g{i % 3}", i) for i in range(3000)]
    df = spark.createDataFrame(rows, ["g", "v"]).repartition(4)
    n = kmv_group_partials(df, "g", "v", cfg).count()
    assert n <= 4 * 3


def test_kmv_distinct_pre_pass_invariant(spark):
    cfg = DedupConfig(k=128)
    rng = np.random.default_rng(3)
    rows = [(f"g{int(i)}", int(v)) for i, v in zip(
        rng.integers(0, 4, size=8000), rng.integers(0, 3000, size=8000))]
    df = spark.createDataFrame(rows, ["g", "v"])
    a = {r["g"]: r["est"] for r in
         kmv_distinct_by_group(df, "g", "v", cfg, out_col="est").collect()}
    b = {r["g"]: r["est"] for r in
         kmv_distinct_by_group(df.distinct(), "g", "v", cfg, out_col="est").collect()}
    c = {r["g"]: r["est"] for r in
         kmv_distinct_by_group(df.repartition(13), "g", "v", cfg, out_col="est",
                               min_parallelism=5).collect()}
    assert a == b == c


def test_cosine_topk_collected_path_matches_jvm_path(spark):
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((300, 16))
    vecs[7] = 0.0  # zero-norm corpus vector: cosine defined as 0.0
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding")
    from datasketches_spark.operators.ann import cosine_topk
    jvm = cosine_topk(emb, queries, k=7).select(
        "query_id", "vec_id", F.round("cosine", 9).alias("c"), "rank").collect()
    mat = cosine_topk(emb, queries, k=7, max_collected_queries=64).select(
        "query_id", "vec_id", F.round("cosine", 9).alias("c"), "rank").collect()
    assert sorted(map(tuple, jvm)) == sorted(map(tuple, mat))
    # past the cap the JVM path must be used (same results either way)
    capped = cosine_topk(emb, queries, k=7, max_collected_queries=2).select(
        "query_id", "vec_id", F.round("cosine", 9).alias("c"), "rank").collect()
    assert sorted(map(tuple, jvm)) == sorted(map(tuple, capped))


def _adversarial_corpus(spark):
    """Boilerplate-heavy corpus that drives the fallback's HEAVY regime for
    real: 60 documents sharing a 300-token license header with ~55-token
    unique tails (pairwise J ~ 0.75 — high enough to LSH-collide at
    threshold 0.8, low enough to FAIL KMV verification, so their bucket
    reps fail and every such bucket enters the bad-bucket re-scan), plus
    10 planted TRUE near-dup pairs (J ~ 0.96) that must still be found
    through the adversarial branch, plus 20 singletons."""
    rng = np.random.default_rng(42)
    vocab = [f"w{i:04d}" for i in range(5000)]
    header = " ".join(rng.choice(vocab, size=300, replace=True))
    rows = []
    for i in range(60):
        tail = " ".join(rng.choice(vocab, size=55, replace=True) ) + f" uniq{i}"
        rows.append((i, f"r{i}", f"p/{i}", "c" * 40, "en", header + " " + tail))
    nid = 1000
    for p in range(10):
        base_words = list(rng.choice(vocab, size=400, replace=True))
        a = " ".join(base_words)
        mutated = list(base_words)
        for j in rng.integers(0, 400, size=8):
            mutated[int(j)] = "m" + mutated[int(j)]
        b = " ".join(mutated)
        rows.append((nid, f"r{nid}", f"p/{nid}", "c" * 40, "en", a))
        rows.append((nid + 1, f"r{nid}", f"p/{nid+1}", "c" * 40, "en", b))
        nid += 2
    for s in range(20):
        rows.append((2000 + s, "rs", f"p/s{s}", "c" * 40, "en",
                     " ".join(rng.choice(vocab, size=200, replace=True))))
    return spark.createDataFrame(
        rows, ["id", "repo", "path", "commit", "lang", "content"])


def test_adversarial_corpus_is_actually_adversarial(spark):
    """Regime pin for the e2e test below: the corpus must produce MANY
    failed-rep buckets (measured 16 bad buckets / 167 failed star edges
    when written) — otherwise no bucket would take the all-pairs branch
    the e2e test claims to cover."""
    from datasketches_spark.operators import lsh, verify
    from datasketches_spark.operators.signatures import build_signatures

    cfg = DedupConfig()
    corpus = _adversarial_corpus(spark)
    sig = build_signatures(corpus, cfg, id_col="id").localCheckpoint()
    bands = lsh.band_table(sig, cfg)
    stats = lsh.bucket_stats(bands).filter(F.col("bucket_size") > 1)
    eligible = stats.filter(F.col("bucket_size") <= cfg.bucket_cap)
    memb = bands.join(eligible.select("band", "bhash", "rep"), ["band", "bhash"])
    star = (memb.filter(F.col("doc_id") != F.col("rep"))
            .select(F.col("rep").alias("id_a"), F.col("doc_id").alias("id_b"))
            .distinct())
    sv = verify.verify_pairs(star, sig, cfg, keep_below_threshold=True)
    failed = sv.filter(F.col("jaccard_kmv") < cfg.jaccard_threshold)
    bad = (memb.join(failed.select(F.col("id_a").alias("rep"),
                                   F.col("id_b").alias("doc_id")),
                     ["rep", "doc_id"])
           .select("band", "bhash").distinct().count())
    assert bad >= 5, f"only {bad} bad buckets — corpus no longer adversarial"


@pytest.mark.parametrize("with_store", [False, True])
def test_fallback_heavy_regime_e2e(spark, tmp_path_factory, with_store):
    """VERDICT r5 item 4: the adversarial (many-failed-reps) fallback
    branch exercised through the FULL pipeline — many buckets with a
    failed star edge, each verifying all of its pairs — in both store and
    store-less modes. Planted near-dups must still cluster; boilerplate-
    only pairs must NOT merge."""
    from datasketches_spark.pipeline import run_dedup

    corpus = _adversarial_corpus(spark)
    cfg = DedupConfig()
    ckpt = (str(tmp_path_factory.mktemp("adv_ckpt")) if with_store else None)
    res = run_dedup(spark, corpus, cfg, checkpoint_dir=ckpt,
                    light_stages=not with_store)
    clusters = {r["doc_id"]: r["cluster_id"] for r in res.clusters.collect()}
    assert len(clusters) == 100
    # every planted near-dup pair clustered together (recall through the
    # adversarial branch)
    for p in range(10):
        a, b = 1000 + 2 * p, 1000 + 2 * p + 1
        assert clusters[a] == clusters[b], (a, b)
    # boilerplate docs (J ~ 0.75 < threshold) never merge with each other
    bp = [clusters[i] for i in range(60)]
    assert len(set(bp)) == 60, "boilerplate-only pair wrongly merged"
    # singletons stay single
    for s in range(20):
        assert sum(1 for v in clusters.values() if v == clusters[2000 + s]) == 1


def test_concurrent_light_runs_restore_confs(spark, tmp_path_factory):
    """VERDICT r5 item 6: two concurrent run_dedup(light_stages=True)
    calls on ONE session must both produce correct results and leave the
    session confs exactly as they were (the depth-counted conf window —
    without it the second run snapshots the first run's transient values
    and restores garbage)."""
    from concurrent.futures import ThreadPoolExecutor

    from datasketches_spark.pipeline import run_dedup
    from datasketches_spark.sources.corpus import generate_corpus

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    corpus = generate_corpus(spark, 400, seed=42)
    cfg = DedupConfig()

    def one(tag):
        ckpt = str(tmp_path_factory.mktemp(f"cc_{tag}"))
        res = run_dedup(spark, corpus, cfg, checkpoint_dir=ckpt,
                        light_stages=True)
        return ({r["doc_id"]: r["cluster_id"] for r in res.clusters.collect()},
                {(r["id_a"], r["id_b"]) for r in res.dup_pairs.collect()})

    with ThreadPoolExecutor(max_workers=2) as pool:
        fa, fb = pool.submit(one, "a"), pool.submit(one, "b")
        ca, pa = fa.result()
        cb, pb = fb.result()
    # identical outputs from both concurrent runs...
    assert pa == pb and len(pa) > 0
    assert set(ca) == set(cb)
    # ...and the serial reference
    ckpt = str(tmp_path_factory.mktemp("cc_serial"))
    ref = run_dedup(spark, corpus, cfg, checkpoint_dir=ckpt, light_stages=True)
    assert {(r["id_a"], r["id_b"]) for r in ref.dup_pairs.collect()} == pa
    # confs restored exactly
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_sp


def test_language_id_matches_specification_form(spark, docs):
    """The optimized one-pass form vs the specification: per-language
    stopword counts over whitespace-split words, first maximal wins."""
    words_col = F.split(tx.ascii_lower(F.col("content")), r"\s+")
    langs = list(tx.STOPWORDS)
    def _score(lg):
        ws = list(tx.STOPWORDS[lg])
        return F.size(F.filter(words_col, lambda w: w.isin(ws)))

    scores = [_score(lg) for lg in langs]
    best = F.greatest(*scores)
    spec = F.lit("und")
    for lg, s in reversed(list(zip(langs, scores))):
        spec = F.when(s == best, F.lit(lg)).otherwise(spec)
    spec = F.when(best > 0, spec).otherwise(F.lit("und"))
    out = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            "the cat und der hund", "le la le la the", "", "999 000 111",
            "el la le the und is est es"])],
        ["i", "content"],
    ).select(tx.language_id(F.col("content")).alias("got"), spec.alias("want")).collect()
    for r in out:
        assert r["got"] == r["want"], r
