"""Round-3 additions: stateful Intersection state machine, update/union
image heapify, per-partition KMV partials, CC final-round convergence,
store-routed verify materialization + guarded bad-bucket broadcast,
checkpoint fingerprint hardening."""

import json
import os
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketches_spark.config import DedupConfig
from datasketches_spark.kernels import kmv

CFG = DedupConfig()
SEED = CFG.seed


def _sk(values, k=4096):
    from datasketches_spark.kernels.murmur3 import sketch_hash_longs_vec

    vals = np.asarray(values, dtype=np.uint64).reshape(-1, 1)
    return kmv.build(sketch_hash_longs_vec(vals, SEED), k=k, seed=SEED)


# ------------------------------------------- stateful Intersection (K21/K22)

def test_intersection_virgin_get_result_raises():
    inter = kmv.Intersection(seed=SEED)
    assert not inter.has_result()
    with pytest.raises(RuntimeError, match="infinite set"):
        inter.get_result()


def test_intersection_has_result_after_first_intersect():
    # mirrors IntersectionTests.cs TestIntersection_HasResult
    inter = kmv.Intersection(seed=SEED)
    assert not inter.has_result()
    inter.intersect(_sk([1]))
    assert inter.has_result()


def test_intersection_empty_rule_is_or():
    # an empty input forces the empty state regardless of prior state
    inter = kmv.Intersection(seed=SEED)
    inter.intersect(_sk([1, 2, 3]))
    inter.intersect(kmv.empty_sketch(SEED))
    res = inter.get_result()
    assert res.empty and res.count == 0 and res.theta == kmv.MAX_THETA_LONG
    # and it is sticky: a later non-empty input cannot resurrect it
    inter.intersect(_sk([1, 2, 3]))
    assert inter.get_result().empty


def test_intersection_stateful_equals_pairwise():
    a, b = _sk(range(100)), _sk(range(50, 150))
    stateful = kmv.Intersection(seed=SEED).intersect(a).intersect(b).get_result()
    pairwise = kmv.intersect(a, b)
    assert stateful.theta == pairwise.theta
    assert np.array_equal(stateful.entries, pairwise.entries)
    assert stateful.empty == pairwise.empty
    assert stateful.estimate() == 50.0  # exact mode


def test_intersection_reset_mirrors_reference():
    # mirrors IntersectionTests.cs:187-219 (TestIntersection_Reset)
    inter = kmv.Intersection(seed=SEED)
    inter.intersect(_sk([1, 2])).intersect(_sk([2, 3]))
    assert inter.get_result().estimate() == 1.0
    inter.reset()
    assert not inter.has_result()
    inter.intersect(_sk([5, 6])).intersect(_sk([5, 7]))
    assert inter.get_result().estimate() == 1.0


def test_intersection_large_dataset_estimation_mode():
    # mirrors IntersectionTests.cs:236-260 (TestIntersection_LargeDataSet)
    a = _sk(range(10000), k=4096)
    b = _sk(range(5000, 10000), k=4096)
    res = kmv.Intersection(seed=SEED).intersect(a).intersect(b).get_result()
    assert 4500 <= res.estimate() <= 5500


def test_intersection_disjoint_exact_is_empty():
    # PerformIntersect with zero matches in exact mode → empty=true
    # (IntersectionImpl.cs:377-381)
    res = kmv.Intersection(seed=SEED).intersect(_sk([1])).intersect(_sk([2])).get_result()
    assert res.empty and res.count == 0
    # pairwise helper agrees
    p = kmv.intersect(_sk([1]), _sk([2]))
    assert p.empty and p.count == 0


def test_intersection_seed_mismatch_rejected():
    inter = kmv.Intersection(seed=SEED)
    inter.intersect(_sk([1, 2]))
    other = kmv.ThetaSketch(kmv.MAX_THETA_LONG, np.array([5], dtype=np.uint64), False, seed=1234)
    with pytest.raises(ValueError, match="seed mismatch"):
        inter.intersect(other)


def test_intersect_many_fold_and_empty_list():
    sks = [_sk(range(0, 80)), _sk(range(20, 100)), _sk(range(40, 120))]
    res = kmv.intersect_many(sks, seed=SEED)
    assert res.estimate() == 40.0  # {40..79}
    with pytest.raises(RuntimeError, match="infinite set"):
        kmv.intersect_many([], seed=SEED)


def test_intersection_count_zero_state_keeps_theta():
    # states 2/3/6: curCount pinned to 0 but theta keeps the min rule and
    # the result is NOT flagged empty when theta < 1 (estimation mode)
    big = _sk(range(20000), k=256)  # estimation mode, theta < max
    assert big.is_estimation_mode()
    inter = kmv.Intersection(seed=SEED)
    inter.intersect(_sk([1])).intersect(_sk([2]))  # exact-mode zero → empty
    res1 = inter.get_result()
    assert res1.empty
    inter2 = kmv.Intersection(seed=SEED)
    inter2.intersect(big).intersect(_sk(range(30000, 30005)))
    res2 = inter2.get_result()
    assert res2.theta == big.theta  # min-theta rule applied


# ------------------------------------- heapify update/union images (K32+)

def test_heapify_quickselect_round_trip_exact_mode():
    s = _sk(range(200))
    img = kmv.serialize_update(s, lg_nom=12)
    back = kmv.heapify(img, seed=SEED)
    assert back.theta == s.theta
    assert np.array_equal(back.entries, s.entries)
    assert back.estimate() == s.estimate()


def test_heapify_quickselect_round_trip_estimation_mode():
    s = _sk(range(50000), k=1024)
    assert s.is_estimation_mode()
    img = kmv.serialize_update(s, lg_nom=10)
    back = kmv.heapify(img, seed=SEED)
    assert back.theta == s.theta
    assert np.array_equal(back.entries, s.entries)


def test_heapify_quickselect_empty():
    img = kmv.serialize_update(kmv.empty_sketch(SEED), lg_nom=5)
    back = kmv.heapify(img, seed=SEED)
    assert back.empty and back.count == 0


def _union_image(entries: np.ndarray, theta: int, union_theta: int,
                 lg_nom: int, seed=SEED) -> bytes:
    """Hand-built UNION gadget image: 4 preamble longs (the 4th is
    unionThetaLong) + open-addressing table (UnionImpl layout)."""
    lg_arr = lg_nom + 1
    while (1 << lg_arr) * 15 // 16 < len(entries):
        lg_arr += 1
    pre = struct.pack(
        "<BBBBBBHifq", 4, 3, 4, lg_nom, lg_arr, 0,
        kmv.compute_seed_hash(seed), len(entries), 1.0, theta)
    pre += struct.pack("<q", union_theta)
    table = np.zeros(1 << lg_arr, dtype=np.uint64)
    mask = (1 << lg_arr) - 1
    for h in entries:
        idx = int(h) & mask
        while table[idx] != 0:
            idx = (idx + 1) & mask
        table[idx] = h
    return pre + table.tobytes()


def test_heapify_union_image_min_theta_and_pullback():
    s = _sk(range(5000), k=4096)
    # union theta tighter than gadget theta → effective theta is the min,
    # entries above it dropped, then pull-back to 2^lg_nom
    union_theta = int(np.sort(s.entries)[3000])
    img = _union_image(s.entries, s.theta, union_theta, lg_nom=10)
    back = kmv.heapify(img, seed=SEED)
    assert back.theta <= union_theta
    assert back.count <= 1 << 10
    # value set = k smallest of the surviving entries
    survivors = np.sort(s.entries[s.entries < np.uint64(union_theta)])
    assert np.array_equal(back.entries, survivors[: back.count])


def test_heapify_rejects_compact_flagged_update_image():
    s = _sk(range(10))
    img = bytearray(kmv.serialize_update(s, lg_nom=5))
    img[5] |= 8  # COMPACT flag
    with pytest.raises(ValueError, match="compact"):
        kmv.heapify(bytes(img), seed=SEED)


def test_heapify_rejects_alpha_and_bad_prelongs():
    s = _sk(range(10))
    img = bytearray(kmv.serialize_update(s, lg_nom=5))
    img[2] = 1  # ALPHA family
    with pytest.raises(ValueError, match="ALPHA"):
        kmv.heapify(bytes(img), seed=SEED)
    img = bytearray(kmv.serialize_update(s, lg_nom=5))
    img[0] = (img[0] & ~0x3F) | 4  # preLongs 4 invalid for QUICKSELECT
    with pytest.raises(ValueError, match="PreambleLongs"):
        kmv.heapify(bytes(img), seed=SEED)


def test_heapify_seed_hash_validated():
    s = _sk(range(10))
    img = kmv.serialize_update(s, lg_nom=5)
    with pytest.raises(ValueError, match="seed hash"):
        kmv.heapify(img, seed=1234)


def test_heapify_dispatches_compact_and_serverN():
    s = _sk(range(100))
    img = kmv.serialize_compact(s)
    back = kmv.heapify(img, seed=SEED)
    assert np.array_equal(back.entries, np.sort(s.entries))


# ------------------------------------------- per-partition KMV partials

def test_kmv_partials_scale_with_partitions_not_batches(spark):
    from datasketches_spark.operators.signatures import (
        kmv_distinct_by_group,
        kmv_group_partials,
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        n_parts, n_groups = 4, 3
        df = (
            spark.range(3000)
            .select(
                (F.col("id") % n_groups).cast("string").alias("g"),
                (F.col("id") % 500).alias("v"),
            )
            .repartition(n_parts)
        )
        partials = kmv_group_partials(df, "g", "v", CFG)
        n_partials = partials.count()
        # 3000 rows / 50-row batches = 60 batches; per-batch partials would
        # emit ~180 rows. Per-partition partials are bounded by parts × groups.
        assert n_partials <= n_parts * n_groups, n_partials
        assert n_partials >= n_groups
        # and the estimate is still exact (distinct <= k)
        out = {r["g"]: r["distinct_est"]
               for r in kmv_distinct_by_group(df, "g", "v", CFG).collect()}
        truth = {r["g"]: r["n"]
                 for r in df.groupBy("g").agg(F.countDistinct("v").alias("n")).collect()}
        assert out == truth
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_kmv_distinct_by_group_keeps_null_group(spark):
    from datasketches_spark.operators.signatures import kmv_distinct_by_group

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), (None, 1), (None, 2), (None, 3)], "g STRING, v LONG"
    )
    rows = kmv_distinct_by_group(df, "g", "v", CFG).collect()
    got = {r["g"]: r["distinct_est"] for r in rows}
    assert got == {"a": 2, None: 3}


def test_merge_kmv_sketches_precombine_correct(spark):
    from datasketches_spark.operators.signatures import (
        build_signatures,
        merge_kmv_sketches,
    )

    docs = spark.createDataFrame(
        [(i, "tok%d " % (i % 7) * 30 + "common text here for shingles", "g%d" % (i % 2))
         for i in range(40)],
        "doc_id LONG, content STRING, grp STRING",
    )
    sig = build_signatures(docs, CFG).join(
        docs.select("doc_id", "grp"), "doc_id")
    merged = merge_kmv_sketches(sig, ["grp"], CFG).collect()
    assert len(merged) == 2
    for r in merged:
        assert r["estimate"] > 0
        assert r["lower_bound"] <= r["estimate"] <= r["upper_bound"]


# --------------------------------------------- CC final-round convergence

def test_cc_converges_on_chain_with_tight_iteration_budget(spark):
    # a long path graph needs several star rounds; with a budget that lands
    # convergence exactly on the final round the every-2nd-round checksum
    # schedule used to compare against a pre-convergence state and raise
    from datasketches_spark.operators.connected_components import connected_components

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src LONG, dst LONG"
    )
    outcomes = {}
    for budget in range(1, 8):
        try:
            res = connected_components(edges, max_iterations=budget).collect()
        except RuntimeError:
            outcomes[budget] = False
            continue
        assert {r["cluster_id"] for r in res} == {0}
        assert len(res) == n
        outcomes[budget] = True
    # pin the minimal passing budget: the 64-chain needs exactly 6
    # large/small-star rounds after the initial small-star; budgets 1-5
    # must fail, and at budget 6 convergence lands EXACTLY on the final
    # round — it passes only because of the final consecutive-round
    # convergence check (revert connected_components.py's not-converged
    # re-check and this fails); success is monotone above the minimum
    assert outcomes == {1: False, 2: False, 3: False, 4: False, 5: False,
                        6: True, 7: True}, outcomes


# ------------------------------------------- checkpointed verify stage

def _mini_corpus(spark, n=400):
    from datasketches_spark.sources.corpus import generate_corpus

    return generate_corpus(spark, n, seed=7)


def test_pipeline_checkpoints_verify_substages(spark, tmp_path):
    """Full mode checkpoints verified_edges as one stage, with no verify
    sub-stage tables; deleting its manifest recomputes it from the resumed
    signatures, bands and bucket_stats, with identical outputs."""
    from datasketches_spark.pipeline import run_dedup

    docs = _mini_corpus(spark)
    path = str(tmp_path / "docs")
    docs.write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    root = str(tmp_path / "ckpt")

    def outputs(res):
        return (sorted(tuple(r) for r in res.dup_pairs.collect()),
                sorted(tuple(r) for r in res.clusters.collect()))

    first = outputs(run_dedup(spark, docs, CFG, checkpoint_dir=root))
    assert first[0]
    assert os.path.isfile(os.path.join(root, "verified_edges", "manifest.json"))
    for sub in ("bucket_membership", "participant_sigs", "star_verified",
                "bad_buckets", "fallback_pairs"):
        assert not os.path.exists(os.path.join(root, sub)), sub
    os.remove(os.path.join(root, "verified_edges", "manifest.json"))
    second = outputs(run_dedup(spark, docs, CFG, checkpoint_dir=root))
    with open(os.path.join(root, "metrics.json")) as f:
        lineage = {e["stage"]: e for e in json.load(f)["lineage"]}
    for up in ("signatures", "bands", "bucket_stats"):
        assert lineage[up]["resumed"], lineage
    assert not lineage["verified_edges"]["resumed"], lineage
    assert second == first


# --------------------------------------- checkpoint fingerprint hardening

def test_checkpoint_never_resumes_unfingerprintable_input(spark, tmp_path):
    from datasketches_spark.plans.checkpoints import CheckpointStore

    root = str(tmp_path / "s")
    calls = []

    def compute():
        calls.append(1)
        return spark.range(5)

    s1 = CheckpointStore(spark, root, CFG, enabled=True, input_fp=None)
    s1.stage("x", compute).count()
    s2 = CheckpointStore(spark, root, CFG, enabled=True, input_fp=None)
    s2.stage("x", compute).count()
    assert len(calls) == 2  # None fingerprint never resumes


def test_strip_file_scheme_variants():
    from datasketches_spark.plans.checkpoints import _strip_file_scheme

    assert _strip_file_scheme("file:///a/b.parquet") == "/a/b.parquet"
    assert _strip_file_scheme("file:/a/b.parquet") == "/a/b.parquet"
    assert _strip_file_scheme("s3://bucket/k") == "s3://bucket/k"
    assert _strip_file_scheme("/plain/path") == "/plain/path"


# ------------------------------- Arrow-batched hyperplane LSH at high dim

def test_embedding_near_dups_lsh_dim1024_bounded_plan(spark):
    """Same brute-force-equality check as round 2's dim-64 test, at the
    dim of real embedding models (1024): the matmul-UDF bucketer must keep
    the plan bounded (no 130k-literal codegen blowup) and stay exact."""
    from datasketches_spark.operators.ann import _dot, _norm, cosine_near_dup_pairs

    dim = 1024
    rng = np.random.Generator(np.random.Philox(key=13))
    base = rng.standard_normal((30, dim))
    rows, vid = [], 0
    for i in range(30):
        rows.append((vid, base[i].tolist())); vid += 1
        if i % 5 == 0:  # plant a near-dup (cosine ~0.999 at this dim)
            pert = base[i] + 0.05 * rng.standard_normal(dim)
            rows.append((vid, pert.tolist())); vid += 1
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    df = cosine_near_dup_pairs(emb, dim=dim, threshold=0.95)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(plan) < 100_000, f"plan blew up: {len(plan)} chars"
    got = {(r["id_a"], r["id_b"]) for r in df.collect()}
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    brute = {(r["id_a"], r["id_b"]) for r in
             a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .withColumn("c", cos).filter(F.col("c") >= 0.95)
             .select("id_a", "id_b").collect()}
    assert len(brute) >= 6
    assert got == brute


# ---------------------------------------- object-store checkpoint backend

def test_memory_backend_full_store_protocol(spark, tmp_path):
    """The checkpoint store runs its entire commit/resume/GC protocol
    against the in-memory object-store fake — proving the store logic needs
    nothing beyond PUT/GET/LIST/DELETE/EXISTS (no rename, no isdir, which
    the interface does not even expose)."""
    from datasketches_spark.plans.checkpoints import CheckpointStore
    from datasketches_spark.plans.storefs import MemoryBackend

    be = MemoryBackend(scratch=str(tmp_path / "bucket"))
    calls = []

    def compute():
        calls.append(1)
        return spark.range(10).withColumnRenamed("id", "v")

    s1 = CheckpointStore(spark, "mem://ckpt", CFG, input_fp="fp1", backend=be)
    out1 = s1.stage("nums", compute)
    assert out1.count() == 10
    assert s1.manifest("nums")["n_rows"] == 10
    # resume: a fresh store over the same backend + fingerprint reads back
    s2 = CheckpointStore(spark, "mem://ckpt", CFG, input_fp="fp1", backend=be)
    out2 = s2.stage("nums", compute)
    assert out2.count() == 10
    assert len(calls) == 1, "stage must RESUME, not recompute"
    # different input fingerprint invalidates
    s3 = CheckpointStore(spark, "mem://ckpt", CFG, input_fp="fp2", backend=be)
    s3.stage("nums", compute).count()
    assert len(calls) == 2
    # the recompute's commit GC'd the stale data dir: exactly one token left
    tokens = {k.split("/")[1] for k in be.list("nums")
              if "/" in k and k.split("/")[1].startswith("data-")}
    assert len(tokens) == 1
    # the store exercised only object-store verbs (interface has no others)
    assert {op for op, _ in be.ops} <= {
        "put", "get", "list", "delete_prefix", "exists_prefix"}
    s3.write_metrics({"ok": True})
    assert b'"ok": true' in be.objects["metrics.json"]


def test_memory_backend_upstream_chain_invalidation(spark, tmp_path):
    from datasketches_spark.plans.checkpoints import CheckpointStore
    from datasketches_spark.plans.storefs import MemoryBackend

    be = MemoryBackend(scratch=str(tmp_path / "bucket"))
    calls = {"a": 0, "b": 0}

    def make(name, n):
        def compute():
            calls[name] += 1
            return spark.range(n).withColumnRenamed("id", "v")
        return compute

    s = CheckpointStore(spark, "mem://x", CFG, input_fp="fp", backend=be)
    s.stage("a", make("a", 3))
    s.stage("b", make("b", 4), upstream=["a"])
    # rewrite upstream a (simulating a changed recompute): b must invalidate
    be.delete_prefix("a")
    s2 = CheckpointStore(spark, "mem://x", CFG, input_fp="fp", backend=be)
    s2.stage("a", make("a", 3))
    s2.stage("b", make("b", 4), upstream=["a"])
    assert calls == {"a": 2, "b": 2}


def test_local_backend_put_is_atomic_no_partial_manifest(tmp_path):
    from datasketches_spark.plans.storefs import LocalBackend

    be = LocalBackend(str(tmp_path / "root"))
    be.put("stage/manifest.json", b'{"x": 1}')
    assert be.get("stage/manifest.json") == b'{"x": 1}'
    # no stray temp files left beside the committed object
    files = os.listdir(str(tmp_path / "root" / "stage"))
    assert files == ["manifest.json"]
    assert be.exists_prefix("stage")
    assert not be.exists_prefix("nope")
    be.delete_prefix("stage")
    assert not be.exists_prefix("stage")


# ---------------------------------------------- common-span pipeline pass

def test_winnow_guarantee_shared_run():
    """Winnowing guarantee: any shared token run of >= w + ngram - 1 tokens
    yields a shared selected fingerprint — for ANY placement of the run."""
    from datasketches_spark.kernels import shingles, winnow

    rng = np.random.Generator(np.random.Philox(key=99))
    w, ngram = 50, 5
    block = [f"blk{i}" for i in range(w + ngram - 1)]  # exactly at the bound
    for trial in range(5):
        a_body = [f"a{trial}_{i}" for i in range(200)]
        b_body = [f"b{trial}_{i}" for i in range(300)]
        pa = int(rng.integers(0, 200))
        pb = int(rng.integers(0, 300))
        ta = a_body[:pa] + block + a_body[pa:]
        tb = b_body[:pb] + block + b_body[pb:]
        fa, fb = [
            winnow.winnow(
                shingles.shingle_hashes(shingles.hash_tokens_batch([t], SEED)[0], ngram, SEED),
                w,
            )
            for t in (ta, tb)
        ]
        assert np.intersect1d(fa, fb).size > 0, f"trial {trial}: no shared fingerprint"
    # and two unrelated docs share nothing
    f1 = winnow.winnow(
        shingles.shingle_hashes(shingles.hash_tokens_batch([["x%d" % i for i in range(300)]], SEED)[0], 5, SEED), w)
    f2 = winnow.winnow(
        shingles.shingle_hashes(shingles.hash_tokens_batch([["y%d" % i for i in range(300)]], SEED)[0], 5, SEED), w)
    assert np.intersect1d(f1, f2).size == 0


def test_winnow_short_and_empty_docs():
    from datasketches_spark.kernels import winnow

    assert winnow.winnow(np.empty(0, dtype=np.uint64), 50).size == 0
    short = np.array([7, 3, 9], dtype=np.uint64)
    got = winnow.winnow(short, 50)
    assert got.tolist() == [3]


def test_pipeline_span_pass_finds_planted_block_swaps(spark, tmp_path):
    """The corpus plants block-swap duplicates (role 18: a 60-token block of
    the gid base inside a unique body). Whole-document Jaccard correctly
    rejects them (J ~ 60/|doc|) — the span pass must find every
    (base_rep, block_swap) pair via winnowed fingerprints, with the exact
    common span >= the planted block length."""
    from datasketches_spark.config import DedupConfig
    from datasketches_spark.pipeline import run_dedup
    from datasketches_spark.sources.corpus import generate_corpus

    n = 400
    cfg = DedupConfig(span_pass=True)
    docs = generate_corpus(spark, n, seed=7)
    path = str(tmp_path / "docs")
    docs.write.mode("overwrite").parquet(path)
    res = run_dedup(spark, spark.read.parquet(path), cfg,
                    checkpoint_dir=str(tmp_path / "ckpt"))
    pairs = res.dup_pairs.collect()
    by_kind = {}
    for r in pairs:
        by_kind.setdefault(r["kind"], set()).add((r["id_a"], r["id_b"]))
    # role 14 is the distinct-content rep of the {14,15} exact group;
    # role 18 embeds base[:60] — every gid must produce the span pair
    expected = {(g * 20 + 14, g * 20 + 18) for g in range(n // 20)}
    span_found = by_kind.get("span", set())
    missing = expected - span_found
    assert not missing, f"span pass missed planted block swaps: {sorted(missing)[:5]}"
    # these pairs are NOT findable by whole-document near-dup verification
    assert not (expected & by_kind.get("near", set()))
    # span rows carry the evidence columns
    span_rows = [r for r in pairs if r["kind"] == "span"]
    assert all(r["common_span_tokens"] >= cfg.span_min_tokens for r in span_rows)
    assert all(r["jaccard_kmv"] is None for r in span_rows)
    # disabled by default: no span stage, no span pairs
    res2 = run_dedup(spark, spark.read.parquet(path), DedupConfig(),
                     checkpoint_dir=str(tmp_path / "ckpt2"))
    kinds2 = {r["kind"] for r in res2.dup_pairs.select("kind").distinct().collect()}
    assert "span" not in kinds2
    assert res2.span_pairs is None
