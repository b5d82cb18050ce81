"""Round-2 additions: star-edge fallback recall, EquivTables bounds,
SerVer-1/2 heapify, double canonicalization, real multimodal codecs,
ratio-bound parity semantics, checkpoint validity chain, two-phase KMV
group aggregation, LSH-bucketed embedding near-dups."""

import json
import os
import struct
import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketches_spark.config import DedupConfig
from datasketches_spark.kernels import bounds, kmv
from datasketches_spark.kernels.murmur3 import (
    canonicalize_doubles,
    sketch_hash_doubles_vec,
)

CFG = DedupConfig()


# ------------------------------------------------- star-edge fallback

def test_star_edges_alone_would_miss_that_pair(spark):
    """Negative control: the pre-fallback candidate edges (rep→member only)
    cannot contain (2, 3) — documents why the fallback exists."""
    from datasketches_spark.operators import lsh

    bands = spark.createDataFrame(
        [(1, 0, 42), (2, 0, 42), (3, 0, 42)], "doc_id LONG, band INT, bhash LONG"
    )
    edges, _ = lsh.candidate_edges(bands, CFG)
    got = {(r["src"], r["dst"]) for r in edges.collect()}
    assert got == {(1, 2), (1, 3)}


# --------------------------------------------------- EquivTables bounds

def test_equiv_table_bounds_tiny_theta():
    """n <= 120 and theta < n/360 must use the table-adjusted z values —
    golden values pinned from the transcribed reference tables
    (EquivTables.cs:43+, BinomialBoundsN.cs:141-148,178-185)."""
    assert bounds.binomial_lower_bound(100, 0.001, 2) == pytest.approx(81023.70405777996)
    assert bounds.binomial_upper_bound(100, 0.001, 2) == pytest.approx(122071.10083561917)
    assert bounds.binomial_lower_bound(100, 0.001, 1) == pytest.approx(90020.75283671904)
    assert bounds.binomial_upper_bound(100, 0.001, 3) == pytest.approx(133811.2154312135)
    # and they differ from the raw-Gaussian stand-in the table replaced
    gauss = bounds._cont_classic_lb(100, 0.001, 2) - 0.5
    assert bounds.binomial_lower_bound(100, 0.001, 2) != pytest.approx(gauss)


def test_equiv_table_bounds_bracket_estimate():
    for n in (2, 50, 120):
        theta = n / 1000.0  # < n/360
        est = n / theta
        lb = bounds.binomial_lower_bound(n, theta, 2)
        ub = bounds.binomial_upper_bound(n, theta, 2)
        assert lb <= est <= ub


# ----------------------------------------------------- SerVer-1/2 read

def _v3_equiv(entries, theta, seed=CFG.seed):
    return kmv.ThetaSketch(theta, np.array(sorted(entries), dtype=np.uint64),
                           empty=False, seed=seed)


def test_heapify_serde_v1():
    """Hand-built SerVer-1 image (3 preLongs, compact ordered, no seed
    hash) up-converts on read (ForwardCompatibility.cs:44-87)."""
    entries = [5, 9, 21, 77]
    theta = kmv.MAX_THETA_LONG // 3
    img = struct.pack("<BBBBBBH", 3, 1, 3, 12, 0, 0, 0)
    img += struct.pack("<ii", len(entries), 0) + struct.pack("<q", theta)
    img += np.array(sorted(entries), dtype="<u8").tobytes()
    sk = kmv.deserialize_compact(img, seed=CFG.seed)
    exp = _v3_equiv(entries, theta)
    assert sk.theta == exp.theta
    assert np.array_equal(sk.entries, exp.entries)
    assert sk.estimate() == exp.estimate()


def test_heapify_serde_v1_empty():
    img = struct.pack("<BBBBBBH", 3, 1, 3, 12, 0, 0, 0)
    img += struct.pack("<ii", 0, 0) + struct.pack("<q", kmv.MAX_THETA_LONG)
    sk = kmv.deserialize_compact(img, seed=CFG.seed)
    assert sk.empty and sk.count == 0


def test_heapify_serde_v2_prelongs2():
    """SerVer-2, 2 preLongs (exact mode, theta = 1.0)."""
    entries = [100, 200, 300]
    img = struct.pack("<BBBBBBH", 2, 2, 3, 12, 0, 0, 0)
    img += struct.pack("<ii", len(entries), 0)
    img += np.array(sorted(entries), dtype="<u8").tobytes()
    sk = kmv.deserialize_compact(img, seed=CFG.seed)
    assert sk.theta == kmv.MAX_THETA_LONG
    assert sk.estimate() == 3.0


def test_heapify_serde_v2_prelongs3():
    entries = [11, 22]
    theta = kmv.MAX_THETA_LONG // 2
    img = struct.pack("<BBBBBBH", 3, 2, 3, 12, 0, 0, 0)
    img += struct.pack("<ii", len(entries), 0) + struct.pack("<q", theta)
    img += np.array(sorted(entries), dtype="<u8").tobytes()
    sk = kmv.deserialize_compact(img, seed=CFG.seed)
    assert sk.theta == theta and sk.count == 2


def test_heapify_serde_v2_prelongs1_empty():
    img = struct.pack("<BBBBBBH", 1, 2, 3, 12, 0, 0, 0)
    sk = kmv.deserialize_compact(img, seed=CFG.seed)
    assert sk.empty


def test_serde_v4_recognized_but_unsupported():
    img = struct.pack("<BBBBBBH", 2, 4, 3, 12, 0, 0, 0)
    with pytest.raises(ValueError, match="SerVer 4"):
        kmv.deserialize_compact(img, seed=CFG.seed)


# --------------------------------------------- double canonicalization

def test_double_canonicalization():
    """-0.0 hashes like +0.0; every NaN bit pattern hashes identically;
    infinities stay distinct (UpdateSketch.cs:217-222)."""
    a = sketch_hash_doubles_vec(np.array([0.0, 42.5, np.inf, -np.inf]), CFG.seed)
    b = sketch_hash_doubles_vec(np.array([-0.0, 42.5, np.inf, -np.inf]), CFG.seed)
    assert np.array_equal(a, b)
    nan1 = np.float64("nan")
    nan2 = np.frombuffer(struct.pack("<Q", 0x7FF8000000000001), dtype=np.float64)[0]
    h = sketch_hash_doubles_vec(np.array([nan1, nan2]), CFG.seed)
    assert h[0] == h[1]
    assert a[2] != a[3]  # +inf vs -inf distinct
    bits = canonicalize_doubles(np.array([-0.0]))
    assert bits[0] == 0


# ------------------------------------------------- multimodal codecs

def test_ppm_round_trip():
    from datasketches_spark.operators.multimodal import decode_ppm, encode_ppm

    rng = np.random.Generator(np.random.Philox(key=1))
    img = rng.integers(0, 256, (13, 9, 3), dtype=np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(img)), img)


def test_ppm_comments_and_whitespace():
    from datasketches_spark.operators.multimodal import decode_ppm

    img = b"P6\n# a comment\n2 1\n# another\n255\n" + bytes(range(6))
    out = decode_ppm(img)
    assert out.shape == (1, 2, 3) and out.ravel().tolist() == list(range(6))


def test_wav_round_trip():
    from datasketches_spark.operators.multimodal import decode_wav, encode_wav_pcm16

    rng = np.random.Generator(np.random.Philox(key=2))
    samples = rng.integers(-3000, 3000, (500, 2), dtype=np.int16)
    back, rate = decode_wav(encode_wav_pcm16(samples, rate=8000))
    assert rate == 8000 and np.array_equal(back, samples)


def test_multimodal_real_decode_image(spark):
    from datasketches_spark.operators.multimodal import extract_features, synthetic_media

    media = synthetic_media(spark, 20, seed=7)
    rows = extract_features(media, dim=16, fake=False).collect()
    assert len(rows) == 20
    assert all(len(r["feature"]) == 16 for r in rows)
    # features depend on decoded pixels -> not all-equal across items
    assert len({tuple(r["feature"]) for r in rows}) > 1


def test_multimodal_real_decode_audio(spark):
    from datasketches_spark.operators.multimodal import extract_features, synthetic_media

    media = synthetic_media(spark, 10, seed=3, kind="audio")
    rows = extract_features(media, dim=8, fake=False).collect()
    assert len(rows) == 10
    assert all(len(r["feature"]) == 8 for r in rows)


def test_multimodal_unknown_format_raises():
    from datasketches_spark.operators.multimodal import decode_features

    with pytest.raises(NotImplementedError):
        decode_features(b"\x89PNG\r\n\x1a\nxxxx", fake=False)


# ------------------------------------------------- ratio bound parity

def test_ratio_bounds_exact_mode_collapses():
    """f == 1.0 (theta == 1.0): both bounds equal the estimate, as the
    reference does (BoundsOnRatiosInSampledSets.cs:56,74)."""
    est, lb, ub = bounds.ratio_bounds(100, 30, f=1.0)
    assert float(est) == float(lb) == float(ub) == 0.3


def test_ratio_bounds_bracket_and_corner_branches():
    est, lb, ub = bounds.ratio_bounds(100, 30, f=0.01, num_std_devs=2.0)
    assert float(lb) < 0.3 < float(ub)
    # k == n: exact lower branch = delta^(1/n)
    z = 2.0 * bounds._hacky_adjuster(0.01)
    delta = float(bounds._delta_of_num_stdevs(z))
    _, lb_n, ub_n = bounds.ratio_bounds(50, 50, f=0.01, num_std_devs=2.0)
    assert float(lb_n) == pytest.approx(delta ** (1.0 / 50.0))
    assert float(ub_n) == 1.0
    # k == 0: exact upper branch = 1 - delta^(1/n)
    _, lb_0, ub_0 = bounds.ratio_bounds(50, 0, f=0.01, num_std_devs=2.0)
    assert float(lb_0) == 0.0
    assert float(ub_0) == pytest.approx(1.0 - delta ** (1.0 / 50.0))


def test_kmv_jaccard_bounds_still_bracket(spark):
    rng = np.random.Generator(np.random.Philox(key=9))
    a_items = rng.integers(1, 2**62, 20000, dtype=np.uint64)
    b_items = np.concatenate([a_items[:10000], rng.integers(1, 2**62, 10000, dtype=np.uint64)])
    from datasketches_spark.kernels.murmur3 import sketch_hash_longs_vec

    sa = kmv.build(sketch_hash_longs_vec(a_items.reshape(-1, 1), CFG.seed), k=CFG.k, seed=CFG.seed)
    sb = kmv.build(sketch_hash_longs_vec(b_items.reshape(-1, 1), CFG.seed), k=CFG.k, seed=CFG.seed)
    lb, est, ub = kmv.jaccard(sa, sb, k=CFG.k)
    true_j = 10000 / 30000
    assert lb <= est <= ub
    assert abs(est - true_j) < 0.05
    assert lb <= true_j <= ub


# ------------------------------------------------ checkpoint validity

def _mk_store(spark, root, input_fp="fp-A"):
    from datasketches_spark.plans.checkpoints import CheckpointStore

    return CheckpointStore(spark, root, CFG, input_fp=input_fp)


def test_checkpoint_input_fingerprint_invalidates(spark, tmp_path):
    root = str(tmp_path / "ckpt_fp")
    s1 = _mk_store(spark, root, input_fp="fp-A")
    s1.stage("a", lambda: spark.range(10).withColumnRenamed("id", "x"))
    assert s1.is_valid("a", [])
    s2 = _mk_store(spark, root, input_fp="fp-B")
    assert not s2.is_valid("a", [])
    s3 = _mk_store(spark, root, input_fp="fp-A")
    assert s3.is_valid("a", [])


def test_checkpoint_upstream_chain_invalidates(spark, tmp_path):
    """Rewriting an upstream stage's manifest (new data) must invalidate
    every downstream stage through the manifest-hash chain."""
    root = str(tmp_path / "ckpt_chain")
    s = _mk_store(spark, root)
    s.stage("a", lambda: spark.range(5).withColumnRenamed("id", "x"))
    s.stage("b", lambda: spark.range(3).withColumnRenamed("id", "y"), upstream=["a"])
    assert s.is_valid("b", ["a"])
    # upstream recomputed -> new manifest content -> chain broken
    s.stage("a", lambda: spark.range(6).withColumnRenamed("id", "x"))
    # force rewrite by invalidating manually: simulate by editing manifest
    mpath = os.path.join(root, "a", "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["written_at"] = 0
    with open(mpath, "w") as f:
        json.dump(m, f)
    assert not s.is_valid("b", ["a"])


def test_checkpoint_commit_needs_no_directory_rename(spark, tmp_path):
    """Object-store-safe protocol: data dirs are immutable once written and
    the manifest names the live one; a second write leaves a NEW data dir
    and swaps the manifest (old dir garbage-collected)."""
    root = str(tmp_path / "ckpt_commit")
    s = _mk_store(spark, root)
    s.stage("a", lambda: spark.range(4).withColumnRenamed("id", "x"))
    with open(os.path.join(root, "a", "manifest.json")) as f:
        d1 = json.load(f)["data_dir"]
    s2 = _mk_store(spark, root, input_fp="other")  # invalid -> recompute
    df = s2.stage("a", lambda: spark.range(7).withColumnRenamed("id", "x"))
    with open(os.path.join(root, "a", "manifest.json")) as f:
        m2 = json.load(f)
    assert m2["data_dir"] != d1
    assert m2["n_rows"] == 7 and df.count() == 7


def test_checkpoint_observed_metrics_no_extra_job(spark, tmp_path):
    root = str(tmp_path / "ckpt_obs")
    s = _mk_store(spark, root)
    s.stage("a", lambda: spark.range(10).withColumnRenamed("id", "x"),
            extra_obs={"n_big": F.count(F.when(F.col("x") > 6, 1))})
    m = s.manifest("a")
    assert m["n_rows"] == 10
    assert int(m["observed"]["n_big"]) == 3


# -------------------------------------- two-phase KMV group aggregation

def test_kmv_distinct_by_group_two_phase_plan_and_values(spark):
    """The distinct-by-group plan must be mapInPandas partials feeding the
    per-key merge — never a full-group FlatMapGroupsInPandas directly over
    the raw fact table — and equal COUNT(DISTINCT) in exact mode."""
    from datasketches_spark.operators.signatures import kmv_distinct_by_group

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = kmv_distinct_by_group(li, "l_returnflag", "l_suppkey", CFG)
    # the grouped function's hints must not leave PySpark guessing
    assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    # the grouped merge must sit ABOVE the partial stage in the plan tree
    assert plan.index("FlatMapGroupsInPandas") < plan.index("MapInPandas")
    got = {r["l_returnflag"]: r["distinct_est"] for r in out.collect()}
    exp = {r["l_returnflag"]: r["n"]
           for r in li.groupBy("l_returnflag")
           .agg(F.countDistinct("l_suppkey").alias("n")).collect()}
    assert got == exp


# ------------------------------------------- embedding near-dup LSH

def test_embedding_near_dups_lsh_equals_brute_force(spark):
    """Planted near-duplicate embeddings: the multi-table hyperplane-LSH
    path finds exactly the pairs the O(n²) brute force finds."""
    rng = np.random.Generator(np.random.Philox(key=11))
    base = rng.standard_normal((60, 64))
    rows = []
    vid = 0
    for i in range(60):
        rows.append((vid, base[i].tolist())); vid += 1
        if i % 5 == 0:  # plant a near-dup (cosine ~0.995)
            pert = base[i] + 0.08 * rng.standard_normal(64)
            rows.append((vid, pert.tolist())); vid += 1
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    from datasketches_spark.operators.ann import _dot, _norm, cosine_near_dup_pairs

    got = {(r["id_a"], r["id_b"]) for r in
           cosine_near_dup_pairs(emb, dim=64, threshold=0.95).collect()}
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    brute = {(r["id_a"], r["id_b"]) for r in
             a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .withColumn("c", cos).filter(F.col("c") >= 0.95)
             .select("id_a", "id_b").collect()}
    assert len(brute) >= 10
    assert got == brute


def test_embedding_near_dups_plan_has_no_cross_join(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod._q_embedding_near_dups(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# -------------------------------------------- K3 / K39 / K40 coverage

def test_murmur3_int_array_overload():
    """Hash(int[]) packs ints LE into the same lanes as the byte[] image
    and as long[] pairs (MurmurHash3.cs:129-168,444-452) — cross-check the
    two independent implementations."""
    from datasketches_spark.kernels.murmur3 import hash128_ints_vec, hash128_longs_vec

    rng = np.random.Generator(np.random.Philox(key=5))
    for n_ints in (2, 4, 6, 8):
        ints = rng.integers(0, 2**32, n_ints, dtype=np.uint32)
        longs = ints.view(np.uint64)  # LE pairs: int[2i] | int[2i+1] << 32
        hi = hash128_ints_vec([ints], seed=9001)
        hl = hash128_longs_vec(longs.reshape(1, -1), seed=9001)
        assert hi[0][0] == hl[0][0] and hi[1][0] == hl[1][0], n_ints
    # odd tails exercise the rem 1..3 branch (no long[] twin: lengths differ)
    h1 = hash128_ints_vec([np.array([7], dtype=np.uint32)], seed=9001)
    h3 = hash128_ints_vec([np.array([7, 8, 9], dtype=np.uint32)], seed=9001)
    assert h1[0][0] != h3[0][0]


def test_build_with_stats_counters():
    from datasketches_spark.kernels.murmur3 import sketch_hash_longs_vec

    vals = np.arange(1, 10001, dtype=np.uint64).reshape(-1, 1)
    hashes = sketch_hash_longs_vec(vals, CFG.seed)
    dup = np.concatenate([hashes, hashes[:100],
                          np.array([0, kmv.MAX_THETA_LONG], dtype=np.uint64)])
    sk, st = kmv.build_with_stats(dup, k=256, seed=CFG.seed)
    assert st["n_input"] == 10102
    assert st["rejected_reserved"] == 2
    assert st["rejected_duplicate"] == 100
    assert st["inserted"] == sk.count
    assert st["trimmed_over_theta"] == 10000 - sk.count
    assert sum([st["rejected_reserved"], st["rejected_duplicate"],
                st["rejected_over_sampling"], st["trimmed_over_theta"],
                st["inserted"]]) == st["n_input"]


def test_preamble_to_string():
    from datasketches_spark.kernels.murmur3 import sketch_hash_longs_vec

    hashes = sketch_hash_longs_vec(np.arange(1, 50, dtype=np.uint64).reshape(-1, 1), CFG.seed)
    sk = kmv.build(hashes, k=16, seed=CFG.seed)
    s = kmv.preamble_to_string(kmv.serialize_compact(sk))
    assert "serVer              : 3" in s
    assert "COMPACT|ORDERED" in s
    assert f"curCount            : {sk.count}" in s
    assert "thetaLong" in s
    e = kmv.preamble_to_string(kmv.serialize_compact(kmv.empty_sketch(CFG.seed)))
    assert "EMPTY" in e


def test_video_frame_sampling():
    from datasketches_spark.operators.multimodal import (
        encode_ppm_video, iter_ppm_frames, sample_frames, video_features)

    rng = np.random.Generator(np.random.Philox(key=21))
    frames = [rng.integers(0, 256, (5, 7, 3), dtype=np.uint8) for _ in range(9)]
    payload = encode_ppm_video(frames)
    back = list(iter_ppm_frames(payload))
    assert len(back) == 9
    assert all(np.array_equal(a, b) for a, b in zip(back, frames))
    sampled = sample_frames(payload, every=3)
    assert len(sampled) == 3  # frames 0, 3, 6
    assert np.array_equal(sampled[1], frames[3])
    feat = video_features(payload, dim=12)
    assert feat.shape == (12,) and feat.dtype == np.float32


def test_video_media_through_spark(spark):
    from datasketches_spark.operators.multimodal import extract_features, synthetic_media

    media = synthetic_media(spark, 8, seed=5, kind="video")
    rows = extract_features(media, dim=8, fake=False).collect()
    assert len(rows) == 8 and all(len(r["feature"]) == 8 for r in rows)


def test_simhash_near_pairs_finds_planted_dups(spark, tmp_path):
    """Exact duplicates have identical SimHash (hamming 0) and must surface
    through the 4-table chunk-LSH + bit_count verify path."""
    import __spark_entry__ as entry_mod
    from datasketches_spark.sources.corpus import generate_corpus

    docs = generate_corpus(spark, 200, seed=42).select(
        F.col("id").alias("doc_id"), F.col("content").alias("text"))
    p = str(tmp_path / "documents.parquet")
    docs.write.parquet(p)
    out = entry_mod._q_simhash_near_pairs(spark, str(tmp_path))
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    # roles 14/15 in each 20-id window are exact dups -> hamming 0
    for gid in range(10):
        a, b = gid * 20 + 14, gid * 20 + 15
        assert pairs.get((a, b)) == 0, (a, b, pairs.get((a, b)))
