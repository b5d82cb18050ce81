"""Spark-level operator tests: serde round trip, span verify, KMV group
union vs exact, ANN top-k sanity, multimodal plumbing."""

import os
import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketches_spark.config import DedupConfig
from datasketches_spark.kernels import kmv
from datasketches_spark.operators import serde, spans
from datasketches_spark.operators.signatures import build_signatures, merge_kmv_sketches

CFG = DedupConfig()


@pytest.fixture(scope="module")
def docs(spark):
    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", F.col("text").alias("content"))
        .cache()
    )
    d.count()
    return d


@pytest.fixture(scope="module")
def sig(spark, docs):
    s = build_signatures(docs, CFG).cache()
    s.count()
    return s


def test_serde_round_trip_through_spark(spark, sig, tmp_path):
    """Serialize KMV columns to SerVer-3 binary, persist to parquet, read
    back, deserialize — estimates and entries preserved bit-exactly."""
    imgs = serde.with_serialized_kmv(sig)
    p = str(tmp_path / "sketches")
    imgs.select("doc_id", "kmv_image").write.parquet(p)
    back = spark.read.parquet(p).withColumn(
        "sk", serde.kmv_deserialize_udf()(F.col("kmv_image"))
    ).select("doc_id", "sk")
    joined = back.join(sig, "doc_id")
    rows = joined.select(
        "doc_id",
        (F.col("sk.kmv_theta") == F.col("kmv_theta")).alias("theta_ok"),
        (F.col("sk.kmv_entries") == F.col("kmv_entries")).alias("entries_ok"),
    ).collect()
    assert rows and all(r["theta_ok"] and r["entries_ok"] for r in rows)


def test_kmv_image_matches_kernel(spark, sig):
    """Spark-side serialization byte-equal to the kernel oracle."""
    row = serde.with_serialized_kmv(sig).select("kmv_entries", "kmv_theta", "kmv_image").first()
    arr = np.asarray(row["kmv_entries"], dtype=np.int64).view(np.uint64)
    sk = kmv.ThetaSketch(row["kmv_theta"], arr,
                         empty=arr.size == 0 and row["kmv_theta"] == kmv.MAX_THETA_LONG)
    assert bytes(row["kmv_image"]) == kmv.serialize_compact(sk)


def test_merge_kmv_matches_exact_distinct(spark):
    """Distributed theta union (applyInPandas two-phase) in exact mode ==
    COUNT(DISTINCT)."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    import pandas as pd

    from datasketches_spark.kernels.murmur3 import sketch_hash_longs_vec

    def to_sketch(itr):
        for pdf in itr:
            for flag, grp in pdf.groupby("l_returnflag"):
                vals = grp["l_suppkey"].to_numpy().astype(np.int64).view(np.uint64).reshape(-1, 1)
                sk = kmv.build(sketch_hash_longs_vec(vals, CFG.seed), k=CFG.k, seed=CFG.seed)
                yield pd.DataFrame({
                    "l_returnflag": [flag],
                    "kmv_entries": [sk.entries.view(np.int64)],
                    "kmv_theta": [np.int64(sk.theta)],
                })

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("l_returnflag", T.StringType(), False),
        T.StructField("kmv_entries", T.ArrayType(T.LongType(), False), False),
        T.StructField("kmv_theta", T.LongType(), False),
    ])
    partials = li.select("l_returnflag", "l_suppkey").repartition(8).mapInPandas(to_sketch, schema)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        merged = merge_kmv_sketches(partials, ["l_returnflag"], CFG)
    assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]
    got = {r["l_returnflag"]: int(round(r["estimate"])) for r in merged.collect()}
    exp = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").agg(F.countDistinct("l_suppkey").alias("n")).collect()
    }
    assert got == exp


def test_verify_spans_finds_planted_block(spark):
    """Block-swap pairs (role 18 shares a 60-token block with role 14) get
    high common-span; unrelated pairs get low."""
    from datasketches_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(spark, 200, seed=42).cache()
    pairs = spark.createDataFrame(
        [(14, 18), (34, 38), (0, 1)], ["id_a", "id_b"]
    )
    out = {
        (r["id_a"], r["id_b"]): r["common_span_tokens"]
        for r in spans.verify_spans(pairs, corpus, CFG, id_col="id").collect()
    }
    assert out[(14, 18)] >= 55
    assert out[(34, 38)] >= 55
    assert out[(0, 1)] <= 10


def test_multimodal_feature_plumbing(spark):
    from datasketches_spark.operators.multimodal import extract_features, synthetic_media

    media = synthetic_media(spark, 50, seed=7)
    feats = extract_features(media, dim=16, fake=True, target_partitions=4)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(len(r["feature"]) == 16 for r in rows)
    # deterministic across runs
    again = {r["media_id"]: r["payload_sha256"] for r in extract_features(
        synthetic_media(spark, 50, seed=7), dim=16, fake=True).collect()}
    assert all(again[r["media_id"]] == r["payload_sha256"] for r in rows)


def test_ann_lsh_overlaps_exact(spark):
    """Hyperplane-LSH top-k finds the exact top-1 for most queries (same
    bucket) — sanity that the bucketed path is a faithful approximation."""
    from datasketches_spark.operators.ann import cosine_topk, cosine_topk_lsh

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
        .cache()
    )
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = cosine_topk(emb, q, k=1).filter(F.col("rank") == 1).collect()
    approx = cosine_topk_lsh(emb, q, dim=64, k=1, n_planes=8).filter(F.col("rank") == 1).collect()
    # top-1 of a query is the query vector itself (cosine 1.0) and always
    # shares its own bucket -> LSH must find it
    exact_top = {r["query_id"]: r["vec_id"] for r in exact}
    approx_top = {r["query_id"]: r["vec_id"] for r in approx}
    assert all(exact_top[qid] == qid for qid in exact_top)
    assert all(approx_top.get(qid) == qid for qid in exact_top)


def test_salted_join_equals_exact_pairs(spark, sig):
    """Salted-repartition self-join produces exactly the same candidate
    pair set as the plain bucket self-join (completeness under salting)."""
    from datasketches_spark.operators import lsh

    bands = lsh.band_table(sig, CFG)
    exact = {(r["id_a"], r["id_b"]) for r in lsh.candidate_pairs_exact(bands, CFG).collect()}
    salted = {(r["id_a"], r["id_b"]) for r in lsh.candidate_pairs_salted(bands, CFG, n_salts=4).collect()}
    assert exact == salted
    assert len(exact) > 0


def _lambda_nested(expr, names) -> list[str]:
    """Class names from ``names`` found anywhere inside the body of a
    LambdaFunction in the (JVM) expression tree ``expr``."""
    found = []

    def walk(e, in_lambda):
        cls = e.getClass().getSimpleName()
        if in_lambda and cls in names:
            found.append(cls)
        inside = in_lambda or cls == "LambdaFunction"
        ch = e.children()
        for i in range(ch.size()):
            walk(ch.apply(i), inside)

    walk(expr, False)
    return found


def test_verify_over_k_parity_at_production_k(spark):
    """Two documents of ~5k distinct 5-gram shingles with J ~ 0.8 at
    k=4096: the union below min-theta exceeds k, so verify takes the
    quickselect pull-back branch. jaccard_kmv/lb/ub equal kmv.jaccard, and
    the pull-back's sort is evaluated per row: no array_sort/array_union
    sits inside a lambda of the jaccard_kmv expression (one sort per
    intersection element made a single over-k pair cost ~12 s). The
    grouped bucket pass's NumPy estimate equals it too."""
    from datasketches_spark.operators import lsh
    from datasketches_spark.operators.verify import (
        verify_pairs,
        verify_star_edges_with_fallback,
    )

    cfg = DedupConfig(jaccard_threshold=0.5)
    assert cfg.k == 4096
    common = [f"c{i}" for i in range(4448)]
    texts = [" ".join(common + [f"{tag}{i}" for i in range(556)]) for tag in ("a", "b")]
    sig = build_signatures(
        spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, content STRING"),
        cfg).localCheckpoint()
    pairs = spark.createDataFrame([(0, 1)], "id_a LONG, id_b LONG")
    out = verify_pairs(pairs, sig, cfg, keep_below_threshold=True, with_bounds=True)

    sk = {r["doc_id"]: kmv.ThetaSketch(
        r["kmv_theta"], np.asarray(r["kmv_entries"], dtype=np.int64).view(np.uint64),
        empty=False, seed=cfg.seed) for r in sig.collect()}
    theta = min(sk[0].theta, sk[1].theta)
    below = np.union1d(sk[0].entries, sk[1].entries)
    assert np.count_nonzero(below < np.uint64(theta)) > cfg.k  # over-k branch
    lb, est, ub = kmv.jaccard(sk[0], sk[1], k=cfg.k)
    assert 0.7 < est < 0.9
    (row,) = out.collect()
    assert (row["jaccard_kmv"], row["jaccard_lb"], row["jaccard_ub"]) == (est, lb, ub)

    # the grouped bucket pass computes the same statistic in NumPy
    bands = spark.createDataFrame([(0, 0, 42), (1, 0, 42)], "doc_id LONG, band INT, bhash LONG")
    (g,) = verify_star_edges_with_fallback(bands, lsh.bucket_stats(bands), sig, cfg).collect()
    assert g["jaccard_kmv"] == est
    assert kmv.jaccard_estimate(sk[0].entries, sk[0].theta, sk[1].entries, sk[1].theta,
                                cfg.k)[0] == est

    plan = out._jdf.queryExecution().analyzed()
    proj = plan.projectList()
    (kmv_expr,) = [proj.apply(i) for i in range(proj.size())
                   if proj.apply(i).name() == "jaccard_kmv"]
    assert _lambda_nested(kmv_expr, {"ArraySort", "ArrayUnion"}) == []


def _bucket_sigs(spark, entries_by_id: dict[int, list[int]]):
    rows = [(i, [0] * CFG.num_perm, sorted(e), kmv.MAX_THETA_LONG)
            for i, e in entries_by_id.items()]
    return spark.createDataFrame(
        rows, "doc_id LONG, minhash ARRAY<LONG>, kmv_entries ARRAY<LONG>, kmv_theta LONG")


_SHARED = list(range(1000, 1095))
# rep 1 is an LSH false positive, disjoint from 2 and 3; (2, 3) is a true
# pair (J = 95/105)
_FP_REP = {1: list(range(1, 101)), 2: _SHARED + [2001, 2002, 2003, 2004, 2005],
           3: _SHARED + [3001, 3002, 3003, 3004, 3005]}
# every member shares 100 hashes (J = 100/102 for every pair)
_ALL_PASS = {i: list(range(1000, 1100)) + [1000 * i + 201] for i in (1, 2, 3)}


@pytest.mark.parametrize("sigs, n_bands, broadcast, expected", [
    pytest.param(_FP_REP, 1, True, {(2, 3)}, id="fp_rep"),
    pytest.param(_FP_REP, 1, False, {(2, 3)}, id="fp_rep_shuffle"),
    pytest.param(_ALL_PASS, 1, True, {(1, 2), (1, 3)}, id="all_pass"),
    pytest.param(_FP_REP, 2, True, {(2, 3)}, id="same_set_two_bands"),
])
def test_bucket_verify_false_positive_rep(spark, sigs, n_bands, broadcast, expected):
    """One bucket {1, 2, 3}, rep = 1. Star edges alone lose the true pair
    (2, 3) behind a false-positive rep: a failed star edge makes the bucket
    verify all its pairs. A bucket whose star edges all pass yields only
    them. The same member set in two bands yields each pair once. Values
    equal ``verify_pairs``' SQL columns, and the caller's job label
    survives the call."""
    from datasketches_spark.operators import lsh, verify

    sig = _bucket_sigs(spark, sigs)
    bands = spark.createDataFrame(
        [(i, b, 42) for b in range(n_bands) for i in (1, 2, 3)],
        "doc_id LONG, band INT, bhash LONG")
    sc = spark.sparkContext
    sc.setJobDescription("probe:bucket_verify")
    try:
        out = verify.verify_star_edges_with_fallback(
            bands, lsh.bucket_stats(bands), sig, CFG, broadcast_eligible=broadcast)
        rows = out.collect()
        assert sc.getLocalProperty("spark.job.description") == "probe:bucket_verify"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    got = [(r["id_a"], r["id_b"]) for r in rows]
    assert sorted(got) == sorted(expected)
    pairs = spark.createDataFrame(got, "id_a LONG, id_b LONG")
    sql = {(r["id_a"], r["id_b"]): (r["jaccard_kmv"], r["jaccard_minhash"])
           for r in verify.verify_pairs(pairs, sig, CFG).collect()}
    assert {(r["id_a"], r["id_b"]): (r["jaccard_kmv"], r["jaccard_minhash"])
            for r in rows} == sql


# ------------------------------------------- connected components parity

# disjoint id ranges, so one edge table holds every shape at once
CC_GRAPHS = {
    "chain64": [(i, i + 1) for i in range(63)],
    "star": [(100, 100 + i) for i in range(1, 20)],
    "cycle": [(200 + i, 200 + (i + 1) % 12) for i in range(12)],
    "dup_and_reversed": [(303, 307), (307, 303), (303, 307), (309, 307), (307, 309)],
    "self_loop": [(405, 405), (405, 406), (408, 408)],
    "two_components": [(501, 502), (502, 503), (510, 511), (512, 511)],
}


CC_EDGES = [e for g in CC_GRAPHS.values() for e in g]
CC_LABELS = {**{i: 0 for i in range(64)}, **{i: 100 for i in range(100, 120)},
             **{i: 200 for i in range(200, 212)}, 303: 303, 307: 303, 309: 303,
             405: 405, 406: 405, 501: 501, 502: 501, 503: 501,
             510: 510, 511: 510, 512: 510}


@pytest.mark.parametrize("id_type", ["INT", "LONG"])
@pytest.mark.parametrize("rows, labels", [(CC_EDGES, CC_LABELS), ([], {})],
                         ids=["graphs", "empty"])
def test_cc_local_solve_equals_star_rounds(spark, id_type, rows, labels):
    """The driver-side solve returns exactly the star rounds' rows and
    schema, id type included: self-loop-only nodes absent, every other
    node labelled with its component's minimum id."""
    from datasketches_spark.operators.connected_components import (
        connected_components, connected_components_local)

    edges = spark.createDataFrame(rows, f"src {id_type}, dst {id_type}")
    local = connected_components_local(edges)
    star = connected_components(edges)
    assert local.schema == star.schema
    assert local.schema["doc_id"].dataType == edges.schema["src"].dataType
    assert local.schema["cluster_id"].dataType == edges.schema["src"].dataType
    got = sorted(tuple(r) for r in local.collect())
    assert got == sorted(tuple(r) for r in star.collect())
    assert dict(got) == labels


def test_cosine_topk_collected_rejects_non_integral_ids(spark):
    """The matmul path emits LongType ids: non-integral id columns raise a
    clear TypeError instead of crashing in NumPy or coercing '07' to 7;
    the JVM path still serves them."""
    from datasketches_spark.operators.ann import cosine_topk

    vecs = [[1.0, 0.0], [0.0, 1.0]]
    str_corpus = spark.createDataFrame(list(zip(["07", "x"], vecs)),
                                       "vec_id STRING, embedding ARRAY<DOUBLE>")
    int_corpus = spark.createDataFrame(list(zip([7, 8], vecs)),
                                       "vec_id INT, embedding ARRAY<DOUBLE>")
    str_q = spark.createDataFrame([("q", vecs[0])], "query_id STRING, embedding ARRAY<DOUBLE>")
    long_q = spark.createDataFrame([(1, vecs[0])], "query_id LONG, embedding ARRAY<DOUBLE>")
    with pytest.raises(TypeError, match="'vec_id' is string"):
        cosine_topk(str_corpus, long_q, k=1, max_collected_queries=4)
    with pytest.raises(TypeError, match="'query_id' is string"):
        cosine_topk(int_corpus, str_q, k=1, max_collected_queries=4)
    top = cosine_topk(int_corpus, long_q, k=1, max_collected_queries=4).collect()
    assert [(r["query_id"], r["vec_id"]) for r in top] == [(1, 7)]
    assert [r["vec_id"] for r in cosine_topk(str_corpus, long_q, k=1).collect()] == ["07"]
