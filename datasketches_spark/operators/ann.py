"""Similarity search over embedding columns (SURVEY task spec: brute-force
cosine top-k baseline + an LSH-bucketed scale path).

Brute-force: query set × corpus cross join with the dot product computed by
``F.zip_with`` + ``F.aggregate`` (JVM-side, codegen). The query side is
small by construction → ``broadcast`` hint, so the "cross" join is a
broadcast nested loop over corpus partitions: embarrassingly parallel, no
shuffle of the corpus. Top-k per query via a window over (query, score).

Scale path: random-hyperplane LSH — sign bits of dot products with
``n_planes`` deterministic hyperplanes form a bucket key; candidates only
need scoring within matching buckets (``cosine_topk_lsh(multi_probe=True)``
additionally probes all buckets within Hamming distance 1 on the query
side). Hyperplanes are generated from the seed via murmur3-keyed Philox so
every executor materializes identical planes."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from datasketches_spark.config import DEFAULT_SEED


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id",
                max_collected_queries: int = 0) -> DataFrame:
    """Exact cosine top-k for each query vector: (query_id, vec_id, cosine,
    rank). Ties broken by vec_id for determinism.

    ``max_collected_queries`` > 0 enables the matmul fast path when the
    caller KNOWS the query side is tiny (e.g. a fixed handful of probe
    vectors): the queries are collected once (bounded — falls back to the
    JVM path past the cap) and every corpus partition scores a whole Arrow
    batch against the query matrix with ONE BLAS matmul instead of
    per-element zip_with/aggregate lambda evaluation (guide §4.2).
    Measured 0.78 s → 0.33 s on a 20k × 5 corpus×query workload at
    local[32]; rounded cosines identical on every test scale. The default
    (0) keeps the pure-JVM broadcast nested-loop plan — the right shape
    when the query side is itself a big DataFrame."""
    if max_collected_queries:
        # the matmul path emits LongType ids; anything else would crash in
        # NumPy or be coerced silently
        for df, col in ((queries, query_id_col), (corpus, id_col)):
            if not isinstance(df.schema[col].dataType, T.IntegralType):
                raise TypeError(
                    f"max_collected_queries needs integral ids; {col!r} is "
                    f"{df.schema[col].dataType.simpleString()}")
        rows = queries.select(query_id_col, vec_col).limit(
            max_collected_queries + 1).collect()
        if len(rows) <= max_collected_queries:
            return _cosine_topk_collected(
                corpus, rows, k, id_col, vec_col, query_id_col)
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .withColumn(
            "cosine",
            F.when(
                (F.col("q_norm") > 0) & (F.col("c_norm") > 0),
                _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")),
            ).otherwise(F.lit(0.0)),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _cosine_topk_collected(corpus: DataFrame, query_rows: list, k: int,
                           id_col: str, vec_col: str,
                           query_id_col: str) -> DataFrame:
    """Matmul scoring against a driver-collected (bounded) query set: one
    (batch × dim) @ (dim × n_q) product per Arrow batch. Cosine semantics
    identical to the JVM path: 0.0 when either norm is zero."""
    qids = np.array([r[0] for r in query_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in query_rows], dtype=np.float64)
    q_norm = np.sqrt((Q * Q).sum(axis=1)) if len(query_rows) else np.empty(0)
    schema = T.StructType([
        T.StructField(query_id_col, T.LongType()),
        T.StructField(id_col, T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ])

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0 or qids.size == 0:
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            c_norm = np.sqrt((V * V).sum(axis=1))
            S = V @ Q.T
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where((c_norm[:, None] > 0) & (q_norm[None, :] > 0),
                               S / (c_norm[:, None] * q_norm[None, :]), 0.0)
            yield pd.DataFrame({
                query_id_col: np.tile(qids, n),
                id_col: np.repeat(pdf[id_col].to_numpy(), qids.size),
                "cosine": cos.ravel(),
            })

    scored = corpus.select(id_col, vec_col).mapInPandas(score, schema)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = DEFAULT_SEED) -> np.ndarray:
    rng = np.random.Generator(np.random.Philox(key=seed, counter=[7, 0, 0, 0]))
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


# per-worker plane cache: regenerating from the seed on each executor keeps
# the planes OUT of the plan and out of the task closure — at dim 1024 with
# 16×8 planes, literal plane arrays were 130k+ expressions (codegen blowup)
_PLANE_CACHE: dict = {}


def _planes_cached(dim: int, n: int, seed: int) -> np.ndarray:
    key = (dim, n, seed)
    p = _PLANE_CACHE.get(key)
    if p is None:
        p = _PLANE_CACHE[key] = hyperplanes(dim, n, seed).T.copy()  # (dim, n)
    return p


def _bucket_udf(dim: int, n_tables: int, n_planes: int, seed: int):
    """Arrow-batched scalar UDF: ONE matmul per batch computes the sign-bit
    bucket keys of every table at once — plan size is O(1) in dim, and the
    work is a vectorized (batch × dim) @ (dim × tables·planes) product
    instead of tables·planes·dim codegen'd scalar expressions."""
    from pyspark.sql.pandas.functions import pandas_udf

    weights = (1 << np.arange(n_planes, dtype=np.uint64)).astype(np.int64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        P = _planes_cached(dim, n_tables * n_planes, seed)  # (dim, T*r)
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack(vecs.to_numpy()).astype(np.float64, copy=False)  # (n, dim)
        bits = (V @ P) > 0
        b = bits.reshape(len(vecs), n_tables, n_planes).astype(np.int64) @ weights
        return pd.Series(list(b))

    return buckets


def with_lsh_bucket(df: DataFrame, dim: int, n_planes: int = 12,
                    seed: int = DEFAULT_SEED, vec_col: str = "embedding") -> DataFrame:
    """Adds ``bucket``: the sign-bit key of ``n_planes`` random-hyperplane
    projections, via the Arrow-batched matmul UDF (single table)."""
    udf = _bucket_udf(dim, 1, n_planes, seed)
    return df.withColumn("bucket", udf(F.col(vec_col)).getItem(0))


def with_lsh_bucket_tables(df: DataFrame, dim: int, n_tables: int = 16,
                           n_planes: int = 8, seed: int = DEFAULT_SEED,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id") -> DataFrame:
    """(id, table, bucket): one row per vector per hash table. Each table
    keys on the sign bits of ``n_planes`` independent hyperplanes, so a pair
    at cosine c collides in at least one table with probability
    1 - (1 - p^r)^L where p = 1 - acos(c)/pi  (>= 0.9998 for c >= 0.95 at
    r=8, L=16). All tables' keys come from one Arrow-batched matmul per
    batch (``_bucket_udf``); the plan stays bounded at any dim."""
    udf = _bucket_udf(dim, n_tables, n_planes, seed)
    return df.select(
        F.col(id_col), F.posexplode(udf(F.col(vec_col))).alias("table", "bucket")
    )


def cosine_near_dup_pairs(corpus: DataFrame, dim: int, threshold: float = 0.95,
                          n_tables: int = 16, n_planes: int = 8,
                          seed: int = DEFAULT_SEED, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """All pairs (id_a < id_b, cosine >= threshold) via multi-table
    hyperplane LSH: candidates come from an equi-join on (table, bucket) —
    never a cross join — then each candidate is verified with the exact
    cosine. At 10^9 vectors the candidate count is proportional to true
    near-dups, not n²."""
    vecs = corpus.select(F.col(id_col), F.col(vec_col).alias("v"),
                         _norm(F.col(vec_col)).alias("nrm"))
    buckets = with_lsh_bucket_tables(corpus, dim, n_tables, n_planes, seed,
                                     vec_col, id_col)
    a = buckets.select("table", "bucket", F.col(id_col).alias("id_a"))
    b = buckets.select("table", "bucket", F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = vecs.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"),
                     F.col("nrm").alias("na"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
                     F.col("nrm").alias("nb"))
    cos = F.when((F.col("na") > 0) & (F.col("nb") > 0),
                 _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
                 ).otherwise(F.lit(0.0))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


def cosine_topk_lsh(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10,
                    n_planes: int = 12, seed: int = DEFAULT_SEED,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id",
                    multi_probe: bool = False) -> DataFrame:
    """Approximate top-k: score only within the query's hyperplane bucket.
    Equi-join on bucket replaces the cross join — at 10^9+ vectors this is
    the difference between a scan per query and a hash lookup.

    ``multi_probe=True`` expands each QUERY to all buckets within Hamming
    distance 1 of its own (flip each of the n_planes sign bits): a true
    neighbor sitting just across one hyperplane — the dominant single-table
    miss mode — is recovered at (n_planes+1)× the query-side join
    fan-out, which is free when the query set is broadcast. Corpus-side
    cost is unchanged (corpus rows still carry one bucket)."""
    c = with_lsh_bucket(corpus, dim, n_planes, seed, vec_col).select(
        id_col, "bucket", F.col(vec_col).alias("c_vec"), _norm(F.col(vec_col)).alias("c_norm"))
    q = with_lsh_bucket(queries, dim, n_planes, seed, vec_col).select(
        query_id_col, "bucket", F.col(vec_col).alias("q_vec"), _norm(F.col(vec_col)).alias("q_norm"))
    if multi_probe:
        # exact bucket + each single-bit flip; all n_planes+1 values are
        # distinct, and a corpus row holds ONE bucket, so no (query,
        # corpus) pair can match twice — no post-join dedup needed
        probes = F.array(F.col("bucket"), *[
            F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)])
        q = q.select(query_id_col, "q_vec", "q_norm",
                     F.explode(probes).alias("bucket"))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .withColumn(
            "cosine",
            F.when(
                (F.col("q_norm") > 0) & (F.col("c_norm") > 0),
                _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")),
            ).otherwise(F.lit(0.0)),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )
