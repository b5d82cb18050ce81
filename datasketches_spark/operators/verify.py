"""Candidate verification: estimated Jaccard from the per-document KMV
sketches.

This is the Spark mapping of the reference's B-over-A ratio machinery
(/root/reference/ThetaCommon/BoundsOnRatiosInThetaSketchedSets.cs:45-103):
for two sketches with thetas θa, θb and entry sets A, B, using
θ = min(θa, θb):

    J ≈ |{A ∩ B} < θ| / |{A ∪ B} < θ|

Two forms share that statistic (``kmv.jaccard_estimate``):

- ``verify_pairs`` verifies a given pair list entirely in Spark SQL array
  functions (JVM, whole-stage codegen, no Python), with optional 2σ
  bounds. KMV entries are stored as int64 but every value is < 2^63, so
  signed and unsigned comparisons agree and ``array_intersect``/
  ``array_union``/``least`` operate on the raw bits correctly.
- ``verify_star_edges_with_fallback`` verifies the pipeline's LSH buckets
  in one pandas pass over one row per distinct bucket member set.

A MinHash slot-agreement estimate is carried alongside as a cross-check
column (fraction of agreeing signature slots is an unbiased Jaccard
estimator)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datasketches_spark.config import MAX_THETA_LONG, DedupConfig
from datasketches_spark.kernels import kmv

# the eligible-bucket broadcast budget the pipeline gates on (~48 B/row)
BROADCAST_BUDGET_BYTES = 256 * 1024 * 1024

# ---- Jaccard confidence bounds as pure Spark column math --------------
# The reference's marquee B-over-A bounds machinery
# (/root/reference/ThetaCommon/BoundsOnRatiosInThetaSketchedSets.cs:45-103
# → Common/BoundsOnRatiosInSampledSets.cs:51-123 →
# Common/BoundsOnBinomialProportions.cs:42-200), re-expressed as JVM-side
# column expressions (whole-stage codegen, no per-row Python): the A&S
# 7.1.28 erf approximation, the A&S 26.5.22 approximate inverse incomplete
# beta, the exact k ∈ {0, 1, n-1, n} corner branches, and the
# HackyAdjuster(f) z-widening. NumPy twins live in kernels/bounds.py; the
# parity test pins these columns to kmv.jaccard.

_ERF_A = (0.0705230784, 0.0422820123, 0.0092705272,
          0.0001520143, 0.0002765672, 0.0000430638)


def _erf_col(x):
    ax = F.abs(x)
    # Horner over |x|: s = 1 + a1|x| + ... + a6|x|^6, erf = 1 - s^-16
    s = F.lit(float(_ERF_A[5]))
    for a in reversed(_ERF_A[:5]):
        s = s * ax + F.lit(float(a))
    s = s * ax + F.lit(1.0)
    s2 = s * s
    s4 = s2 * s2
    s8 = s4 * s4
    val = F.lit(1.0) - F.lit(1.0) / (s8 * s8)
    return F.when(x < 0, -val).otherwise(val)


def _norm_cdf_col(x):
    return F.lit(0.5) * (F.lit(1.0) + _erf_col(x / F.lit(math.sqrt(2.0))))


def _as_26_5_22_col(a, b, yp):
    b2m1 = F.lit(2.0) * b - F.lit(1.0)
    a2m1 = F.lit(2.0) * a - F.lit(1.0)
    lam = (yp * yp - F.lit(3.0)) / F.lit(6.0)
    h = F.lit(2.0) / (F.lit(1.0) / a2m1 + F.lit(1.0) / b2m1)
    w = (yp * F.sqrt(h + lam)) / h - (F.lit(1.0) / b2m1 - F.lit(1.0) / a2m1) * (
        lam + F.lit(5.0 / 6.0) - F.lit(2.0) / (F.lit(3.0) * h))
    return a / (a + b * F.exp(F.lit(2.0) * w))


def _proportion_lb_col(n, k, z):
    delta = _norm_cdf_col(-z)
    return (
        F.when(n == 0, F.lit(0.0))
        .when(k == 0, F.lit(0.0))
        .when(k == 1, F.lit(1.0) - F.pow(F.lit(1.0) - delta, F.lit(1.0) / n))
        .when(k == n, F.pow(delta, F.lit(1.0) / n))
        .otherwise(F.lit(1.0) - _as_26_5_22_col((n - k) + F.lit(1.0),
                                                F.greatest(k, F.lit(1.0)), -z))
    )


def _proportion_ub_col(n, k, z):
    delta = _norm_cdf_col(-z)
    return (
        F.when(n == 0, F.lit(1.0))
        .when(k == n, F.lit(1.0))
        .when(k == n - 1, F.pow(F.lit(1.0) - delta, F.lit(1.0) / n))
        .when(k == 0, F.lit(1.0) - F.pow(delta, F.lit(1.0) / n))
        .otherwise(F.lit(1.0) - _as_26_5_22_col(F.greatest(n - k, F.lit(1.0)),
                                                k + F.lit(1.0), z))
    )


def _ratio_bounds_cols(count_a, count_b, f, num_std_devs: float = 2.0):
    """(lb, ub) columns on |B|/|A| — BoundsOnRatiosInSampledSets.cs:51-123
    incl. the HackyAdjuster z-widening; f == 1 (exact mode) collapses both
    bounds to the estimate, as the reference does."""
    hacky = F.sqrt(F.lit(1.0) - f) + F.when(
        f > 0.5, F.lit(0.01) * (f - F.lit(0.5))).otherwise(F.lit(0.0))
    z = F.lit(float(num_std_devs)) * hacky
    est = F.when(count_a > 0, count_b / F.greatest(count_a, F.lit(1.0))).otherwise(F.lit(0.5))
    lb = (F.when(count_a == 0, F.lit(0.0))
          .when(f == 1.0, est)
          .otherwise(_proportion_lb_col(count_a, count_b, z)))
    ub = (F.when(count_a == 0, F.lit(1.0))
          .when(f == 1.0, est)
          .otherwise(_proportion_ub_col(count_a, count_b, z)))
    return lb, ub


def _trimmed_ratio_parts(cfg: DedupConfig):
    """(cu, ci, f, corner) of the TRIMMED Jaccard statistic mirroring
    ``kmv.jaccard``: the union of the two entry sets below min-theta with
    the quickselect pull-back to nominal k (union theta becomes the
    (k+1)-th smallest when more than k survive — exactly kmv.union's trim
    rule); cu/ci are the union/intersection counts below the effective
    theta, f the inclusion probability theta/2^63-1, and ``corner`` the
    cu == 0 value (J = 1 when both sketches are empty, else 0 —
    kmv.jaccard's corner rule; table-encoded empty = no entries at theta
    long.MaxValue). Shared by the point estimate and the lb/ub bounds so
    the estimate is the exact statistic its own bounds bound."""
    min_theta = F.least(F.col("theta_a"), F.col("theta_b"))
    ka = F.filter(F.col("kmv_a"), lambda x: x < min_theta)
    kb = F.filter(F.col("kmv_b"), lambda x: x < min_theta)
    su = F.array_sort(F.array_union(ka, kb))  # entries < 2^63: signed sort ok
    n_u = F.size(su)
    k = F.lit(cfg.k)
    theta_eff = F.when(n_u > k, F.element_at(su, cfg.k + 1)).otherwise(min_theta)
    cu = F.when(n_u > k, k).otherwise(n_u).cast("double")
    # the entries below theta_eff are exactly the k smallest of the sorted
    # distinct union (slice returns all of su when n_u <= k): a per-row
    # expression. A lambda comparing against theta_eff would re-evaluate
    # the sort once per intersection element.
    ci = F.size(F.array_intersect(F.array_intersect(ka, kb),
                                  F.slice(su, 1, cfg.k))).cast("double")
    f = theta_eff.cast("double") / F.lit(float(MAX_THETA_LONG))
    both_empty = ((F.size(F.col("kmv_a")) == 0) & (F.size(F.col("kmv_b")) == 0)
                  & (F.col("theta_a") == F.lit(MAX_THETA_LONG))
                  & (F.col("theta_b") == F.lit(MAX_THETA_LONG)))
    corner = F.when(both_empty, F.lit(1.0)).otherwise(F.lit(0.0))
    return cu, ci, f, corner


def _jaccard_bounds_cols(cu, ci, f, corner, num_std_devs: float = 2.0):
    """(jaccard_lb, jaccard_ub) columns: ratio bounds of the trimmed
    |A∩B| over |A∪B| statistic at inclusion probability f = theta/2^63-1,
    from the (cu, ci, f, corner) parts of ``_trimmed_ratio_parts``."""
    lb, ub = _ratio_bounds_cols(cu, ci, f, num_std_devs)
    lb = F.when(cu == 0, corner).otherwise(lb)
    ub = F.when(cu == 0, corner).otherwise(ub)
    return lb, ub


def _jaccard_cols(cfg: DedupConfig):
    """Point-estimate columns (jaccard_kmv, jaccard_minhash). jaccard_kmv
    is the SAME trimmed statistic the lb/ub bounds bound (and kmv.jaccard's
    ``est``) — in estimation mode the raw union can hold up to 2k entries,
    so an untrimmed |A∩B|/|A∪B| would be a slightly different statistic
    that can fall outside its own bounds.

    Evaluated via a per-row short-circuit (CaseWhen evaluates branches
    lazily): when the union fits nominal k — the overwhelmingly common
    case at k=4096 — the quickselect trim is the identity and
    J = |A∩B| / (|A| + |B| - |A∩B|), needing ONE array_intersect per
    evaluation. Measured: the unconditional sorted-union form cost ~9 s
    on the 40k-file bench's verify chain. Only rows whose union exceeds k
    take the pull-back branch, which sorts the union once per row (never
    once per element). Measured at k=4096 (local[4], 4 vCPU): 4 over-k
    pairs took 49 s when the pull-back compared each intersection element
    against the sorted union's (k+1)-th entry inside a lambda (one sort per
    element), and 0.8 s with the k-smallest slice."""
    min_theta = F.least(F.col("theta_a"), F.col("theta_b"))
    ka = F.filter(F.col("kmv_a"), lambda x: x < min_theta)
    kb = F.filter(F.col("kmv_b"), lambda x: x < min_theta)
    inter = F.size(F.array_intersect(ka, kb))
    n_u = F.size(ka) + F.size(kb) - inter
    cu, ci, _, corner = _trimmed_ratio_parts(cfg)
    kmv_j = (
        F.when(n_u == 0, corner)  # cu == 0 ⇔ n_u == 0 below k: same corner
        .when(n_u <= F.lit(cfg.k), inter.cast("double") / n_u.cast("double"))
        .otherwise(F.when(cu > 0, ci / cu).otherwise(corner))
    )
    mh_agree = F.size(
        F.filter(F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda b: b)
    )
    mh_j = mh_agree.cast("double") / F.lit(float(cfg.num_perm))
    return kmv_j, mh_j


def verify_pairs(pairs: DataFrame, sig: DataFrame, cfg: DedupConfig,
                 left_col: str = "id_a", right_col: str = "id_b",
                 keep_below_threshold: bool = False,
                 with_bounds: bool = False,
                 num_std_devs: float = 2.0) -> DataFrame:
    """pairs(id_a, id_b) × signatures → (id_a, id_b, jaccard_kmv,
    jaccard_minhash) filtered at cfg.jaccard_threshold.

    ``with_bounds=True`` appends ``jaccard_lb``/``jaccard_ub`` — the
    reference's B-over-A confidence bounds on the Jaccard estimate at
    ``num_std_devs`` sigma (BoundsOnRatiosInThetaSketchedSets.cs:45-103),
    computed entirely as JVM column expressions — so "which pairs are
    >= t at 2-sigma confidence" is answerable without leaving Spark
    (filter on ``jaccard_lb >= t``).

    Two equi-joins against the signature table.
    """
    s = sig.select(
        F.col("doc_id"),
        F.col("minhash"),
        F.col("kmv_entries"),
        F.col("kmv_theta"),
    )
    a = s.select(
        F.col("doc_id").alias(left_col),
        F.col("minhash").alias("mh_a"),
        F.col("kmv_entries").alias("kmv_a"),
        F.col("kmv_theta").alias("theta_a"),
    )
    b = s.select(
        F.col("doc_id").alias(right_col),
        F.col("minhash").alias("mh_b"),
        F.col("kmv_entries").alias("kmv_b"),
        F.col("kmv_theta").alias("theta_b"),
    )
    kmv_j, mh_j = _jaccard_cols(cfg)
    cols = [
        F.col(left_col),
        F.col(right_col),
        kmv_j.alias("jaccard_kmv"),
        mh_j.alias("jaccard_minhash"),
    ]
    out = pairs.join(a, left_col).join(b, right_col)
    if with_bounds:
        # the bounds math references each part dozens of times: inlined,
        # the expression tree grows to megabytes (measured: ~20 s of
        # planning and codegen for one pair), so project the parts once
        parts = ("_cu", "_ci", "_f", "_corner")
        out = out.select("*", *(c.alias(n) for c, n in zip(_trimmed_ratio_parts(cfg), parts)))
        lb, ub = _jaccard_bounds_cols(*(F.col(n) for n in parts), num_std_devs)
        cols += [lb.alias("jaccard_lb"), ub.alias("jaccard_ub")]
    out = out.select(*cols)
    if not keep_below_threshold:
        out = out.filter(F.col("jaccard_kmv") >= F.lit(cfg.jaccard_threshold))
    return out


def _verify_member_set(ids, mh, ents, ths, cfg: DedupConfig) -> list[tuple]:
    """(id_a, id_b, jaccard_kmv, jaccard_minhash) rows at or above the
    threshold for one bucket member set, given sorted by id: the star
    edges from its minimum id (the bucket representative) and, only if
    one of them fails, every pair of the set."""
    ths = [int(t) for t in ths]

    def est(i, j):
        return kmv.jaccard_estimate(ents[i], ths[i], ents[j], ths[j], cfg.k)[0]

    pairs = [(0, j) for j in range(1, len(ids))]
    j_kmv = [est(0, j) for j in range(1, len(ids))]
    if min(j_kmv, default=1.0) < cfg.jaccard_threshold:
        rest = [(i, j) for i in range(1, len(ids)) for j in range(i + 1, len(ids))]
        pairs += rest
        j_kmv += [est(i, j) for i, j in rest]
    return [(ids[i], ids[j], jk,
             np.count_nonzero(mh[i] == mh[j]) / float(cfg.num_perm))
            for (i, j), jk in zip(pairs, j_kmv) if jk >= cfg.jaccard_threshold]


def verify_star_edges_with_fallback(bands: DataFrame, stats: DataFrame,
                                    sig: DataFrame, cfg: DedupConfig,
                                    broadcast_eligible: bool = False,
                                    store=None,
                                    store_upstream: list[str] | None = None,
                                    ) -> DataFrame:
    """Verified edges of the eligible LSH buckets (size in (1,
    bucket_cap]): (id_a < id_b, jaccard_kmv, jaccard_minhash) at >=
    cfg.jaccard_threshold, each pair once.

    A bucket verifies its star edges (minimum id → member) and, if one
    fails, all its ≤ bucket_cap² pairs: the minimum id may be an LSH
    false positive between two true near duplicates. Equal member sets
    give equal edges, and near duplicates colliding in several bands
    repeat one set, so each DISTINCT sorted member set is verified once.
    The key is the set itself (a hash could merge two sets). Each set's
    signature columns are gathered into one row in the JVM and one
    ``mapInPandas`` pass loops over the rows: a pandas frame per set, as
    ``applyInPandas`` builds, cost ~1 ms per set (6k sets at 40k files).

    ``store``/``store_upstream`` are accepted and unused."""
    eligible = stats.filter(
        (F.col("bucket_size") > 1) & (F.col("bucket_size") <= cfg.bucket_cap)
    ).select("band", "bhash")
    if broadcast_eligible:
        # non-singleton buckets are usually a tiny fraction of all buckets;
        # the caller sets this only when it KNOWS the count is
        # broadcastable, which makes membership a map-only pass over the
        # bands. At web scale it stays a shuffle join.
        eligible = F.broadcast(eligible)
    sets = (
        bands.join(eligible, ["band", "bhash"])
        .groupBy("band", "bhash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("members"))
        .select("members")
        .distinct()
    )
    cols = ["doc_id", "minhash", "kmv_entries", "kmv_theta"]
    # sorting the structs orders the members by doc_id, the first field
    gathered = (
        sets.select("members", F.explode("members").alias("doc_id"))
        .join(sig.select(*cols), "doc_id")
        .groupBy("members")
        .agg(F.array_sort(F.collect_list(F.struct(*cols))).alias("m"))
        .select(*(F.col(f"m.{c}").alias(c) for c in cols))
    )
    id_type = sig.schema["doc_id"].dataType.simpleString()
    schema = f"id_a {id_type}, id_b {id_type}, jaccard_kmv double, jaccard_minhash double"

    def verify_sets(batches):
        for pdf in batches:
            rows = [r for s in zip(*(pdf[c] for c in cols))
                    for r in _verify_member_set(*s, cfg)]
            yield pd.DataFrame(rows, columns=["id_a", "id_b", "jaccard_kmv", "jaccard_minhash"])

    return gathered.mapInPandas(verify_sets, schema).dropDuplicates(["id_a", "id_b"])
