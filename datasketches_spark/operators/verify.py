"""Candidate verification: estimated Jaccard from the per-document KMV
sketches — entirely in Spark SQL array functions (JVM, whole-stage
codegen), no Python in the hot path.

This is the Spark mapping of the reference's B-over-A ratio machinery
(/root/reference/ThetaCommon/BoundsOnRatiosInThetaSketchedSets.cs:45-103):
for two sketches with thetas θa, θb and entry sets A, B, using
θ = min(θa, θb):

    J ≈ |{A ∩ B} < θ| / |{A ∪ B} < θ|

KMV entries are stored as int64 but every value is < 2^63, so signed and
unsigned comparisons agree and ``array_intersect``/``array_union``/
``least`` operate on the raw bits correctly.

A MinHash slot-agreement estimate is carried alongside as a cross-check
column (fraction of agreeing signature slots is an unbiased Jaccard
estimator)."""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datasketches_spark.config import MAX_THETA_LONG, DedupConfig
from datasketches_spark.plans.checkpoints import CheckpointStore

# memory gates shared with the pipeline: the eligible-bucket broadcast
# budget (~48 B/row) and the participant count verify broadcasts ids for
BROADCAST_BUDGET_BYTES = 256 * 1024 * 1024
PARTICIPANT_BROADCAST_MAX = 4_000_000

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
                 participants_hint: int | None = None,
                 with_bounds: bool = False,
                 num_std_devs: float = 2.0,
                 participants_df: DataFrame | None = None) -> DataFrame:
    """pairs(id_a, id_b) × signatures → (id_a, id_b, jaccard_kmv,
    jaccard_minhash) filtered at cfg.jaccard_threshold.

    ``with_bounds=True`` appends ``jaccard_lb``/``jaccard_ub`` — the
    reference's B-over-A confidence bounds on the Jaccard estimate at
    ``num_std_devs`` sigma (BoundsOnRatiosInThetaSketchedSets.cs:45-103),
    computed entirely as JVM column expressions — so "which pairs are
    >= t at 2-sigma confidence" is answerable without leaving Spark
    (filter on ``jaccard_lb >= t``).

    Two equi-joins against the signature table. The signature rows are WIDE
    (k=4096 KMV entries ≈ 32 KB each), so shuffling the whole table through
    both joins moves ~2 × corpus-size × 32 KB — while the pair list usually
    touches a small fraction of the corpus. When the caller knows an upper
    bound on the number of participating doc ids (``participants_hint``,
    e.g. the pair-table row count off a checkpoint Observation × 2) and it
    is broadcastable, the wide table is first semi-filtered by a BROADCAST
    of the participant ids — the signature table is then only scanned, never
    shuffled at full width; the pair joins shuffle just the participating
    rows. With no hint (or a too-large bound) the plain shuffle joins run
    and AQE picks strategies at runtime.

    ``participants_df``: an explicit (doc_id) superset of the pair
    participants, used for the semi-filter INSTEAD of re-deriving the ids
    from ``pairs``. Deriving from ``pairs`` executes the pair plan twice
    (ids broadcast + join probe); when the caller holds a cheaper superset
    plan (e.g. bucket membership), passing it keeps the pair plan
    single-execution. Ignored unless the hint gates the broadcast on.
    """
    s = sig.select(
        F.col("doc_id"),
        F.col("minhash"),
        F.col("kmv_entries"),
        F.col("kmv_theta"),
    )
    if participants_hint is not None and participants_hint <= PARTICIPANT_BROADCAST_MAX:
        ids = participants_df if participants_df is not None else (
            pairs.select(F.col(left_col).alias("doc_id"))
            .unionByName(pairs.select(F.col(right_col).alias("doc_id")))
            .distinct()
        )
        s = s.join(F.broadcast(ids), "doc_id", "left_semi")
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


def verify_star_edges_with_fallback(bands: DataFrame, stats: DataFrame,
                                    sig: DataFrame, cfg: DedupConfig,
                                    broadcast_eligible: bool = False,
                                    store=None,
                                    store_upstream: list[str] | None = None,
                                    bad_bucket_broadcast_max_bytes: int = 64 * 1024 * 1024,
                                    n_memb_hint: int | None = None,
                                    ) -> DataFrame:
    """Star-edge verification with a per-bucket pair fallback that closes
    the false-positive-representative recall hole: if a bucket's rep r is an
    LSH false positive, edges (r→x, r→y) both fail verification and the true
    pair (x, y) would be lost even though all three shared a bucket. Any
    bucket with a FAILED rep-edge is re-enumerated as full intra-bucket
    pairs (bounded by cfg.bucket_cap) and those pairs verified too.

    Cost is proportional to buckets containing a failed edge — on a clean
    corpus the fallback branch is empty; adversarial buckets pay at most
    cap² verifications. Returns (id_a < id_b, jaccard_kmv, jaccard_minhash)
    at >= cfg.jaccard_threshold.

    ``store``/``store_upstream``: the run's CheckpointStore decides how
    the reused intermediates (bucket membership, participant signatures,
    verified star edges — one row per candidate edge, billions at web
    scale — bad buckets, fallback pairs) are materialized: resumable
    parquet sub-stages in full mode, ``localCheckpoint`` otherwise.
    ``store=None`` means store-less."""
    if store is None:
        store = CheckpointStore(bands.sparkSession, "", cfg, enabled=False)

    eligible = stats.filter(
        (F.col("bucket_size") > 1) & (F.col("bucket_size") <= cfg.bucket_cap)
    ).select("band", "bhash", "rep")
    if broadcast_eligible:
        # non-singleton buckets are usually a tiny fraction of all buckets;
        # when the caller KNOWS the count is broadcastable (the pipeline
        # reads it off the bucket_stats write-job Observation), hinting it
        # turns candidate generation into a map-only pass over the bands —
        # no shuffle of the 40x-corpus-sized band table. At true web scale
        # the count is large and the caller leaves this off (shuffle join).
        eligible = F.broadcast(eligible)
    # materialize ELIGIBLE BUCKET MEMBERSHIP once (band, bhash, doc_id,
    # rep — 4 longs per member of a non-singleton within-cap bucket): it is
    # the shared root of everything downstream — star edges, the verify
    # participant-id set, failed-rep bucket detection AND the fallback
    # pair re-enumeration all derive from it with narrow ops, so the bands
    # scan (the largest narrow table in the pipeline) runs exactly once
    # and no later step re-joins bands against bucket stats. Row count ==
    # sum of eligible bucket sizes, the same order as the star-edge count.
    ups = store_upstream or []
    memb = store.substage(
        "bucket_membership",
        lambda: bands.join(eligible, ["band", "bhash"]),
        upstream=ups,
    )
    # ``n_memb_hint``: the caller may already know the membership row count
    # (sum of eligible bucket sizes — e.g. observed in the same job that
    # counted eligible buckets), saving the count action here
    n_memb = n_memb_hint if n_memb_hint is not None else store.n_rows(
        "bucket_membership", memb)
    memb_ups = ups + ["bucket_membership"]
    # star edges stay LAZY off the materialized membership: consumed
    # exactly once (the verify probe side) now that the participant-id
    # broadcast derives from memb instead of from the pair plan
    star = (
        memb.filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("id_a"), F.col("doc_id").alias("id_b"))
        .distinct()
    )
    # when the membership count clears the participant-broadcast gate,
    # materialize the SEMI-FILTERED participant signatures once and verify
    # BOTH passes (star + fallback) against it: every verify participant —
    # star edges and fallback pairs alike — is a member of an eligible
    # bucket, so this one table serves the whole chain. Without it the
    # fallback verify re-scans the full-width signature parquet a second
    # time (measured 2.7 GB scan + 2.7 GB full-width shuffle at 1M files
    # when its own n_bad x bucket_cap hint overshot the broadcast gate);
    # with it the signature parquet is scanned exactly once per run and
    # the wide rows live on as (executor-local or store) blocks bounded by
    # the participant count. At web scale n_memb exceeds the gate and this
    # stays off — the plain shuffle joins run as before.
    sig_v, sig_v_ups = sig, memb_ups
    if n_memb is not None and n_memb <= PARTICIPANT_BROADCAST_MAX:
        sig_v = store.substage(
            "participant_sigs",
            lambda: sig.select("doc_id", "minhash", "kmv_entries", "kmv_theta")
            .join(F.broadcast(memb.select("doc_id").distinct()),
                  "doc_id", "left_semi"),
            upstream=memb_ups,
        )
        sig_v_ups = memb_ups + ["participant_sigs"]
    # materialize the verified star edges once: passed/failed/fb_pairs all
    # reference this subtree, and Spark re-executes unshared subplans —
    # without this the 2-join verify would run 3-4x.
    star_v = store.substage(
        "star_verified",
        lambda: verify_pairs(star, sig_v, cfg, keep_below_threshold=True,
                             participants_hint=(None if sig_v is not sig
                                                else n_memb),
                             participants_df=memb.select("doc_id").distinct()),
        upstream=sig_v_ups,
    )
    passed = star_v.filter(F.col("jaccard_kmv") >= F.lit(cfg.jaccard_threshold))
    failed = star_v.filter(F.col("jaccard_kmv") < F.lit(cfg.jaccard_threshold))
    # bad_buckets is bounded by failed edges — materialize it so the
    # fallback costs one extra signature-table scan instead of two more
    # bands+stats joins
    bad_buckets = store.substage(
        "bad_buckets",
        lambda: (
            memb.join(
                failed.select(F.col("id_a").alias("rep"), F.col("id_b").alias("doc_id")),
                ["rep", "doc_id"],
            )
            .select("band", "bhash")
            .distinct()
        ),
        upstream=memb_ups + ["star_verified"],
    )
    # broadcast bad_buckets into the bands re-scan ONLY when its measured
    # row count fits (full mode: free via the write-job Observation;
    # otherwise one bounded limit+collect over the materialized tiny
    # table). An adversarial / boilerplate-heavy corpus makes the failed-rep
    # set huge — an unguarded broadcast there is a driver OOM. ~24 B/row.
    bad_local = None
    local_cap = int(os.environ.get("DSS_FB_MATERIALIZE_BAD", "20000"))
    n_bad = store.n_rows("bad_buckets")
    if n_bad is None:
        # one job instead of two: the same action that would have counted
        # bad_buckets brings the rows back when the set is small (the
        # common case — clean corpora have few failed reps), turning the
        # bands re-scan's build side into a driver-local relation whose
        # broadcast needs no separate Spark job under static planning.
        # Bounded by the adversarial-regime threshold, so the collect can
        # never pull more than ~0.5 MB; past it, fall back to the exact
        # distributed count (amortized at that scale).
        rows = bad_buckets.limit(local_cap + 1).collect()
        if len(rows) <= local_cap:
            n_bad = len(rows)
            if rows:
                # through pandas, NOT the list-of-Rows overload: under
                # arrow.localRelationThreshold (default 48 MB, far above
                # the 0.5 MB cap here) the pandas path plans a pure-JVM
                # LocalRelation, while list-of-Rows plans a PythonRDD
                # whose broadcast build runs a default-parallelism python
                # stage — measured as a cold 32-worker pool spawn (6-22 s
                # on this host class) sitting inside the verify chain.
                import pandas as _pd

                bad_local = bands.sparkSession.createDataFrame(
                    _pd.DataFrame([tuple(r) for r in rows],
                                  columns=bad_buckets.schema.names),
                    bad_buckets.schema)
        else:
            n_bad = bad_buckets.count()
    if n_bad == 0:
        # no failed-rep buckets anywhere (the common case on clean corpora):
        # the whole fallback subtree — bad-bucket re-scan, intra-bucket
        # self-join, anti-join, second verify pass and their 3-4 broadcast
        # jobs of fixed scheduler latency each — is provably empty. Return
        # the passed star edges directly.
        return passed
    bcast_ok = n_bad is not None and n_bad * 24 < bad_bucket_broadcast_max_bytes
    # bad buckets are eligible by construction (came from memb), so their
    # full membership is a subset of the MATERIALIZED memb table — re-scan
    # that, never the far larger raw band table. The driver-local form (if
    # the bounded collect produced one) is strictly better than
    # broadcasting the distributed table: same rows, no broadcast-build job.
    bad_side = bad_local if bad_local is not None else bad_buckets
    bb = memb.join(F.broadcast(bad_side) if bcast_ok else bad_side,
                   ["band", "bhash"])
    a = bb.select("band", "bhash", F.col("doc_id").alias("id_a"))
    b = bb.select("band", "bhash", F.col("doc_id").alias("id_b"))
    # bb's row count is bounded by n_bad x bucket_cap (~24 B/row), so the
    # intra-bucket self-join can broadcast its build side under the same
    # measured gate as bad_buckets itself — and the anti-join's build side
    # (passed star edges, <= n_memb rows x ~16 B) under the membership
    # bound. Under static planning (light mode) these hints are the
    # difference between map-side joins and three full shuffle stages of
    # fixed scheduler latency each; with AQE they match what runtime
    # re-planning would pick anyway. Both gates fail closed to shuffles at
    # web scale.
    fb_b_ok = (n_bad is not None
               and n_bad * cfg.bucket_cap * 24 < bad_bucket_broadcast_max_bytes)
    passed_ok = (n_memb is not None
                 and n_memb * 16 < bad_bucket_broadcast_max_bytes)
    fb_pairs = (
        a.join(F.broadcast(b) if fb_b_ok else b, ["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .join(F.broadcast(passed.select("id_a", "id_b")) if passed_ok
              else passed.select("id_a", "id_b"),
              ["id_a", "id_b"], "left_anti")
    )
    # verify_pairs consumes the pair plan TWICE when it broadcasts the
    # participant-id set (distinct-ids side + join probe side). On a clean
    # corpus bad buckets are rare (the bench corpus sits ~10^3) and
    # re-running the bounded subtree twice is cheaper than another
    # materialization stage (~1.3 s fixed); on an adversarial
    # boilerplate-heavy corpus (many failed reps) the cap²-bounded
    # self-join is worth running once, so the plan is materialized when
    # n_bad crosses the adversarial-regime threshold — as a resumable
    # sub-stage in full mode.
    if n_bad is not None and n_bad > local_cap:
        fb_pairs = store.substage(
            "fallback_pairs", lambda: fb_pairs,
            upstream=memb_ups + ["star_verified", "bad_buckets"],
        )
    # the fallback participant set is bounded by bad-bucket membership —
    # at most n_bad × bucket_cap doc ids, and never more than the eligible
    # membership count (bb ⊆ memb), so the verify broadcast decision needs
    # no materialized count: take the tighter of the two bounds (the
    # cap-based one overshoots ~50x on real bucket-size distributions and
    # used to wrongly disable the semi-filter at 1M files). The ids come
    # from the bucket-membership plan (bb) directly, NOT from fb_pairs:
    # deriving them from the pairs would execute the cap²-bounded
    # self-join subtree twice (ids + probe). The probe runs against sig_v —
    # the already-filtered participant table when the gate is on — so a
    # fallback never re-scans the full-width signature parquet.
    n_fb_partic = None
    if n_bad is not None:
        n_fb_partic = n_bad * cfg.bucket_cap
        if n_memb is not None:
            n_fb_partic = min(n_fb_partic, n_memb)
    fb_v = verify_pairs(fb_pairs, sig_v, cfg, participants_hint=n_fb_partic,
                        participants_df=bb.select("doc_id").distinct())
    # the union is duplicate-free by construction — star edges are distinct
    # with id_a = bucket-min < id_b, fb_pairs are distinct with id_a < id_b
    # and anti-joined against passed — so no terminal dropDuplicates
    # shuffle. (pipeline._expand_pairs dedups once more across edge KINDS,
    # where exact/near overlap is possible.)
    return passed.unionByName(fb_v)
