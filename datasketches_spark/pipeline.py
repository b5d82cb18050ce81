"""End-to-end near-duplicate detection + clustering pipeline.

Stage graph (every stage is a resumable checkpoint, SURVEY §7 stage 1):

  docs(doc_id, repo, path, commit, lang, content)
    │ sha2(content, 256)                       [JVM]
    ├─ exact_groups: groupBy(sha256)           [1 shuffle, map-side combine]
    ├─ distinct-content reps                   [reuses exact_groups]
    ├─ signatures: mapInPandas murmur3/KMV/MinHash/SimHash   [no shuffle]
    ├─ bands: posexplode(xxhash64 band keys)   [no shuffle]
    ├─ buckets: groupBy(band, bhash) min/count [1 shuffle, skew-immune]
    ├─ verified edges: per distinct bucket member set, star edges from
    │    its min id, all pairs if one fails    [one grouped pandas pass]
    ├─ all edges = exact ∪ (verified mapped through content reps)
    ├─ clusters: CC on the driver (NumPy) when the edges fit the
    │    broadcast budget, else large-star/small-star rounds
    └─ dup_pairs + cluster assignments + metrics/lineage

Near-dup detection runs on *distinct content* only (exact duplicates are
collapsed first and re-attached through their representative), so a
pathological corpus of a billion copies of one file costs one signature.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datasketches_spark.config import DedupConfig
from datasketches_spark.operators import exact_dedup, lsh, spans, verify
from datasketches_spark.operators.connected_components import (
    connected_components, connected_components_local)
from datasketches_spark.operators.signatures import build_signatures
from datasketches_spark.plans.checkpoints import CheckpointStore, input_fingerprint
from datasketches_spark.session import core_tasks


@dataclass
class DedupResult:
    docs: DataFrame  # doc_id, repo, path, commit, lang, sha256 (content dropped)
    signatures: DataFrame
    verified_edges: DataFrame  # src, dst, jaccard_kmv, jaccard_minhash
    clusters: DataFrame  # doc_id, cluster_id (every doc, singletons included)
    dup_pairs: DataFrame  # id_a < id_b with jaccard estimates
    metrics: dict
    span_pairs: DataFrame | None = None  # kind='span' block-dup pairs (cfg.span_pass)


def run_dedup(spark: SparkSession, docs: DataFrame, cfg: DedupConfig,
              checkpoint_dir: str | None = None, id_col: str = "id",
              collect_metrics: bool = False,
              light_stages: bool = False) -> DedupResult:
    """See ``_run_dedup_impl``. In light mode the run additionally switches
    the session to STATIC planning (AQE off, one shuffle task per core) for
    its duration: AQE submits one Spark job per query stage, and in
    constrained single-node environments a job costs ~0.2-0.7 s of fixed
    scheduler latency — a checkpoint-light run on a 400-doc corpus is 11
    jobs with AQE off and 25 with it on (same outputs, local[4]), which is
    most of light mode's fixed floor. Runtime re-planning buys nothing
    at light-mode scale anyway: every join that must broadcast is already
    count-guarded by the pipeline itself. Default (heavy) mode keeps AQE —
    at web scale its skew-join splitting and runtime re-planning are
    load-bearing and the per-job floor is noise."""
    # stages label their jobs and never clear the label: restore the
    # caller's, so jobs run on the returned tables are not attributed to
    # the last stage
    sc = spark.sparkContext
    label = sc.getLocalProperty("spark.job.description")
    try:
        if not light_stages:
            return _run_dedup_impl(spark, docs, cfg, checkpoint_dir, id_col,
                                   collect_metrics, light_stages)
        # every pipeline-internal action (stage writes, caches, CC rounds)
        # runs inside this window; the returned heavy tables are parquet
        # read-backs whose later consumption doesn't care about AQE
        with _light_conf_window(spark):
            return _run_dedup_impl(spark, docs, cfg, checkpoint_dir, id_col,
                                   collect_metrics, light_stages)
    finally:
        sc.setLocalProperty("spark.job.description", label)


@contextmanager
def _light_conf_window(spark: SparkSession):
    """SESSION-CONF WINDOW INVARIANT (re-entrant, per SparkSession): the
    first light run in on a session snapshots its AQE flag and shuffle
    width, turns AQE off and sets the width to ``core_tasks`` (one task per
    core); the LAST run out restores the snapshot (depth-counted, so two
    concurrent light runs never save each other's values as "prev"). The
    width is fixed for the whole window: static planning does no
    coalescing, so every shuffle of the run (the prewarm's exact groups,
    the distinct-content shuffle whose partitions are the signature tasks,
    the verify pass, dup_pairs) plans at one task per core, and concurrent
    runs, which set the same two values, cannot see each other's widths.
    Conf is session-scoped (``spark.newSession()`` has its own), so each
    session keeps its own depth and snapshot; pinned by
    test_round6.test_concurrent_light_runs_restore_confs."""
    with _LIGHT_CONF_LOCK:
        state = _LIGHT_CONF_STATE.get(spark)
        if state is None:
            state = _LIGHT_CONF_STATE[spark] = {
                "depth": 0,
                "prev": (spark.conf.get("spark.sql.adaptive.enabled", "true"),
                         spark.conf.get("spark.sql.shuffle.partitions")),
            }
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(core_tasks(spark.sparkContext)))
        state["depth"] += 1
    try:
        yield
    finally:
        with _LIGHT_CONF_LOCK:
            state["depth"] -= 1
            if state["depth"] == 0:
                del _LIGHT_CONF_STATE[spark]
                prev, prev_sp = state["prev"]
                spark.conf.set("spark.sql.adaptive.enabled", prev)
                spark.conf.set("spark.sql.shuffle.partitions", prev_sp)


_LIGHT_CONF_LOCK = threading.Lock()
_LIGHT_CONF_STATE: dict = {}  # SparkSession -> {"depth", "prev"}


def _run_dedup_impl(spark: SparkSession, docs: DataFrame, cfg: DedupConfig,
                    checkpoint_dir: str | None = None, id_col: str = "id",
                    collect_metrics: bool = False,
                    light_stages: bool = False) -> DedupResult:
    """``light_stages=True`` keeps resumable parquet checkpoints only at
    the EXPENSIVE stage boundaries (signatures, verified_edges, clusters,
    and the two deliverable tables); a crash mid-run re-runs at most the
    cheap plans between two of them. The stages below only say what they
    are; the store decides how each is materialized in this run's mode
    (table and trade-offs on ``CheckpointStore``)."""
    store = CheckpointStore(spark, checkpoint_dir or "", cfg, enabled=bool(checkpoint_dir),
                            input_fp=input_fingerprint(docs), light=light_stages)

    base = docs.withColumnRenamed(id_col, "doc_id") if id_col != "doc_id" else docs
    # content is deliberately NOT checkpointed here: docs_meta carries only
    # the per-row sha256 invariant + identity columns. Checkpointing the
    # full corpus content (and again in the distinct-reps stage) would
    # write the whole input twice — at 100 TB that's the most expensive
    # mistake in the pipeline. Content is written exactly once, in the
    # distinct-reps stage that feeds signature building.
    hashed = store.stage(
        "docs_meta",
        lambda: exact_dedup.with_sha256(base).select(
            "doc_id", "repo", "path", "commit", "lang", "sha256"
        ),
        # light mode: narrow meta table, cached (consumed by exact groups,
        # exact edges and the final assignment join)
        light=True, cache=True,
    )

    exact_groups = store.stage(
        "exact_groups", lambda: exact_dedup.exact_dup_groups(hashed),
        # light mode: cached — exact_edges is consumed by BOTH the clusters
        # stage (all_edges) and dup_pairs; uncached, the groupBy would
        # re-run once per consumer
        upstream=["docs_meta"], light=True, cache=True,
    )
    # read by both the clusters and the dup_pairs stage
    exact_edges = store.cache(exact_dedup.exact_dup_edges(hashed, exact_groups))

    # light mode: the exact-edge CACHES are lazy, and their first
    # consumers (dup_pairs and clusters) run CONCURRENTLY at the end of
    # the pipeline — two fresh actions planned against a cold cache get
    # fresh shuffle ids, so both re-run the corpus scan + sha256 map side
    # (measured: a duplicated 64 core-s stage at 1M files). Materialize
    # the caches in a background thread NOW, overlapped with the python-
    # bound signature stage (JVM sha256 and Arrow workers share cores
    # well); the await sits right before the consumers fork.
    prewarm = None
    _edge_ups = ["verified_edges", "exact_groups"]
    if light_stages and not (store.is_valid("dup_pairs", _edge_ups)
                             and store.is_valid("clusters", _edge_ups)):
        # (skipped when BOTH exact-edge consumers resume from valid
        # checkpoints — a fully-resumed run must not pay a corpus scan)
        from concurrent.futures import ThreadPoolExecutor as _TPE

        # the count sizes the clusters stage's choice of solver
        def _warm_exact() -> int:
            spark.sparkContext.setJobDescription("stage:prewarm_exact")
            return exact_edges.count()

        _warm_pool = _TPE(max_workers=1)
        # worker threads carry the caller's job group and properties, so
        # sc.cancelJobGroup reaches their jobs too
        prewarm = _warm_pool.submit(inheritable_thread_target(spark)(_warm_exact))
        _warm_pool.shutdown(wait=False)

    # light mode: the distinct-content shuffle runs at the window's
    # core_tasks width, and mapInPandas keeps its partitioning, so the
    # signature stage runs one task per core
    n_tasks = core_tasks(spark.sparkContext)
    reps = store.stage(
        "distinct_reps",
        lambda: exact_dedup.distinct_content_docs(exact_dedup.with_sha256(base)).select(
            "doc_id", "content"
        ),
        upstream=["docs_meta"],
        # feeds the compute-heavy signature stage, whose task count is this
        # stage's partition count (mapInPandas preserves partitioning):
        # at least core_tasks, so the same checkpoint gives every consumer
        # core a pandas task without paying per-task cost for idle extras
        min_partitions=n_tasks,
        # light mode: the full content column is never written at all —
        # the signature write job reads the corpus directly (uncached:
        # content is the one column too big to pin)
        light=True,
    )

    # no min_partitions here: the input stage already carries >= n_tasks
    # partitions, and mapInPandas preserves partitioning — a repartition
    # would shuffle the wide signature arrays for nothing
    sig = store.stage(
        "signatures",
        lambda: build_signatures(reps, cfg),
        upstream=["distinct_reps"],
        # the band table and both verify sides read it
        cache=True,
    )
    # free off the write-job manifest. Store-less, the count is also the
    # eager materialization of the cache: if it were still cold, the
    # several subtrees that reference it would each recompute the whole
    # signature stage concurrently.
    n_sig_rows = store.n_rows("signatures", sig)

    # the band table is consumed by bucket stats and verify's bucket
    # membership; left as a plan, each consumer re-reads the wide
    # signature parquet and recomputes 16 band hashes + posexplode.
    # Materialized once it is a NARROW table (doc_id, band, bhash —
    # ~24 B/row vs the ~1 KB/row minhash column every re-derivation
    # decodes), so the narrow-table reads are strictly cheaper at any
    # scale.
    bands = store.stage(
        "bands",
        lambda: lsh.band_table(sig, cfg),
        upstream=["signatures"],
        # light mode: cached narrow plan instead of a parquet stage — the
        # same one-materialization guarantee for its 3 consumers
        light=True, cache=True,
    )
    # singleton buckets (the overwhelming majority — ~90% of all buckets
    # at 1M files, and ~everything at 10^12) are consumed by NOTHING
    # downstream: verification and both Observations only ever look at
    # bucket_size > 1. Filtering them BEFORE the materialization cuts the
    # stats write (and every downstream rescan/join of the table) ~10x.
    stats = store.stage(
        "bucket_stats",
        lambda: lsh.bucket_stats(bands).filter(F.col("bucket_size") > 1),
        upstream=["bands"],
        # bucket metrics piggyback on the write job (no count jobs)
        extra_obs={
            "n_dropped_buckets":
                F.count(F.when(F.col("bucket_size") > cfg.bucket_cap, 1)),
            "n_eligible_buckets":
                F.count(F.when((F.col("bucket_size") > 1)
                               & (F.col("bucket_size") <= cfg.bucket_cap), 1)),
        },
        # light mode: cached plan with no write job, so no observed counts;
        # the broadcast choice below takes a worst-case bound or one count
        light=True, cache=True,
    )
    # broadcast the eligible-bucket side of verify's bucket membership when
    # its observed count fits comfortably in memory (~48B/row); at web scale
    # the count is huge and this stays a shuffle join
    _verify_ups = ["signatures", "bands", "bucket_stats"]
    if light_stages and not store.is_valid("verified_edges", _verify_ups):
        # no write-job Observation in light mode. Small corpora skip the
        # count job too (a job costs ~0.2-0.7 s of fixed latency here):
        # when even the WORST-CASE bound off the signature manifest —
        # every band row its own eligible bucket, bands × n_sig rows ×
        # ~48 B — fits the broadcast budget, the decision needs no
        # measurement, and the broadcast-exchange job that builds the
        # eligible side doubles as the bands/stats cache materializer.
        # Larger corpora (where the worst case overshoots but the REAL
        # count is usually still broadcastable — non-singleton buckets
        # are a tiny fraction) pay ONE aggregation job for an informed
        # decision; at that scale the job is amortized anyway. Skipped on
        # resume: a valid verified_edges never needs the caches at all.
        worst = n_sig_rows * cfg.bands if n_sig_rows else None
        if worst is not None and worst * 48 < verify.BROADCAST_BUDGET_BYTES:
            n_eligible = worst
        else:
            spark.sparkContext.setJobDescription("hint:n_eligible")
            n_eligible = stats.filter(F.col("bucket_size") <= cfg.bucket_cap).count()
    else:
        bucket_obs = (store.manifest("bucket_stats") or {}).get("observed", {})
        n_eligible = bucket_obs.get("n_eligible_buckets")
    bcast_eligible = (n_eligible is not None
                      and n_eligible * 48 < verify.BROADCAST_BUDGET_BYTES)
    # data-derived choices (None: not made in this mode)
    decisions = dict(bcast_eligible=bcast_eligible, n_edges=None, cc_local=None)

    dropped = stats.filter(F.col("bucket_size") > cfg.bucket_cap)
    verified = store.stage(
        "verified_edges",
        # star edges, and every pair of a bucket whose star edge fails
        # (closes the false-positive-rep recall hole)
        lambda: verify.verify_star_edges_with_fallback(
            bands, stats, sig, cfg, broadcast_eligible=bcast_eligible),
        upstream=_verify_ups,
        # the clusters and dup_pairs stages both read it
        cache=True,
    )

    n_exact = None
    if prewarm is not None:
        # by now the signature + verify stages have run; the prewarm is
        # long done in the common case. Await it regardless: the consumers
        # below must see WARM caches or the cold-cache race comes back.
        n_exact = prewarm.result()

    # dup_pairs depends only on verified + exact edges — NOT on the CC
    # chain — so its write job can run concurrently with the cluster
    # rounds (thread-safe: Spark job submission is designed for concurrent
    # driver threads, pinned-thread mode keeps job descriptions separate,
    # and the two stages write disjoint store keys). Overlapping it hides
    # the stage's full fixed cost behind CC wall time (store-less, the
    # stage is a lazy plan and the thread only builds it). Span mode keeps
    # the serial order (span_pairs feeds dup_pairs).
    dup_fut = None
    if not cfg.span_pass:
        from concurrent.futures import ThreadPoolExecutor
        _dup_pool = ThreadPoolExecutor(max_workers=1)
        dup_fut = _dup_pool.submit(
            inheritable_thread_target(spark)(store.stage), "dup_pairs",
            lambda: _expand_pairs(verified, exact_edges, None),
            upstream=["verified_edges", "exact_groups"],
        )
        _dup_pool.shutdown(wait=False)
    try:
        return _finish_dedup(spark, store, cfg, collect_metrics, hashed, reps, sig,
                             exact_edges, verified, dup_fut, dropped, decisions,
                             n_exact)
    except BaseException:
        # if the CC chain raises, the in-flight write must still be awaited
        # before the error propagates — never leave a daemon thread writing
        # into the store behind an exception the caller is handling
        if dup_fut is not None:
            from concurrent.futures import wait as _fwait
            _fwait([dup_fut])
        raise


def _finish_dedup(spark, store, cfg, collect_metrics, hashed, reps, sig,
                  exact_edges, verified, dup_fut, dropped,
                  decisions, n_exact) -> DedupResult:
    """Clustering, span pass, pair assembly and metrics — the tail of
    ``_run_dedup_impl``, split out so the concurrent dup_pairs write can be
    awaited on the error path without a try block spanning 100 lines."""
    all_edges = (
        verified.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(exact_edges)
    )

    clusters_nontrivial = store.stage(
        "clusters",
        lambda: _clusters(spark, store, all_edges, n_exact, decisions),
        upstream=["verified_edges", "exact_groups"],
    )
    # the deliverable per-doc assignment table (singletons included) is
    # itself a checkpointed stage: fully materialized, resumable, and its
    # row count (== n_docs) rides the write job's Observation
    clusters = store.stage(
        "cluster_assignments",
        lambda: (
            hashed.select("doc_id")
            .join(clusters_nontrivial, "doc_id", "left")
            .select("doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
        ),
        upstream=["clusters", "docs_meta"],
    )

    # optional common-span pass (cfg.span_pass): winnowed-fingerprint
    # candidates → exact longest-common-span verification. Catches
    # block-swap / embedded-block duplicates whose whole-document Jaccard
    # is correctly far below threshold (a 60-token block in an otherwise
    # unique file has J ~ |block|/|doc| and never LSH-collides). Runs on
    # distinct content only; reported as kind='span' pairs, NOT fed to CC
    # (a shared block must not merge otherwise-unrelated documents into
    # one cluster).
    span_verified = None
    if cfg.span_pass:
        span_cands = store.stage(
            "span_candidates",
            lambda: spans.span_candidate_pairs(sig, cfg)[0].join(
                verified.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"),
            upstream=["signatures", "verified_edges"],
            light=True,
        )
        span_verified = store.stage(
            "span_pairs",
            lambda: spans.verify_spans(span_cands, reps, cfg).filter(
                F.col("common_span_tokens") >= F.lit(cfg.span_min_tokens)),
            upstream=["span_candidates", "distinct_reps"],
            # dup_pairs and DedupResult.span_pairs both read it
            cache=True,
        )

    # report pairs: verified near-dup edges plus exact-dup pairs (via reps)
    if dup_fut is not None:
        dup_pairs = dup_fut.result()
    else:
        dup_pairs = store.stage(
            "dup_pairs",
            lambda: _expand_pairs(verified, exact_edges, span_verified),
            upstream=["verified_edges", "exact_groups"]
            + (["span_pairs"] if cfg.span_pass else []),
        )

    # stage-level row counts come free from the manifests of written
    # stages (recorded via Observation on each write job); the others
    # cost a count only when collect_metrics asks for them
    def _rows(name: str, df: DataFrame):
        return store.n_rows(name, df if collect_metrics else None)

    n_dropped = (store.manifest("bucket_stats") or {}).get("observed", {}).get(
        "n_dropped_buckets")
    if n_dropped is None and collect_metrics:
        n_dropped = dropped.count()
    metrics = {"lsh_threshold": cfg.lsh_threshold, "decisions": decisions,
               "n_docs": _rows("docs_meta", hashed),
               "n_distinct_content": _rows("distinct_reps", reps),
               "n_verified_edges": _rows("verified_edges", verified),
               "n_dropped_buckets": n_dropped}
    store.write_metrics(metrics)
    # release the plan caches this run pinned (bands, stats, docs_meta):
    # with a checkpoint root every deliverable is parquet-backed, and
    # repeated runs in one session must not accumulate cached tables
    store.release_caches()
    return DedupResult(
        docs=hashed.drop("content"),
        signatures=sig,
        verified_edges=verified,
        clusters=clusters,
        dup_pairs=dup_pairs,
        metrics=metrics,
        span_pairs=span_verified,
    )


def _clusters(spark, store, all_edges: DataFrame, n_exact: int | None,
              decisions: dict) -> DataFrame:
    """Connected components of the run's edges, solved on the driver when
    the edge list (16 B per (src, dst) row) fits the broadcast budget that
    ``bcast_eligible`` also gates on, else by star rounds. The edge count
    comes from counts the run already has: the ``verified_edges``
    manifest, plus the prewarm's exact-edge count (light) or docs_meta
    rows minus signature rows (full: every document that is not its
    content's representative has one exact edge; an upper bound when
    several documents have null content). Store-less, one count over the
    two persisted edge caches, which the solve then reads."""
    n_verified = store.n_rows("verified_edges")
    if n_exact is None:
        n_docs, n_sig = store.n_rows("docs_meta"), store.n_rows("signatures")
        if n_docs is not None and n_sig is not None:
            n_exact = n_docs - n_sig
    if n_verified is None or n_exact is None:
        n_edges = store.n_rows("all_edges", all_edges)
    else:
        n_edges = n_verified + n_exact
    cc_local = n_edges * 16 < verify.BROADCAST_BUDGET_BYTES
    decisions.update(n_edges=n_edges, cc_local=cc_local)
    if cc_local:
        return connected_components_local(all_edges)
    if store.reliable:
        # full mode: CC rounds truncate lineage through RELIABLE checkpoints
        # under the store root — executor-local blocks die with their
        # executor (job failure, not recompute) under preemption
        import os as _os
        spark.sparkContext.setCheckpointDir(
            _os.path.join(store.root, "_spark_checkpoints"))
    return connected_components(all_edges, reliable=store.reliable)


def _expand_pairs(verified: DataFrame, exact_edges: DataFrame,
                  span_verified: DataFrame | None = None) -> DataFrame:
    exact_pairs = exact_edges.select(
        F.least("src", "dst").alias("id_a"),
        F.greatest("src", "dst").alias("id_b"),
        F.lit(1.0).alias("jaccard_kmv"),
        F.lit(1.0).alias("jaccard_minhash"),
        F.lit("exact").alias("kind"),
    )
    near_pairs = verified.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "jaccard_kmv",
        "jaccard_minhash",
        F.lit("near").alias("kind"),
    )
    out = near_pairs.unionByName(exact_pairs)
    if span_verified is not None:
        # span pairs carry no sketch-Jaccard estimates (their whole-doc
        # Jaccard is legitimately below threshold — that is the point);
        # the span evidence itself travels in two extra columns
        span_pairs = span_verified.select(
            "id_a", "id_b",
            F.lit(None).cast("double").alias("jaccard_kmv"),
            F.lit(None).cast("double").alias("jaccard_minhash"),
            F.lit("span").alias("kind"),
            "common_span_tokens",
            "containment",
        )
        out = (
            out.withColumn("common_span_tokens", F.lit(None).cast("int"))
            .withColumn("containment", F.lit(None).cast("double"))
            .unionByName(span_pairs)
        )
    return out.dropDuplicates(["id_a", "id_b"])
