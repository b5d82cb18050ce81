"""Connected components of an edge list (SURVEY §2C.4), two ways with one
answer: ``(doc_id, cluster_id)`` for every id on a non-self-loop edge,
``cluster_id`` the minimum id of its component, in the edges' id type.

``connected_components_local`` collects the edge list through Arrow and
labels it on the driver with NumPy (``component_labels``): one Spark job
for the collect, none for the rounds. The caller picks it when the edge
list fits its broadcast budget (``pipeline.py``: 16 B per edge).

``connected_components`` is the distributed path for graphs above that:
alternating large-star / small-star rounds (Kiveris et al., "Connected
Components in MapReduce and Beyond"). Each round is two shuffles (a
groupBy-min and a join); ``localCheckpoint`` after every round truncates
the lineage so the plan does not grow with the iteration count.
Convergence is detected by an order-insensitive edge-set checksum (sum of
xxhash64(src,dst) + count) — two scalars, no collect of edge data.
Near-dup clusters have tiny diameters so this converges in a handful of
rounds; the star algorithm still guarantees O(log n) rounds on
pathological chains.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Both star operations need "the minimum of u's neighborhood, attached to
# every row of u's neighborhood" — a groupBy-min JOINED back on u costs two
# shuffles of the full edge table on the same key; a window aggregate over
# partitionBy(u) computes and attaches the min in ONE shuffle. Same hash
# partitioning on u either way (a hot vertex lands in one partition under
# both forms — AQE skew handling applies to neither; the star algorithm
# itself bounds neighborhood growth), but the window form moves the edge
# table through the exchange once instead of twice, every round, at every
# scale.


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to min(Γ(u) ∪ {u})."""
    sym = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    m = F.least(F.col("u"), F.min("v").over(Window.partitionBy("u")))
    # no distinct here: small-star's terminal distinct dedups, saving one
    # shuffle per round
    return (
        sym.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """On edges directed high→low: connect N(u) ∪ {u} to its minimum."""
    d = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).filter(F.col("u") != F.col("v"))
    dm = d.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    # the self edge (u, m) is emitted once per neighbor instead of once per
    # u; the terminal distinct (needed anyway) collapses the copies
    return (
        dm.select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .unionAll(dm.select(F.col("u").alias("src"), F.col("m").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    # decimal accumulator: ANSI mode (Spark 4 default) rejects silent
    # long-overflow in sum()
    row = edges.select(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def connected_components(edges: DataFrame, max_iterations: int = 25,
                         reliable: bool = False) -> DataFrame:
    """edges(src, dst) → assignments(doc_id, cluster_id) where cluster_id
    is the minimum doc_id of the component. Nodes appearing in no edge are
    absent (callers union singletons back with cluster_id = doc_id).

    One Spark job per round: the lazy checkpoint is materialized by the
    checksum action itself, so a round costs a single job instead of a
    checkpoint job + a checksum job.

    ``reliable=True`` truncates lineage with ``DataFrame.checkpoint``
    (reliable storage at ``spark.sparkContext.setCheckpointDir`` — the
    caller must have set it): on a preemptible multi-executor cluster,
    ``localCheckpoint``'s executor-local blocks are lost with the executor
    and FAIL the job rather than recompute. Keep the default (local) only
    for single-process interactive queries."""
    # maps id(checkpointed df) -> the PERSISTED pre-checkpoint handle:
    # unpersist() must be called on the handle that persist() was called
    # on — calling it on the checkpointed DataFrame is a no-op against the
    # original cache, which silently kept every round's full edge table
    # cached for the whole run
    persisted: dict[int, DataFrame] = {}
    if reliable:
        def _ckpt(df: DataFrame) -> DataFrame:
            # persist first: the reliable-checkpoint job runs AFTER the
            # first action and would otherwise recompute the round from
            # lineage (the classic persist-before-checkpoint rule); with
            # the cache it just copies blocks to reliable storage
            p = df.persist()
            c = p.checkpoint(eager=False)
            persisted[id(c)] = p
            return c
    else:
        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=False)
    # small-star first: LSH/exact candidate edges are already star-shaped
    # (bucket rep → member), so the first small-star collapses most of the
    # graph before any large-star round runs.
    stale: list[DataFrame] = []

    def _advance(new: DataFrame, old: DataFrame) -> DataFrame:
        stale.append(old)
        return new

    def _drop_stale(keep: DataFrame) -> None:
        # called right after an action materialized ``keep`` (and, through
        # lazy lineage, every intermediate round): superseded rounds'
        # caches — billions of edge rows at web scale — can go. ``keep``
        # itself was just materialized TO RELIABLE STORAGE by that action,
        # so its pre-checkpoint cache is dead weight too: subsequent reads
        # come from the checkpoint files.
        if reliable:
            for df in stale:
                if df is not keep:
                    p = persisted.pop(id(df), None)
                    if p is not None:
                        p.unpersist()
            stale.clear()
            p = persisted.pop(id(keep), None)
            if p is not None:
                p.unpersist()

    cur = _ckpt(_small_star(edges))
    # no dedicated checksum job on the initial small-star: its lazy
    # checkpoint materializes inside round 1's checksum job anyway, and the
    # first comparison (vs None) just declares "not converged yet" — the
    # convergence proof only ever needs two checksummed states to agree,
    # not a baseline before round 1. Saves one full Spark job per run.
    prev_sig: tuple[int, int] | None = None
    converged = False
    for it in range(max_iterations):
        cur = _advance(_ckpt(_small_star(_large_star(cur))), cur)
        # checksum rounds 0 and 1, then every 2nd round: LSH star edges are
        # already (rep -> member) shaped, so the COMMON case converges after
        # one large+small round — consecutive checks at it=0,1 detect that
        # fixed point without computing a third full round. Graphs that
        # survive round 1 (long chains) fall back to the every-2nd-round
        # schedule: each checksum action is a whole Spark job (~0.5-1 s
        # fixed here), so sparse checking halves the job count at the cost
        # of detecting convergence at most one cheap round late.
        if it <= 1 or it % 2 == 0 or it == max_iterations - 1:
            sig = _checksum(cur)
            _drop_stale(cur)
            if sig == prev_sig:
                converged = True
                break
            prev_sig = sig
    if not converged:
        # the every-2nd-round schedule compares sig(it) vs sig(it-2); if
        # convergence landed on the very last round, that final comparison
        # spans a pre-convergence state. One extra consecutive-round check
        # resolves it before declaring failure.
        nxt = _advance(_ckpt(_small_star(_large_star(cur))), cur)
        ok = _checksum(nxt) == prev_sig
        _drop_stale(nxt)
        if ok:
            converged = True
            cur = nxt
    if not converged:
        raise RuntimeError(f"connected components did not converge in {max_iterations} rounds")
    # at convergence every edge is (member, root); roots also map to themselves
    members = cur.select(F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id"))
    roots = cur.select(F.col("dst").alias("doc_id"), F.col("dst").alias("cluster_id")).distinct()
    return (
        members.unionAll(roots)
        .groupBy("doc_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def component_labels(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, labels): every id on a non-self-loop edge, sorted, and the
    minimum id of its component. Ids are compressed to ranks, so the
    minimum rank is the minimum id. Each pass hooks the larger root of
    every edge under the smaller (``np.minimum.at``), then pointer-jumps
    until every node points at its root; edges whose ends share a root are
    done for good and drop out. Roots only ever move down, so it ends, and
    a component's minimum is its root because it has nothing below it to
    hook under. Hooking roots, not propagating labels: on 1M random edges
    (NumPy 1.26, one core) hooking took 4 passes and 0.24 s after the rank
    compression, in-place min-label propagation 26 passes and 1.2 s; the
    whole kernel took 0.5 s at 1M edges and 14.6 s at 16M."""
    keep = src != dst
    src, dst = src[keep], dst[keep]
    nodes, rank = np.unique(np.concatenate([src, dst]), return_inverse=True)
    a, b = rank[: len(src)], rank[len(src):]
    parent = np.arange(len(nodes))
    while True:
        ra, rb = parent[a], parent[b]
        live = ra != rb
        if not live.any():
            return nodes, nodes[parent]
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up


def connected_components_local(edges: DataFrame) -> DataFrame:
    """``connected_components`` solved on the driver: the same rows and
    schema, for an edge list the driver can hold (two ids per edge)."""
    t = edges.select("src", "dst").toArrow()
    nodes, labels = component_labels(t.column("src").to_numpy(),
                                     t.column("dst").to_numpy())
    id_type = edges.schema["src"].dataType
    schema = T.StructType([T.StructField("doc_id", id_type),
                           T.StructField("cluster_id", id_type)])
    return edges.sparkSession.createDataFrame(
        pa.table({"doc_id": nodes, "cluster_id": labels}), schema)
