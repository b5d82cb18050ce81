"""Resumable per-stage checkpoints: Parquet tables + a JSON manifest.

The north rule requires per-partition checkpoint/lineage/metrics tables so
any stage is resumable mid-run. No Iceberg runtime jar ships in this
sandbox (verified in SURVEY §7), so the layout is "Iceberg-shaped":
one directory per stage table with

    <root>/<stage>/data-<token>/    partitioned parquet (immutable once written)
    <root>/<stage>/manifest.json    config hash, upstream manifest hashes,
                                    input fingerprint, data dir, row count,
                                    schema, written timestamp

Commit protocol (object-store safe): data is written to a fresh uniquely
named directory, then the manifest — a SINGLE file naming that directory —
is swapped in. The only operation that must be atomic is one small file
write (a rename here; a PUT on S3/GCS), never a directory rename, which
object stores cannot do. A killed run leaves at most an orphan data dir
that the next successful commit garbage-collects.

A stage is *resumed* (read, not recomputed) when its manifest exists and
(a) ``config_hash`` matches, (b) every upstream stage's CURRENT manifest
hashes to the value recorded at write time (the chain is recursive: each
upstream manifest covers its own upstream hashes), and (c) the recorded
input fingerprint matches — so reusing a checkpoint root against different
input data never silently resumes stale outputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from dataclasses import asdict
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from datasketches_spark.config import DedupConfig
from datasketches_spark.plans.storefs import LocalBackend


def config_hash(cfg: DedupConfig, extra: dict | None = None) -> str:
    payload = {"cfg": asdict(cfg), "extra": extra or {}}
    return hashlib.sha256(json.dumps(payload, sort_keys=True).encode()).hexdigest()[:16]


def _strip_file_scheme(f: str) -> str:
    """file:///x, file:/x (Hadoop-normalized) and file://host/x all map to
    a local path; anything else passes through untouched."""
    if f.startswith("file:"):
        return "/" + f.split(":", 1)[1].lstrip("/")
    return f


def input_fingerprint(df: DataFrame) -> str | None:
    """Cheap deterministic fingerprint of a DataFrame's source data: the
    sorted list of input files with sizes (no Spark job). Returns None for
    purely in-memory inputs (createDataFrame), where no stable identity
    exists — such runs always recompute from scratch on resume."""
    files = sorted(df.inputFiles())
    if not files:
        return None
    parts = [f"n={len(files)}"]
    local = [f for f in files if f.startswith(("file:", "/"))]
    if len(local) == len(files):
        # POSIX inputs: size+mtime for EVERY file from one bulk directory
        # walk per parent dir (os.scandir stats through the open directory
        # fd — no per-path resolution — so 10^5 entries cost milliseconds,
        # unlike an os.stat(path) loop or an object-store HEAD per key).
        # This closes the sampled-fingerprint hole: an in-place
        # same-size overwrite of ANY input file now invalidates the
        # checkpoint (mtime moves), not just overwrites inside a sample.
        meta: dict[str, tuple[int, int]] = {}
        for d in {os.path.dirname(_strip_file_scheme(f)) for f in files}:
            try:
                with os.scandir(d) as it:
                    for e in it:
                        try:
                            st = e.stat()
                            meta[e.path] = (st.st_size, st.st_mtime_ns)
                        except OSError:
                            pass
            except OSError:
                pass
        for f in files:
            m = meta.get(_strip_file_scheme(f))
            parts.append(f"{f}:{m[0]}:{m[1]}" if m else f)
    else:
        # object-store URIs (s3://, gs://, ...): a HEAD per key is a slow
        # serial driver scan at millions of objects, so size+mtime come
        # from at most a deterministic sample. The name list + count +
        # sampled stats still catch overwrites in the sample and any
        # add/remove/rename anywhere. KNOWN LIMIT: an in-place overwrite of
        # a NON-sampled object (same key, same total count) is invisible —
        # invalidate manually or raise the sample via DSS_FP_MAX_STAT.
        max_stat = int(os.environ.get("DSS_FP_MAX_STAT", "1024"))
        stride = max(1, len(files) // max_stat)
        sampled = set(files[::stride])
        for f in files:
            if f in sampled:
                try:
                    st = os.stat(_strip_file_scheme(f))
                    parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
                    continue
                except OSError:
                    pass
            parts.append(f)
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


class CheckpointStore:
    """Every storage touch goes through ``self.fs`` (a ``storefs`` backend
    exposing only object-store-shaped PUT/GET/LIST ops — no rename, no
    isdir): the default ``LocalBackend`` maps them onto POSIX, and the
    MemoryBackend fake in tests proves the protocol needs nothing more, so
    an S3/GCS backend is one class away.

    The store is also the one place that decides how each stage is
    materialized. A run is in one of three modes, fixed at construction:
    full (``enabled``), checkpoint light (``enabled`` and ``light``) or
    store-less (not ``enabled``, no root):

    ==================  ===========  ==================  ===================
    stage               full         checkpoint light    store-less
    ==================  ===========  ==================  ===================
    ``light=True``      parquet      lazy, persisted if  lazy
                                     ``cache``
    heavy               parquet      parquet             lazy, persisted if
                                                         ``cache``
    ``cache(df)``       lazy         persisted           persisted
    CC rounds           checkpoint   localCheckpoint     localCheckpoint
    ==================  ===========  ==================  ===================

    CC rounds run only for edge lists above the broadcast budget; smaller
    graphs are solved on the driver in every mode, with no executor state
    (``pipeline._clusters``). Above it only full mode survives executor
    loss: ``localCheckpoint`` blocks live
    on the executor that computed them and fail the job when it dies. The
    light modes trade that, and cheap-stage resumability, for the fixed
    cost of a parquet stage (write job + manifest PUT + read-back
    planning, ~1 s warm): noise at production scale, but it dominates
    small runs."""

    def __init__(self, spark: SparkSession, root: str, cfg: DedupConfig,
                 run_id: str = "run", enabled: bool = True,
                 input_fp: str | None = None, backend=None,
                 light: bool = False):
        self.spark = spark
        self.root = root
        self.cfg = cfg
        self.cfg_hash = config_hash(cfg)
        self.run_id = run_id
        self.enabled = enabled
        self.input_fp = input_fp
        self.lineage: list[dict] = []
        self.light = light
        # upstream lists of stages not written to parquet, so a written
        # stage's manifest chains through them to its nearest CHECKPOINTED
        # ancestors (a skipped stage has no manifest identity; it is a
        # deterministic function of cfg + input + those ancestors, all of
        # which the manifest already covers)
        self._skipped_upstream: dict[str, list[str]] = {}
        # manifests of the stages this run wrote or resumed: row counts are
        # read from here, never from a manifest another run left behind
        self._manifests: dict[str, dict] = {}
        self._cached: list[DataFrame] = []
        if enabled:
            self.fs = backend if backend is not None else LocalBackend(root)

    @property
    def reliable(self) -> bool:
        """Full mode: CC rounds go to reliable storage."""
        return self.enabled and not self.light

    def release_caches(self) -> None:
        """Unpersist the plan caches this run pinned. Call once the
        terminal stages are materialized. Store-less, the
        run's deliverables are lazy plans over these caches, so they stay;
        their lifetime is the caller's."""
        if not self.enabled:
            return
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def cache(self, df: DataFrame) -> DataFrame:
        """Persist a plan that several stages read, until
        ``release_caches``. Full mode reads every stage back from parquet
        and caches nothing (a cache there added 2 AQE jobs per run)."""
        if self.reliable:
            return df
        df = df.persist()
        self._cached.append(df)
        return df

    def _resolve_upstream(self, upstream: list[str]) -> list[str]:
        out: list[str] = []
        for up in upstream:
            if up in self._skipped_upstream:
                out.extend(self._resolve_upstream(self._skipped_upstream[up]))
            elif up not in out:
                out.append(up)
        # dedup, order-preserving
        seen: set[str] = set()
        return [u for u in out if not (u in seen or seen.add(u))]

    def n_rows(self, name: str, df: DataFrame | None = None) -> int | None:
        """Row count of stage ``name``: free off its manifest when this run
        wrote or resumed it. Otherwise ``df.count()`` under a finer job
        label (the caller's label is restored), or None without ``df``."""
        m = self._manifests.get(name)
        if m is not None:
            return int(m["n_rows"])
        if df is None:
            return None
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"{prev}/{name}_count" if prev else f"count:{name}")
        try:
            return df.count()
        finally:
            sc.setLocalProperty("spark.job.description", prev)

    # ------------------------------------------------------------- stages

    def _manifest_key(self, stage: str) -> str:
        return f"{stage}/manifest.json"

    def _manifest_hash(self, stage: str) -> str | None:
        data = self.fs.get(self._manifest_key(stage))
        return None if data is None else hashlib.sha256(data).hexdigest()[:16]

    def _read_manifest(self, stage: str) -> dict | None:
        if not self.enabled:
            return None
        data = self.fs.get(self._manifest_key(stage))
        if data is None:
            return None
        try:
            return json.loads(data)
        except ValueError:
            return None

    def is_valid(self, stage: str, upstream: list[str]) -> bool:
        upstream = self._resolve_upstream(upstream)
        if self.input_fp is None:
            # purely in-memory inputs (createDataFrame) have no stable
            # identity — never resume a prior run's outputs against them
            return False
        m = self._read_manifest(stage)
        if m is None or m.get("config_hash") != self.cfg_hash:
            return False
        if sorted(m.get("upstream_hashes", {})) != sorted(upstream):
            return False
        # recursive chain: each upstream manifest must hash to the value
        # recorded when this stage was written (its own hash covers ITS
        # upstream hashes, so one level of comparison validates the chain)
        for up, h in m.get("upstream_hashes", {}).items():
            if self._manifest_hash(up) != h:
                return False
        if m.get("input_fingerprint") != self.input_fp:
            return False
        return bool(m.get("data_dir")) and self.fs.exists_prefix(
            f"{stage}/{m['data_dir']}")

    def manifest(self, stage: str) -> dict | None:
        """The manifest of ``stage`` if this run wrote or resumed it."""
        return self._manifests.get(stage)

    def stage(self, name: str, compute: Callable[[], DataFrame],
              upstream: list[str] | None = None,
              partition_by: list[str] | None = None,
              min_partitions: int | None = None,
              extra_obs: dict | None = None,
              light: bool = False, cache: bool = False) -> DataFrame:
        """Run (or resume) a stage, materialized as the mode table in the
        class docstring says. A written stage is read back from its
        parquet, so downstream plans never re-execute upstream stages.

        ``extra_obs``: {name: aggregate Column} metrics to piggyback on the
        write job (recorded under manifest["observed"]) — stage-level
        metrics never cost their own Spark job.

        ``light=True`` marks a stage cheap to recompute and ``cache=True``
        one with several consumers. A stage that is not written returns
        ``compute()``'s LAZY plan (no jobs), persisted when ``cache``, so
        materialization rides the first consumer's job. Downstream written
        stages chain their manifests through it to the nearest
        checkpointed ancestors."""
        upstream = upstream or []
        t0 = time.time()
        # label every Spark job fired under this stage (shows up in the UI
        # REST API / event logs — how a regression gets attributed to a
        # stage without guessing)
        self.spark.sparkContext.setJobDescription(f"stage:{name}")
        if not self.enabled or (self.light and light):
            df = compute()
            # a checkpoint root's light plans ignore min_partitions: probing
            # ``df.rdd.getNumPartitions()`` on an AQE plan executes its
            # shuffle stages eagerly (AQE must run them to know the final
            # partitioning), silently computing the whole subtree once and
            # throwing the result away — measured as a full extra pass over
            # the corpus in light mode. Light plans flow into consumers
            # whose own shuffles set task counts. Store-less, nothing else
            # keeps a stage feeding a compute-heavy consumer off one split.
            if (min_partitions and not self.enabled
                    and df.rdd.getNumPartitions() < min_partitions):
                df = df.repartition(min_partitions)
            # store-less, cheap stages are recomputed, not cached: caching
            # them added 3 jobs per run on the 400-doc corpus
            if cache and (self.enabled or not light):
                df = self.cache(df)
            self._skipped_upstream[name] = upstream
            self.lineage.append({"stage": name, "resumed": False, "checkpointed": False})
            return df
        upstream = self._resolve_upstream(upstream)
        if self.is_valid(name, upstream):
            m = self._manifests[name] = self._read_manifest(name)
            self.lineage.append({"stage": name, "resumed": True})
            # read back with the RECORDED schema: skips the footer-read
            # schema-inference job that otherwise taxes every resume
            from pyspark.sql import types as _T
            return self.spark.read.schema(
                _T.StructType.fromJson(m["schema"])).parquet(
                self.fs.spark_path(f"{name}/{m['data_dir']}"))
        df = compute()
        if min_partitions and df.rdd.getNumPartitions() < min_partitions:
            # AQE coalesces small shuffle outputs to very few partitions;
            # a checkpoint that feeds a compute-heavy downstream stage must
            # keep enough files for that stage's parallelism. Conditional:
            # when the plan already carries enough partitions (e.g. its
            # final shuffle used 2x-cores shuffle partitions), repartition
            # would re-shuffle the full content column for nothing.
            df = df.repartition(min_partitions)
        token = f"data-{uuid.uuid4().hex[:8]}"
        dpath = self.fs.spark_path(f"{name}/{token}")
        # row count rides on the write job itself (Observation) — no
        # read-back count job per stage (a 2x job-count tax at scale)
        obs = Observation(f"ckpt_{name}")
        obs_cols = [F.count(F.lit(1)).alias("n")]
        for oname, ocol in (extra_obs or {}).items():
            obs_cols.append(ocol.alias(oname))
        writer = df.observe(obs, *obs_cols).write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(dpath)
        observed = {k: (0 if v is None else v) for k, v in obs.get.items()}
        n_rows = int(observed.pop("n"))
        manifest = {
            "stage": name,
            "config_hash": self.cfg_hash,
            "upstream_hashes": {up: self._manifest_hash(up) for up in upstream},
            "input_fingerprint": self.input_fp,
            "data_dir": token,
            "run_id": self.run_id,
            "n_rows": n_rows,
            "observed": observed,
            "schema": df.schema.jsonValue(),
            "written_at": time.time(),
        }
        # the single atomic commit op: one object PUT
        self.fs.put(self._manifest_key(name), json.dumps(manifest).encode())
        self._manifests[name] = manifest
        # GC orphan data dirs from previous runs/crashes (best-effort):
        # every key under the stage except the manifest and the live token
        stale = {k.split("/")[1] for k in self.fs.list(name)
                 if "/" in k and k.split("/")[1].startswith("data-")}
        for d in stale - {token}:
            self.fs.delete_prefix(f"{name}/{d}")
        entry = {"stage": name, "resumed": False, "n_rows": n_rows,
                 "wall_sec": round(time.time() - t0, 2)}
        self.lineage.append(entry)
        # read back with the KNOWN schema (we just wrote it): skips the
        # footer-read schema-inference job — a fixed ~0.1-0.3 s tax per
        # stage that is pure overhead at any scale
        return self.spark.read.schema(df.schema).parquet(dpath)

    # ------------------------------------------------------------ metrics

    def write_metrics(self, metrics: dict) -> None:
        if not self.enabled:
            return
        record = {"run_id": self.run_id, "config_hash": self.cfg_hash,
                  "written_at": time.time(), "lineage": self.lineage, **metrics}
        self.fs.put("metrics.json",
                    json.dumps(record, indent=2, default=str).encode())
