"""SparkSession factory with the scale-oriented defaults the pipeline
assumes everywhere: AQE (runtime re-plan + skew-join splitting), Arrow
transfer for every pandas UDF, and shuffle partitions sized to the core
count rather than Spark's default 200 (local mode has no cluster to absorb
tiny tasks; on a real cluster this is set to ~2-3x total cores)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "datasketches_spark", cores: int | None = None,
              shuffle_partitions: int | None = None, driver_mem: str = "12g") -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", driver_mem)
    if shuffle_partitions is None:
        env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        if env_sp:
            # explicit override: shuffle task count must track DATA size,
            # not core count — partitions that outgrow the heap spill and
            # GC-thrash; too many tiny ones are job overhead. AQE coalesces
            # downward, so oversizing is the safe direction. Benches pin
            # this identically across parallelism levels so every probe leg
            # sees the same task granularity (as a real cluster would).
            shuffle_partitions = int(env_sp)
        else:
            # 2x cores: pandas-stage tasks each occupy a JVM thread + a python
            # worker (neither saturates a core), and AQE coalesces any shuffle
            # that ends up smaller — the cap costs nothing, the headroom packs
            # mixed JVM/python stages onto cores better
            shuffle_partitions = max(2 * cores, 16)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-coalesce shuffle partitions even under persisted plans
        # (otherwise every cached stage pins shuffle.partitions tiny tasks)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # In→InSet conversion fires only STRICTLY ABOVE this threshold
        # (default 10); the text functions' stopword lists are exactly 10
        # entries, so at the default every isin(stopwords) is a linear
        # 10-comparison chain per word. 9 turns them into one hash-set
        # probe (measured 2.3x on lang_id alone; scale-independent — a
        # hash probe never loses to a 10-long equality chain)
        .config("spark.sql.optimizer.inSetConversionThreshold", "9")
        # Checkpoint stages deliberately write >= one file per core so the
        # next (usually Arrow/python) stage gets a task per core. The
        # default openCost (4MB) lets the file scan PACK several such files
        # into one 128MB partition, silently resurrecting the
        # undersubscription (measured: a 16-file signature input read back
        # as 8 partitions -> half the cores idle at local[16], flat scaling
        # beyond 8). 64MB openCost means "never pack multi-MB files"; scans
        # of real >=128MB files (the 100 TB case) are unaffected since they
        # split by size anyway.
        .config("spark.sql.files.openCostInBytes", str(64 * 1024 * 1024))
        # default 64MB task-memory pages mean every shuffle task first-touches
        # a fresh 64MB heap region; this environment's page-fault latency makes
        # that the dominant cost of every exchange (measured 2x end-to-end).
        # 2MB pages cut the faulted footprint 32x with no downside at our
        # per-task data sizes.
        .config("spark.buffer.pageSize", "2m")
        # same pathology on the shuffle WRITE path: below this threshold the
        # bypass-merge writer opens one buffered stream per reducer and then
        # CONCATENATES the per-reducer files — every shuffled byte is
        # written to tmpfs twice, and concurrent writers contend on the
        # fault path (measured: an identical 2.7 GB wide-row exchange cost
        # 3.3 s of shuffle-write time at 2 threads but 74 s at 8). Forcing
        # the serialized sort writer keeps one spill file per map task (no
        # concat, single sequential stream), halving write volume; 1 MB
        # write buffers cut syscall count ~32x on top.
        .config("spark.shuffle.sort.bypassMergeThreshold", "2")
        .config("spark.shuffle.file.buffer", "1m")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        # UI off by default (saves ~0.3s startup + a jetty thread pool);
        # SPARK_GRAFT_UI=1 turns it on so the REST API's per-job timings
        # are available when profiling a regression
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false")
        # NO TransparentHugePages / AlwaysPreTouch: measured CATASTROPHIC
        # anti-scaling at high thread counts in this environment (pure-JVM
        # sha256+groupBy on identical input: 2.3s at local[8] vs 116s at
        # local[32] with THP+PreTouch; 1.7s at BOTH without). THP
        # compaction/collapse work is billed as process-wide kernel time
        # and serializes 32 task threads. The round-1 warm-heap rationale
        # is superseded: plain 4K demand paging scales flat to 32 threads.
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
        # Hadoop parquet vectored IO degenerates on the local filesystem:
        # observed a single CC-stage task burning 18+ CPU-minutes inside
        # RawLocalFileSystem$AsyncHandler.initiateRead / VectorIOBufferPool
        # buffer churn reading a small checkpoint table (jstack-verified).
        # Vectored reads exist for high-latency object stores; on local
        # disk/tmpfs the classic positional reader has none of the range-
        # merge pathology. On a real S3/GCS cluster, re-enable per venue.
        .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
    )
    # Shuffle spill location: on a real cluster every executor brings its
    # own local NVMe, so aggregate shuffle bandwidth SCALES with cluster
    # size. This sandbox has one shared virtio disk for any parallelism —
    # a fixed resource that a 4N-leg probe run contends for 4x harder, an
    # artifact a real N->4N comparison doesn't have. Routing spark.local.dir
    # to tmpfs (RAM-backed, ~100x the virtio bandwidth) restores the
    # per-executor-disk assumption — but tmpfs is RAM-bounded, so a spill
    # larger than tmpfs fails with no-space-left instead of using disk.
    # Hence EXPLICIT OPT-IN only: SPARK_GRAFT_LOCAL_DIR=<dir> or
    # SPARK_GRAFT_TMPFS=1 (bench.py sets the latter for probe runs, where
    # the working set is sized to fit); the library default is Spark's own
    # disk-backed local dir.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if (local_dir is None and os.environ.get("SPARK_GRAFT_TMPFS") == "1"
            and os.path.isdir("/dev/shm")):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    # observability seam: every pipeline stage labels its jobs via
    # setJobDescription, so an event log attributes wall time to stages
    # (and exposes driver-side gaps BETWEEN jobs) without guessing — the
    # same workflow as the history server on a real cluster
    ev = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if ev:
        os.makedirs(ev, exist_ok=True)
        builder = (builder.config("spark.eventLog.enabled", "true")
                   .config("spark.eventLog.dir", ev))
    # generic passthrough for ablation experiments and site-specific tuning:
    # "k=v;k2=v2" applied last, so it can override any default above
    for k, v in parse_extra_conf(os.environ.get("SPARK_GRAFT_CONF", "")).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def core_tasks(sc) -> int:
    """Task count for a compute-heavy (Python UDF) stage: one per core.
    Every Python task pays ~0.2 s of worker CPU before its UDF runs
    (PySpark's ``setup_spark_files`` calls ``importlib.invalidate_caches()``
    per task, re-reading the ``pyspark.zip`` directory once per cached
    zipimporter; a JVM task costs ~2 ms). Measured at local[4], 4 vCPU:
    64 trivial Python tasks took 3.3-3.9 s (JVM: 0.15 s), and the planted
    benchmark's signature job 2.80 s at 16 tasks, 1.46 s at 4."""
    return sc.defaultParallelism


def parse_extra_conf(spec: str) -> dict[str, str]:
    """Parse the ``SPARK_GRAFT_CONF`` format: ``k=v;k2=v2``. Entries
    without ``=`` are ignored; later duplicates win (matching Spark's
    last-setting-wins conf semantics); values may themselves contain
    ``=`` (only the first splits)."""
    out: dict[str, str] = {}
    for kv in (spec or "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            if k.strip():
                out[k.strip()] = v.strip()
    return out
