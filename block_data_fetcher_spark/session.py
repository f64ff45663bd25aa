"""SparkSession factory tuned for this engine.

Scale posture: these configs are the local-mode analog of what we would
set on a 1000-executor cluster against ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast
  selection) — replaces hand-tuned shuffle partition counts.
- UTC session timezone — deterministic timestamp semantics across
  engines (the DuckDB oracle reads the same parquet files).
- Arrow enabled — any Pandas-UDF path (multimodal decode) is
  Arrow-batched, never row-at-a-time pickling.
- shuffle partitions and AQE's initial shuffle partition count sized
  to the host's cores (``SPARK_GRAFT_CPUS``, else ``os.cpu_count()``).
  The session reads nothing about the data it will process;
  ``spark.local.dir`` is left to ``SPARK_LOCAL_DIRS`` or Spark's default.
- Python workers start from :mod:`.worker_daemon` (the static conf
  ``spark.python.daemon.module``): ``pyspark.daemon`` with zipimport's
  per-task re-read of every archive directory on the worker's path made
  conditional on the archive having changed. Before CPython 3.13 that
  re-read dominates short Python tasks (the RPC source, the catalog's
  pandas UDFs); on 3.13 and later the daemon changes nothing.
  The package's root goes on ``PYTHONPATH`` before the JVM starts, so
  the workers find the daemon (and the engine's data sources) from any
  working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _host_mem_bytes() -> int | None:
    """Smallest of physical RAM and any cgroup (v2 then v1) limit —
    what the JVM can actually claim inside a container."""
    limits: list[int] = []
    try:
        limits.append(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    except (ValueError, OSError, AttributeError):
        pass
    for p in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(p) as f:
                v = f.read().strip()
            if v.isdigit():
                limits.append(int(v))
        except OSError:
            pass
    return min(limits) if limits else None


def default_driver_mem(host_bytes: int | None = None) -> str:
    """Driver-heap default sized to the HOST, not to one 128 GiB box
    (ADVICE r5: a flat 32g on a container with a smaller cgroup limit
    gets OOM-killed mid-query instead of failing fast): 60% of the
    detected host/cgroup memory, clamped to [2g, 32g]; 32g whenever
    detection fails or the box is big. SPARK_DRIVER_MEM always wins."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    if host_bytes is None:
        host_bytes = _host_mem_bytes()
    if host_bytes is None:
        return "32g"
    return f"{max(2, min(32, int(host_bytes * 0.6) >> 30))}g"


def get_spark(
    app_name: str = "block-data-fetcher-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)
    # read by the JVM and the workers it starts, so set before it starts
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([*paths, _PACKAGE_ROOT])
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Shuffles start at one partition per core; AQE coalesces down
        # to the advisory size from there.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            cpus,
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "block_data_fetcher_spark.worker_daemon")
        # local[N] runs driver+executors in ONE JVM: the heap must hold
        # shuffle/join working sets for every concurrent task. 12g OOMed
        # at the sf10 proof (60M-row SMJ after a 220-query session);
        # sized to the detected host/cgroup memory, capped at 32g,
        # SPARK_DRIVER_MEM overrides (see default_driver_mem).
        .config("spark.driver.memory", default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Reliable checkpoints (iter_checkpoint's distributed path) are
        # per-RDD directories that otherwise accumulate for the app's
        # lifetime; with reference tracking they're GC'd when the
        # checkpointed frame goes out of scope — a long bench session
        # runs hundreds of iterative label frames through one dir
        # (ADVICE r9).
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # The ContextCleaner only reclaims shuffle files after a JVM GC
        # collects their ShuffleDependency; a long catalog session
        # between heavy spillers can hold tens of GB of dead shuffle
        # files for the default 30 min periodic-GC interval (measured
        # in the r12 sf100 single pass: ~22 GB of stale files from
        # queries 10+ positions back). 5 min keeps the plateau bounded
        # without measurable CPU cost.
        .config("spark.cleaner.periodicGC.interval", "5min")
        .getOrCreate()
    )


def scoped(spark: SparkSession) -> SparkSession:
    """A session CLONE (shared SparkContext/cached data, fresh runtime
    conf) for queries that override optimizer confs (bloom-filter
    thresholds, autoBroadcastJoinThreshold). The returned DataFrame
    keeps a reference to the clone, so the override is live whenever
    that plan executes — and the caller's session conf is never
    touched, no matter how many queries are built before any runs
    (ADVICE r1: build-time conf sets leaked until the next tune())."""
    clone = spark.newSession()
    return tune(clone)


def tune(spark: SparkSession) -> SparkSession:
    """Apply engine session-level conf to an externally provided session
    (the driver passes its own SparkSession to ``entry``/``queries``).

    Only touches runtime-settable confs; static confs (master, memory)
    are left alone.
    """
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        # Restore defaults that individual catalog queries override to
        # reproduce at-scale plan shapes on tiny fixtures
        # (q_bloom_join lowers the probe-side threshold and disables
        # auto-broadcast) — every catalog entry runs tune() first, so
        # overrides never leak across queries.
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        # q_recursive_cte raises the cumulative-row recursion guard to
        # its fixture-sized bound; the conf must stay live until THAT
        # query's lazy plan executes (a try/finally inside the query
        # would restore it before the caller collects), so the reset
        # happens here — the next catalog entry built on the session
        # restores the 1M default before its own plan runs (ADVICE r9).
        spark.conf.unset("spark.sql.cteRecursionRowLimit")
    except Exception:
        pass  # conf may be immutable on some deployments; defaults are fine
    return spark
