"""SparkSession factory.

Local-mode settings mirror what a 1000-executor cluster deployment
would set per-executor: AQE on (runtime shuffle-partition coalescing
+ skew-join splitting), Arrow transfers on, UTC session timezone so
timestamp comparisons against the DuckDB oracle are stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# directory holding the package: Python workers must import
# big_data_fknn_spark.worker whatever the driver's cwd
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_mem() -> str:
    """24g, or half the host's RAM when that is less.  G1 grows the
    heap towards -Xmx before collecting hard: a 24g heap on a 16 GB
    host got the JVM OOM-killed midway through the test suite."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 << 10, ram // 2 >> 20)}m"


def get_spark(app_name: str = "big_data_fknn_spark", cpus: int | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores.  On a
    real cluster these configs move to spark-submit; nothing here is
    local-only except the master URL.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # BLAS threading in Python workers — measured BOTH ways this
    # round (tools/key_timer.py + a direct matmul probe): with the
    # kernel running as ONE task (the bench's single-row-group scans
    # produce single-task kernels), OpenBLAS's own threading IS the
    # intra-host parallelism — the 2000×64×6667 distance matmul runs
    # ~0.013 s unpinned vs 0.050 s pinned, and pinning regressed j9's
    # exec 0.25 s → 0.41 s.  Oversubscription (guide §4.5) only bites
    # when MANY tasks each spin a pool; that is a deployment where
    # executors run `spark.executor.cores` concurrent tasks, and the
    # right production setting is spark.executorEnv.OPENBLAS_NUM_THREADS
    # ≈ host_cores / executor_cores in spark-submit conf — a cluster
    # knob, deliberately NOT forced here where it un-parallelizes the
    # local single-task kernels the bench actually runs.
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4 defaults ANSI on; pin it explicitly so the engine's
        # semantics (overflow raises, bad casts raise — the admission
        # gates exist so clean-data plans never hit either) don't
        # silently flip on a cluster deployed with the legacy default.
        # Every sweep/test/bench in this repo ran with ANSI on.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Python workers fork from big_data_fknn_spark.worker, which
        # wraps pyspark's daemon: on CPython < 3.13 pyspark's per-task
        # importlib.invalidate_caches() re-reads pyspark.zip's
        # 1,328-entry central directory once per cached zipimporter:
        # 0.17 s of CPU per call with 14 importers on a 4-core x86
        # host.  The module re-reads only an archive whose stat
        # changed; an FkNN job's process-tree CPU fell 22%.
        .config("spark.python.daemon.module", "big_data_fknn_spark.worker")
        # Generated-class cache (LRU, static conf, default 100).  One
        # pass over perfbench's registry_mix keys generates 183-191
        # distinct classes, bench.py's 14-key headline about 400 at
        # sf0.01, both together 576: at 100 every class is evicted
        # before its next use, so each pass re-ran Janino on all of
        # them and the JIT recompiled the fresh classes.  1000 holds
        # the working set.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # local mode: the driver JVM IS the executor — give it real
        # memory (shuffles spill if exceeded)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
    )
    spark = builder.getOrCreate()
    # sc.environment is spark.executorEnv.* as every Python function
    # ships it to its workers: append, keeping a path set elsewhere
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PKG_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([*paths, _PKG_PARENT])
    spark.sparkContext.setLogLevel("WARN")
    return spark
