"""SparkSession factory with the engine's standard conf.

local[N] in this sandbox; the same conf block is what we'd pass to
spark-submit on a real cluster (AQE + skew join on, Arrow on).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "neosemantics-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        # one task per core (at least 8); AQE re-coalesces
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # GC: measured -XX:+UseParallelGC on the full bench (clean pairs) —
    # no win over the default G1 (67.9/74.8 s vs 63.3/65.1 s totals), so
    # the default stays; env hook kept for cluster-specific tuning.
    _java_opts = os.environ.get("SPARK_DRIVER_JAVA_OPTS")
    if _java_opts:
        b = b.config("spark.driver.extraJavaOptions", _java_opts)
    spark = b.getOrCreate()
    _prewarm_python_workers(spark, cpus)
    return spark


def _default_driver_mem() -> str:
    """A quarter of physical memory, at least 1g and at most 4g: in local
    mode the driver JVM is the whole cluster, and a heap sized past the
    machine gets it OOM-killed instead of spilling."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // 2**30 // 4))}g"


def _prewarm_python_workers(spark: SparkSession, cpus: int) -> None:
    """Fork the Python worker pool and pay its heavy per-worker imports
    (pandas/pyarrow) once, at session creation — the guide §4.5
    heavy-init-once rule applied to the pool itself. With
    spark.python.worker.reuse (the default) the forked workers persist
    for the session, so the first real Arrow stage of a job no longer
    absorbs N forks × the pandas import (~3 s of the parse stage's cold
    time on this host, re-paid by every fresh process). No query data is
    touched or cached — this is infrastructure warm-up, identical in
    spirit to a cluster's warm executor pool."""
    if getattr(spark, "_ns_python_prewarmed", False):
        return
    try:
        def _touch(batches):
            import pandas  # noqa: F401 — the heavyweight per-worker import

            yield from batches

        spark.range(0, cpus, 1, max(cpus, 1)).mapInPandas(_touch, "id long").count()
        spark._ns_python_prewarmed = True
    except Exception:  # noqa: BLE001 — never fail session creation over warm-up
        pass
