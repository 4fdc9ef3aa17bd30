"""SparkSession factory with the engine's standard conf.

`get_spark` starts a local[N] session in this process; `get_submitted_spark`
is the same conf under spark-submit, where spark-submit already chose the
master and launched the driver JVM (AQE + skew join on, Arrow on).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Session conf shared by every entry point (no master, no JVM launch flags).
_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # PySpark 4.1 defaults this on: every `F.*` call and Column method then
    # walks the Python stack and makes ~4 extra py4j round trips only to put
    # its call site into error messages. Measured on a 4-core host:
    # `df.withColumn("y", F.col("id") + 1)` makes 5 round trips with it off
    # against 25 on. With it off (and the prefix lookups of
    # operators/prefixes.py), building the transform, canonicalize,
    # materialize, SHACL and export plans of a warm kgbench full_import op
    # (seed 7) fell from 2.93 s and 17.9k round trips to 1.45 s and 4.2k,
    # and the op from 10.9 s to 8.9 s. Error messages
    # lose only the Python call-site context; the Spark error is unchanged.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(app: str = "neosemantics-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        # SPARK_GRAFT_CPUS, else (also when empty) the cores this process
        # may run on
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
    )
    # GC: measured -XX:+UseParallelGC on the full bench (clean pairs) —
    # no win over the default G1 (67.9/74.8 s vs 63.3/65.1 s totals), so
    # the default stays; env hook kept for cluster-specific tuning.
    _java_opts = os.environ.get("SPARK_DRIVER_JAVA_OPTS")
    if _java_opts:
        b = b.config("spark.driver.extraJavaOptions", _java_opts)
    return _start(b)


def get_submitted_spark(app: str = "neosemantics-spark") -> SparkSession:
    """The session of a spark-submit job: the master and driver resources
    are the ones spark-submit set (local[*] when it was given none), the
    rest is the engine's standard conf."""
    return _start(SparkSession.builder.appName(app))


def _start(b: SparkSession.Builder) -> SparkSession:
    for k, v in _CONF.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # one task per core (at least 8); AQE re-coalesces. In local[N] mode
    # the default parallelism is N.
    cpus = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(max(cpus, 8)))
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
