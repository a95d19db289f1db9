"""SparkSession factory with scale-oriented defaults.

100 TB posture (SURVEY.md §4): AQE on (runtime re-planning, skew-join
mitigation, post-shuffle partition coalescing), Arrow transfers for any
pandas interchange, UTC session timezone so event-time arithmetic is
deterministic across environments. Shuffle partitions default to the local
core count for test scale; on a real cluster this is overridden via
``SPARK_SHUFFLE_PARTITIONS`` (rule of thumb: 2-3x total executor cores, and
AQE coalesces the excess).

Python workers fork from ``worker_daemon`` (``spark.python.daemon.module``),
so a task no longer re-reads ``pyspark.zip`` and the ``spark-core`` jar on
Python 3.10-3.12. On a cluster the package must be installed in the executor
Python environment: ``--py-files`` archives join ``sys.path`` per task, after
the daemon has started.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs the table loaders REQUIRE and therefore force onto any session,
#: including an externally-created one (e.g. the verification driver's).
REQUIRED_CONF: dict[str, str] = {
    # The events fixture stores TIMESTAMP(NANOS) which Spark's parquet reader
    # rejects outright; read as epoch-nanos long and convert in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics for epoch<->timestamp conversions.
    "spark.sql.session.timeZone": "UTC",
}

#: Scale-posture defaults, applied only when WE build the session (never
#: re-applied afterwards, so callers may override per run — bench.py turns
#: AQE off at sf0.1 where its stage-wise re-planning latency dominates).
DEFAULT_CONF: dict[str, str] = {
    # Runtime re-planning: coalesce small post-shuffle partitions, split skewed
    # join partitions. Free wins at every real scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python workers fork from the engine daemon (worker_daemon.py), which
    # stops every task re-reading the zip archives on the workers' sys.path.
    "spark.python.daemon.module": "cbde_mapreduce_spark.worker_daemon",
}

#: The package's parent directory; Python workers import the daemon from it.
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Everything we want on a fresh session.
RUNTIME_CONF: dict[str, str] = {**REQUIRED_CONF, **DEFAULT_CONF}


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Force the loader-required confs onto an existing session (idempotent).

    Only REQUIRED_CONF: the loaders call this on every read, so it must not
    clobber per-run tuning of the optional confs.
    """
    for key, value in REQUIRED_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Static conf on this build — session builder path sets it instead.
            pass
    return spark


def get_spark(
    app_name: str = "cbde-mapreduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_SHUFFLE_PARTITIONS", min(32, int(cpus)))
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # ContextCleaner only reclaims broadcast variables / shuffle files /
        # RDD blocks after a DRIVER GC proves them unreachable; the default
        # 30min periodic GC is longer than most local sessions live, so a
        # many-heavy-query session ages into heap thrash (GCLocker retries)
        # before any cleanup fires. 2min keeps the shared local JVM drained;
        # on a real cluster it is a no-op cost (one driver System.gc()).
        .config("spark.cleaner.periodicGC.interval", "2min")
        # workers start in the JVM's cwd: put the daemon's package on their
        # path wherever the session starts
        .config("spark.executorEnv.PYTHONPATH", _PKG_ROOT)
    )
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session whose builder confs
    # were ignored — re-apply everything runtime-settable, extra_conf last.
    for key, value in {**RUNTIME_CONF, **(extra_conf or {})}.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass
    return spark
