"""SparkSession factory — Arrow on, static plans, tuned for the sandbox.

On a real cluster the same builder is used minus the `local[...]`
master; shuffle partitions are sized by the driver via
``spark.sql.shuffle.partitions`` (set to cores locally, to ~2-3× total
executor cores on a cluster).

Adaptive execution is off: the package salts, bounds and sizes its
shuffles itself, so runtime re-planning would only add a job per query
stage. No package code writes session conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ontonotes_5_parsing_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    # a master set by spark-submit (--master, surfaced as $MASTER) must
    # win: never call builder.master() over it. Only default to local[N]
    # when no master was provided anywhere.
    submitted_master = os.environ.get("MASTER")
    set_master = master is not None or submitted_master is None
    effective = master or submitted_master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; real cluster would use 2-3× total cores
        n = effective[effective.find("[") + 1 : effective.find("]")] if "[" in effective else ""
        shuffle_partitions = cpus if n in ("", "*") or not n.isdigit() else int(n)
    builder = SparkSession.builder
    if set_master:
        builder = builder.master(effective)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "2048"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_cache_key(spark: SparkSession) -> str:
    """Stable per-session key for module-level DataFrame caches.

    ``id(spark)`` is NOT safe: after a stopped session is
    garbage-collected, CPython can recycle the id for a new session and
    the cache would hand back DataFrames bound to a dead SparkContext
    (round-3 ADVICE). ``applicationId`` is unique per SparkContext.
    """
    return spark.sparkContext.applicationId
