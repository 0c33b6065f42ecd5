"""SparkSession factory with the engine's scale-oriented defaults.

AQE (runtime re-plan + skew-join split), Arrow-backed pandas UDFs, UTC
session timezone (oracle comparability), shuffle partitions sized to
cores for local mode (a real cluster overrides via spark-submit --conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _submitted_master() -> str | None:
    """The --master a surrounding ``spark-submit`` provided, if any.

    Under ``spark-submit script.py`` the Python process is launched by an
    already-running gateway JVM (marked by PYSPARK_GATEWAY_PORT) whose
    system properties carry the submitted conf.  That master MUST win over
    the library's local[N] default — otherwise
    ``MASTER=spark://host scripts/submit.sh bench.py`` would silently run
    the whole job local on the driver host (the north rule's deployment
    path is exactly spark-submit onto a multi-executor cluster).  Outside
    spark-submit (pytest, scripts run directly) the gateway does not
    exist yet and this returns None without launching one.
    """
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    try:
        # pyspark 4's Python-side SparkConf doesn't surface the gateway
        # JVM's system properties, so read spark.master off the JVM
        # directly (attaches to the spark-submit gateway; never spawns
        # a new JVM because PYSPARK_GATEWAY_PORT is set)
        from pyspark import SparkContext

        SparkContext._ensure_initialized()
        return SparkContext._gateway.jvm.java.lang.System.getProperty(
            "spark.master"
        )
    except Exception:
        return None


def get_spark(app: str = "geomatics_geotk_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    master = (
        _submitted_master()
        or master
        or os.environ.get("SPARK_GRAFT_MASTER")
        or f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count() or 8)}]"
    )
    cores = master.split("[")[-1].rstrip("]") if "[" in master else "*"
    try:
        n_cores = int(cores) if cores != "*" else (os.cpu_count() or 8)
    except ValueError:
        n_cores = 8
    sp = shuffle_partitions or max(8, n_cores)
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "200000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # InferFiltersFromGenerate clones an explode's generator into a
        # scan-level Filter; for lambda-built gram arrays the clone
        # re-inlines split(text) INSIDE the interpreted lambda, re-running
        # the regex per array element — measured 12x on every shingle
        # explode (8.5 s -> 0.7 s at sf0.1).  The rule only prunes
        # empty-array rows early, which our generators never produce in
        # volume; excluding it is safe for correctness by construction.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
