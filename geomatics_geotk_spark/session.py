"""SparkSession factory with the engine's scale-oriented defaults.

AQE (runtime re-plan + skew-join split), Arrow-backed pandas UDFs, UTC
session timezone (oracle comparability), shuffle partitions sized to
cores for local mode (a real cluster overrides via spark-submit --conf).

Importing this module inside a Spark Python worker also makes zip
imports re-read an archive's directory only when the archive changed.
Every task of a worker calls ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``), and CPython 3.11's
``zipimporter.invalidate_caches`` re-parses the whole central directory
of its archive each time: ``pyspark.zip`` holds 26k entries, and the
worker holds one importer per package it imported from it.  That
re-parse was most of the fixed cost of every Arrow Python operator: on
a 4-core host a 4-row pandas UDF job took 0.38-0.42 s longer than a noop
job, and 0.10-0.11 s longer with this in place
(``scripts/udf_overhead.py``).  Once a worker has imported the package
(unpickling a UDF whose function lives in it or refers to it does), a
task re-reads an archive
only when its ``(st_mtime_ns, st_size)`` changed or cannot be read, so
a replaced ``--py-files`` zip is re-read as before; what it costs is one
``stat`` per importer per task.  A worker's first task still pays once,
before it has imported the package.  The driver's ``zipimport`` is left
as it is.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession
from pyspark.taskcontext import TaskContext


def _archive_stat(path: str) -> tuple[int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size


def _reread_zip_directories_on_change() -> None:
    """Inside a Spark task, wrap ``zipimport.zipimporter.invalidate_caches``
    so that it re-reads an importer's archive directory only when the
    archive's stat differs from the one taken at that importer's last
    re-read (module docstring).

    Outside a task (the driver) this does nothing; a second call does not
    wrap twice.  The importers already in ``sys.path_importer_cache`` get
    the archive's stat now: a task imports the package only after its
    ``setup_spark_files`` re-read every archive, and Spark fetches
    ``--py-files`` before a task starts, not during it.  An importer made
    later has no stat, so its first invalidation re-reads.
    """
    reread = zipimport.zipimporter.invalidate_caches
    if TaskContext.get() is None or getattr(reread, "on_change", False):
        return

    def invalidate_caches(self):
        try:
            seen = _archive_stat(self.archive)
        except OSError:
            seen = None
        if seen is None or seen != getattr(self, "_read_stat", None):
            reread(self)
            self._read_stat = seen

    invalidate_caches.on_change = True
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            try:
                finder._read_stat = _archive_stat(finder.archive)
            except OSError:
                pass
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_reread_zip_directories_on_change()


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
    """The engine's session (module docstring), created on ``master``
    (a surrounding ``spark-submit``'s master wins, then the argument,
    then ``SPARK_GRAFT_MASTER``, then ``local[SPARK_GRAFT_CPUS or all
    cores]``).

    DataFrame call-site capture is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``).  While it is
    on, pyspark wraps every Column and ``functions`` call in a walk of
    the Python stack and about five py4j round trips to record where the
    expression was built: about 1,870 of the 2,750 round trips of one
    flagship build, and nearly half of its driver time.  What that
    costs: an error raised by a DataFrame expression no longer names the
    Python line that built it (the JVM stack trace and the expression's
    text are unchanged).  The conf is static, so it takes effect only
    when this call creates the SparkContext; a session that already
    exists keeps the value it was started with.
    """
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
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
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
