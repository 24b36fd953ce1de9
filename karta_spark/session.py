"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB target and scaled down by environment
variables for local testing:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (all our refine kernels are pandas/Arrow UDFs)
- shuffle partitions sized from cores locally; on a real cluster this is
  overridden by AQE's coalescing + `spark.sql.adaptive.coalescePartitions`.
- Python workers start from `karta_spark.worker_daemon` on `local*`
  masters: it drops Spark's pyspark/py4j/spark-core archives from the
  worker's `sys.path` when the same pyspark is installed as a directory,
  so no task re-reads those archives in `importlib.invalidate_caches()`
  (0.18-0.37 s per task on 4 cores) and workers import pyspark's cached
  bytecode instead of compiling it from the zip.  The package's parent
  directory joins `spark.executorEnv.PYTHONPATH` so the daemon imports
  from any working directory.  Other masters keep Spark's `pyspark.daemon`:
  the driver's checkout is not the executors' filesystem.
- DataFrame call-site capture off
  (`spark.python.sql.dataFrameDebugging.enabled=false`).  With it on,
  PySpark wraps every Column method and `pyspark.sql.functions` call to
  record the calling Python line: four extra py4j round trips each
  (`getActiveSession`, a conf `get`, and `PySparkCurrentOrigin.set` /
  `clear`) plus a walk of the Python stack, which PySpark documents as a
  non-trivial overhead.  Building one `Column`-chained sampling join
  took 1,500-1,900 round trips with it on and 400-600 with it off.  What is lost: a DataFrame error's query
  context no longer names the Python file and line that built the failing
  expression; the message, the SQL fragment and the JVM stack are kept.
  PySpark reads the setting once per process, from the first session
  that uses a Column function.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "karta_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or (
        "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # no Python call-site capture per Column function (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # compiled geometry predicates (winding-number CASE chains) generate
        # wide whole-stage-codegen methods that exceed HotSpot's 8KB
        # huge-method JIT limit; without this flag they run at bytecode-
        # interpreter speed (measured 12x slowdown on the PIP filter)
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
    )
    if master.startswith("local"):
        builder = (
            builder.config("spark.python.daemon.module", "karta_spark.worker_daemon")
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
