"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same settings are
the ones we would ship to a 1000-executor cluster (AQE on, skew-join on,
UTC session time, Arrow enabled). Only ``shuffle.partitions`` is sized to
the local core count — on a real cluster it is left to AQE coalescing.

Python workers start from ``flinkrunner_spark.pyworker``
(``spark.python.daemon.module``). Spark puts ``pyspark.zip``, the py4j zip
and the spark-core jar first on the workers' path, and every task's
``importlib.invalidate_caches()`` then makes each zip importer (one per
archive and per pyspark subpackage) re-read its archive's directory:
217–252 ms of CPU per task on a 4-core VM (CPython 3.11.7), before the
first row. The daemon drops the archives when an installed pyspark of
the archive's own version is importable without them, so that call
costs 0.1 ms and a warm two-task Python job 0.17–0.20 s instead of
0.30–0.38 s; on a version mismatch, or with no installed pyspark, it
keeps Spark's path and behaves as ``pyspark.daemon``. The workers must import the daemon from any working
directory, so this package's parent directory is merged into the
workers' ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the flinkrunner_spark package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "flinkrunner-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
) -> SparkSession:
    # default: every core of this host, never more (oversubscribing a
    # small host slows every stage)
    cpus = str(
        cpus or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1
    )
    shuffle = str(shuffle_partitions or cpus)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "flinkrunner_spark.pyworker")
        .getOrCreate()
    )
    # sc.environment is the context's spark.executorEnv.* map (from every
    # conf source), shipped with each Python function to its workers
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [_PACKAGE_PARENT])
    return spark
