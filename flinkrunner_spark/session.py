"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same settings are
the ones we would ship to a 1000-executor cluster (AQE on, skew-join on,
UTC session time, Arrow enabled). Only ``shuffle.partitions`` is sized to
the local core count — on a real cluster it is left to AQE coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    return (
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
        .getOrCreate()
    )
