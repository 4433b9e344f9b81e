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

Streaming checkpoints (offset, commit and file-source logs, state-store
deltas and their checksum files) are written through Spark's
``FileSystemBasedCheckpointFileManager``
(``spark.sql.streaming.checkpointFileManagerClass``), not the default
FileContext one. This Hadoop build ships no ``libhadoop``, so on
``file:`` paths every ``FileContext.rename`` resolves link status by
forking ``readlink``, four per file, on top of the ``chmod`` fork of
each create. A JFR count over the ``stream_win_tumbling`` and
``stream_dedup_first`` mirrors at sf0.001 went from 752 ``readlink`` and
212 ``chmod`` forks to 0 and 212 (the ``chmod`` forks go too, below); a
traced perfbench stream_events run (seed 411, local[4]) from 35/36.5 ms
to 11/15 ms of
``walCommit``/``commitOffsets`` per catch-up batch, and from 6.4 s to
0.8 s of summed state-store commit time.

The FileSystem manager gives the same guarantee on a local filesystem.
``FileContext.rename`` without overwrite checks the destination with
``getFileLinkStatus`` and then calls ``rename(2)``; this manager checks
it with ``fs.exists`` and then renames the same way (``get_spark`` only
builds ``local[N]`` sessions). That holds over Hadoop's checksummed
``LocalFileSystem``, which ``file:`` gets here. The classpath otherwise
picks the Hive jar's ``ProxyLocalFileSystem``, whose ``rename`` refuses
an existing destination, so ``createAtomic`` with overwrite (a
state-store delta re-written by a retried or re-run batch) would
silently keep the old file and leak its temp file. Spark's checksum
wrapper (``spark.sql.streaming.checkpoint.fileChecksum.enabled``) stays
at its default, on: checksum files are still written and verified.

Without ``libhadoop``, Hadoop's ``RawLocalFileSystem.setPermission`` also
forks ``chmod`` for every file it creates and every directory it makes:
1,630 ``chmod 0644`` and 91 ``chmod 0755`` in one perfbench
stream_events run (JFR ``jdk.ProcessStart``), mostly the temp files of
checkpoint writes and their ``.crc`` files. So ``file:`` gets
``flinkrunner_spark.jvm.NioLocalFileSystem``: Hadoop's
``LocalFileSystem`` (same checksums, renames and semantics) over a
``RawLocalFileSystem`` whose ``setPermission`` sets the rwx bits with
``java.nio.file.Files.setPosixFilePermissions``, no process, and the
same modes (0644 files, 0755 directories under the default umask).

The repo's Java classes (this filesystem and ``KeepFirstDedup``, the
keep-first dedup operator of ``streaming_dedup_keep_first``) ship as
source with one jar built from every ``jvm/*.java``
(``jvm/flinkrunner-jvm.jar``, rebuilt by ``jvm/build.sh``, which stamps
each source's sha256 into the manifest); ``get_spark`` puts the jar on
the driver's classpath, which in ``local[N]`` is also the executors'.
A JVM already started without the jar (a session built elsewhere
before the first ``get_spark`` call) cannot load the classes: that
session keeps Hadoop's ``LocalFileSystem``, and
``streaming_dedup_keep_first`` raises instead of building its query.
"""

from __future__ import annotations

import os
import re

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import SparkSession

# the directory holding the flinkrunner_spark package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NIO_FS = "flinkrunner_spark.jvm.NioLocalFileSystem"
# one jar holds every class compiled from jvm/*.java
JVM_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "flinkrunner-jvm.jar"
)


def _file_fs() -> str:
    """The ``fs.file.impl`` class: ``NIO_FS``, unless a JVM already runs
    that cannot load it (started without ``JVM_JAR``), where Hadoop's
    ``LocalFileSystem``. A class the JVM cannot load would fail every
    ``file:`` access of the session."""
    jvm = SparkContext._jvm
    if jvm is not None:
        try:
            jvm.java.lang.Class.forName(NIO_FS)
        except Py4JJavaError:
            return "org.apache.hadoop.fs.LocalFileSystem"
    return NIO_FS


def driver_classpath(conf_dir: str | None = None) -> str:
    """``spark.driver.extraClassPath`` with ``JVM_JAR`` appended to the
    value in ``spark-defaults.conf`` (``$SPARK_CONF_DIR``, else
    ``$SPARK_HOME/conf``), which the ``--conf`` pyspark passes to
    spark-submit would otherwise replace. A class path given in
    ``PYSPARK_SUBMIT_ARGS`` (``--driver-class-path``) replaces this one
    in turn, and must then list ``JVM_JAR`` itself."""
    conf_dir = conf_dir or os.environ.get("SPARK_CONF_DIR") or os.path.join(
        os.environ.get("SPARK_HOME", ""), "conf"
    )
    prior: list[str] = []
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            for line in f:
                kv = re.split(r"\s*[=:\s]\s*", line.strip(), maxsplit=1)
                if len(kv) == 2 and kv[0] == "spark.driver.extraClassPath":
                    prior = [p for p in kv[1].split(os.pathsep) if p]
    except OSError:
        pass
    return os.pathsep.join([p for p in prior if p != JVM_JAR] + [JVM_JAR])


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
        .config("spark.driver.extraClassPath", driver_classpath())
        .config("spark.hadoop.fs.file.impl", _file_fs())
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .getOrCreate()
    )
    # sc.environment is the context's spark.executorEnv.* map (from every
    # conf source), shipped with each Python function to its workers
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [_PACKAGE_PARENT])
    return spark
