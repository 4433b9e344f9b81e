"""``get_spark``'s Python workers: they fork from ``flinkrunner_spark.pyworker``,
which drops Spark's archives from the worker path when the installed
pyspark matches them, so no task re-reads ``pyspark.zip``; the package
init imports no pyspark, so the daemon can fix its path first; the
workers find the daemon from any working directory; streaming
checkpoints go through Spark's FileSystem checkpoint manager, which keeps
the overwrite rules the offset logs and state stores rely on; and
``file:`` is Hadoop's checksummed ``LocalFileSystem`` setting file modes
without forking ``chmod``, from one jar built from every committed Java
source; a session started without that jar keeps a loadable ``file:``
class and refuses the keep-first dedup operator by naming ``get_spark``."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from flinkrunner_spark import pyworker, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_loads_installed_pyspark(spark):
    def worker_view(_):
        import json
        import re
        import sys

        import pyspark

        archive = re.compile(r"\.(zip|jar)($|[/\\])")
        keys = sorted(k for k in sys.path_importer_cache if archive.search(k))
        return json.dumps({"pyspark": pyspark.__file__, "keys": keys})

    view = F.udf(worker_view, "string")
    rows = spark.range(2).repartition(2).select(view("id").alias("v")).collect()
    for r in rows:
        got = json.loads(r.v)
        assert ".zip" not in got["pyspark"] and ".jar" not in got["pyspark"]
        assert got["keys"] == []


def _fake_spark(tmp_path, installed):
    """(path, rest): a Spark-style worker path over a fake ``pyspark.zip``
    of version 4.0.0; ``installed`` is the version of the pyspark in the
    site directory, or None for a site directory with no pyspark; ``rest``
    is ``path`` without the archives."""
    lib = tmp_path / "lib"
    lib.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", "__version__: str = '4.0.0'\n")
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    (lib / "spark-core_2.13-4.0.0.jar").write_bytes(b"")
    site = tmp_path / "site"
    (site / "py4j").mkdir(parents=True)
    (site / "py4j" / "__init__.py").write_text("")
    if installed is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(
            f"__version__: str = '{installed}'\n"
        )
    work = str(tmp_path / "work")
    path = [
        work,
        str(lib / "pyspark.zip"),
        str(lib / "py4j-0.10.9.9-src.zip"),
        str(lib / "spark-core_2.13-4.0.0.jar"),
        str(site),
    ]
    return path, [work, str(site)]


def test_path_rule_drops_archives_on_version_match(tmp_path):
    path, rest = _fake_spark(tmp_path, "4.0.0")
    assert pyworker.worker_path(path) == rest


def test_path_rule_keeps_archives_on_version_mismatch(tmp_path):
    path, _ = _fake_spark(tmp_path, "4.0.1")
    assert pyworker.worker_path(path) == path


def test_path_rule_keeps_archives_without_installed_pyspark(tmp_path):
    path, _ = _fake_spark(tmp_path, None)
    assert pyworker.worker_path(path) == path


def test_fix_path_drops_archive_importers(tmp_path, monkeypatch):
    path, rest = _fake_spark(tmp_path, "4.0.0")
    zip_ = path[1]
    cache = {
        zip_: "zip",
        os.path.join(zip_, "pyspark"): "zip/pyspark",
        zip_ + ".bak": "other file",
        rest[1]: "site",
    }
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(cache))
    pyworker.fix_path()
    assert sys.path == rest
    assert sorted(sys.path_importer_cache) == sorted([zip_ + ".bak", rest[1]])


def test_package_init_imports_no_pyspark():
    prog = textwrap.dedent(
        """
        import sys
        import flinkrunner_spark, flinkrunner_spark.pyworker
        loaded = [m for m in sys.modules if m.split(".")[0] in ("pyspark", "py4j")]
        assert not loaded, loaded
        from flinkrunner_spark import get_spark, TABLES, load_tables, register_views
        assert callable(get_spark) and callable(load_tables)
        assert callable(register_views) and "orders" in TABLES
        """
    )
    res = subprocess.run(
        [sys.executable, "-c", prog], cwd=REPO, capture_output=True,
        text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr[-2000:]


def test_workers_import_daemon_from_any_directory(tmp_path):
    prog = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from flinkrunner_spark import get_spark
        from pyspark.sql import functions as F

        spark = get_spark("session-any-cwd", cpus=1)
        plus = F.udf(lambda x: x + 1, "long")
        print([r.y for r in spark.range(3).select(plus("id").alias("y")).collect()])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    res = subprocess.run(
        [sys.executable, "-c", prog], cwd=str(tmp_path), capture_output=True,
        text=True, env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.strip().splitlines()[-1] == "[1, 2, 3]"


def _checkpoint_manager(spark, tmp_path):
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    return manager.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)), hconf
    )


def _write(manager, path, data: bytes, overwrite: bool) -> None:
    out = manager.createAtomic(path, overwrite)
    out.write(bytearray(data))
    out.close()


def test_checkpoints_use_the_filesystem_manager(spark, tmp_path):
    manager = _checkpoint_manager(spark, tmp_path)
    assert manager.getClass().getSimpleName() == (
        "FileSystemBasedCheckpointFileManager"
    )


def test_checkpoint_create_atomic_overwrite_rules(spark, tmp_path):
    """Without overwrite an existing file is refused (the offset and
    commit logs' rule); with it the file is replaced (a re-written
    state-store delta) and its temp file is renamed away."""
    manager = _checkpoint_manager(spark, tmp_path)
    p = spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    _write(manager, p, b"first", overwrite=False)
    with pytest.raises(Py4JJavaError) as err:
        _write(manager, p, b"second", overwrite=False)
    exists = spark._jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException"
    )
    assert exists.isInstance(err.value.java_exception)
    assert (tmp_path / "0").read_bytes() == b"first"
    # the refused write leaves its temp file with either manager
    before = sorted(os.listdir(tmp_path))
    _write(manager, p, b"third", overwrite=True)
    assert (tmp_path / "0").read_bytes() == b"third"
    assert sorted(os.listdir(tmp_path)) == before


def _local_fs(spark):
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), hconf
    )


def test_file_scheme_is_the_nio_local_filesystem(spark):
    fs = _local_fs(spark)
    assert fs.getClass().getName() == session.NIO_FS
    local = spark._jvm.java.lang.Class.forName("org.apache.hadoop.fs.LocalFileSystem")
    assert local.isInstance(fs)


def test_nio_modes_equal_the_chmod_modes(spark, tmp_path):
    """Files get 0644 and directories 0755 (Hadoop's default umask), as
    Hadoop's own ``LocalFileSystem`` gives them by forking ``chmod``; a
    sticky bit, which nio cannot set, still lands; ``.crc`` files are
    still written."""
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    hadoop = jvm.org.apache.hadoop.fs.LocalFileSystem()
    hadoop.initialize(
        jvm.java.net.URI("file:///"),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    modes = {}
    for name, fs in (("nio", _local_fs(spark)), ("chmod", hadoop)):
        fs.mkdirs(Path(str(tmp_path / name / "d")))
        out = fs.create(Path(str(tmp_path / name / "d" / "f")))
        out.write(bytearray(b"x"))
        out.close()
        assert (tmp_path / name / "d" / ".f.crc").exists()
        modes[name] = {
            p: os.stat(tmp_path / name / p).st_mode & 0o7777 for p in ("d", "d/f")
        }
    assert modes["nio"] == modes["chmod"] == {"d": 0o755, "d/f": 0o644}
    sticky = Path(str(tmp_path / "nio" / "d"))
    _local_fs(spark).setPermission(
        sticky, jvm.org.apache.hadoop.fs.permission.FsPermission(
            jvm.java.lang.Short.valueOf("1777", 8)
        )
    )
    assert os.stat(tmp_path / "nio" / "d").st_mode & 0o7777 == 0o1777


def _manifest_sections(jar: str) -> list[dict]:
    """``jar``'s manifest sections (72-byte lines unfolded), main first."""
    with zipfile.ZipFile(jar) as z:
        text = z.read("META-INF/MANIFEST.MF").decode()
    text = text.replace("\r\n", "\n").replace("\n ", "")
    return [
        dict(line.split(": ", 1) for line in part.splitlines() if line)
        for part in text.split("\n\n")
        if part.strip()
    ]


def test_committed_jar_is_built_from_the_source():
    """``jvm/build.sh`` compiles every ``jvm/*.java`` into one jar and
    stamps each source's sha256 into its manifest section; a source edit,
    a new source or a removed one without a rebuild fails here."""
    here = os.path.dirname(session.JVM_JAR)
    want = {}
    for name in sorted(os.listdir(here)):
        if name.endswith(".java"):
            with open(os.path.join(here, name), "rb") as f:
                want[name] = hashlib.sha256(f.read()).hexdigest()
    got = {
        sec["Name"]: sec.get("Source-SHA256")
        for sec in _manifest_sections(session.JVM_JAR)[1:]
    }
    assert got == want
    with zipfile.ZipFile(session.JVM_JAR) as z:
        names = z.namelist()
    for src in want:
        assert f"flinkrunner_spark/jvm/{src[:-len('.java')]}.class" in names


def test_driver_classpath_keeps_the_defaults_file_entry(tmp_path):
    assert session.driver_classpath(str(tmp_path)) == session.JVM_JAR
    (tmp_path / "spark-defaults.conf").write_text(
        "# comment\nspark.driver.memory 2g\n"
        f"spark.driver.extraClassPath  /a.jar{os.pathsep}/b.jar\n"
    )
    assert session.driver_classpath(str(tmp_path)) == os.pathsep.join(
        ["/a.jar", "/b.jar", session.JVM_JAR]
    )


def test_session_started_elsewhere_keeps_a_loadable_file_fs(tmp_path):
    """A JVM started by a plain builder has no jar on its classpath:
    ``get_spark`` then keeps Hadoop's ``LocalFileSystem``, and parquet
    still writes and reads."""
    prog = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession
        SparkSession.builder.master("local[1]").getOrCreate()
        from flinkrunner_spark import get_spark
        spark = get_spark("session-started-elsewhere", cpus=1)
        out = {str(tmp_path / "t")!r}
        spark.range(5).write.parquet(out)
        print(spark.read.parquet(out).count())
        print(spark.conf.get("spark.hadoop.fs.file.impl"))
        spark.stop()
        """
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run(
        [sys.executable, "-c", prog], cwd=str(tmp_path), capture_output=True,
        text=True, env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.strip().splitlines()[-2:] == [
        "5", "org.apache.hadoop.fs.LocalFileSystem",
    ]


def test_keep_first_dedup_without_the_jar_names_get_spark(tmp_path):
    """A JVM started by a plain builder cannot load the keep-first dedup
    operator: building the query raises an error that names
    ``get_spark``, and no Python fallback runs."""
    prog = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession
        spark = SparkSession.builder.master("local[1]").getOrCreate()
        from flinkrunner_spark.streaming import pipelines as P
        src = {str(tmp_path / "src")!r}
        spark.range(3).selectExpr(
            "id AS event_id", "timestamp'2024-01-01' AS ts", "id AS user_id",
            "'a' AS event_type",
        ).write.parquet(src)
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string"
        ).parquet(src)
        try:
            P.streaming_dedup_keep_first(stream)
        except RuntimeError as e:
            print("raised:", e)
        else:
            print("built")
        spark.stop()
        """
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run(
        [sys.executable, "-c", prog], cwd=str(tmp_path), capture_output=True,
        text=True, env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    last = res.stdout.strip().splitlines()[-1]
    assert last.startswith("raised:") and "get_spark" in last
