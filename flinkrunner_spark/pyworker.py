"""Python worker daemon: ``pyspark.daemon`` started from the installed pyspark.

``get_spark`` names this module in ``spark.python.daemon.module``, so the
engine launches it as ``python -m flinkrunner_spark.pyworker
pyspark.worker`` and every Python worker is forked from it. Spark puts its
own archives first on the workers' ``PYTHONPATH``: ``pyspark.zip``, the
py4j source zip and the spark-core jar. Every task then runs
``pyspark.worker_util.setup_spark_files``, whose
``importlib.invalidate_caches()`` makes each ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's central directory in
pure Python (one per archive and per pyspark subpackage imported from
it), and a daemon that imports pyspark from the zip compiles it from
source on every start.

Before importing ``pyspark.daemon`` this module drops those archives from
``sys.path`` and ``sys.path_importer_cache``, but only when the rest of
the path holds an installed pyspark of the archive's own version (read
from ``pyspark/version.py`` in the zip) and py4j; otherwise it leaves the
path as it is and the daemon runs as Spark's own would.

The daemon writes its port on stdout, so nothing here may print, and the
process must import no ``pyspark`` module before the path is fixed (the
package ``__init__`` is lazy for that reason).
"""

from __future__ import annotations

import os
import re
import sys
import zipfile

_ARCHIVE = re.compile(r"^(pyspark\.zip|py4j-.*\.zip|spark-core_.*\.jar)$")
_VERSION = re.compile(r"""__version__[^=\n]*=\s*["']([^"']+)["']""")


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _installed(entries: list[str], package: str) -> str | None:
    """The package directory of ``package`` in the first entry holding it."""
    for entry in entries:
        pkg = os.path.join(entry or os.curdir, package)
        if os.path.isfile(os.path.join(pkg, "__init__.py")):
            return pkg
    return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when an installed pyspark of the
    archive's version, and py4j, import from what is left; else ``path``."""
    archives = {p for p in path if _ARCHIVE.match(os.path.basename(p))}
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    rest = [p for p in path if p not in archives]
    pyspark = _installed(rest, "pyspark")
    if not zips or pyspark is None or _installed(rest, "py4j") is None:
        return list(path)
    try:
        with zipfile.ZipFile(zips[0]) as z:
            want = _version(z.read("pyspark/version.py").decode())
        with open(os.path.join(pyspark, "version.py")) as f:
            have = _version(f.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return list(path)
    return rest if want is not None and have == want else list(path)


def fix_path() -> None:
    """Apply ``worker_path`` to this process's ``sys.path`` and drop the
    removed archives' importers from ``sys.path_importer_cache``."""
    keep = worker_path(sys.path)
    dropped = [p for p in sys.path if p not in keep]
    if not dropped:
        return
    sys.path[:] = keep
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    fix_path()
    from pyspark import daemon

    daemon.manager()
