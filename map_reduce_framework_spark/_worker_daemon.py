"""Python worker daemon that imports pyspark from its installed directory.

Spark starts the daemon with ``$SPARK_HOME/python/lib/pyspark.zip``, the
py4j source zip and the spark-core jar on ``PYTHONPATH``. Every task then
calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:setup_spark_files``), and on Python 3.11 that
makes each ``zipimporter`` re-read its archive's central directory: 16 of
them, 0.11 CPU-s per task. Before it runs ``pyspark.daemon.manager()``
unchanged, this daemon drops those archives from its own import state, so
every worker it forks inherits a path that holds none. The zips go only
when the pyspark left on the path has the zip's version and py4j still
imports; otherwise ``sys.path`` is left alone. A jar goes only when it
holds no Python file. ``session.get_spark`` sets this module as
``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_SPARK_ZIP = re.compile(r"^(pyspark|py4j-.+-src)\.zip$")
_VERSION = re.compile(r"""__version__\b[^=\n]*=\s*["']([^"']+)["']""")


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m and m.group(1)


def _python_free_jar(entry: str) -> bool:
    if not (entry.endswith(".jar") and os.path.isfile(entry)):
        return False
    with zipfile.ZipFile(entry) as zf:
        return not any(n.endswith((".py", ".pyc")) for n in zf.namelist())


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's pyspark/py4j zips and Python-free jars, or
    ``path`` unchanged when the zips cannot go (see the module doc)."""
    zips = [
        p for p in path if _SPARK_ZIP.match(os.path.basename(p)) and os.path.isfile(p)
    ]
    kept = [p for p in path if p not in zips]
    if zips:
        pyspark_zip = next((p for p in zips if p.endswith("pyspark.zip")), None)
        installed = PathFinder.find_spec("pyspark", kept)
        if None in (pyspark_zip, installed, PathFinder.find_spec("py4j", kept)):
            return list(path)
        with zipfile.ZipFile(pyspark_zip) as zf:
            zip_version = _version(zf.read("pyspark/version.py").decode())
        with open(os.path.join(os.path.dirname(installed.origin), "version.py")) as f:
            if zip_version is None or _version(f.read()) != zip_version:
                return list(path)
    return [p for p in kept if not _python_free_jar(p)]


def main() -> None:
    path = worker_path(sys.path)
    dropped = {p for p in sys.path if p not in path}
    if dropped:
        sys.path[:] = path
        for key in list(sys.path_importer_cache):
            if any(key == d or key.startswith(d + os.sep) for d in dropped):
                del sys.path_importer_cache[key]
        for name in list(sys.modules):
            if name.partition(".")[0] in ("pyspark", "py4j"):
                del sys.modules[name]
        if "PYTHONPATH" in os.environ:
            entries = os.environ["PYTHONPATH"].split(os.pathsep)
            os.environ["PYTHONPATH"] = os.pathsep.join(
                p for p in entries if p not in dropped
            )
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
