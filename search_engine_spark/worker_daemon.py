"""Python worker daemon that imports pyspark from the interpreter, not from
Spark's archives (set as ``spark.python.daemon.module`` by session.get_spark).

Spark starts its Python workers with ``pyspark.zip``, the py4j source zip
and the spark-core jar on ``PYTHONPATH``.  Every task then calls
``importlib.invalidate_caches()`` (pyspark/worker_util.py,
``setup_spark_files``), and on Python 3.11 that makes each cached
``zipimporter`` re-read its archive's central directory: one importer per
imported pyspark sub-package, 1,328 entries each, plus the jar.  Measured
on a 4-core host that is 200-290 ms of a ~300 ms one-task ``mapInPandas``
job.

When the interpreter has its own unpacked pyspark and py4j, and that
pyspark is the archive's version, this module drops the archive entries
from ``sys.path`` and ``sys.path_importer_cache`` before it imports
``pyspark.daemon``, so the workers it forks import pyspark from plain
directories whose importers invalidate for free.  Otherwise it leaves the
path alone and the workers behave exactly as under ``pyspark.daemon``.

Nothing here may import pyspark before the path is settled.
"""

from __future__ import annotations

import ast
import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _spark_archive(entry: str) -> bool:
    """Is ``entry`` one of the archives Spark puts on the worker path?"""
    name = os.path.basename(entry)
    return (name == "pyspark.zip" or name.endswith(".jar")
            or (name.startswith("py4j-") and name.endswith(".zip")))


def _version_of(source: str) -> str | None:
    """``__version__`` assigned in a pyspark/version.py source text."""
    for node in ast.parse(source).body:
        target = getattr(node, "target", None) or (
            node.targets[0] if isinstance(node, ast.Assign) else None)
        if (isinstance(target, ast.Name) and target.id == "__version__"
                and isinstance(node.value, ast.Constant)):
            return node.value.value
    return None


def _archive_version(archives: list[str]) -> str | None:
    for path in archives:
        try:
            with zipfile.ZipFile(path) as z:
                return _version_of(z.read("pyspark/version.py").decode())
        except (OSError, KeyError, zipfile.BadZipFile):
            continue
    return None


def _unpacked_version(path: list[str]) -> str | None:
    """Version of the pyspark found on ``path`` as a directory, or None if
    there is none or py4j is not importable from ``path`` as well."""
    spec = PathFinder.find_spec("pyspark", path)
    if (spec is None or not spec.submodule_search_locations
            or PathFinder.find_spec("py4j", path) is None):
        return None
    version_py = os.path.join(spec.submodule_search_locations[0], "version.py")
    try:
        with open(version_py, encoding="utf-8") as f:
            return _version_of(f.read())
    except OSError:
        return None


def filter_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when the interpreter's unpacked
    pyspark (same version as the archive's) and py4j can replace them;
    otherwise ``path`` unchanged."""
    archives = [p for p in path if _spark_archive(p)]
    if not archives:
        return path
    kept = [p for p in path if p not in archives]
    version = _unpacked_version(kept)
    if version is None or version != _archive_version(archives):
        return path
    return kept


def _drop_archives() -> None:
    kept = filter_path(sys.path)
    if kept is sys.path:
        return
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _drop_archives()
    from pyspark import daemon

    daemon.manager()
