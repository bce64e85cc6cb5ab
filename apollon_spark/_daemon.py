"""Python worker daemon that serves tasks from the installed pyspark.

Spark starts its Python daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
the ``py4j-*-src.zip`` and the spark-core jar at the head of ``sys.path``,
and every task's ``importlib.invalidate_caches()`` then makes Python 3.11
re-read each cached ``zipimporter``'s archive index (cost: see the
``session`` module docstring). This module drops the archives and their
cached importers before pyspark is imported, then runs pyspark's own
daemon; the workers it forks inherit the clean path. If pyspark or py4j do
not resolve without the archives, the path is left as Spark set it.

``session.get_spark`` selects it through ``spark.python.daemon.module`` on
local masters, where the engine's root is on the daemon's ``PYTHONPATH``.
"""
import fnmatch
import os
import sys
from importlib.machinery import PathFinder

_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "*.jar")


def _is_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return any(fnmatch.fnmatch(name, pat) for pat in _ARCHIVES)


def drop_spark_archives() -> bool:
    """Remove Spark's archives from ``sys.path`` and their importers from
    ``sys.path_importer_cache``; True if anything was removed."""
    archives = [p for p in sys.path if _is_archive(p)]
    kept = [p for p in sys.path if not _is_archive(p)]
    if not archives or any(PathFinder.find_spec(m, kept) is None
                           for m in ("pyspark", "py4j")):
        return False
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del sys.path_importer_cache[key]
    return True


if __name__ == "__main__":
    drop_spark_archives()
    from pyspark import daemon
    daemon.manager()
