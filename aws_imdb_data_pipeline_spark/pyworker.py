"""Python worker daemon for local sessions (``spark.python.daemon.module``).

Spark starts a session's Python workers from one daemon,
``python -m <daemon module> pyspark.worker``, and puts Spark's own Python
path at the head of its ``PYTHONPATH``: ``$SPARK_HOME/python/lib/pyspark.zip``,
the ``py4j-*-src.zip`` beside it and the ``spark-core`` jar. Each is read
through a ``zipimporter`` (pyspark.zip gets one per package, 16 in all), and
every task calls ``importlib.invalidate_caches()``, which makes each of them
re-read its whole archive directory: most of a small Python task's CPU.

When the rest of the path holds ``pyspark`` and ``py4j`` and that
``pyspark/version.py`` equals the zip's, this daemon drops the three
entries and their importers before it imports ``pyspark.daemon``, so the
workers run the pyspark the driver already uses. Otherwise the path stays
as Spark set it. Other zips on the path (``--py-files``, ``PYTHONPATH``)
are kept either way.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipfile
from importlib.machinery import PathFinder

_SPARK_ENTRIES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's pyspark zip, py4j zip and core jar when
    what is left imports ``pyspark`` of the zip's version and ``py4j``;
    else ``path`` itself."""
    names = [os.path.basename(e) for e in path]
    if "pyspark.zip" not in names:
        return path
    rest = [
        e
        for e, n in zip(path, names)
        if not any(fnmatch.fnmatchcase(n, p) for p in _SPARK_ENTRIES)
    ]
    tree = PathFinder.find_spec("pyspark", rest)
    if tree is None or PathFinder.find_spec("py4j", rest) is None:
        return path
    try:
        with zipfile.ZipFile(path[names.index("pyspark.zip")]) as z:
            want = z.read("pyspark/version.py")
        pkg_dir = next(iter(tree.submodule_search_locations or ()), "")
        with open(os.path.join(pkg_dir, "version.py"), "rb") as f:
            have = f.read()
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest if have == want else path


def main() -> None:
    path = worker_path(sys.path)
    dropped = [e for e in sys.path if e not in path]
    sys.path[:] = path
    for key in list(sys.path_importer_cache):
        if any(key == e or key.startswith(e + os.sep) for e in dropped):
            del sys.path_importer_cache[key]
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
