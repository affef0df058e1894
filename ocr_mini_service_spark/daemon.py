"""Spark's Python worker daemon, run from the installed, compiled PySpark.

Spark starts the daemon as ``python -m <spark.python.daemon.module>`` with
``$SPARK_HOME/python/lib/pyspark.zip`` ahead of site-packages on
``PYTHONPATH``.  zipimport compiles the archive's sources on every start, so
importing ``pyspark.daemon`` and ``pyspark.worker`` from it costs ≈1 s per
session, against ≈0.25 s from an installed copy's cached bytecode.  When an
installed ``pyspark`` of the same release is on ``sys.path``, the archive is
moved behind it; the workers the daemon forks inherit its modules and path,
so they run the same PySpark code, already compiled.  This module imports
nothing else before it forks: a worker's own imports stay in the worker.
"""

import os
import sys
import zipfile

_SAME_RELEASE = ("pyspark/version.py", "pyspark/worker.py")


def installed_pyspark_first(path: list[str]) -> list[str]:
    """``path`` with its ``pyspark.zip`` entry moved behind the first later
    entry holding a ``pyspark`` whose ``version.py`` and ``worker.py`` are
    byte-identical to the archive's; ``path`` itself if there is none, or if
    the archive cannot be read."""
    zips = [i for i, p in enumerate(path) if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return path
    i = zips[0]
    try:
        with zipfile.ZipFile(path[i]) as z:
            archived = [z.read(name) for name in _SAME_RELEASE]
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    for j in range(i + 1, len(path)):
        if all(_read(os.path.join(path[j], name)) == data
               for name, data in zip(_SAME_RELEASE, archived)):
            return path[:i] + path[i + 1 : j + 1] + [path[i]] + path[j + 1 :]
    return path


def _read(file: str) -> bytes | None:
    try:
        with open(file, "rb") as f:
            return f.read()
    except OSError:
        return None


if __name__ == "__main__":
    sys.path[:] = installed_pyspark_first(sys.path)
    from pyspark import daemon

    daemon.manager()
