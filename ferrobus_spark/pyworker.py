"""PySpark's Python worker daemon, started from the installed pyspark.

Spark puts ``pyspark.zip``, ``py4j-*-src.zip`` and its core jar on
every worker's ``PYTHONPATH``. PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task, and on
CPython 3.11 each ``zipimporter`` then re-reads its archive's whole
central directory: a worker forked from ``pyspark.daemon`` holds 16 of
them (PySpark 4.1.2), 0.2-0.3 s per task on a 4-CPU host before the
kernel sees a row. Spark runs this module as
``python -m ferrobus_spark.pyworker`` (``session.get_spark`` sets
``spark.python.daemon.module``); it drops those archives from
``sys.path`` when the installed pyspark and py4j stand in for them,
then runs the daemon, so the workers it forks hold no archive importer.
"""

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_SPARK_ARCHIVE = re.compile(r"(^|[\\/])(pyspark\.zip|py4j-[^\\/]*-src\.zip|[^\\/]*\.jar)$")
_VERSION = re.compile(r"""__version__[^=]*=\s*['"]([^'"]+)""")


def _installed(name: str, paths: list[str]) -> str | None:
    """Directory of package ``name`` as ``paths`` resolve it, if that is
    a plain directory (not a module inside an archive)."""
    spec = PathFinder.find_spec(name, paths)
    origin = spec and spec.origin
    return os.path.dirname(origin) if origin and os.path.isfile(origin) else None


def kept_paths(paths: list[str]) -> list[str]:
    """``paths`` without Spark's own archives, if pyspark and py4j resolve
    to installed directories without them and that pyspark's version
    equals the archive's; otherwise ``paths`` unchanged."""
    kept = [p for p in paths if not _SPARK_ARCHIVE.search(p)]
    archive = next((p for p in paths if os.path.basename(p) == "pyspark.zip"), None)
    pyspark, py4j = _installed("pyspark", kept), _installed("py4j", kept)
    if archive is None or pyspark is None or py4j is None:
        return list(paths)
    try:
        with zipfile.ZipFile(archive) as z:
            theirs = _VERSION.search(z.read("pyspark/version.py").decode())
        with open(os.path.join(pyspark, "version.py")) as f:
            ours = _VERSION.search(f.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return list(paths)
    if not (theirs and ours and theirs.group(1) == ours.group(1)):
        return list(paths)
    return kept


if __name__ == "__main__":
    kept = kept_paths(sys.path)
    dropped = tuple(p for p in sys.path if p not in kept)
    for key in [k for k in sys.path_importer_cache if k.startswith(dropped)]:
        del sys.path_importer_cache[key]
    sys.path[:] = kept

    from pyspark import daemon

    daemon.manager()
