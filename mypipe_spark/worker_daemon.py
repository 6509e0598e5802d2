"""Python worker boot: fork the workers from the installed pyspark.

Spark starts its Python workers as ``python -m <spark.python.daemon.module>``
with ``$SPARK_HOME/python/lib/pyspark.zip``, ``py4j-*-src.zip`` and the
spark-core jar at the front of ``PYTHONPATH``. A worker imports pyspark
from that zip, and pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` on every task, which on CPython 3.11
makes each of the worker's ``zipimporter``s re-read its whole archive
directory: ~200 ms per task on a 4-core host, against ~10 ms for a
300-row ``avro_ref`` encode.

``session.get_spark`` names this module as the daemon. Before
``pyspark.daemon`` is imported it drops those archives from ``sys.path``
and ``sys.path_importer_cache``, so the forked workers import the pyspark
installed next to the driver and ``invalidate_caches()`` finds no archive
to re-read. It does so only when ``pyspark`` and ``py4j`` resolve outside
the archives and that pyspark's version equals the one in
``pyspark.zip``; otherwise the path stays exactly as Spark built it.

``python -m`` imports the ``mypipe_spark`` package before this module,
so the package ``__init__`` must not import pyspark, and neither may
this module at its top.
"""

from __future__ import annotations

import fnmatch
import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")
_VERSION = re.compile(r"""^__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""", re.M)


def _is_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return os.path.isfile(entry) and any(fnmatch.fnmatch(name, p) for p in _ARCHIVES)


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _installed_version(path: list[str]) -> str | None:
    """The version of the pyspark ``path`` imports, or None when
    ``pyspark`` or ``py4j`` is not importable from it."""
    specs = [PathFinder.find_spec(name, path) for name in ("pyspark", "py4j")]
    if not all(s and s.submodule_search_locations for s in specs):
        return None
    version_py = os.path.join(specs[0].submodule_search_locations[0], "version.py")
    try:
        with open(version_py, encoding="utf-8") as f:
            return _version(f.read())
    except OSError:
        return None


def _archive_version(entry: str) -> str | None:
    try:
        with zipfile.ZipFile(entry) as z:
            return _version(z.read("pyspark/version.py").decode("utf-8"))
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when the rest of it imports
    the same pyspark version the archive holds, else ``path`` as is."""
    archives = [p for p in path if _is_archive(p)]
    zips = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    rest = [p for p in path if p not in archives]
    installed = _installed_version(rest)
    if zips and installed is not None and installed == _archive_version(zips[0]):
        return rest
    return list(path)


def main() -> None:
    kept = worker_path(sys.path)
    dropped = tuple(p for p in sys.path if p not in kept)
    for entry in list(sys.path_importer_cache):
        if entry.startswith(dropped):  # the archives and paths inside them
            del sys.path_importer_cache[entry]
    sys.path[:] = kept

    import pyspark.daemon

    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
