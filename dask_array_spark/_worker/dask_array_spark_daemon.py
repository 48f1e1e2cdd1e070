"""Python worker daemon that imports the installed pyspark.

Spark starts its Python worker daemon (``python -m pyspark.daemon``) with
three archives at the front of ``PYTHONPATH``: ``pyspark.zip`` and the
py4j source zip from ``$SPARK_HOME/python/lib``, and the spark-core jar.
Every task then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 that
makes each zip importer re-read its whole archive directory: about
14 importers over ``pyspark.zip`` (one per imported subpackage) plus
the py4j zip and the 5,000-entry jar, 120-145 ms per task on a 4-core
host.  A fresh worker also compiles pyspark from the zip's sources.

``session.get_spark`` runs this module as the daemon instead.  It drops
those archives from ``sys.path`` and from ``sys.path_importer_cache``
(the ``-m`` lookup of this module created their importers) and then runs
``pyspark.daemon.manager()``, so the forked workers import the installed,
byte-compiled pyspark the driver uses.  It keeps the path as Spark set it
when no installed pyspark is found or when its version differs from the
one in ``pyspark.zip``.  Files shipped per task (``addPyFile``) still
work: the worker adds them to the path after the daemon has started.

This is a top-level module in its own directory, not part of the
``dask_array_spark`` package: importing the package would import pyspark
from the zip before the path is fixed.
"""

import fnmatch
import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

# what Spark's PythonUtils.sparkPythonPath puts on the worker path
SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")
_VERSION = re.compile(r"""^__version__\b[^=]*=\s*['"]([^'"]+)['"]""", re.M)


def is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return any(fnmatch.fnmatch(name, pat) for pat in SPARK_ARCHIVES)


def _version(source: str):
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _zip_version(entries):
    """``__version__`` of the ``pyspark/version.py`` in the first
    ``pyspark.zip`` of ``entries``, read without importing it."""
    for entry in entries:
        if os.path.basename(entry) == "pyspark.zip":
            try:
                with zipfile.ZipFile(entry) as zf:
                    return _version(zf.read("pyspark/version.py").decode())
            except (OSError, KeyError, zipfile.BadZipFile):
                return None
    return None


def _installed_version(path):
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


def worker_path(path):
    """``path`` without Spark's archives when a pyspark of the archive's
    version is importable from what is left; else ``path`` unchanged."""
    archives = [p for p in path if is_spark_archive(p)]
    kept = [p for p in path if not is_spark_archive(p)]
    if not archives:
        return list(path)
    bundled = _zip_version(archives)
    if bundled is None or _installed_version(kept) != bundled:
        return list(path)
    return kept


def main():
    path = worker_path(sys.path)
    dropped = [p for p in sys.path if p not in path]
    sys.path[:] = path
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
