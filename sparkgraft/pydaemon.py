"""``pyspark.daemon`` with CPython 3.13's zip-reload rule, for workers on Python < 3.13.

Before 3.13 the ``importlib.invalidate_caches()`` that ``pyspark.worker`` runs
before every task re-reads ``pyspark.zip`` and the py4j zip once per zipimporter
(~16 per worker, ~0.2 s per task); here only a changed (mtime, size) re-reads.
Re-check on a new Python or PySpark (and delete this module once workers run 3.13+):
``PYTHONPATH=$SPARK_HOME/python/lib/pyspark.zip python -m timeit -s "import importlib, pyspark.sql" "importlib.invalidate_caches()"``
"""

import os
import sys
import zipimport

_reload = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}  # archive -> (mtime_ns, size) at its last read


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """Re-read ``importer``'s archive unless it is unchanged since this process read it."""
    try:
        st = os.stat(importer.archive)
    except OSError:
        return _reload(importer)
    stamp, files = (st.st_mtime_ns, st.st_size), zipimport._zip_directory_cache.get(importer.archive)
    if files is not None and _stamps.get(importer.archive) == stamp:
        importer._files = files
    else:
        _reload(importer)
        _stamps[importer.archive] = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    import pyspark.daemon
    pyspark.daemon.manager()
