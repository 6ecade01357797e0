"""Python-worker hygiene shared by every function the package hands to Spark.

At the start of every task PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``
``setup_spark_files``). On CPython 3.11 and 3.12 that calls
``zipimporter.invalidate_caches`` on every zip finder in
``sys.path_importer_cache``, and each call re-reads the whole archive
directory. Workers import pyspark from ``pyspark.zip``, and a warm worker
holds about 16 finders on it, so every task re-parsed the ~27k-entry
directory of that archive before its kernel ran (~0.2 CPU-s per task on
a 4-core Xeon VM under CPython 3.11).

Dropping the finders is safe: the next import through one of those paths
builds a new finder from ``zipimport._zip_directory_cache`` without reading
the archive again, so import behaviour is unchanged. pyspark creates new
finders between tasks, so the call sits at the top of every kernel rather
than once per process (``tests/test_worker.py`` enforces that).
"""

from __future__ import annotations

import sys
import zipimport


def drop_zip_finders() -> None:
    """Delete every ``zipimporter`` from ``sys.path_importer_cache``."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
