"""The Python worker daemon of ``get_spark`` sessions
(``spark.python.daemon.module`` in ``session._DEFAULTS``).

Every Python task starts with ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On Python 3.11 that makes
each ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's directory (``pyspark.zip``, the py4j zip, the spark-core jar):
0.15-0.24 s per task, before the task's own code runs. Those archives do
not change while a worker lives, and a zip shipped later by ``addPyFile``
is a new ``sys.path`` entry that gets a fresh importer. So before it forks
any worker the daemon swaps in an ``invalidate_caches`` that hides the
zipimporters from the original call; directory finders and namespace
paths are invalidated as before.

    python -m loris_mri_spark._daemon pyspark.worker
"""

import importlib
import os
import sys
import zipimport

_invalidate_caches = importlib.invalidate_caches


def invalidate_caches() -> None:
    """``importlib.invalidate_caches`` minus the zip-archive re-reads. A
    relative entry stays for the original call, which drops it."""
    cache = sys.path_importer_cache
    zips = {
        path: finder for path, finder in cache.items()
        if isinstance(finder, zipimport.zipimporter) and os.path.isabs(path)
    }
    for path in zips:
        del cache[path]
    try:
        _invalidate_caches()
    finally:
        cache.update(zips)


if __name__ == "__main__":
    importlib.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()
