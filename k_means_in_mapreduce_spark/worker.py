"""Code that runs inside PySpark's Python workers rather than the driver."""

from __future__ import annotations


def _build_drop_zip_import_cache():
    # Nested so cloudpickle ships it BY VALUE inside every worker function
    # that calls it: the workers do not have this package on sys.path.
    def drop_zip_import_cache() -> None:
        """Drop every zipimporter from ``sys.path_importer_cache``.

        Call it first in every function shipped to Python workers. PySpark's
        worker calls ``importlib.invalidate_caches()`` at the start of every
        task (``pyspark/worker_util.py``, ``setup_spark_files``). Before
        Python 3.12 (gh-103200 made it lazy), that makes every
        ``zipimport.zipimporter`` in the cache re-read its archive's whole
        directory: one entry per imported ``pyspark.zip`` subpackage
        (10-23 ms each) and two for the Spark core jar on the workers' path
        (~90 ms each), 150-330 ms per task on Python 3.11. On a 4-core VM
        (Python 3.11.7, PySpark 4.1.2; 100k cached points, d=30, 4 tasks)
        dropping them took an empty ``mapInArrow`` from 0.37 to 0.11 s and
        one arrow Lloyd iteration from 0.37 to 0.15 s.

        The cache only memoises path-entry lookups: a dropped entry is
        rebuilt on demand from zipimport's own directory cache, so imports
        behave as before, and a reused worker's next ``invalidate_caches()``
        has no archive left to re-read. Idempotent.
        """
        import sys
        import zipimport

        cache = sys.path_importer_cache
        for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
            del cache[path]

    return drop_zip_import_cache


drop_zip_import_cache = _build_drop_zip_import_cache()
