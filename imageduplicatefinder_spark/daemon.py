"""Python worker daemon: ``pyspark.daemon`` with CPython 3.13's lazy
zip-directory cache installed before the first worker forks.

At the start of every task PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``). Before Python 3.13 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole central directory at once. A worker that imported pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` holds about 16 of them, one per
package directory, so each task re-parses pyspark.zip's 1,328-entry
directory about 16 times. CPython 3.13 (``Lib/zipimport.py``,
``zipimporter._get_files`` and ``invalidate_caches``) made this lazy:
invalidation only drops the cache entry, and the next lookup re-reads
the archive once for every importer of it.

Measured on a 4-vCPU host (Python 3.11.7, Spark 4.1, ``local[4]``), a
trivial ``pandas_udf`` over 20k cached rows cost 0.16-0.20 s of CPU
per Python task with the eager cache and 0.03-0.04 s with this one. One
``importlib.invalidate_caches()`` in such a worker, holding 16
zipimporters over pyspark.zip, took 0.18 s eager and 0.001 s lazy.
BENCH.md ("Python worker fixed cost") has the tables.

Workers fork from the daemon, so patching it once reaches every worker
before its first task, including workers whose closures never import
this package. Spark starts it as ``python -m <module> <worker module>``
when ``spark.python.daemon.module`` names it (``session.get_spark``
does so for local masters).
"""

from __future__ import annotations

import sys
import zipimport


def lazy_zip_directory_cache() -> None:
    """Give ``zipimport.zipimporter`` the 3.13 cache semantics: the
    directory is read from ``zipimport._zip_directory_cache`` on each
    use, re-read only on a miss, and ``invalidate_caches`` just drops
    the entry. A no-op on Python 3.13 and later."""
    if sys.version_info >= (3, 13):
        return

    def _files(self):
        cache = zipimport._zip_directory_cache
        try:
            return cache[self.archive]
        except KeyError:
            try:
                files = cache[self.archive] = zipimport._read_directory(
                    self.archive)
            except zipimport.ZipImportError:
                files = {}
            return files

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    # the setter is a no-op: 3.11's __init__ assigns ``self._files``
    # right after filling the shared cache entry the getter reads
    zipimport.zipimporter._files = property(_files, lambda self, v: None)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # importers made before the patch hold their own reference to the
    # old directory, which would outlive its cache entry
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            vars(finder).pop("_files", None)


if __name__ == "__main__":
    lazy_zip_directory_cache()
    # not at the top: importing pyspark.daemon imports the worker
    # module named by sys.argv[1], which only the daemon process wants
    from pyspark import daemon

    daemon.manager()
