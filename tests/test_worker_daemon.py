"""The Python worker daemon's lazy zip-directory cache (daemon.py):
a task's ``importlib.invalidate_caches()`` drops the cached directory
of pyspark.zip instead of re-reading it, and imports still see an
archive's new entries."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from imageduplicatefinder_spark.daemon import lazy_zip_directory_cache


def test_worker_invalidation_drops_the_pyspark_zip_directory(spark):
    # nested: cloudpickle ships it by value (workers cannot import tests)
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        loader = pyspark.__spec__.loader
        archive = (loader.archive
                   if isinstance(loader, zipimport.zipimporter) else None)
        importlib.invalidate_caches()
        cached = archive in zipimport._zip_directory_cache
        fresh = "pyspark.ml.linalg" not in sys.modules
        import pyspark.ml.linalg  # noqa: F401

        yield pd.DataFrame({
            "archive": [archive], "cached": [cached], "fresh": [fresh],
            "reread": [archive in zipimport._zip_directory_cache],
        })

    row = spark.range(1).mapInPandas(
        probe, "archive string, cached boolean, fresh boolean, "
               "reread boolean").collect()[0]
    if row.archive is None:
        pytest.skip("workers import pyspark from a directory, not a zip")
    assert row.archive.endswith("pyspark.zip")
    assert not row.cached     # dropped, not eagerly re-read
    if row.fresh:             # the import re-read the directory
        assert row.reread


def test_lazy_cache_rereads_once_after_invalidation(tmp_path, monkeypatch,
                                                    request):
    archive = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("_lazyzip_pkg/__init__.py", "")
        z.writestr("_lazyzip_pkg/a.py", "A = 1\n")

    # restore the class and keep the session's importers out of reach
    monkeypatch.setattr(zipimport.zipimporter, "_files", None, raising=False)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(sys, "path_importer_cache", {})
    monkeypatch.syspath_prepend(archive)
    request.addfinalizer(lambda: [
        sys.modules.pop(name, None)
        for name in ("_lazyzip_pkg", "_lazyzip_pkg.a", "_lazyzip_pkg.b")])
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    lazy_zip_directory_cache()

    import _lazyzip_pkg.a

    assert _lazyzip_pkg.a.A == 1
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("_lazyzip_pkg/b.py", "B = 2\n")
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []        # invalidation reads nothing

    import _lazyzip_pkg.b

    assert _lazyzip_pkg.b.B == 2
    assert len(reads) == 1    # the next lookup re-reads once
