"""Python workers skip re-reading unchanged zip archives on every task
(``datasketches_spark_spark._zipimport_cache``): an unchanged archive is
not re-read by ``importlib.invalidate_caches()``, a changed one still is."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import datasketches_spark_spark

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13 re-reads zip archives lazily; the fix does nothing")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        for name, src in modules.items():
            z.writestr(f"zpkg/{name}.py", src)


@pytest.fixture()
def zip_package(tmp_path, monkeypatch):
    """A package ``zpkg`` (module ``a``) in a zip on sys.path, imported."""
    archive = str(tmp_path / "zpkg.zip")
    _write_zip(archive, {"a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    import zpkg.a  # noqa: F401
    yield archive
    for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
        del sys.modules[name]
    for path in [p for p in sys.path_importer_cache if p.startswith(archive)]:
        del sys.path_importer_cache[path]
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture()
def reads(monkeypatch):
    """The archives ``zipimport._read_directory`` reads, in call order."""
    seen = []
    original = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _importers(archive):
    return [v for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter) and v.archive == archive]


def test_unchanged_archive_is_not_reread(zip_package, reads):
    # the archive root and the zpkg/ directory: one zipimporter each
    assert len(_importers(zip_package)) == 2
    # the first call cannot know whether the archive changed since the
    # importer read it, so it reads each archive once
    importlib.invalidate_caches()
    assert reads.count(zip_package) == 1
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


@pytest.mark.parametrize("how", ["append", "replace"])
def test_changed_archive_is_reread(zip_package, reads, how):
    importlib.invalidate_caches()
    if how == "append":  # same inode, new size and mtime
        with zipfile.ZipFile(zip_package, "a") as z:
            z.writestr("zpkg/b.py", "Y = 2\n")
    else:  # a new file renamed over the old one: new inode
        fresh = zip_package + ".new"
        _write_zip(fresh, {"a": "X = 1\n", "b": "Y = 2\n"})
        os.replace(fresh, zip_package)
    del reads[:]
    importlib.invalidate_caches()
    assert zip_package in reads
    from zpkg import b
    assert b.Y == 2
    for importer in _importers(zip_package):
        assert importer._files is zipimport._zip_directory_cache[zip_package]


def test_dropped_directory_cache_is_reread(zip_package, reads):
    importlib.invalidate_caches()
    zipimport._zip_directory_cache.pop(zip_package)
    del reads[:]
    importlib.invalidate_caches()
    assert zip_package in reads
    assert zip_package in zipimport._zip_directory_cache


def test_reload_does_not_wrap_twice():
    from datasketches_spark_spark import _zipimport_cache
    importlib.reload(_zipimport_cache)
    importlib.reload(_zipimport_cache)
    method = zipimport.zipimporter.invalidate_caches
    assert method.__module__ == _zipimport_cache.__name__
    assert method.original.__module__ == "zipimport"
    assert not hasattr(method.original, "original")


def test_spark_worker_runs_the_engine_version(spark):
    def _worker_report(batches):
        """Who owns ``zipimporter.invalidate_caches`` in the worker, and
        how many archive reads two ``invalidate_caches()`` calls make
        there after a first one."""
        import pandas as pd
        # referring to the package makes the worker import it while it
        # unpickles this function, as it does for every engine UDF
        assert datasketches_spark_spark.__version__
        for _ in batches:
            pass
        n = [0]
        original = zipimport._read_directory

        def counting(archive):
            n[0] += 1
            return original(archive)

        importlib.invalidate_caches()
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        owner = zipimport.zipimporter.invalidate_caches.__module__
        yield pd.DataFrame({"owner": [owner], "reads": [n[0]]})

    rows = (spark.range(4).repartition(2)
            .mapInPandas(_worker_report, "owner string, reads int")
            .collect())
    assert len(rows) == 2
    for r in rows:
        assert r.owner == "datasketches_spark_spark._zipimport_cache"
        assert r.reads == 0
