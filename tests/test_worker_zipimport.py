"""The package's zipimport stat guard: ``importlib.invalidate_caches()``
re-reads a zip archive's directory only when the archive changed.

Spark's Python worker calls ``importlib.invalidate_caches()`` before
every task, and on Python < 3.13 each zipimporter of ``pyspark.zip``
re-read its directory there.  No SparkSession is needed to check it."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import pypgcdc_spark

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="Python 3.13 zipimport defers the re-read itself"
)


def _write_zip(path, source):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("m.py", source)


@pytest.fixture
def zipped_m(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "V = 1\n")
    monkeypatch.syspath_prepend(archive)
    sys.modules.pop("m", None)
    import m

    assert m.V == 1
    yield archive
    sys.modules.pop("m", None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture
def read_counts(monkeypatch):
    counts = {}
    read_directory = zipimport._read_directory

    def counting(archive):
        counts[archive] = counts.get(archive, 0) + 1
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return counts


@needs_guard
def test_unchanged_archive_is_read_at_most_once(zipped_m, read_counts):
    for _ in range(10):
        importlib.invalidate_caches()
    assert read_counts.get(zipped_m, 0) <= 1


@needs_guard
def test_rewritten_archive_is_reread(zipped_m, read_counts):
    importlib.invalidate_caches()
    reads = read_counts.get(zipped_m, 0)
    _write_zip(zipped_m, "V = 2  # a different size\n")
    importlib.invalidate_caches()
    assert read_counts[zipped_m] == reads + 1
    sys.modules.pop("m", None)
    import m

    assert m.V == 2


def test_installing_twice_leaves_one_wrapper():
    installed = zipimport.zipimporter.invalidate_caches
    pypgcdc_spark._install_zipimport_stat_guard()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_python_313_keeps_the_stdlib_method(monkeypatch):
    def stdlib(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pypgcdc_spark._install_zipimport_stat_guard()
    assert zipimport.zipimporter.invalidate_caches is stdlib
