"""The zip-directory rule of ``ip_filter_spark.zipcache``, in-process.

Spark's worker calls ``importlib.invalidate_caches()`` before every task;
an unchanged archive on ``sys.path`` must not be re-read, while a rewritten
or removed one must behave as plain Python does.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from ip_filter_spark import zipcache  # importing the package installs the wrap


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding one module, imported once; yields
    (path, reads) where ``reads`` lists the archives ``_read_directory``
    reads from here on."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"ifs_zip_a": 1})
    monkeypatch.syspath_prepend(path)
    for name in ("ifs_zip_a", "ifs_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("ifs_zip_a").VALUE == 1
    importlib.invalidate_caches()  # the read this process keys later calls on

    reads = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    for _ in range(3):
        importlib.invalidate_caches()
    assert path not in reads
    assert importlib.import_module("ifs_zip_a").VALUE == 1


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    _write_zip(path, {"ifs_zip_a": 1, "ifs_zip_b": 2})
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module("ifs_zip_b").VALUE == 2


def test_removed_archive_takes_the_original_path(archive):
    path, reads = archive
    os.remove(path)
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert path not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[path]._files == {}
    with pytest.raises(ImportError):
        importlib.import_module("ifs_zip_b")


def test_install_is_idempotent_and_needs_the_cache(monkeypatch):
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped.__wrapped__ is not None
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped

    original = wrapped.__wrapped__
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.delattr(zipimport, "_zip_directory_cache")
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is original
