"""The worker daemon's ``zipimporter.invalidate_caches``: an unchanged
archive is read once, not once per importer; a rewritten archive is
re-read; CPython 3.13+ is left alone; Spark's Python workers run under
the patched method while the driver keeps the stock one."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from fiveg_spark import pyworker

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ invalidates zip caches lazily"
)

_MEMBERS = {"zpkg/__init__.py": "", "zpkg/sub/__init__.py": "", "zpkg/sub/mod.py": "X = 1\n"}


def _write_zip(path, members) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding ``zpkg.sub.mod``, imported through two
    importers (the package's and the subpackage's), with the patched
    method installed; all of it undone afterwards."""
    path = str(tmp_path / "lib.zip")
    _write_zip(path, _MEMBERS)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(pyworker, "_read_stamps", {})
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module("zpkg.sub.mod").X == 1
    assert pyworker.patch_zipimport((3, 11))
    yield path
    for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


@needs_eager_zipimport
def test_unchanged_archive_is_read_once_not_per_importer(archive, monkeypatch):
    importers = [
        v for v in sys.path_importer_cache.values()
        if isinstance(v, zipimport.zipimporter) and v.archive == archive
    ]
    assert len(importers) >= 2  # zpkg's and zpkg.sub's
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert len({id(imp._files) for imp in importers}) == 1  # one shared read
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # unchanged since the last read


@needs_eager_zipimport
def test_rewritten_archive_is_reread(archive, monkeypatch):
    importlib.invalidate_caches()
    _write_zip(archive, {**_MEMBERS, "zpkg/sub/new.py": "Y = 2\n"})
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zpkg.sub.new").Y == 2
    assert importlib.import_module("zpkg.sub.mod").X == 1


def test_python_3_13_and_later_patches_nothing(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    assert pyworker.patch_zipimport((3, 13)) is False
    assert pyworker.patch_zipimport((3, 14)) is False
    assert zipimport.zipimporter.invalidate_caches is stock


@needs_eager_zipimport
def test_spark_workers_run_under_the_patch(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        code = zipimport.zipimporter.invalidate_caches.__code__
        for _ in batches:
            yield pd.DataFrame({"file": [code.co_filename], "name": [code.co_name]})

    got = {
        (os.path.realpath(r.file), r.name)
        for r in spark.range(4).repartition(2).mapInPandas(probe, "file string, name string").collect()
    }
    assert got == {(os.path.realpath(pyworker.__file__), "_invalidate_if_changed")}
    # the workers find the daemon's package from any working directory
    root = os.path.dirname(os.path.dirname(os.path.abspath(pyworker.__file__)))
    assert spark.sparkContext.environment["PYTHONPATH"] == root
    # the driver process keeps the stock method
    assert zipimport.zipimporter.invalidate_caches is not pyworker._invalidate_if_changed
