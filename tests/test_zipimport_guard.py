"""The zip-directory guard: ``importlib.invalidate_caches()`` re-reads a
zip archive on ``sys.path`` only when the archive changed, and the guard
is live in the Python workers that run engine UDFs."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from flink_cep_examples_spark import zipimport_guard

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport reads lazily from 3.13"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"zg_first": 1})
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in ("zg_first", "zg_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@needs_eager_zipimport
def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    assert zipimport_guard.is_active()
    assert importlib.import_module("zg_first").VALUE == 1
    importlib.invalidate_caches()  # first call per importer stamps it
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


@needs_eager_zipimport
def test_rewritten_archive_is_reread(zip_on_path):
    archive, reads = zip_on_path
    importlib.import_module("zg_first")
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zg_second")
    _write_zip(archive, {"zg_first": 1, "zg_second": 2})
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("zg_second").VALUE == 2


def test_guard_not_installed_from_python_3_13(monkeypatch):
    if sys.version_info >= (3, 13):
        assert not zipimport_guard.is_active()
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport_guard._ORIGINAL
    )
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert zipimport_guard.install() is False
    assert zipimport.zipimporter.invalidate_caches is zipimport_guard._ORIGINAL


@needs_eager_zipimport
def test_guard_active_in_python_worker(spark):
    """Workers get the guard by importing the package; an install moved
    off that import path leaves the per-task zip re-read in place."""

    # Nested, so it is pickled by value and the worker imports only the
    # engine package, not this test module.
    def guard_state(batches):
        import pandas as pd

        from flink_cep_examples_spark import zipimport_guard as guard

        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "active": [guard.is_active()]})

    rows = (
        spark.range(2, numPartitions=2)
        .mapInPandas(guard_state, "pid long, active boolean")
        .collect()
    )
    assert rows and all(r.pid != os.getpid() for r in rows)
    assert all(r.active for r in rows)
