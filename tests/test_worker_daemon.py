"""The session's Python worker daemon: an unchanged zip archive costs a
``stat``, not a re-read of its directory, on every task's
``importlib.invalidate_caches()``."""

from __future__ import annotations

import os
import zipfile
import zipimport

import pytest

from cassandra_snap_to_hadoop_spark import worker_daemon


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


@pytest.fixture
def reads(monkeypatch):
    """Paths passed to ``zipimport._read_directory`` while the test runs."""
    calls: list[str] = []
    stock = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_importing_the_module_patches_nothing():
    assert zipimport.zipimporter.invalidate_caches is worker_daemon._stock_invalidate


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, ["a"])
    imp = zipimport.zipimporter(archive)
    reads.clear()  # the constructor's own read
    worker_daemon.invalidate_unless_unchanged(imp)  # first sight: stock re-read
    assert len(reads) == 1
    worker_daemon.invalidate_unless_unchanged(imp)
    worker_daemon.invalidate_unless_unchanged(imp)
    assert len(reads) == 1


def test_rewritten_archive_is_reread(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, ["a"])
    imp = zipimport.zipimporter(archive)
    reads.clear()  # the constructor's own read
    worker_daemon.invalidate_unless_unchanged(imp)
    assert imp.find_spec("b") is None
    _write_zip(archive, ["a", "b"])
    worker_daemon.invalidate_unless_unchanged(imp)
    assert reads == [archive, archive]
    assert imp.find_spec("b") is not None


def test_deleted_archive_takes_the_stock_path(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, ["a"])
    imp = zipimport.zipimporter(archive)
    reads.clear()  # the constructor's own read
    worker_daemon.invalidate_unless_unchanged(imp)
    os.remove(archive)
    for expected in (2, 3):  # every call re-reads, as the stock method does
        worker_daemon.invalidate_unless_unchanged(imp)
        assert len(reads) == expected
        assert imp.find_spec("a") is None
        assert archive not in zipimport._zip_directory_cache


def test_python_task_does_not_reread_archives(spark):
    """Inside a worker of a ``get_spark`` session, one
    ``importlib.invalidate_caches()`` (what every task's setup calls)
    reads no zip directory, although the worker holds zip importers."""

    def count_reads(_):
        import importlib
        import sys
        import zipimport

        held = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        calls = []
        stock = zipimport._read_directory
        zipimport._read_directory = lambda archive: (calls.append(archive), stock(archive))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        yield held, len(calls)

    for held, n_reads in spark.sparkContext.parallelize([0, 1], 2).mapPartitions(count_reads).collect():
        assert held > 0
        assert n_reads == 0
