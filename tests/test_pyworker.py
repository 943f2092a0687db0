"""The worker bootstrap (map_reduce_go_spark.pyworker): its zip-import
guard in-process, without Spark, and its presence in the session's Python
workers."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from map_reduce_go_spark import pyworker


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in files.items():
            zf.writestr(name, source)


needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the guard installs nothing from 3.13"
)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding package ``zg_pkg``; unloaded afterwards."""
    path = tmp_path / "mods.zip"
    _write_zip(path, {"zg_pkg/__init__.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(path))
    yield path
    for name in [m for m in sys.modules if m.startswith("zg_pkg")]:
        del sys.modules[name]
    for entry in [p for p in sys.path_importer_cache if p.startswith(str(path))]:
        del sys.path_importer_cache[entry]


@pytest.fixture
def guarded(monkeypatch):
    """Install the guard for one test; the original method comes back."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    pyworker.install_zip_guard()


@pytest.fixture
def directory_reads(monkeypatch):
    """Archive paths, one per read of a zip's central directory."""
    reads = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@needs_guard
def test_unchanged_archive_is_not_reread(archive, guarded, directory_reads):
    assert importlib.import_module("zg_pkg").VALUE == 1
    importlib.invalidate_caches()  # stamps the archive
    directory_reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert directory_reads == []


@needs_guard
def test_rewritten_archive_is_reread(archive, guarded, directory_reads):
    """A module added to the archive imports after one invalidate_caches(),
    also through the package's own importer, which shares the directory
    the archive's root importer re-read."""
    files = {"zg_pkg/__init__.py": "VALUE = 1\n", "zg_pkg/early.py": "VALUE = 1\n"}
    _write_zip(archive, files)
    importlib.invalidate_caches()
    assert importlib.import_module("zg_pkg.early").VALUE == 1
    importlib.invalidate_caches()
    _write_zip(archive, {**files, "zg_pkg/late.py": "VALUE = 2\n"})
    directory_reads.clear()
    importlib.invalidate_caches()
    assert directory_reads == [str(archive)]
    assert importlib.import_module("zg_pkg.late").VALUE == 2


def test_guard_is_a_no_op_from_python_3_13(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pyworker.install_zip_guard()
    assert zipimport.zipimporter.invalidate_caches is original


def test_session_workers_run_behind_the_guard(spark):
    """get_spark's daemon module took effect: the Python workers' zip
    importers carry the guard."""

    def report(batches):
        import zipimport

        for _ in batches:
            yield pd.DataFrame({"module": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = {r["module"] for r in spark.range(4).mapInPandas(report, "module string").collect()}
    want = pyworker.__name__ if sys.version_info < (3, 13) else "zipimport"
    assert got == {want}


def test_get_spark_puts_the_package_on_the_workers_path(spark):
    """Workers inherit PYTHONPATH from the JVM: the engine's root must be on
    it whatever the working directory."""
    root = os.path.dirname(os.path.dirname(pyworker.__file__))
    assert root in os.environ["PYTHONPATH"].split(os.pathsep)
