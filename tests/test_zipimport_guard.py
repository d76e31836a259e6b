"""Stat-keyed zip-importer invalidation (docling_parse_spark._zipimport_guard).

PySpark workers call ``importlib.invalidate_caches()`` before every task; on
Python < 3.12 that re-parses every zip archive on the import path. The guard
keeps the re-read only for archives whose stat key changed.
"""

import importlib
import sys
import zipfile
import zipimport

import pytest

from docling_parse_spark import _zipimport_guard

needs_lazy_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython >= 3.12 re-reads zip archives lazily"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def guarded(monkeypatch):
    """The guard installed as in a worker; the original method comes back
    at teardown."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "test")


def test_driver_is_left_untouched(monkeypatch):
    monkeypatch.delenv("PYTHON_WORKER_FACTORY_SECRET", raising=False)
    before = zipimport.zipimporter.invalidate_caches
    assert _zipimport_guard.install() is False
    assert zipimport.zipimporter.invalidate_caches is before


@needs_lazy_zipimport
def test_unchanged_archive_is_not_reread(tmp_path, guarded, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_m": "X = 1\n"})
    sys.path.insert(0, archive)
    try:
        import zg_m

        assert zg_m.X == 1
        assert _zipimport_guard.install() is True
        wrapper = zipimport.zipimporter.invalidate_caches
        assert _zipimport_guard.install() is True  # idempotent: no double wrap
        assert zipimport.zipimporter.invalidate_caches is wrapper

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        # a rewritten archive (new size) is re-read and its new module imports
        _write_zip(archive, {"zg_m": "X = 1\n", "zg_m2": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        import zg_m2

        assert zg_m2.Y == 2
        importlib.invalidate_caches()
        assert reads == [archive]
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("zg_m", None)
        sys.modules.pop("zg_m2", None)


@needs_lazy_zipimport
def test_spark_workers_install_the_guard(spark):
    def report(_rows):
        import docling_parse_spark  # noqa: F401  (importing installs the guard)
        from docling_parse_spark import _zipimport_guard

        yield _zipimport_guard.installed()

    rdd = spark.sparkContext.parallelize(range(8), 8)
    rdd.mapPartitions(report).collect()
    assert rdd.mapPartitions(report).collect() == [True] * 8
