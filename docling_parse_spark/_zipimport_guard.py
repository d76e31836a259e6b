"""Stat-keyed zip-importer cache invalidation inside PySpark Python workers.

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython < 3.12 that makes every cached
``zipimport.zipimporter`` re-parse its archive's whole central directory: a
worker holds about 16 importers over ``pyspark.zip`` (1328 entries each), so
each Python task spends ~0.3 s re-reading an archive that has not changed
before any user code runs. CPython 3.12 made the re-read lazy.

:func:`install` wraps ``zipimporter.invalidate_caches`` so that an importer
re-reads its archive only when the archive's ``(st_mtime_ns, st_size,
st_ino)`` differs from the last time that importer read it. A changed or
newly shipped archive is still re-read — the only thing ``invalidate_caches``
is for — so import semantics are unchanged. The key lives on each importer,
because each instance holds its own ``_files`` directory.

The package's ``__init__`` calls :func:`install` once per process. It acts
only on Python < 3.12 inside a PySpark worker; the driver is left untouched.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _archive_stat(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "stat_keyed", False)


def install() -> bool:
    """Install the guard (idempotent). Returns whether it is installed."""
    if sys.version_info >= (3, 12) or "PYTHON_WORKER_FACTORY_SECRET" not in os.environ:
        return False
    if installed():
        return True
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        # stat before reading: a write racing the read leaves the old key,
        # so the next call re-reads again
        key = _archive_stat(self.archive)
        if key is None or key != getattr(self, "_stat_key", None):
            reread(self)
            self._stat_key = key

    invalidate_caches.stat_keyed = True
    # The package is first imported while a task unpickles its function,
    # after that task's setup_spark_files re-read every cached importer, so
    # the archives' current keys describe what those importers hold.
    # Importers created later carry no key and re-read once.
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._stat_key = _archive_stat(finder.archive)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
