"""Spark Python workers re-read a zip archive's directory only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py:144``, ``setup_spark_files``). Before
Python 3.13, ``zipimporter.invalidate_caches`` re-reads the archive's whole
central directory on every call, so each task re-read ``pyspark.zip`` once
per importer on it (12) and the 5,359-entry spark-core jar twice: 0.13-0.23 s
of worker CPU per task on a 4-core host, before any kernel ran. CPython 3.13
made the method lazy (it drops the cached directory; the next lookup reads
it). Here the eager re-read stays but runs only when the archive's
``(st_mtime_ns, st_size, st_ino)`` stamp moved, so a reused worker pays it
on its first task only. The driver's import machinery is left alone.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import TaskContext

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_if_changed(self) -> None:
    # stat before reading: a write during the read moves the stamp again
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _stdlib_invalidate(self)
        self._stamp = stamp


def install() -> None:
    """Install the stamped invalidation when running inside a Spark task on
    Python < 3.13; stamp the zip importers that already exist."""
    if sys.version_info >= (3, 13) or TaskContext.get() is None:
        return
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._stamp = _stamp(finder.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
