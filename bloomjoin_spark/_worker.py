"""Python-worker setup: stop re-reading unchanged zips on every task.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task (``worker_util.setup_spark_files``). Before CPython 3.13 that makes
each ``zipimporter`` in ``sys.path_importer_cache`` re-parse its whole
archive directory: in a reused worker 16 importers over ``pyspark.zip``,
the spark-core jar and the py4j zip, ~27k entries per task. Inside a
worker (PySpark sets the ``TaskContext`` before it unpickles a UDF, and
unpickling a library UDF imports this package) the importers become
:class:`_StatZipImporter`, which re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since its last read. The driver and
CPython ≥ 3.13, whose zip invalidation is lazy, are left alone.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import TaskContext


def _archive_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class _StatZipImporter(zipimport.zipimporter):
    # None until this importer's own first re-read: the directory it
    # holds may be older than the archive (swapped in place, or taken
    # from zipimport's shared cache), so that first call re-reads
    _read_stamp = None

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        if stamp is None or stamp != self._read_stamp:
            super().invalidate_caches()
            self._read_stamp = stamp


def install() -> None:
    """Swap every plain ``zipimporter`` (the cached importers in place,
    and the path hook) for :class:`_StatZipImporter`. Does nothing off a
    worker, on CPython ≥ 3.13, or a second time."""
    if TaskContext.get() is None or sys.version_info >= (3, 13):
        return
    for imp in sys.path_importer_cache.values():
        if type(imp) is zipimport.zipimporter:
            imp.__class__ = _StatZipImporter
    sys.path_hooks[:] = [
        _StatZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]
