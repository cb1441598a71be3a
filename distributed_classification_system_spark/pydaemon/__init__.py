"""Spark's Python daemon for this engine: ``pyspark.daemon`` whose workers
re-read a zip on their path only when the zip has changed.

pyspark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``setup_spark_files`` in ``pyspark/worker_util.py``). On
CPython 3.11 and 3.12 that makes every ``zipimporter`` re-read its
archive's whole central directory: pyspark.zip (1,328 entries, one
importer per imported subpackage) and the spark-core jar (5,359 entries),
together 0.2-0.3 s of every task on a 4-core box. Here an archive is
re-read only when its ``(st_mtime_ns, st_size, st_ino)`` differs from the
one taken before its last read, so a changed archive is read exactly as
before, and a new one (e.g. from ``addPyFile``) gets its own read.

``session.get_spark`` sets ``spark.python.daemon.module`` to this package
(``__main__.py`` runs it). Only the daemon and the workers it forks are
patched: not the driver, not other Python processes on the machine. The
daemon reads each archive once before it forks, so no worker pays a first
read either.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (its stat before the last read, the directory that read built)
_read_at: dict[str, tuple[tuple[int, int, int], dict]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches``, skipped while the archive is unchanged."""
    try:
        st = os.stat(self.archive)
    except OSError:  # gone: the original drops the cached directory
        _read_at.pop(self.archive, None)
        _reread(self)
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    seen = _read_at.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    _reread(self)
    _read_at[self.archive] = (stamp, self._files)


def install() -> None:
    """Patch ``zipimporter`` in this process and read every archive already
    on the path once, so the processes forked from here start with it read."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()
