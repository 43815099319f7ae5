"""Spark's Python worker daemon with change-checked zipimport invalidation.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.12 that makes
each ``zipimporter`` re-read the whole central directory of its archive,
and Spark's workers import pyspark from ``$SPARK_HOME/python/lib/
pyspark.zip`` through one importer per imported subpackage (16 or more):
a fixed 0.25 CPU-s per task for a no-op RDD task and ~0.5 CPU-s for a
``mapInPandas`` task, however little data the task holds. CPython 3.12
made the invalidation lazy (gh-103200).

This module re-reads an archive only when its ``(inode, size, mtime_ns)``
changed since that importer last read it, then runs pyspark's own daemon,
so the forked workers inherit the guard and the already-stamped importers.
Spark starts it as ``python -m bioio_spark.worker_daemon`` because
``get_session`` sets ``spark.python.daemon.module``; on CPython 3.12+ it
only runs pyspark's daemon.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _archive_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install_zipimport_guard() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    it changed. Returns whether the guard is installed (never on 3.12+)."""
    if sys.version_info >= (3, 12):
        return False
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        # stamp before the read: a rewrite racing the read is seen next time
        stamp = _archive_stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    invalidate_caches.change_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def zipimport_guard_installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches,
                   "change_checked", False)


if __name__ == "__main__":
    import importlib

    install_zipimport_guard()
    from pyspark import daemon

    # stamp the importers pyspark's imports created, so forked workers
    # start with nothing left to re-read
    importlib.invalidate_caches()
    daemon.manager()
