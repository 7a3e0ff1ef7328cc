"""Python worker daemon: pyspark's own daemon, minus the per-task
re-reads of the zip archives pyspark is imported from.

For local masters ``session.get_spark`` points
``spark.python.daemon.module`` here (and puts this package on the
workers' path), so Spark starts this module once and forks every
Python worker from it.  Before each task, pyspark
(``worker_util.setup_spark_files``) calls ``importlib.invalidate_caches()``.
On Python < 3.13, ``zipimporter.invalidate_caches`` eagerly re-reads
the archive's whole central directory, once per zipimporter, and a
worker holds about 16 of them: pyspark.zip 12 times (one per
subpackage), py4j's zip and the spark-core jar twice each.  That was
~0.11 s of CPU per Python task (CPython 3.11.7, local[4] on a 4-core
box), most of a small task's worker time.

Here an importer re-reads its archive only when the archive's
``(inode, size, mtime_ns)`` differs from the stamp taken just before
the archive's directory was last read, so a rewritten archive is still
re-read and import semantics are unchanged.  The daemon reads each
archive once before forking; its workers inherit the stamps.
Python 3.13 made the invalidation lazy, and there this module is
pyspark's daemon unchanged.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
#: archive path -> its stamp taken just before its directory was last read
_read_stamps: dict = {}


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read of an
    archive unchanged since its directory was last read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        # importers of one archive share its cached directory, as after a re-read
        self._files = files
        return
    _reread(self)
    _read_stamps[self.archive] = stamp


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` in this process (and
    in every process forked from it) on Python < 3.13."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == '__main__':
    install()
    # pyspark.daemon imports the worker module named in sys.argv[1]
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # stamp every archive imported so far
    manager()
