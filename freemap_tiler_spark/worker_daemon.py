"""Python worker daemon: PySpark's own daemon, minus a per-task zip re-read.

Every Python task begins in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``.  On CPython < 3.12 that makes
each ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory eagerly: a worker that imported ``pyspark`` from
``pyspark.zip`` holds one importer per package directory inside it (14-16),
so every task re-parses the same directory that many times (120-140 ms
uncontended on 4 vCPU, more than most engine kernels take per task).
CPython 3.12 made the re-read lazy (gh-103200), so there nothing is patched.

This daemon installs a stat-checked ``zipimporter.invalidate_caches``: an
archive's directory is re-read only when its ``(st_mtime_ns, st_size)``
differs from the last read.  The archives already imported are read once
here, after ``pyspark.daemon`` has imported the worker module, so the
workers it forks inherit both the directories and their stat keys.  An
archive that changes on disk (a new ``--py-files`` upload) is still
re-read on the next task.

Run by Spark as ``python -m freemap_tiler_spark.worker_daemon`` when
``spark.python.daemon.module`` names it (``session.get_spark`` sets this
for ``local`` masters).
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install_stat_checked_invalidation() -> None:
    """Replace ``zipimport.zipimporter.invalidate_caches`` in this process
    (and the processes it forks) by a version that skips the directory
    re-read of an archive whose ``(st_mtime_ns, st_size)`` is unchanged
    since its last read.  Archives already in the directory cache are
    stat-keyed and re-read once now, so no later change goes unseen."""
    reread = zipimport.zipimporter.invalidate_caches
    read_at: dict[str, tuple[int, int]] = {}
    cache = zipimport._zip_directory_cache

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        # stat before reading: a change that lands during the read gives a
        # key that differs from this one and is re-read next time
        reread(self)
        if key is None:
            read_at.pop(self.archive, None)
        else:
            read_at[self.archive] = key

    for archive in list(cache):
        key = _stat_key(archive)
        if key is None:
            continue
        try:
            cache[archive] = zipimport._read_directory(archive)
        except zipimport.ZipImportError:
            cache.pop(archive, None)
            continue
        read_at[archive] = key
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    # importing pyspark.daemon imports the worker module it forks into
    # (and with it every archive a worker imports from)
    from pyspark import daemon

    if sys.version_info < (3, 12):
        install_stat_checked_invalidation()
    daemon.manager()


if __name__ == "__main__":
    main()
