"""Stat-guarded zip-import invalidation for PySpark Python workers.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every task (`pyspark/worker_util.py:setup_spark_files`). On CPython
3.11 and 3.12 (checked on 3.11.7 and 3.12.1), `PathFinder` forwards
that to every cached `zipimport.zipimporter`, and each one re-reads its
archive's whole central directory on the spot. A worker that imported
pyspark from `pyspark.zip` (1,328 entries) holds a dozen or more such
importers, so every task re-reads the same archive over and over:
100-130 ms per call in a lone process holding 14 of them, and a median
210-240 ms of `setup_spark_files` per task when four workers do it at
once (local[4] on a 4-core host). CPython 3.13 (checked on 3.13.0)
already invalidates lazily (`zipimporter._get_files`), so nothing is
installed there.

`install()` replaces `zipimporter.invalidate_caches` with a guard that
re-reads an archive only when its `(st_mtime_ns, st_size, st_ino)`
differs from the stat taken before the last read the guard made, or
when the shared `zipimport._zip_directory_cache` has no entry for it.
Otherwise the importer's `_files` is pointed at that cached entry. So a
rewritten, replaced or newly added archive is still re-read, which is
what `invalidate_caches` exists for, and a deleted one goes through the
stdlib method unchanged.

Scope: the guard is installed only inside a Python worker, i.e. when a
`TaskContext` is set. Workers import `dablooms_spark` when they unpickle
one of its functions, so the first task of a worker pays the re-read and
every later task in that reused worker does not. The driver is never
touched. Installing is idempotent.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat key taken just before the guard last re-read it
_READ_STAT: dict = {}


def install() -> bool:
    """Install the guard on CPython < 3.13; True when it is in place.
    Calling it again leaves the one wrapper that is there."""
    if sys.version_info[:2] >= (3, 13):
        return False
    stdlib = zipimport.zipimporter.invalidate_caches
    if getattr(stdlib, "_stat_guarded", False):
        return True

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and _READ_STAT.get(self.archive) == key:
            self._files = files
            return
        stdlib(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _READ_STAT[self.archive] = key
        else:
            _READ_STAT.pop(self.archive, None)

    invalidate_caches.__wrapped__ = stdlib
    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def install_in_worker() -> bool:
    """`install()` when running inside a Spark task, else nothing. Reads
    `pyspark.taskcontext` only if it is already imported, so importing
    the package on a machine without a Spark task costs nothing."""
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is None or taskcontext.TaskContext.get() is None:
        return False
    return install()
