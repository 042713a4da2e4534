"""Stat-gated zip-directory invalidation in PySpark workers.

Before every task a PySpark worker calls `importlib.invalidate_caches()`
(`pyspark/worker_util.setup_spark_files`).  Before Python 3.13 that makes
every `zipimport.zipimporter` re-read its whole archive directory: in a
local-mode worker 16 reads of `pyspark.zip`, the py4j zip and the
spark-core jar, 0.17-0.23 s per task on a 4-core box.  `install()` makes
the method re-read an archive only when its (mtime, size, inode) changed
since the last read, which keeps the call's meaning (a changed archive is
re-read).  Directory finders are left alone, so a `.py` file that
`addPyFile` drops into the SparkFiles directory is still seen.

The package runs `install()` on import, so it applies in any worker that
unpickles engine code; the first task of each new worker still pays once.
It does nothing outside a PySpark worker and on Python 3.13+, whose
`invalidate_caches` is already lazy.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size, st_ino) when its directory was read
_read_at: dict[str, tuple[int, int, int]] = {}


def _stat(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    zi = zipimport.zipimporter
    if (sys.version_info >= (3, 13) or "pyspark.worker" not in sys.modules
            or hasattr(zi.invalidate_caches, "eager")):
        return
    cache = zipimport._zip_directory_cache
    eager = zi.invalidate_caches

    def invalidate_caches(self):
        st = _stat(self.archive)
        if st is not None and _read_at.get(self.archive) == st and self.archive in cache:
            self._files = cache[self.archive]
            return
        eager(self)
        _read_at[self.archive] = st

    invalidate_caches.eager = eager
    # the worker re-read every cached directory just before it unpickled
    # this task's function, which is what imported the engine
    _read_at.update((a, _stat(a)) for a in cache)
    zi.invalidate_caches = invalidate_caches
