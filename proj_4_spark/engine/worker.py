"""Fixed per-task cost of the Spark Python workers that run library code.

Every Spark Python task calls ``importlib.invalidate_caches()`` before it
unpickles its function (``pyspark.worker_util.setup_spark_files``).  On
interpreters whose ``zipimport.zipimporter.invalidate_caches`` re-reads
the archive directory eagerly (CPython 3.11, for one), that call
re-reads ``pyspark.zip`` once per imported pyspark package and the
spark-core jar twice: about 0.2 s per task on a 4-vCPU VM, more than a
2,000-row transform spends in its kernel.

``install`` wraps the method so that an archive is re-read only when its
``(st_mtime_ns, st_size, st_ino)`` changed since it was last read.  An
archive that changes on disk is still re-read, as the stdlib promises.
The package ``__init__`` installs it inside Spark tasks only (a worker's
first library task installs it while unpickling its function), so the
driver and plain NumPy users keep the stdlib method.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat key taken just before its directory was last read
_read_at: dict = {}


def in_spark_task() -> bool:
    """True inside a Spark Python task; False on the driver and without
    pyspark."""
    task_context = getattr(sys.modules.get("pyspark"), "TaskContext", None)
    return task_context is not None and task_context.get() is not None


def installed() -> bool:
    """Whether this process runs the stat-checked method."""
    return getattr(zipimport.zipimporter.invalidate_caches,
                   "_stat_checked", False)


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> bool:
    """Make zip-directory invalidation stat-checked (idempotent).
    Returns whether the wrapper is in place; False on an interpreter
    whose method does not re-read the directory eagerly."""
    if installed():
        return True
    eager = zipimport.zipimporter.invalidate_caches
    code = getattr(eager, "__code__", None)
    if code is None or "_read_directory" not in code.co_names:
        return False

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None \
                and _read_at.get(self.archive) == key:
            self._files = files
            return
        eager(self)
        _read_at[self.archive] = key

    invalidate_caches.__doc__ = eager.__doc__
    invalidate_caches._stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
