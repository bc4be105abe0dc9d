"""Stamp-checked zip-archive cache invalidation for PySpark Python workers.

PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task. On CPython
3.11 and 3.12 that re-reads the central directory of every archive that
has a ``zipimporter`` in ``sys.path_importer_cache``, and Spark puts
``pyspark.zip`` (about 1.3k entries) and the spark-core jar (about 5.4k
entries) on every worker's path: about 0.2 s of CPU per task, paid again
by every stateful task of every micro-batch. CPython 3.13 made this
invalidation lazy; ``install()`` does the same on older versions, inside
a worker only.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_ino, st_size, st_mtime_ns)`` differs from the last read, or
    when ``stat`` fails. Does nothing on Python >= 3.13 (already lazy) or
    outside a PySpark Python worker (the driver keeps the stock method),
    and nothing the second time. Returns whether the patch is in place."""
    cls = zipimport.zipimporter
    if getattr(cls, "_stamp_checked", False):
        return True
    if sys.version_info >= (3, 13):
        return False
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return False
    eager = cls.invalidate_caches
    # archive path -> ((st_ino, st_size, st_mtime_ns), directory read at that stamp)
    read_at: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return eager(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        seen = read_at.get(self.archive)
        if seen is not None and seen[0] == stamp:
            self._files = seen[1]
            return
        eager(self)
        read_at[self.archive] = (stamp, self._files)

    cls.invalidate_caches = invalidate_caches
    cls._stamp_checked = True
    return True
