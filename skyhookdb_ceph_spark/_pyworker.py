"""Skip redundant zip directory re-reads in Spark Python workers.

Every Python worker call (planner and executor alike) starts with
pyspark's ``worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``.  Workers import pyspark from
``pyspark.zip``, so ``sys.path_importer_cache`` holds ~30 zipimporters,
and on Python < 3.13 ``zipimporter.invalidate_caches`` re-reads the
whole zip central directory each time: 5-10 ms per importer, 0.14-0.22 s
per call.  Python 3.13 made that re-read lazy.

``install()`` makes the re-read conditional: an archive whose
``(st_mtime_ns, st_size)`` matches the last read of it keeps that
directory.  A changed, new or missing archive goes through the original
method, so a zip shipped with ``addPyFile`` stays visible exactly as
before; importers of one archive share one re-read.  It acts only in
worker processes (marked by ``PYTHON_WORKER_FACTORY_SECRET``).
"""

from __future__ import annotations

import os
import sys
import zipimport


def installed() -> bool:
    """True iff the fast path is active in this process."""
    return getattr(zipimport.zipimporter.invalidate_caches, "skip_unchanged", False)


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` once; True if active."""
    if sys.version_info >= (3, 13) or "PYTHON_WORKER_FACTORY_SECRET" not in os.environ:
        return False
    if installed():
        return True
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    last_read: dict[str, tuple[tuple[int, int], dict]] = {}

    def invalidate_caches(self):
        cache = zipimport._zip_directory_cache
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        seen = last_read.get(self.archive)
        if stamp is not None and seen is not None and seen[0] == stamp:
            self._files = cache[self.archive] = seen[1]
            return
        # stat before the read: a write racing the read changes the
        # stamp, so the next call reads again
        original(self)
        if stamp is not None and self.archive in cache:
            last_read[self.archive] = (stamp, self._files)
        else:
            last_read.pop(self.archive, None)

    invalidate_caches.skip_unchanged = True
    cls.invalidate_caches = invalidate_caches
    return True
