"""Re-read a zip archive's directory only when the archive has changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task.  Before Python 3.13 that makes every ``zipimporter`` on the
path re-read its archive's whole directory — ``pyspark.zip`` and the
spark-core jar hold thousands of entries — although neither changes
during a job.  :func:`install` makes ``zipimporter.invalidate_caches``
re-read an archive only when its ``(st_mtime_ns, st_size)`` differs from
the one seen at the last read, or when it cannot be stat'ed.  The package
``__init__`` calls it, so once a worker has unpickled a palladian_spark
function, its later tasks skip the re-read.
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


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches`` once per process
    (3.13 already reads the directory lazily: nothing to do there).  The
    importers already cached are taken as fresh: the worker's task set-up
    has just re-read them."""
    cls = zipimport.zipimporter
    if (sys.version_info >= (3, 13)
            or "_unchecked_invalidate_caches" in vars(cls)):
        return
    stock = cls.invalidate_caches

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        if key is None or key != getattr(self, "_seen_key", None):
            stock(self)
            self._seen_key = key

    cls._unchecked_invalidate_caches = stock
    cls.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder._seen_key = _stat_key(finder.archive)
