"""Set-up for a PySpark Python worker process, run once when the package is
first imported in it (``cqaduplicatefind_spark/__init__.py``; unpickling any
of the package's UDFs imports it).

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``setup_spark_files``). On CPython 3.11 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-parse its whole
archive directory. A worker that imports pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` holds about 16 of them (one per
package directory it imported from the pyspark and py4j zips), so each task
re-reads some 27k zip entries: 0.19-0.24 s per task on a 4-vCPU host, about
a fifth of a small pipeline pass. ``install`` makes an importer re-read its
archive only when the archive's ``(st_mtime_ns, st_size)`` has changed since
its last read, or when the stat fails, so a replaced zip is still picked up.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _archive_stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive. The
    stamp is taken before the read: an archive rewritten during the read
    leaves an older stamp, so the next call reads it again."""
    stamp = _archive_stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _stock_invalidate_caches(self)
        self._archive_stamp = stamp


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` in this process. Call it in
    a Python worker only: it changes a class of the interpreter's import
    system, and the driver has no per-task invalidation to save."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
