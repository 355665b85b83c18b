"""Stat-checked ``zipimporter.invalidate_caches`` for Python < 3.13.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``setup_spark_files``). Before CPython 3.13 that makes every
``zipimporter`` on ``sys.path`` re-read its archive's whole central
directory in pure Python. A Spark worker holds importers over
``pyspark.zip`` (once per sub-package), the py4j zip and the spark-core
jar, so each task re-parses tens of thousands of directory entries
before it reads a row. CPython 3.13 made the method lazy (it only drops
the ``_zip_directory_cache`` entry), so there this module does nothing.

``install()`` wraps the method so an importer re-reads its archive only
when the archive's ``(st_ino, st_size, st_mtime_ns)`` differ from the
stamp taken at that importer's last re-read, the same staleness test the
path finders apply to directories. What stays exactly as CPython does it:

- the first call on each importer re-reads, since there is no stamp yet;
- a replaced, rewritten or resized archive is re-read by CPython's own
  code, so a module added to it becomes importable;
- a missing archive goes through CPython's code too, which drops the
  importer's file list and the shared cache entry.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches``; idempotent."""
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    eager = cls.invalidate_caches
    if getattr(eager, "_stat_checked", False):
        return

    @functools.wraps(eager)
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_archive_stamp", None):
            return
        eager(self)
        self._archive_stamp = stamp

    invalidate_caches._stat_checked = True
    cls.invalidate_caches = invalidate_caches
