"""Python-worker daemon for the engine's sessions.

``session.get_spark`` starts Spark's Python workers through this module
(``spark.python.daemon.module``); it hands over to
``pyspark.daemon.manager()``, whose forked workers inherit one change.

pyspark calls ``importlib.invalidate_caches()`` at the start of every
task.  Before CPython 3.13 that makes each cached ``zipimporter`` --
one per imported pyspark sub-package, about 16 -- re-read the whole
central directory of ``pyspark.zip``.  Here an importer re-reads only
when the archive's (inode, size, mtime) differs from the stamp this
process took at its last read, so a rewritten archive is still seen.
CPython 3.13 made the stdlib invalidation lazy; there nothing changes.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int]] = {}  # archive -> stat at last read


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _stdlib_invalidate(self)
        return
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stdlib_invalidate(self)
    _stamps[self.archive] = stamp  # taken before the read: a write during it re-reads next time


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` on CPython < 3.13."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
