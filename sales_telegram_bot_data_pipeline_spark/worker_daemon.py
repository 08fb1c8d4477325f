"""PySpark's Python worker daemon, with zip archives on the import path
re-read only when they change.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task.
Up to Python 3.12 that makes each ``zipimporter`` re-read its archive's
whole central directory: ``pyspark.zip`` (~1,300 entries) and the Spark
core jar (~5,400) sit behind a dozen importers, which came to ~144 ms of
worker CPU per task.  ``get_spark`` starts the daemon through this module
(``spark.python.daemon.module``); it re-reads an archive only when its
``(mtime, size)`` differs from the last read, so an archive rewritten in
place (``addPyFile`` of a new version) is still picked up.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.
    An importer's first call always re-reads: its directory may predate
    the first stamp."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    import pyspark.daemon

    # stamp the importers the daemon opened before it forks any worker
    importlib.invalidate_caches()
    pyspark.daemon.manager()
