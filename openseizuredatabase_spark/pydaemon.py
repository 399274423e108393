"""Python worker daemon of the engine's sessions.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
It runs Spark's own daemon (``pyspark.daemon.manager``) with one change.
Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython < 3.12 every cached
zipimporter then re-reads its archive's whole central directory: for
``pyspark.zip`` (1,328 entries) once per importer of its 16, which is most
of a small pandas UDF task's Python time.
Here a zipimporter re-reads only when its archive's (mtime, size, inode)
changed since the last read, and otherwise reuses the shared
``zipimport._zip_directory_cache`` entry, so a rewritten archive is
still picked up.
"""

import importlib
import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}  # archive path -> stat stamp taken before its last read


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self):
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stamps[self.archive] = stamp
    _stock_invalidate(self)


def install() -> None:
    """Patch zipimporter (CPython < 3.12 only), then read and stamp every
    cached archive once, so forked workers start with every entry stamped."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
        importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
