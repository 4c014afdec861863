"""Spark's Python worker daemon with one change: a zip archive on
``sys.path`` is re-read only when the file itself changed.

Every Python task's set-up calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 that
makes each cached ``zipimporter`` eagerly re-read its archive's
directory. A worker holds 14-16 of them over ``pyspark.zip`` and py4j's
zip, so under Spark's stock daemon each task re-reads a ~1,300-entry
directory that many times (150-190 ms).

Here an archive is re-read only when its ``(st_mtime_ns, st_size,
st_ino)`` differs from the stat taken before its cached directory was
read; a zip that changes is still re-read, and a zip added by
``addPyFile`` is a new path with a fresh importer. Forked workers inherit
the patch and the recorded stats.

Run as ``python -m projektdataengineering_spark.worker_daemon`` via
``spark.python.daemon.module`` (see ``session.get_spark``).
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> the stat taken just before its cached directory was read
_read_at: dict[str, tuple[int, int, int]] = {}


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate(self)
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    # the stock method drops a directory it failed to read from the
    # cache, so a stamp alone never skips a read
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_at.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)
    _read_at[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and read each archive on
    ``sys.path`` once, so its stat is recorded before any fork."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    importlib.invalidate_caches()


if __name__ == "__main__":
    from pyspark.daemon import manager  # its importers exist before install()

    install()
    manager()
