"""Stamp-checked ``zipimporter.invalidate_caches`` for Python < 3.13.

PySpark's Python workers import pyspark from ``pyspark.zip`` (about 1,300
entries), so a reused worker holds a dozen or more ``zipimporter`` objects
on that one archive. Every worker entry point -- the ``pyspark.worker`` task
loop and the DataSource planner workers alike -- calls
``worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On Python 3.11 and 3.12 that reaches
``zipimporter.invalidate_caches`` (``Lib/zipimport.py``, lines 329-336 in
3.11), which re-reads and re-decodes the archive's whole central directory
at once, for every importer. One ``spark.read.format("paginated_api").load()``
spent about 0.5 s there, and every Python task paid 0.15-0.5 s more.

Python 3.13 made the method lazy: it only drops the shared
``_zip_directory_cache`` entry, and ``zipimporter._get_files`` re-reads the
archive on its next lookup, once for all importers. This module goes one
step further on older interpreters: an unchanged archive is not re-read at
all. It keeps one ``(st_ino, st_size,
st_mtime_ns)`` stamp per archive path. While the stamp is the one taken at
the archive's last read, ``invalidate_caches`` points the importer at the
shared directory and returns; otherwise it runs the stdlib method, which
re-reads the archive, and records the new stamp. A changed archive is thus
still re-read, as the method promises; an unchanged one costs one
``os.stat``.

The package ``__init__`` calls :func:`install`, so every worker that
unpickles engine code patches itself, and a reused worker keeps the patch
for all its later calls. On Python >= 3.13 :func:`install` does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stamps: dict[str, tuple[int, int, int] | None] = {}


def install() -> None:
    """Replace ``zipimporter.invalidate_caches``; a no-op on Python >= 3.13."""
    if sys.version_info >= (3, 13):
        return
    stdlib = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        stdlib(self)
        _stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
