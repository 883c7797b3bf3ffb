"""Python workers re-read a zip archive's directory only when the archive
changed on disk.

Every Python task calls ``importlib.invalidate_caches()`` before it runs
(``pyspark.worker_util.setup_spark_files``), and CPython's
``zipimporter.invalidate_caches`` then re-reads the whole central directory of
its archive. A worker's path carries Spark's ``pyspark.zip`` (1,328 entries,
one importer per imported subpackage), the py4j zip and the Spark core jar
(5,359 entries), so every task paid about 0.2 CPU-s before its body started.
Here an archive is re-read only when its ``(st_size, st_mtime_ns)`` differs
from when this process last read it, or when it cannot be stat'ed, so an
archive that changes on disk is still seen.

The package's ``__init__`` calls ``install`` when it is imported in a Spark
Python worker. That happens while the worker unpickles its first task that
uses the package, after ``setup_spark_files`` has put ``--py-files`` archives
on the path; a reused worker keeps the patch for all its later tasks.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (st_size, st_mtime_ns) taken just before its directory in
# zipimport._zip_directory_cache was last read; process-wide, like that cache
_read_at: dict[str, tuple[int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        _reread(self)
        return
    key = (st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _read_at.get(archive) == key:
        self._files = files  # another importer of this archive may have re-read it
        return
    _reread(self)  # a failed read drops the archive from the cache
    _read_at[archive] = key


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
