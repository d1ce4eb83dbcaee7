"""PySpark daemon for the engine's Python workers (``spark.python.daemon.module``,
set by ``session.get_spark``): the stock ``pyspark.daemon`` with one change to
how a worker refreshes its zip importers.

Before every task, PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, so that files shipped with ``addPyFile``
become importable. On Python 3.11 that makes every ``zipimporter`` on
``sys.path`` re-read its archive's whole central directory: ``pyspark.zip``,
the py4j zip and the ``spark-core`` jar hold about 26,700 entries, and a
reused worker paid ~0.2 s of CPU per task re-reading them before it did any
work.

Here ``zipimporter.invalidate_caches`` re-reads an archive only when it may
have changed since this process last read it. Each read is keyed on the
archive's ``(st_ino, st_size, st_mtime_ns, st_ctime_ns)``, taken just before
the read. The stock method runs for a new archive, a changed one, one that
cannot be stat'ed, and one modified within the last ``_SETTLE_NS`` (a write
inside the filesystem's timestamp granularity could leave the key as it
was). ``PathFinder`` still invalidates its directory finders and bumps the
namespace-path epoch; nothing else in PySpark is touched.

The daemon reads each archive once, keyed, before it forks, so its workers
start with current directories and keys.
"""

from __future__ import annotations

import importlib
import os
import sys
import time
import zipimport

_SETTLE_NS = 2_000_000_000

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> stat key taken just before its directory was last read
_read_at: dict[str, tuple[int, int, int, int]] = {}


def _invalidate_caches(self) -> None:
    archive = self.archive
    try:
        st = os.stat(archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)
    except OSError:
        key = None
    files = zipimport._zip_directory_cache.get(archive)
    if key is not None and files is not None and _read_at.get(archive) == key:
        self._files = files  # what a re-read would return: the archive is unchanged
        return
    _read_at.pop(archive, None)
    _stock_invalidate_caches(self)
    if (
        key is not None
        and archive in zipimport._zip_directory_cache
        and time.time_ns() - key[3] > _SETTLE_NS
    ):
        _read_at[archive] = key


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    # `-m` imported the engine package from the daemon's path; drop it so a
    # worker resolves `dsm2dtm_spark` through its own sys.path, as it would
    # under the stock daemon (addPyFile archives come first there)
    sys.modules.pop("dsm2dtm_spark", None)
    from pyspark import daemon

    importlib.invalidate_caches()
    daemon.manager()
