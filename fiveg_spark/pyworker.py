"""Python worker daemon for the engine's sessions.

``get_spark`` sets this module as ``spark.python.daemon.module``, so
Spark starts it (``python -m fiveg_spark.pyworker <worker module>``)
in place of ``pyspark.daemon``; every Python worker is forked from it.

Every Python task's set-up ends in ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:setup_spark_files``).  Up to CPython 3.12
that makes each cached ``zipimporter`` re-read its archive's whole
central directory.  A worker holds one importer per ``pyspark.zip``
subpackage it has imported, plus py4j's zip and the spark-core jar: about
28k directory entries, 0.12–0.14 s per task on an idle core.  Before
handing off to ``pyspark.daemon``, the daemon swaps in an
``invalidate_caches`` that re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since this process last read it, and
lets every importer of that archive share the one read; it reads each
archive once itself, so a freshly forked worker starts with the stamps
instead of paying one read per archive (about 0.04 s) on its first
task.  CPython 3.13
made the call lazy (it only drops the cache entry), so there the daemon
patches nothing.  Importing this module patches nothing either: the
driver process keeps the stock method.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path → (st_mtime_ns, st_size) when this process last read its
# directory into zipimport._zip_directory_cache
_read_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only if the archive changed since its last read here."""
    archive = self.archive
    stamp = _stamp(archive)  # taken before the read: a racing rewrite re-reads next time
    files = zipimport._zip_directory_cache.get(archive)
    if files is None or stamp is None or _read_stamps.get(archive) != stamp:
        try:
            files = zipimport._read_directory(archive)
        except zipimport.ZipImportError:
            zipimport._zip_directory_cache.pop(archive, None)
            _read_stamps.pop(archive, None)
            self._files = {}
            return
        zipimport._zip_directory_cache[archive] = files
        _read_stamps[archive] = stamp
    self._files = files


def patch_zipimport(version: tuple[int, ...] = sys.version_info[:2]) -> bool:
    """Install the stamp-checked ``invalidate_caches`` on CPython < 3.13;
    return whether it was installed."""
    if version >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return True


if __name__ == "__main__":
    patch_zipimport()
    # pyspark.daemon picks the worker module from sys.argv[1] on import
    from pyspark import daemon

    # read each archive once here: forked workers inherit the stamps and
    # skip the re-read on their first task too
    importlib.invalidate_caches()
    daemon.manager()
