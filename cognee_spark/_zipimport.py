"""Re-read a zip archive's directory only when the archive changed.

PySpark's worker ends every task's set-up with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Up to Python 3.12,
``zipimporter.invalidate_caches`` answers that by re-reading the archive's
whole central directory in Python, once per cached zipimporter:
``pyspark.zip`` and each of its imported subpackages, ``py4j`` and the
shipped ``cognee_spark`` zip. A reused worker pays this on every task,
although the archives never change while it runs: 0.23-0.33 s of CPU per
Python task on a 4-vCPU host, about 18 reads of the 1,328-entry
``pyspark.zip`` directory.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that keeps the cached directory while the archive's
``(st_ino, st_size, st_mtime_ns)`` equals the one it had at this process's
last read, the same kind of check the stdlib ``FileFinder`` makes with a
directory's mtime. A replaced or rewritten archive is re-read on the next
invalidation, as before. Python 3.13 made ``invalidate_caches`` only drop
the cached directory (the re-read happens lazily on the next lookup), so
the install is skipped there.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> its stat signature at this process's last directory read
_read_at: dict[str, tuple[int, int, int]] = {}
_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the read of an unchanged
    archive."""
    archive = self.archive
    sig = _signature(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if sig is not None and files is not None and _read_at.get(archive) == sig:
        self._files = files
        return
    _stdlib_invalidate(self)
    if sig is not None and archive in zipimport._zip_directory_cache:
        _read_at[archive] = sig
    else:
        _read_at.pop(archive, None)


def install() -> None:
    """Install the stat-checked ``invalidate_caches`` (a no-op on Python 3.13
    and later)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
