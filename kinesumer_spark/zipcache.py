"""Keep a reused Python worker from re-reading zip archives on every task.

Before each task, a reused PySpark worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``). On Python < 3.13 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory at once, and ``pyspark.zip`` alone has
one importer per imported package. On a 4-core host with Python 3.11, a
cProfile of a reused worker put ~87 % of its per-task time in
``zipimport._read_directory``: 190-245 ms of CPU between two trivial
tasks, paid by every Python-worker task
(wire reads, Arrow UDFs). From 3.13 on the stdlib drops the cache entry
instead and re-reads an archive lazily, once, on its next lookup.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a gated
version: an archive is re-read only when its ``(st_mtime_ns, st_size,
st_ino)`` differs from when this process last read it; otherwise the
importer is re-pointed at the shared ``_zip_directory_cache`` entry.
A changed archive is still re-read eagerly and a missing one still
drops its entry, so import semantics are unchanged. Importing
``kinesumer_spark`` installs it, which every worker that unpickles one
of the package's readers or UDFs does.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat key at this process's last read of its directory
_read_at: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


# the eager stdlib re-read; captured before install() replaces it
_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def gated_invalidate_caches(self) -> None:
    """Re-read this importer's archive only if it changed on disk."""
    key = _stat_key(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and cached is not None and _read_at.get(self.archive) == key:
        self._files = cached
        return
    # stat before the read: an archive rewritten in between is read now
    # and again next time, never skipped
    _stdlib_invalidate(self)
    if key is not None and self.archive in zipimport._zip_directory_cache:
        _read_at[self.archive] = key
    else:
        _read_at.pop(self.archive, None)


def install() -> bool:
    """Install the gate on Python < 3.13; returns whether it is active."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = gated_invalidate_caches
    return True
