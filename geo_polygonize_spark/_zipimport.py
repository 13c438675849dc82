"""Stat-keyed ``zipimport.zipimporter.invalidate_caches`` for Python < 3.12.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.12 that makes every ``zipimporter`` in ``sys.path_importer_cache``
re-read its archive's central directory at once. A worker that runs
PySpark from ``pyspark.zip`` holds one importer per imported
sub-package, each re-reading the same archive: 0.17-0.28 s of Python
CPU per task on a 4-vCPU host, more than our kernels spend in most
tasks. CPython 3.12 made the re-read lazy.

Here an archive whose (inode, mtime_ns, size) is unchanged since it was
last read keeps its directory, and all importers of that archive share
the one read. A changed archive, or one that cannot be stat'ed, is
re-read by the original method, which also handles a vanished or
corrupt archive.

Importing the package installs this; every UDF we ship unpickles into a
package import, so a reused worker carries it from its second task on.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat key at its last directory read. Process-wide, like
# zipimport's own ``_zip_directory_cache`` that it validates.
_read_stat: dict[str, tuple[int, int, int]] = {}


def _invalidate_caches(self) -> None:
    """Re-read the archive directory only if the archive changed on disk."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_stat.pop(self.archive, None)
        _original(self)
        return
    key = (st.st_ino, st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_stat.get(self.archive) == key:
        self._files = files
        return
    # stat taken before the read: a write racing the read leaves a stale
    # key, so the next invalidation re-reads rather than trusting it
    _original(self)
    _read_stat[self.archive] = key


if (
    sys.version_info < (3, 12)
    and zipimport.zipimporter.invalidate_caches.__module__ != __name__  # not on reload
):
    _original = zipimport.zipimporter.invalidate_caches
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
