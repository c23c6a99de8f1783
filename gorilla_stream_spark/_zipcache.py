"""Stat-keyed ``zipimporter.invalidate_caches`` for CPython < 3.12.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  Before CPython 3.12
(gh-103200) that makes every ``zipimporter`` in ``sys.path_importer_cache``
re-parse its archive's whole central directory in pure Python, once per
importer: ~9 ms per ``pyspark.zip`` prefix, ~35 ms per spark-core jar prefix,
~0.2 s of CPU per task in a reused worker.

:func:`invalidate_caches` re-reads an archive only when its
``(st_ino, st_size, st_mtime_ns)`` differs from the last read it made;
otherwise the importer is pointed at the unchanged
``zipimport._zip_directory_cache`` entry.  A rewritten or newly added
archive is picked up exactly as the stdlib method would.  Installed by the
package's ``__init__``, so any worker that unpickles one of its kernels
skips the re-read from its next task on.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> stat key taken just before the directory now cached in
# zipimport._zip_directory_cache was read
_read_keys: dict[str, tuple[int, int, int]] = {}


def invalidate_caches(self) -> None:
    """Reload the file data of the archive path if the archive changed."""
    archive = self.archive
    try:
        st = os.stat(archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    files = zipimport._zip_directory_cache.get(archive)
    if key is not None and files is not None and _read_keys.get(archive) == key:
        self._files = files
        return
    # stat before read: a rewrite racing the read leaves a stale key, which
    # only forces one more re-read next time
    _stdlib_invalidate_caches(self)
    if key is not None and archive in zipimport._zip_directory_cache:
        _read_keys[archive] = key
    else:
        _read_keys.pop(archive, None)


def install() -> None:
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
