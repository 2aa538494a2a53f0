"""Keep a Python worker from re-reading unchanged zip archives every task.

PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every Python task. On
Python 3.11 ``zipimporter.invalidate_caches`` re-reads its archive's whole
central directory right away, once per cached importer; a warm worker holds
17–22 of them (``pyspark.zip`` and its subpackages, the py4j zip, the
``spark-core`` jar, the package zip), which cost 0.12–0.14 s of CPU per
task on a 4-core x86 box, whatever the task's rows.

``install()`` wraps that method. An importer whose archive has the same
``(st_mtime_ns, st_size, st_ino)`` as at its last read in this process, and
whose directory ``zipimport._zip_directory_cache`` still holds, keeps that
directory. Anything else (a first call, a rewritten, replaced or removed
archive) takes the original method, so a change is still picked up.
Stdlib only: the package ``__init__`` calls it, which every worker that
unpickles a package function runs.
"""

from __future__ import annotations

import functools
import os
import zipimport


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process; a no-op
    where ``zipimport`` has no directory cache (another Python)."""
    cache = getattr(zipimport, "_zip_directory_cache", None)
    original = zipimport.zipimporter.invalidate_caches
    if not isinstance(cache, dict) or hasattr(original, "__wrapped__"):
        return
    read_at: dict[str, tuple] = {}  # archive -> stat key taken before its last read

    @functools.wraps(original)
    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        original(self)
        # The key was taken before the read: a write racing the read
        # leaves a key that no longer matches, so the next call re-reads.
        if key is not None and self.archive in cache:
            read_at[self.archive] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches
