"""Keep zipimport's parsed archive directories across cache invalidation.

PySpark's Python worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark/worker_util.py:setup_spark_files``). Before CPython 3.13 each
``zipimporter`` then eagerly re-reads the whole central directory of its
archive. A worker that imports pyspark from ``pyspark.zip`` (1,328 entries)
holds one zipimporter per package directory inside the zip, so one task
re-parses the same directory 16 to 18 times: about 250 ms of CPU per task
on a 4-core x86 host, several times the cost of the session assembly the
task runs.

CPython 3.13 made the reload lazy and shared per archive
(``zipimport._get_files``). This module backports the part that matters
here: a zipimporter keeps its directory while ``os.stat`` of the archive
still shows the (mtime_ns, size, inode) it had when that directory was read,
and reloads exactly as before when the archive changed or vanished. The
stamp is taken before the read, so a change racing the read only costs one
more reload later. An in-place rewrite that keeps the size and lands
within the file system's timestamp granularity goes unseen, as it would
by any stat-based cache.

The package ``__init__`` installs it, so every Python worker that unpickles
an engine UDF has it from then on. It is idempotent and a no-op on
CPython >= 3.13.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path -> (stat stamp, the directory dict read under that stamp)
_stamps: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stat_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def installed() -> bool:
    """Whether ``zipimporter.invalidate_caches`` is the stat-guarded one."""
    return getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False)


def install() -> bool:
    """Guard ``zipimport.zipimporter.invalidate_caches`` by the archive's
    stat; return whether the guard is installed (always False on
    CPython >= 3.13, where it is not needed)."""
    if sys.version_info >= (3, 13):
        return False
    if installed():
        return True
    reload = zipimport.zipimporter.invalidate_caches

    @functools.wraps(reload)
    def invalidate_caches(self):
        archive = self.archive
        stamp = _stat_stamp(archive)
        files = zipimport._zip_directory_cache.get(archive)
        seen = _stamps.get(archive)
        if seen is not None and seen[0] == stamp and seen[1] is files:
            self._files = files
            return
        reload(self)
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and files is not None:
            _stamps[archive] = (stamp, files)

    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
