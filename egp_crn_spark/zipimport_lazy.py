"""Lazy ``zipimporter.invalidate_caches`` for CPython below 3.13.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py:144``, in ``setup_spark_files``).
That calls ``invalidate_caches`` on every importer in
``sys.path_importer_cache``. Below 3.13, ``zipimporter.invalidate_caches``
re-reads the archive's central directory at once (CPython 3.11.7
``Lib/zipimport.py:329-336``); 3.13 only drops the cached directory and
reads it again when an import next needs it (CPython 3.13.0
``Lib/zipimport.py:276-278``). A reused worker holds about 17
zipimporters: 11 over ``pyspark.zip`` (1,328 entries), 2 over the Spark
core jar that Spark puts on the worker path (5,359 entries), 2 over the
py4j zip and this package's own zip. Every task therefore parsed about
25k directory records in pure Python, 0.13-0.25 s, before any engine
code ran.

``install()`` replaces the method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size, st_ino)`` differ from the values
recorded at the last read of that archive; otherwise the importer keeps
(or adopts) the directory of that read. The record is per archive, as
``zipimport._zip_directory_cache`` is: every importer over one archive
shares one directory dict, so one read serves them all. A rewritten,
replaced or removed archive goes through the original eager method, so
its importers see the new entries exactly as before.

This is chosen over a backport of 3.13's lazy ``_files``: in 3.11
``find_spec``, ``get_data`` and the module loaders read ``self._files``
directly, so the backport would have to turn the attribute into a class
property, and the first import after each task's invalidation would
still re-read every archive ahead of the module on ``sys.path``, once per
task. The stat check costs one ``os.stat`` per importer and reads
nothing while nothing changed.

The package's ``__init__`` calls ``install()``, so a Python worker
installs it the first time it unpickles any engine kernel, and it lasts
for the life of the reused worker. On 3.13 and later it does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stat key at the last read, the directory that read made)
_LAST_READ: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stat_key(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Install the lazy method on ``zipimport.zipimporter``, once; on
    3.13 and later, do nothing."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or getattr(cls.invalidate_caches, "_lazy", False):
        return
    eager = cls.invalidate_caches

    def invalidate_caches(self):
        """Re-read the archive's directory only if the archive changed
        since its last read (module docstring)."""
        archive = self.archive
        try:
            key = _stat_key(archive)
        except OSError:  # gone: the eager method empties the importer
            _LAST_READ.pop(archive, None)
            eager(self)
            return
        last = _LAST_READ.get(archive)
        if last is not None and last[0] == key:
            self._files = zipimport._zip_directory_cache[archive] = last[1]
            return
        # stat before the read: a write racing it changes the key again,
        # so the next call re-reads rather than trusting a stale directory
        eager(self)
        if zipimport._zip_directory_cache.get(archive) is self._files:
            _LAST_READ[archive] = (key, self._files)
        else:  # not a readable zip: the eager method left it uncached
            _LAST_READ.pop(archive, None)

    invalidate_caches._lazy = True
    cls.invalidate_caches = invalidate_caches
