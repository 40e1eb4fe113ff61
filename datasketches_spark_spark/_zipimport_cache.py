"""Stop Python workers from re-reading unchanged zip archives on every task.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``), so that zip and
egg files shipped with ``addPyFile`` become importable. Workers import
pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``, and hold one
``zipimport.zipimporter`` per package directory they imported from it
(14-16 in a pandas-UDF worker). Before Python 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory on every call, once per zipimporter: 16 reads of pyspark.zip's
1,328 entries per task, ~14 ms of CPU each on a 4-core x86 host. There a
one-task no-op ``mapInPandas`` job took 0.47-0.64 s with the re-reads and
0.20-0.26 s without. Every sketch stage of the engine runs Python tasks
(the merge fold, the estimate UDFs, the map-side partials, the streaming
state folds), so each of them paid this.

Importing this module (the package does it first) replaces
``zipimporter.invalidate_caches`` with a version that skips the re-read
when the archive's ``(st_mtime_ns, st_size, st_ino)`` is the one it had
when this version last read it and the directory read then is still the
one in ``zipimport._zip_directory_cache``. Every other case, including the
first call for an archive, calls the original method, so a rewritten or
newly shipped archive is still picked up; that is why Spark makes the
call. A worker imports the package when it unpickles an engine UDF, so
from its next task on the re-reads are gone.

Python 3.13 made the invalidation lazy (gh-103200), and there the module
does nothing. Delete it once Python 3.13 is the minimum supported version.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _signature(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _make_invalidate_caches(original):
    # archive path -> (stat signature, directory dict) of this wrapper's
    # last read; process-wide, like zipimport._zip_directory_cache
    last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self):
        """Reload the file data of the archive path, unless the archive
        is unchanged since this method last read it."""
        archive = self.archive
        sig = _signature(archive)
        files = zipimport._zip_directory_cache.get(archive)
        last = last_read.get(archive)
        if last is not None and last[0] == sig and last[1] is files:
            self._files = files
            return
        # the signature is taken before the read, and the directory kept
        # is the one this read produced: a change or another thread racing
        # the read makes the next call re-read rather than miss it
        original(self)
        files = self._files
        if sig is None or zipimport._zip_directory_cache.get(archive) \
                is not files:
            last_read.pop(archive, None)
        else:
            last_read[archive] = (sig, files)

    invalidate_caches.original = original
    return invalidate_caches


def _install() -> None:
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13):
        return
    current = cls.invalidate_caches
    # a reload of this module replaces its own wrapper instead of wrapping it
    cls.invalidate_caches = _make_invalidate_caches(
        getattr(current, "original", current))


_install()
