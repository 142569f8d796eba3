"""Keep a reused pyspark worker from re-reading its zip archives every task.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py`` ``setup_spark_files``). Before
CPython 3.12 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central
directory. A worker holds ~16 importers on ``pyspark.zip`` (3.5 MB,
1,328 entries), so a trivial task spent ~80% of its worker CPU
(0.15-0.27 s) re-reading one unchanged file. CPython 3.12 made the
invalidation lazy.

``install`` (run when the package is imported, so in every worker that
has unpickled an engine kernel) gives 3.11 the same cost: an importer
re-reads its archive only when the archive's stat stamp
``(st_mtime_ns, st_size, st_ino)`` differs from the one taken before its
last read. Importers of one archive share one read per stamp, as they
already share ``zipimport._zip_directory_cache``. A changed or replaced
archive (``addPyFile``, ``--py-files``) is still re-read.
"""

from __future__ import annotations

import os
import sys


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (idempotent; a no-op on
    CPython 3.12+)."""
    if sys.version_info >= (3, 12):
        return
    import zipimport

    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "stamped", False):
        return
    reread = cls.invalidate_caches
    last: dict = {}  # archive -> (stamp, files) of its last read

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is not None and getattr(self, "_stamp", None) == stamp:
            return
        seen = last.get(self.archive)
        if stamp is not None and seen is not None and seen[0] == stamp:
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
        else:
            reread(self)
            last[self.archive] = (stamp, self._files)
        self._stamp = stamp

    invalidate_caches.stamped = True
    invalidate_caches.__doc__ = reread.__doc__
    cls.invalidate_caches = invalidate_caches
