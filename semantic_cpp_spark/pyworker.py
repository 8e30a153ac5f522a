"""Python worker daemon for engine sessions: ``pyspark.daemon`` with a
zip-directory read only when the archive changed.

Every task a Python worker runs calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 that
makes every cached ``zipimporter`` re-parse its archive's whole central
directory (3.13 reads it lazily instead). A pandas-UDF worker holds 16
of them over ``pyspark.zip`` (1,328 entries, ~9.5 ms a read on a 4-vCPU
host) and the py4j zip: ~0.15 s of CPU per task for archives that never
change. Here ``invalidate_caches`` reads an archive again only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the last read, so a
file rewritten by ``addPyFile`` still becomes importable.
``session.get_spark`` binds this module as ``spark.python.daemon.module``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_STAMPS: dict[str, tuple[int, int, int] | None] = {}
_read = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """Read the archive's directory again only if the file changed since
    the last read; otherwise reuse the directory cached for it."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _STAMPS.get(self.archive) == stamp:
        self._files = cached
        return
    # stamp taken before the read: a rewrite during the read leaves an old
    # stamp, so the next call reads again
    _read(self)
    _STAMPS[self.archive] = stamp


def install() -> None:
    """Route every zipimporter's ``invalidate_caches`` through the guard."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    from pyspark import daemon

    install()
    # one read per archive here, inherited by every forked worker
    importlib.invalidate_caches()
    daemon.manager()
