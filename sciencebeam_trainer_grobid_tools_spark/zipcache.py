"""Stat-guarded zip directory reloads for PySpark's Python workers.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  On CPython 3.11
that makes every cached ``zipimport.zipimporter`` re-read its archive's
central directory in pure Python: pyspark.zip has 1,328 entries and a worker
holds about 14 importers for it and its subpackages, which cost 166-199 ms
per task on a 4-vCPU host.  CPython 3.12 made the reload lazy.

``install`` wraps ``zipimporter.invalidate_caches`` so that an importer
re-reads its archive only when the archive's ``(st_mtime_ns, st_size,
st_ino)`` changed since that importer last re-read it, or when ``stat``
fails.  An importer's first call always re-reads.  An archive that is
rewritten (new ``--py-files`` content) is therefore still picked up by the
next task.

The package installs the guard on import in a PySpark worker only
(``install_in_worker``): never in the Spark driver or in a plain Python
process.
"""

from __future__ import annotations

import os
import sys
import weakref
import zipimport


def _stat_key(path: str) -> tuple:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def is_installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` in this process (idempotent)."""
    if is_installed():
        return
    original = zipimport.zipimporter.invalidate_caches
    # importer -> stat key of its archive when it last re-read it
    seen = weakref.WeakKeyDictionary()

    def invalidate_caches(self):
        try:
            # stat before the re-read: a rewrite in between leaves an older
            # key, so the next call re-reads again rather than never
            key = _stat_key(self.archive)
        except OSError:
            seen.pop(self, None)
            original(self)
            return
        if seen.get(self) != key:
            original(self)
            seen[self] = key

    invalidate_caches.stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def install_in_worker() -> None:
    """``install`` if this process is a PySpark Python worker.

    ``pyspark.daemon`` imports ``pyspark.worker`` before it forks the
    workers, so the module is present in every daemon-forked worker and
    absent in the Spark driver."""
    if "pyspark.worker" in sys.modules:
        install()
