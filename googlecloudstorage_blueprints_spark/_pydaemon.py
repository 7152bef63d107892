"""Python-worker daemon entry for local engine sessions.

Spark starts one daemon per executor
(``python -m <spark.python.daemon.module>``) and forks every Python worker
from it.  This entry installs a guard on
``zipimport.zipimporter.invalidate_caches`` and then hands over to
``pyspark.daemon.manager()``, so every forked worker inherits the guard.

Why: each Python task calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py`` ``setup_spark_files``).  Workers import pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip`` and hold one zipimporter per
imported pyspark sub-package, and on CPython 3.11 each of them re-reads the
archive's whole central directory on every invalidate — 130–220 ms per
task for a 1,328-entry archive.  The guard re-reads an archive only when
its (inode, size, mtime_ns) differs from the last read, so a rewritten
archive is still picked up.

``pyspark.daemon`` only honours worker modules named ``pyspark*``
(``spark.python.worker.module``), which is why the hook lives in the daemon
module instead.  ``session.get_spark`` points local sessions here.
"""

from __future__ import annotations

import importlib
import os
import zipimport

__all__ = ["install_zip_guard", "guard_installed", "main"]

_ORIGINAL = zipimport.zipimporter.invalidate_caches

# archive path -> (stat signature, directory dict) of its last guarded
# read; per process, like zipimport's own ``_zip_directory_cache``
_READ: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _signature(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _guarded_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives.

    The signature is taken before the read, so an archive rewritten
    during a read carries a stale signature and is read again next time.
    An archive that cannot be stat'ed (missing) falls through to the
    original method, which drops it from the directory cache.
    """
    try:
        sig = _signature(self.archive)
    except OSError:
        _READ.pop(self.archive, None)
        return _ORIGINAL(self)
    seen = _READ.get(self.archive)
    if seen is not None and seen[0] == sig:
        # same bytes as the last read: share that directory (importers of
        # one archive's sub-packages all read the same central directory)
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]
        return None
    _ORIGINAL(self)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None:
        _READ[self.archive] = (sig, files)
    return None


def install_zip_guard() -> None:
    """Install the stat-guarded ``invalidate_caches`` (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate_caches


def guard_installed() -> bool:
    """Whether this process's zipimporters use the guard."""
    return (
        zipimport.zipimporter.invalidate_caches is _guarded_invalidate_caches
    )


def main() -> None:
    install_zip_guard()
    from pyspark import daemon  # imports pyspark.worker and its packages

    # read each cached archive once here: forked workers inherit the
    # signatures and re-read nothing until an archive changes
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run the package-named copy, so a worker that imports this module
    # finds the guard it inherited
    importlib.import_module(
        "googlecloudstorage_blueprints_spark._pydaemon"
    ).main()
