"""Python-worker daemon for the engine's sessions: ``pyspark.daemon`` with a
zip-import guard installed first.

:func:`map_reduce_go_spark.session.get_spark` selects this module through
``spark.python.daemon.module``. Spark runs it as ``python -m
map_reduce_go_spark.pyworker <worker module>``; it installs the guard, then
hands over to ``pyspark.daemon.manager()``, which forks the Python
workers. They inherit the guard.

Why: before every task, ``pyspark.worker`` calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``). Below
CPython 3.13 that makes every cached ``zipimporter`` re-read its archive's
central directory at once, and Spark's own ``pyspark.zip`` sits behind one
importer per package imported from it: after ``import pyspark.worker``
alone one call made 14 reads, ~190 ms on a 4-vCPU VM, and a task's pandas
and SQL imports add more. The guard re-reads an archive only when its
``(st_ino, st_size, st_mtime_ns)`` differs from the last read in the
process, so a changed or added zip (``addPyFile``) is still picked up.
CPython 3.13 made the re-read lazy; there the guard installs nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install_zip_guard() -> None:
    """Replace ``zipimporter.invalidate_caches`` with a version that skips
    the re-read of an unchanged archive. Idempotent; a no-op on CPython
    3.13 and later."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if reread.__module__ == __name__:
        return
    # Archive path -> stamp taken just before its last re-read here.
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and read_at.get(self.archive) == stamp:
            # Another importer of this archive may have re-read it: share
            # that directory rather than keep a stale one.
            self._files = files
            return
        reread(self)
        # Stamped before the read, so a write during the read shows as a
        # change next time.
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            read_at[self.archive] = stamp
        else:
            read_at.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    install_zip_guard()
    # One re-read of each archive here stamps it, so the forked workers
    # start with current directories and skip even their first re-read.
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # Run under the module's import name, not ``__main__``, so the guard
    # is recognisable (and idempotent) by its ``__module__``.
    from map_reduce_go_spark import pyworker

    pyworker.main()
