"""The Python worker daemon of the local sessions :func:`..session.get_spark`
pins: pyspark's own daemon, with each zip archive's directory kept
between tasks until the archive changes.

Before every task a Python worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 and older,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory right away; CPython 3.12 made that re-read lazy
(gh-103200). A worker imports pyspark from ``pyspark.zip`` through one
zipimporter per package dir, so each task parsed some 26k directory
entries again and again: about 250 ms of every Python task, more than
the work of a small scoring stage.

:func:`invalidate_caches` keeps what the call is for (an archive
rewritten between tasks is re-read, and a module added to it imports)
but re-reads an archive only when its ``(st_ino, st_mtime_ns, st_size)``
differs from the last read. The daemon installs it before it forks any
worker, and reads each archive once, so even a worker's first task
finds every directory current.

Spark starts the daemon as ``python -m prow_jobs_scraper_spark.daemon``
(``spark.python.daemon.module``).
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> its stamp when its directory was last read
_read_at: dict[str, tuple | None] = {}


def _stamp(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when it changed on disk since its directory was last read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if (stamp is not None and files is not None
            and _read_at.get(self.archive) == stamp):
        self._files = files
        return
    # stamped before the read: a change made during it shows next time
    _read_at[self.archive] = stamp
    _reread(self)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    import pyspark.daemon  # noqa: PLC0415 - imports the worker stack

    importlib.invalidate_caches()  # one read of each archive, pre-fork
    pyspark.daemon.manager()
