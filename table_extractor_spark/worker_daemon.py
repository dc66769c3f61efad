"""PySpark daemon wrapper: every Python worker skips the per-task zip re-read.

Before every task, a reused PySpark worker calls
``importlib.invalidate_caches()``; before Python 3.12 that eagerly re-reads
the central directory of each ``zipimporter`` on ``sys.path`` (16 of them
over pyspark.zip, the py4j zip and the Spark jar), ~160 ms of CPU per task
on a 4-vCPU VM against ~1 ms for an empty ``mapInArrow`` body.
``install_lazy_zip_invalidation`` replaces it with one that re-reads an
archive only when its ``(st_mtime_ns, st_size, st_ino)`` changed.

Run as ``python -m table_extractor_spark.worker_daemon <worker module>``
(``spark.python.daemon.module``, set by ``session.build_session``), it
installs the replacement in the daemon and then runs ``pyspark.daemon``,
so every worker the daemon forks, whatever its task runs, inherits it.
Only the standard library is imported before ``pyspark.daemon``: the
daemon must start even where the rest of the package cannot be imported.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install_lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when its ``(st_mtime_ns, st_size, st_ino)`` changed since its last
    read, so new ``--py-files`` are still seen.  Python 3.12 made that
    invalidation lazy (CPython gh-103200), so there this does nothing.
    Idempotent.  Process-wide: callers install it only in Python workers
    (the daemon here, ``plans/extract._parse_batches`` inside a Spark task),
    so the driver and the Spark-free kernel keep the stock behaviour."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or hasattr(cls.invalidate_caches, "stat_keyed"):
        return
    reread = cls.invalidate_caches
    read_at: dict = {}  # archive path -> stat key when its directory was read

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        if key is not None and read_at.get(self.archive) == key:
            files = zipimport._zip_directory_cache.get(self.archive)
            if files is not None:
                self._files = files
                return
        reread(self)
        # stat taken BEFORE the read: a rewrite racing the read leaves a
        # stale key behind, which only costs one more read next time
        read_at[self.archive] = key

    invalidate_caches.stat_keyed = True
    cls.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import runpy

    install_lazy_zip_invalidation()
    # pyspark.daemon reads the worker module from sys.argv[1], untouched here
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
