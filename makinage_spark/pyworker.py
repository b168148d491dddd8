"""Spark's Python worker daemon, reading each zip directory once.

In local mode ``session.get_spark`` names this module as
``spark.python.daemon.module``, so Spark starts
``python -m makinage_spark.pyworker pyspark.worker`` and ``pyspark.daemon``
forks every Python worker from that process. Starting it imports the whole
``makinage_spark`` package (pandas and pyarrow with it) once, in the daemon,
before any worker forks.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:setup_spark_files``). Before CPython 3.12 that makes
each cached ``zipimporter`` re-parse the whole central directory of its
archive: ``pyspark.zip`` holds 1 328 entries and a worker caches 16 importers
of it. Here an importer re-reads its archive only when the archive changed on
disk, judged by its (inode, size, mtime) stamp, and otherwise takes the
directory already parsed. That is CPython 3.12's lazy behaviour, and a
rewritten ``addPyFile`` zip is still picked up.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int] | None] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stamped before the read: an archive rewritten during it reads again next time
    _stamps[self.archive] = stamp
    _reread(self)


def main() -> None:
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # stamp every archive here, once, so forked workers start with them
        importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
