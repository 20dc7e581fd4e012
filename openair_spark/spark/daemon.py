"""PySpark worker daemon whose workers skip re-reading unchanged zip archives.

Every Python task starts with `importlib.invalidate_caches()`
(`pyspark.worker_util.setup_spark_files`). Where the stdlib's
`zipimport.zipimporter.invalidate_caches` re-reads its archive's central
directory on the spot (CPython 3.11 does), that costs each task 0.2-0.3 s
of CPU: a worker caches 16 such importers, over pyspark.zip, the py4j zip and
the spark-core jar. Here an importer re-reads only when its archive's
(st_mtime_ns, st_size) changed since it last read it, so a rewritten
archive is still picked up. Stdlibs that re-read lazily (`_get_files`)
keep the stock method.

Started by the JVM through `spark.python.daemon.module` (see
`spark/session.py`); the daemon patches itself before it forks, so every
worker inherits the patch.
"""

from __future__ import annotations

import importlib
import os
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def stat_gated(reread):
    """Wrap a zipimporter `invalidate_caches` so that it calls `reread`
    only when the archive changed since this importer last read it."""

    def invalidate_caches(self):
        stamp = _stamp(self.archive)  # before the read: a later rewrite shows
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    return invalidate_caches


def install() -> None:
    """Patch `zipimporter.invalidate_caches` in this process."""
    cls = zipimport.zipimporter
    if not hasattr(cls, "_get_files"):
        cls.invalidate_caches = stat_gated(cls.invalidate_caches)


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager  # imports pyspark.worker too

    importlib.invalidate_caches()  # stamp every importer the workers inherit
    manager()
