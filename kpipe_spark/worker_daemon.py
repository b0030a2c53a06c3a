"""Python-worker daemon: pyspark's own daemon with a cheap zip-cache check.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task. On CPython before 3.13, ``zipimporter.invalidate_caches`` re-reads
the whole central directory of its archive, and a worker holds about
sixteen zipimporters over ``pyspark.zip`` (1,328 entries) — about
0.15 s per task before user code starts. ``invalidate_caches`` below
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed
since this importer last read it, or when ``stat`` fails. Run as the
daemon, the module installs it and stamps every importer once before
forking, so the workers inherit both. ``get_spark`` selects this module
with ``spark.python.daemon.module``.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        self._archive_stamp = None
        return _reread(self)
    stamp = (st.st_mtime_ns, st.st_size)
    if getattr(self, "_archive_stamp", None) != stamp:
        _reread(self)
        self._archive_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    importlib.invalidate_caches()
    daemon.manager()
