"""Spark's Python worker daemon, with zip archives re-read only when they
change.

At the start of every task pyspark's worker calls
``importlib.invalidate_caches()``. On Python < 3.13 that makes every
``zipimporter`` re-read its archive's whole central directory in pure
Python: with pyspark.zip, the py4j zip and the spark-core jar on the
worker's ``sys.path`` (16 importers) it costs about 0.2 s of CPU per
task. ``install`` wraps ``zipimporter.invalidate_caches`` so an importer
re-reads its archive only when the archive's (mtime, size, inode)
changed since that importer last read it. Run as a module, this installs
the guard and then runs ``pyspark.daemon``'s manager, whose forked
workers inherit it (``session.get_spark`` sets
``spark.python.daemon.module`` to this module).
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    """Guard ``zipimporter.invalidate_caches``; Python ≥ 3.13 only drops
    the cache there, so nothing is installed."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        # stat before reading: an archive rewritten during the read
        # leaves an older stamp, so the next call reads it again
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    import importlib

    from pyspark import daemon

    # stamp the importers every forked worker inherits
    importlib.invalidate_caches()
    daemon.manager()
