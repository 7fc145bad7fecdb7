"""Python worker daemon: ``pyspark.daemon`` without the per-task zip re-read.

Spark starts this module in place of ``pyspark.daemon`` (the session
conf set in ``session.get_session``), and the daemon forks every Python
worker of the session. Each worker task begins in
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. On CPython < 3.13 that makes every
``zipimport.zipimporter`` on the import path re-read its archive's
central directory at once: 16 importers over ``pyspark.zip``, the Spark
core jar and the py4j zip, 26,672 entries, 0.15-0.2 s per task on a
4-CPU host. CPython 3.13 made the re-read lazy.

Run as ``__main__`` on CPython < 3.13, this module gives the workers the
same economy: ``invalidate_caches`` re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the importer's last read, then it
hands over to ``pyspark.daemon.manager()``, so every forked worker inherits
the wrapper. Importing the module patches nothing.
"""

from __future__ import annotations

import os
import zipimport


def stamped_invalidate_caches(stock):
    """``zipimporter.invalidate_caches`` that skips the re-read of an
    unchanged archive. ``stock`` is the original method. An importer
    re-reads when the archive's ``(st_mtime_ns, st_size)`` differs from
    the stamp of its last successful re-read, or when it has none; an
    archive that cannot be ``stat``-ed takes the stock path."""

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        stamp = (st.st_mtime_ns, st.st_size)
        if getattr(self, "_read_stamp", None) == stamp:
            return
        # stat before the read: an archive rewritten in between keeps the
        # old stamp and is read again on the next call
        stock(self)
        if self.archive in zipimport._zip_directory_cache:
            self._read_stamp = stamp

    return invalidate_caches


if __name__ == "__main__":
    import importlib
    import sys

    # the wrapper under its package name, so a worker reports it as such
    from cati_database_feeder_spark.pyworker import stamped_invalidate_caches

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = stamped_invalidate_caches(
            zipimport.zipimporter.invalidate_caches)
    from pyspark import daemon

    # one stock read per importer the daemon holds, stamped here, so the
    # first task of each forked worker skips it too
    importlib.invalidate_caches()
    daemon.manager()
