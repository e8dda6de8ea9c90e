"""Python-worker daemon entry for local masters: pyspark's own daemon, run
after installing a lazy zipimport invalidation.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Before Python 3.13 that
makes each ``zipimporter`` on the worker path re-read its archive's whole
central directory, and the path holds pyspark.zip (~1.3k entries) and the
spark-core jar (~5.4k entries): 0.14-0.31 s of CPU per task. Python 3.13
made the invalidation lazy (it drops the cached directory and reads it
again only when an import needs it); this module makes it lazy on older
versions by skipping the re-read while the archive's (mtime, size) is
unchanged, so a zip rewritten in place or removed is still re-read. On
3.13+ it changes nothing.

Run as ``python -m discogs_load_spark.pydaemon`` through
``spark.python.daemon.module`` (``session.get_spark`` sets it).
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def lazy_invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive's (mtime, size) changed since this
    importer last re-read it. A missing archive is handed to the original,
    which drops its entries."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = lazy_invalidate_caches
    from pyspark.daemon import manager

    manager()
