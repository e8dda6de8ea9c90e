"""Python-worker daemon entry for local masters: pyspark's own daemon, run
after preloading pandas and pyarrow and installing a lazy zipimport
invalidation.

Every Arrow seam (mapInPandas, Arrow UDFs) imports pandas and pyarrow in
the worker; a worker forked from a daemon that imported them once shares
those modules' pages with it and skips the import. ``gc.freeze()`` moves
the daemon's objects out of the collector's reach, so a worker's
collections do not write to (and un-share) them. The imports start
threads (numpy's BLAS pool, pyarrow's jemalloc background thread); both
libraries register fork handlers, and a forked worker computes with
them as before (``tests/test_session.py``).

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Before Python 3.13 that
makes each ``zipimporter`` on the worker path re-read its archive's whole
central directory, and the path holds pyspark.zip (~1.3k entries) and the
spark-core jar (~5.4k entries): 0.14-0.31 s of CPU per task. Python 3.13
made the invalidation lazy (it drops the cached directory and reads it
again only when an import needs it); this module makes it lazy on older
versions by skipping the re-read while the archive's (mtime, size) is
unchanged, so a zip rewritten in place or removed is still re-read. The
daemon stamps its importers once before forking, so a worker's first task
skips the re-read as well. On 3.13+ only the preload applies.

Run as ``python -m discogs_load_spark.pydaemon`` through
``spark.python.daemon.module`` (``session.get_spark`` sets it).
"""

from __future__ import annotations

import gc
import importlib
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
    import pandas  # noqa: F401  (preloaded for every forked worker)
    import pyarrow  # noqa: F401
    from pyspark.daemon import manager

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = lazy_invalidate_caches
        # stamp every importer the daemon holds: the workers it forks
        # inherit the stamps and skip the re-read on their first task too
        importlib.invalidate_caches()
    gc.freeze()
    manager()
