"""Lake-file sink: parquet (primary at scale) + bucketed tables, and the
one on-disk lifecycle of every directory the engine writes.

CSV/JSON/ORC interchange is exercised directly by the declared queries
(q101/q162) through the DataFrame writer API — no wrapper indirection.

Each kind of directory is published, found and retired here, and only
here:

- a keyed copy (ingest artifacts, the query surface's lake and stream
  copies, the session's re-shard cache, q132's bucketed tables) is named
  ``<prefix><key>`` with a 16-hex key built from :func:`file_identity`,
  published once by :func:`land` (write aside, then rename) and retired
  by :func:`sweep_superseded`, which ``land`` runs whenever it builds;
- a generation store (the refreshed centroids, the streamed index
  maintainers' landings) lands each generation through :func:`land`,
  points to it with a ``CURRENT`` file (:func:`swap_pointer`,
  :func:`read_pointer`) and retires the others with
  :func:`sweep_generations`;
- scratch (a drain's landing and checkpoint, the ingest's gzip
  pre-shards) comes from :func:`scratch_dir` and is removed when the
  process that made it exits.

The module imports nothing from the package, so ``session`` can use it
without registering the query surface.

At 100 TB the relational store is the *serving* layer; the engine's primary
output is partitioned parquet that later stages (and the query surface) scan
with pushdown. ``bucket_by`` enables shuffle-free joins on the bucket key for
downstream consumers.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
import time
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame


class FileIdentity(NamedTuple):
    path: str
    size: int
    mtime_ns: int


def file_identity(path: str) -> FileIdentity:
    """A file's identity: absolute path, size and mtime in nanoseconds.
    A file rewritten in place changes it even within the same second, so
    a key built from it never serves a copy of the old contents."""
    path = os.path.abspath(path)
    st = os.stat(path)
    return FileIdentity(path, st.st_size, st.st_mtime_ns)


def land(dest: str, write: Callable[[str], None], rebuild: bool = False) -> str:
    """Write ``dest`` once and return it. ``write(tmp)`` fills
    ``<dest>.tmp.<pid>``, which is then renamed into place, so a directory
    at ``dest`` is always complete: a write that fails leaves nothing
    there, and the loser of a concurrent build discards its copy.
    ``rebuild`` replaces an existing ``dest``. A build also retires
    ``dest``'s superseded siblings (:func:`sweep_superseded`)."""
    if os.path.isdir(dest) and not rebuild:
        return dest
    tmp = f"{dest}.tmp.{os.getpid()}"
    try:
        write(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        if rebuild and os.path.isdir(dest):
            shutil.rmtree(dest)
        os.rename(tmp, dest)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # lost a concurrent race
    sweep_superseded(dest)
    return dest


# a superseded copy is removed once it is this old, so a process still
# reading it (it resolved its path before the fixture changed) is not cut
# off, and each fixture regeneration leaks at most one copy per name
STALE_COPY_S = 3600


def sweep_superseded(dest: str) -> None:
    """Remove ``dest``'s siblings named ``<prefix><key>`` (superseded
    copies, and crashed builds' ``<prefix><key>.tmp.<pid>`` dirs) older
    than ``STALE_COPY_S``, where ``<prefix>`` is ``dest``'s name before
    its trailing 16-hex key. The rest of a sibling's name must be a key,
    so a fixture dir whose name extends this one ('sf0.1_x' beside
    'sf0.1') keeps its copies. A name without a trailing key sweeps
    nothing."""
    root, name = os.path.split(dest)
    keyed = re.fullmatch(r"(.*)[0-9a-f]{16}", name)
    if not keyed:
        return
    sibling = re.compile(re.escape(keyed[1]) + r"[0-9a-f]{16}(\.tmp\.\d+)?")
    now = time.time_ns()
    for entry in os.listdir(root):
        stale = os.path.join(root, entry)
        try:
            if (
                entry != name
                and sibling.fullmatch(entry)
                and now - file_identity(stale).mtime_ns > STALE_COPY_S * 10**9
            ):
                shutil.rmtree(stale)
        except OSError:
            pass  # removed by a concurrent build


def read_pointer(root: str) -> str | None:
    """The generation name ``<root>/CURRENT`` holds, or None before the
    first swap. A reader resolves it once and reads that directory: a
    swap never changes a generation in place."""
    try:
        with open(os.path.join(root, "CURRENT"), encoding="utf-8") as f:
            return f.read().strip()
    except OSError:
        return None


def swap_pointer(root: str, name: str) -> None:
    """Point ``<root>/CURRENT`` at ``name``: write aside, then
    ``os.replace`` (atomic on POSIX), so a concurrent reader sees exactly
    the old or the new name, never a partial write."""
    ptr = os.path.join(root, "CURRENT")
    tmp = f"{ptr}.tmp.{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(name)
    os.replace(tmp, ptr)


def sweep_generations(root: str) -> None:
    """Remove every directory under ``root`` but the generation
    ``CURRENT`` names: superseded generations and crashed landings'
    ``.tmp.<pid>`` dirs. ``_``-prefixed entries (a drain's ``_chk``)
    stay. Run it only after the swap, so an in-flight reader of the old
    generation is cut off no earlier than a new reader can start."""
    cur = read_pointer(root)
    for entry in os.listdir(root):
        path = os.path.join(root, entry)
        if entry != cur and not entry.startswith("_") and os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A new directory under TMPDIR, removed when the process that made
    it exits. A forked child's exit removes nothing of its parent's. A
    frame read from it lives as long as the process."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(_remove_scratch, path, os.getpid())
    return path


def _remove_scratch(path: str, owner: int) -> None:
    if os.getpid() == owner:
        shutil.rmtree(path, ignore_errors=True)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int = 64,
) -> None:
    """Bucketed managed table: co-locates rows by key so later equi-joins on
    ``bucket_col`` skip the shuffle entirely (SortMergeJoin with no
    Exchange). The lake analogue of the reference's b-tree join indexes
    (sql/indexes.sql:7-16)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(name)
    )
