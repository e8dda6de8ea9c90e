"""Lake-file sink: parquet (primary at scale) + bucketed tables, and the
one way an on-disk copy is keyed and landed.

CSV/JSON/ORC interchange is exercised directly by the declared queries
(q101/q162) through the DataFrame writer API — no wrapper indirection.

Every copy derived from a fixture table (the ingest artifacts, the query
surface's lake and stream copies, the session's re-shard cache) is keyed
by :func:`file_identity` and written by :func:`land`, so "is it current?"
and "is it complete?" have one answer each. The module imports nothing
from the package, so ``session`` can use it without registering the
query surface.

At 100 TB the relational store is the *serving* layer; the engine's primary
output is partitioned parquet that later stages (and the query surface) scan
with pushdown. ``bucket_by`` enables shuffle-free joins on the bucket key for
downstream consumers.
"""

from __future__ import annotations

import os
import shutil
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
    ``rebuild`` replaces an existing ``dest``."""
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
    return dest


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: co-locates rows by key so later equi-joins on
    ``bucket_col`` skip the shuffle entirely (SortMergeJoin with no
    Exchange). The lake analogue of the reference's b-tree join indexes
    (sql/indexes.sql:7-16)."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(name)
    )
