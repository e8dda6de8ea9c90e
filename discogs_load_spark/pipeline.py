"""End-to-end ETL pipeline: XML dumps → shredded tables → sink.

The Spark dual of the reference's main entry point (main.rs:42-107): for
each input file, sniff the dump kind, parse, shred, and write. Differences
by design:

- ONE read pass per file (the reference reads each file twice);
- parse/shred/write is a distributed lazy plan, not a single-threaded loop;
- sinks are pluggable: parquet lake (default, the 100 TB path) and/or
  Postgres (JDBC or COPY) for serving parity with the reference.
"""

from __future__ import annotations

import argparse
import atexit
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from .operators.shred import first_wins_records, shred
from .session import get_spark
from .sinks.files import write_parquet
from .sinks.postgres import write_jdbc
from .sources.gzip_shard import preshard_gzip_dump
from .sources.xml_source import read_dump, sniff_root_tag

# A single gzip this large is one parse task (gzip is unsplittable); above
# it, the one-pass record-aligned pre-split pays for itself immediately.
AUTO_SHARD_MIN_BYTES = 256 << 20

# Introspection for callers/tests that need to assert the pre-shard path
# actually ran (e.g. q170's lineage guard): {kind: shard paths} from the
# most recent load_dumps call that pre-sharded anything.
LAST_PRESHARD: dict[str, list[str]] = {}


def load_dumps(
    spark: SparkSession,
    files: list[str],
    parquet_dir: str | None = None,
    jdbc: dict | None = None,
    shard_target_bytes: int = 64 << 20,
    shard_min_bytes: int = AUTO_SHARD_MIN_BYTES,
) -> dict[str, DataFrame]:
    """Parse + shred every dump file; write each table to the given sinks.

    Returns {table_name: DataFrame}, lazy over the dumps. Multiple files of
    the same kind are one scan (e.g. a dump split into shards — the scale
    path for unsplittable gzip). A MONOLITHIC local gzip dump of at least
    ``shard_min_bytes`` (compressed) is pre-split into record-aligned gzip
    shards first (sources/gzip_shard.py), so a 10 GB single-file dump
    parses with N tasks instead of one; a ``shard_min_bytes`` above the
    file's size reads it whole. The shard scratch dir is removed at
    interpreter exit, so frames returned over shards live only as long as
    the process.

    While a kind that fans out into several tables (releases, masters) is
    written, its first-wins record frame is persisted, so the XML is parsed
    once, not once per table (the reference's single pass). The frame is
    released before returning: the session's cache holds nothing
    afterwards, and a dump rewritten in place is read afresh by the next
    call. With no sink nothing is persisted, so a caller consuming one
    table keeps the XML scan's column pruning."""
    import tempfile

    by_kind: dict[str, list[str]] = {}
    for path in files:
        by_kind.setdefault(sniff_root_tag(path), []).append(path)

    LAST_PRESHARD.clear()
    for kind, paths in by_kind.items():
        # local files only: the pre-sharder streams through gzip.open /
        # os.path.getsize, which don't speak object-store URIs (remote
        # dumps should be sharded where they live, once, at landing)
        if (
            len(paths) == 1
            and paths[0].endswith(".gz")
            and os.path.isfile(paths[0])
            and os.path.getsize(paths[0]) >= shard_min_bytes
        ):
            shard_dir = tempfile.mkdtemp(prefix=f"preshard_{kind}_")
            # shards are scratch (~dump-sized): without cleanup every
            # load_dumps call would leak a re-compressed copy of the
            # dump in TMPDIR for the life of the machine
            atexit.register(shutil.rmtree, shard_dir, True)
            by_kind[kind] = LAST_PRESHARD[kind] = preshard_gzip_dump(
                paths[0], shard_dir, shard_target_bytes, kind
            )

    tables: dict[str, DataFrame] = {}
    for kind, paths in by_kind.items():
        records = first_wins_records(read_dump(spark, paths, kind), kind)
        shredded = shred(records, kind)
        # the cache is matched when each write is planned, so persisting
        # after the tables are derived still serves every one of them
        cache = bool(parquet_dir or jdbc) and len(shredded) > 1
        if cache:
            records.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            for name, df in shredded.items():
                if parquet_dir:
                    write_parquet(df, f"{parquet_dir}/{name}")
                if jdbc:
                    write_jdbc(df, name, **jdbc)
        finally:
            if cache:
                records.unpersist()
        tables.update(shredded)
    return tables


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="Load Discogs XML dumps")
    ap.add_argument("files", nargs="+")
    ap.add_argument("--parquet-dir", default=None)
    ap.add_argument("--jdbc-url", default=None)
    ap.add_argument("--jdbc-user", default="dev")
    ap.add_argument("--jdbc-password", default="")
    args = ap.parse_args(argv)

    spark = get_spark(app_name="discogs_load")
    jdbc = (
        {"url": args.jdbc_url, "user": args.jdbc_user, "password": args.jdbc_password}
        if args.jdbc_url
        else None
    )
    tables = load_dumps(spark, args.files, parquet_dir=args.parquet_dir, jdbc=jdbc)
    for name, df in tables.items():
        # count the landed table: the returned frame would re-parse the dump
        if args.parquet_dir:
            df = spark.read.parquet(f"{args.parquet_dir}/{name}")
        print(f"{name}: {df.count()} rows")


if __name__ == "__main__":
    main()
