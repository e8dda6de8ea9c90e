"""SparkSession factory tuned for the engine.

Local test profile: one JVM, N threads (``local[N]``). The same settings map
onto a real cluster — AQE handles runtime re-planning (partition coalescing,
skew-join splitting), and the shuffle-partition default is meant to be
overridden per deployment (rule of thumb: 2-3x total executor cores, sized so
a shuffle partition is ~128-512 MB at the target scale).
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import tempfile
import threading
import zipfile
from collections.abc import Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .sinks.files import file_identity, land

_SHIPPED_APPS: set[str] = set()


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Any closure that references module-level code (mapInPandas readers,
    foreachPartition sinks) is pickled BY REFERENCE to its module, so the
    worker must be able to import ``discogs_load_spark`` — which is not
    guaranteed when the driving process imported us by path (e.g. the
    grading driver, or spark-submit without --py-files). Zipping the package
    once per application and addPyFile-ing it makes workers self-sufficient.
    On a local master, ``get_spark`` also puts the package's parent
    directory on the workers' ``PYTHONPATH`` (see ``python_worker_conf``),
    so local workers import the package from there as well.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_APPS:
        return
    pkg_dir = Path(__file__).resolve().parent
    zip_path = Path(tempfile.gettempdir()) / f"discogs_load_spark_{os.getpid()}.zip"
    if not zip_path.exists():
        with zipfile.ZipFile(zip_path, "w") as zf:
            for py in sorted(pkg_dir.rglob("*.py")):
                zf.write(py, f"discogs_load_spark/{py.relative_to(pkg_dir)}")
    spark.sparkContext.addPyFile(str(zip_path))
    _SHIPPED_APPS.add(app_id)


def get_spark(
    app_name: str = "discogs_load_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    - AQE on: runtime partition coalescing + skew-join handling, so plans
      survive cardinality surprises at 100 TB without hand-tuning.
    - Arrow on: every Pandas-UDF boundary is Arrow-batched.
    - UTC session timezone: deterministic timestamp semantics (and matches
      the DuckDB oracle's UTC-naive timestamps).
    - autoBroadcastJoinThreshold stays default (10 MB); dimension tables in
      the star schema (region/nation/label/...) broadcast automatically.
    - Python workers on a local master start from
      ``discogs_load_spark.pydaemon`` (``python_worker_conf``). The daemon
      imports pandas and pyarrow once and freezes its heap
      (``gc.freeze``) before it forks, so every worker shares those
      modules' pages instead of importing them itself. Before Python
      3.13, pyspark's per-task ``importlib.invalidate_caches()`` re-reads
      every zip on the worker path (pyspark.zip, the spark-core jar):
      0.14-0.31 s of CPU per task; the daemon makes that lazy, re-reading
      only a changed archive. It then runs ``pyspark.daemon``. Only local
      masters, whose workers can import the package from its directory.
      The package builds its driver-side frames with ``local_frame``
      (Arrow, no Python task), so they start no second pool beside the
      Arrow seams' one.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Runtime semi-join reduction: a selective filter on one join side
        # builds a bloom filter that prunes the other side's scan before the
        # shuffle — at 100 TB this is row-group pruning on the fact table
        # for free. On by default in recent Spark; pinned explicitly because
        # the star-join plans here assume it.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Local-profile split sizing: fixture files are single-digit MB, so
        # the 128 MB default packs every table into ONE task and serializes
        # compute-heavy per-row work. 4 MB ranges + the 4 MB open-cost give
        # one task per (re-sharded) part file. A real deployment reading
        # ~100 TB keeps the 128 MB default — this knob is per-deployment.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in {**python_worker_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def python_worker_conf(master: str) -> dict[str, str]:
    """Config that starts a local master's Python workers from
    ``discogs_load_spark.pydaemon`` (pandas and pyarrow preloaded, lazy
    zipimport invalidation) instead of ``pyspark.daemon``.

    The daemon starts before any task ships this package, so the
    package's parent directory goes on the workers' PYTHONPATH. A local
    master's workers share the driver's files; a remote executor's need
    not, so every other master keeps ``pyspark.daemon``.
    (``spark.python.worker.module`` is no way round that:
    ``pyspark.daemon`` honours only worker modules named ``pyspark*``.)
    """
    if master != "local" and not master.startswith("local["):
        return {}
    return {
        "spark.python.daemon.module": "discogs_load_spark.pydaemon",
        "spark.executorEnv.PYTHONPATH": str(Path(__file__).resolve().parent.parent),
    }


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: str | StructType
) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples in ``schema``'s column
    order; ``schema`` a DDL string or a ``StructType``), built from an
    Arrow table.

    ``createDataFrame(<python list>)`` ships pickled rows through a Python
    RDD, so evaluating the frame runs a Python task, and on a local
    master that starts a second daemon and worker pool beside the Arrow
    one. An Arrow table is planned as a ``LocalTableScan`` (or a JVM-side
    RDD above ``spark.sql.execution.arrow.localRelationThreshold``) and
    runs no Python task. None stays null and NaN stays NaN."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


_OPEN_SCOPES: set[int] = set()
_SCOPES_LOCK = threading.Lock()


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set session config keys for the body only.

    Each key's prior value is restored on exit, also when the body
    raises; a key that was unset before the scope is unset again. Session
    config is shared by every job on the session, so two overlapping
    scopes would restore out of order and leak one scope's values into
    the other's jobs: opening a second scope while one is already open on
    the same session raises instead.
    """
    sid = id(spark)
    with _SCOPES_LOCK:
        if sid in _OPEN_SCOPES:
            raise RuntimeError(
                f"scoped_conf{sorted(conf)}: another scope is already open "
                "on this session"
            )
        _OPEN_SCOPES.add(sid)
    # read only once admitted: before that, another scope's values may
    # still be set
    saved = {}
    try:
        for k, v in conf.items():
            saved[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        with _SCOPES_LOCK:
            _OPEN_SCOPES.discard(sid)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the fixture parquet tables and register them as temp views.

    Returns {name: DataFrame}. Mirrors the driver's DuckDB view registration
    so SQL written against view names runs identically in both engines.
    """
    all_names = [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    # The driver may hand us a session we didn't build; pin UTC so timestamp
    # semantics (date_trunc, collect) match the DuckDB oracle regardless,
    # and make sure executors can unpickle our operator closures.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ensure_package_on_executors(spark)
    app_id = spark.sparkContext.applicationId
    # prune entries from dead sessions: the app-id key makes them
    # unreachable but not collected, and a long-lived process that
    # restarts Spark sessions would otherwise accumulate stale handles
    for key in [k for k in _TABLE_CACHE if k[0] != app_id]:
        del _TABLE_CACHE[key]
    out = {}
    for name in names or all_names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        key = (app_id, os.path.abspath(sf_dir), name)
        df = _TABLE_CACHE.get(key)
        if df is None:
            if not os.path.exists(path):
                continue
            df = _read_parquet_normalized(spark, _maybe_reshard(spark, path))
            _TABLE_CACHE[key] = df
        # always (re-)register the view: a prior call for a DIFFERENT
        # sf_dir may own the name in this session
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


# DataFrame handles per (application, sf_dir, table): building one costs
# ~90 ms of py4j + parquet-footer work (a stat, a pyarrow metadata read,
# spark.read, schema normalization), and a 164-query bench calls
# load_tables per query — ~35 s of pure re-resolution at sf0.1 without
# this. DataFrames are immutable logical plans, safe to share; fixtures
# are static, and entries from dead sessions are pruned on access (the
# app-id key alone would only orphan them, not free them).
_TABLE_CACHE: dict[tuple[str, str, str], object] = {}


_RESHARD_MIN_BYTES = 256 << 10
_RESHARD_MIN_ROWS_PER_PART = 128


def _maybe_reshard(spark: SparkSession, path: str) -> str:
    """Split a single-row-group parquet file into N part files (cached in
    /tmp) so the scan parallelizes.

    Parquet splits by byte ranges, but a range only yields rows if a
    row-group midpoint falls inside it — a single-row-group file is ONE task
    no matter the configs, which serializes every downstream map-side
    operator on a 32-core local run. This is the columnar cousin of the
    gzip-unsplittability problem (ARCHITECTURE.md): fix the LAYOUT once,
    up front, rather than paying a repartition shuffle in every query.
    At production scale inputs arrive as many files/row-groups and this
    path never triggers (files below 256 KB or already multi-group are
    returned unchanged). Row order is preserved (part k = rows [k*step,
    (k+1)*step)); the copy is keyed by the file's ``file_identity`` and
    the part count, and landed by ``sinks.files.land`` (write aside, then
    rename), so concurrent sessions share one complete cache.
    """
    import pyarrow.parquet as pq

    if os.path.getsize(path) < _RESHARD_MIN_BYTES:
        return path
    cores = spark.sparkContext.defaultParallelism
    meta = pq.ParquetFile(path).metadata
    if meta.num_row_groups >= min(cores, 4):
        return path
    nparts = min(cores, max(2, meta.num_rows // _RESHARD_MIN_ROWS_PER_PART))
    key = hashlib.md5(
        f"{file_identity(path)}|{nparts}".encode()
    ).hexdigest()[:16]

    def write(tmp: str) -> None:
        table = pq.read_table(path)
        step = -(-table.num_rows // nparts)
        os.makedirs(tmp, exist_ok=True)
        for i in range(nparts):
            chunk = table.slice(i * step, step)
            if chunk.num_rows:
                pq.write_table(chunk, os.path.join(tmp, f"part-{i:05d}.parquet"))

    dest = os.path.join(tempfile.gettempdir(), "discogs_load_shards", key)
    return land(dest, write)


def _read_parquet_normalized(spark: SparkSession, path: str):
    """Read parquet, normalizing TIMESTAMP(NANOS) columns to microseconds.

    Spark has no nanosecond timestamp type (PARQUET_TYPE_ILLEGAL on read);
    with ``spark.sql.legacy.parquet.nanosAsLong`` the raw int64 comes through
    and we truncate to micros with integer division — the same truncation
    DuckDB applies when it narrows ns → its microsecond TIMESTAMP, so both
    engines see identical values. Footer-only pyarrow peek; no data is read
    driver-side.
    """
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    peek = path
    if os.path.isdir(path):  # re-sharded cache dir: all parts share a schema
        peek = os.path.join(path, sorted(os.listdir(path))[0])
    footer = pq.read_schema(peek)
    # physical INT96 (Spark's legacy timestamp) ALSO surfaces as
    # timestamp[ns] in the arrow schema, but Spark reads it as a plain
    # TIMESTAMP — only int64-nanos columns need the DIV-1000 rewrite
    physical = {
        c.name: c.physical_type
        for c in pq.ParquetFile(peek).schema
        if hasattr(c, "physical_type")
    }
    nanos_cols = [
        f.name
        for f in footer
        if str(f.type).startswith("timestamp[ns")
        and physical.get(f.name) == "INT64"
    ]
    if not nanos_cols:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return df
