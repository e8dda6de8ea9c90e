"""Interchange-format round trips: prove the engine's non-parquet batch
sources/sinks carry data losslessly by writing the ``documents`` table out
as JSON-lines and CSV, reading each back with an EXPLICIT schema, and
fingerprinting the result per (format, lang) — doc counts, exact char
sums, and distinct-text-hash cardinality. The oracle computes the same
fingerprint straight from the parquet fixture, so any loss, duplication,
or mangling in either round trip breaks the value hash.

Schema notes (the production-relevant part):
- JSONL/CSV readers get the schema declared, never inferred — inference
  costs an extra full pass and silently drifts (a lang column of "true"
  becomes BOOLEAN, ids overflow to DOUBLE).
- The CSV leg writes quoted fields with escaped quotes; the fixture text
  is single-line so the read side stays splittable (``multiLine`` off —
  the option that turns a 100 TB CSV read single-task-per-file is the
  first thing to audit in a slow CSV job).
- Every copy written here (the round trips, q111's partitioned lake,
  q174's two schema batches, q223's fragmented and compacted indexes) is
  landed once per fixture by ``artifacts.fixture_copy``, so bench warm
  runs measure the read+aggregate, not the rewrite, and a regenerated
  fixture or an interrupted write is never served.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..session import load_tables
from . import artifacts
from .artifacts import fixture_copy
from .registry import register

_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _fingerprint(df: DataFrame, fmt: str) -> DataFrame:
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    ).select(F.lit(fmt).alias("fmt"), "*")


_FP_SQL = """
    SELECT '{fmt}' AS fmt, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT md5(text)) AS n_distinct_texts,
           MIN(doc_id) AS min_id,
           MAX(doc_id) AS max_id
    FROM documents GROUP BY lang
"""


@register(
    "q101_interchange_roundtrip",
    oracle=(_FP_SQL.format(fmt="json") + " UNION ALL " + _FP_SQL.format(fmt="csv")),
    tags=("sources", "sinks", "json", "csv"),
)
def q101_interchange_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → JSONL → read-back and documents → CSV → read-back, each
    fingerprinted per lang; identical fingerprints to the parquet original
    prove both interchange paths are lossless."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]

    writers = {
        "json": lambda tmp: docs.write.mode("overwrite").json(tmp),
        "csv": lambda tmp: docs.write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .csv(tmp),
    }
    legs = []
    for fmt, write in writers.items():
        out = fixture_copy(f"lake_{fmt}", sf_dir, ("documents",), write)
        r = spark.read.schema(_DOC_SCHEMA)
        back = (
            r.option("header", "true").csv(out) if fmt == "csv" else r.json(out)
        )
        legs.append(_fingerprint(back, fmt))
    return legs[0].unionByName(legs[1])


@register(
    "q111_partitioned_lake",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-15'
    GROUP BY event_type
    """,
    tags=("sinks", "sources", "partitioning"),
)
def q111_partitioned_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned lake layout: events written ``partitionBy(event_date)``,
    then read back with a single-day predicate — the layout that makes a
    100 TB fact table affordable to query (the scan lists ONE date
    directory; the other 29 days are never opened). The plan must show the
    predicate as a PartitionFilter, not a post-scan Filter — asserted in
    tests/test_plans.py::test_partitioned_lake_prunes_partitions.

    Production notes encoded here: partition by a LOW-cardinality derived
    column (a date: ~10^3 dirs over years — never a raw id); within each
    partition, files stay row-group sized so maxPartitionBytes splits
    work evenly."""
    from pyspark.sql import functions as F

    from ..functions.numeric import dec_sum

    events = load_tables(spark, sf_dir, ["events"])["events"]

    def write(tmp: str) -> None:
        (
            events.withColumn("event_date", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(tmp)
        )

    lake = fixture_copy("lake_part", sf_dir, ("events",), write)
    back = spark.read.parquet(lake).filter(
        F.col("event_date") == F.lit("2024-01-15").cast("date")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dec_sum("value", "total_value")
    )


@register(
    "q132_bucketed_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("lake", "bucketing", "join"),
)
def q132_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free fact-fact join off BUCKETED lake tables — the lake
    analogue of the reference's b-tree join indexes (sql/indexes.sql:7-16)
    promoted from a test into the declared surface: both sides are
    written bucketed+sorted by the join key once (named
    ``<table>_b_<fixture dir name>_<key>`` by the two tables'
    ``artifacts.copy_key``, so a regenerated fixture gets new tables and
    the build retires the superseded ones), and the merge-hinted join
    then runs with NO shuffle on either side — the plan shows no
    hashpartitioning exchange on the join keys (asserted in test_plans). At 100 TB this is the difference
    between re-shuffling two fact tables per query and reading
    pre-colocated buckets.

    The oracle joins the raw tables — bucketing must not change a single
    row, only the plan.
    """
    from ..sinks.files import sweep_superseded, write_bucketed_table

    key = artifacts.copy_key(sf_dir, ("orders", "lineitem"))
    # a table name holds only letters, digits and _ ('sf0.01' -> 'sf0_01')
    fixture = os.path.basename(os.path.abspath(sf_dir)).lower()
    fixture = re.sub(r"[^0-9a-z_]", "_", fixture)
    db = "q132_bucketed"
    loc = os.path.join(tempfile.gettempdir(), db)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    # the session's catalog keeps the location of its first call's TMPDIR
    loc = spark.catalog.getDatabase(db).locationUri.removeprefix("file:")
    ot, lt = (f"{db}.{t}_b_{fixture}_{key}" for t in ("orders", "lineitem"))
    tables = load_tables(spark, sf_dir, ["orders", "lineitem"])

    def ensure(name: str, df, col: str) -> None:
        if spark.catalog.tableExists(name):
            return
        # a FRESH session's in-memory catalog doesn't know tables a prior
        # process wrote; the managed location on disk then blocks
        # saveAsTable — clear it and rewrite (bucket metadata lives in the
        # catalog, so adopting the bare files would lose the bucketing)
        table_dir = os.path.join(loc, name.split(".", 1)[1])
        shutil.rmtree(table_dir, ignore_errors=True)
        write_bucketed_table(df, name, col, n_buckets=8)
        sweep_superseded(table_dir)

    ensure(ot, tables["orders"].select("o_orderkey", "o_orderpriority"), "o_orderkey")
    ensure(lt, tables["lineitem"].select("l_orderkey", "l_quantity"), "l_orderkey")
    ob, lb = spark.table(ot), spark.table(lt)
    joined = ob.hint("merge").join(lb, ob.o_orderkey == lb.l_orderkey)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.expr(
                "CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE)"
            ).alias("total_qty"),
        )
        .orderBy("o_orderpriority")
    )


# --- snapshot diff (CDC between two lake snapshots) -----------------------

_SNAP_OLD = "doc_id % 10 <> 7"  # the 7s are new arrivals (absent from old)
_SNAP_NEW = "doc_id % 10 <> 3"  # the 3s were deleted
_SNAP_EDIT = "doc_id % 10 = 5"  # the 5s were edited in place


@register(
    "q149_snapshot_diff",
    oracle=f"""
    WITH old AS (
        SELECT doc_id, source, md5(text) AS h FROM documents
        WHERE {_SNAP_OLD}
    ),
    new AS (
        SELECT doc_id, source,
               md5(CASE WHEN {_SNAP_EDIT} THEN upper(text) ELSE text END) AS h
        FROM documents WHERE {_SNAP_NEW}
    ),
    d AS (
        SELECT COALESCE(o.source, n.source) AS source,
               CASE WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.doc_id IS NULL THEN 'added'
                    WHEN o.h <> n.h THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT source, status, COUNT(*) AS n
    FROM d GROUP BY source, status
    """,
    tags=("lake", "cdc", "diff"),
)
def q149_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot corpus diff — the CDC audit every periodically
    recrawled training corpus needs: given two snapshots of the documents
    table (derived deterministically from the fixture: the 7s arrive, the
    3s are deleted, the 5s are edited), classify every doc_id as
    added / removed / changed / unchanged via one FULL OUTER join on the
    key and a content-hash comparison, rolled up per (source, status).

    Scale shape: the join keys on doc_id only and carries (source, hash) —
    never the text; both snapshots of a 100 TB corpus diff at the width
    of two skinny columns, and identical doc_id bucketing on both sides
    makes it an exchange-free sort-merge (the q132 layout). Content
    equality via md5 keeps the compare O(32 bytes) regardless of doc
    size."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    old = docs.filter(F.expr(_SNAP_OLD)).select(
        "doc_id",
        F.col("source").alias("source_o"),
        F.md5("text").alias("h_o"),
    )
    new = docs.filter(F.expr(_SNAP_NEW)).select(
        "doc_id",
        F.col("source").alias("source_n"),
        F.md5(
            F.when(F.expr(_SNAP_EDIT), F.upper("text")).otherwise(F.col("text"))
        ).alias("h_n"),
    )
    d = old.join(new, "doc_id", "full_outer").select(
        F.coalesce("source_o", "source_n").alias("source"),
        F.when(F.col("h_n").isNull(), "removed")
        .when(F.col("h_o").isNull(), "added")
        .when(F.col("h_o") != F.col("h_n"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return d.groupBy("source", "status").agg(F.count(F.lit(1)).alias("n"))


# --- Z-order layout (multi-dimensional data skipping) ---------------------

ZORDER_BITS = 8  # per dimension; 16-bit interleaved key, 16 files


def _idiv(a: str, b: int, dialect: str) -> str:
    # shared floor-division text: exact for negative dividends too (the
    # epoch-hour operand goes negative for pre-1970 timestamps)
    from ..functions.numeric import floordiv_sql

    return floordiv_sql(a, b, dialect)


def _zorder_sql(x: str, y: str, dialect: str) -> str:
    """Morton (Z-order) interleave of two ZORDER_BITS-bit ints: bit i of x
    lands at position 2i, bit i of y at 2i+1 — pure integer div/mod/mul,
    identical values in both dialects."""
    terms = []
    for i in range(ZORDER_BITS):
        bx = f"({_idiv(x, 1 << i, dialect)} % 2)"
        by = f"({_idiv(y, 1 << i, dialect)} % 2)"
        terms.append(f"{bx} * {1 << (2 * i)}")
        terms.append(f"{by} * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def _zorder_oracle() -> str:
    x = "(user_id % 256)"
    y = "((epoch_us(ts) // 3600000000) % 256)"
    z = _zorder_sql(x, y, "duckdb")
    return f"""
    WITH keyed AS (
        SELECT CAST({_idiv(z, 4096, "duckdb")} AS INT) AS file_id,
               CAST({x} AS INT) AS x, CAST({y} AS INT) AS y
        FROM events
    )
    SELECT file_id, COUNT(*) AS n,
           MIN(x) AS x_min, MAX(x) AS x_max,
           MIN(y) AS y_min, MAX(y) AS y_max
    FROM keyed GROUP BY file_id
    """


@register(
    "q150_zorder_layout",
    oracle=_zorder_oracle(),
    tags=("lake", "zorder", "data-skipping"),
)
def q150_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering key over two query dimensions —
    user bucket x hour bucket — and the per-file min/max statistics that
    layout yields when the table is range-split on the key into 16 files
    (what Delta/Iceberg ``OPTIMIZE ZORDER BY`` does, computed natively
    with integer div/mod bit interleaving, no UDF).

    Why it matters at 100 TB: a linear sort on user_id gives each file a
    tight user range but an UNBOUNDED hour range, so time predicates scan
    every file; the interleaved key bounds BOTH dimensions per file
    (each of the 16 files covers one 64x64 quadrant — the output's
    min/max columns show it), so min/max file skipping prunes on either
    predicate. The whole computation is a map-side projection plus one
    16-group aggregate: no shuffle beyond the final tiny rollup."""
    from ..functions.numeric import epoch_us, floordiv_sql

    events = load_tables(spark, sf_dir, ["events"])["events"]
    keyed = events.select(
        (F.col("user_id") % 256).cast("bigint").alias("xk"),
        epoch_us("ts").alias("ep"),
    ).select(
        "xk",
        # integer div, not double `/`: a double quotient can round UP across
        # an integer boundary and then truncate differently than DuckDB's //
        F.expr(f"({floordiv_sql('ep', 3600000000, 'spark')}) % 256").alias("yk"),
    )
    z = _zorder_sql("xk", "yk", "spark")
    keyed = keyed.select(
        F.expr(_idiv(z, 4096, "spark")).cast("int").alias("file_id"),
        F.col("xk").cast("int").alias("x"),
        F.col("yk").cast("int").alias("y"),
    )
    return keyed.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("x_min"),
        F.max("x").alias("x_max"),
        F.min("y").alias("y_min"),
        F.max("y").alias("y_max"),
    )


# --- incremental aggregate (materialized-view) maintenance ----------------

_MV_BASE = "l_orderkey % 10 <> 0"  # yesterday's data
_MV_DELTA = "l_orderkey % 10 = 0"  # today's arriving batch


@register(
    "q156_incremental_agg_maintenance",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE)
               AS total_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("lake", "matview", "incremental"),
)
def q156_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the engine aggregates
    the BASE partition and the DELTA batch separately and MERGES the
    partial aggregates (full-outer join on the group key, counts added,
    decimal sums added while still exact — the double cast happens only
    after the merge, because double(S1)+double(S2) != double(S1+S2) in
    the last bit); the oracle recomputes the aggregate directly over the
    whole table. Identical output proves the algebraic-rollup property a
    lakehouse relies on to avoid full recomputes when a partition lands —
    the differential gate at its most useful: two genuinely different
    computation strategies, one exact answer.

    Scale: each side is one map-side-combinable groupBy to |groups|
    rows; the merge joins two |groups|-row tables. A 100 TB history is
    never rescanned — only the delta is."""
    lineitem = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]

    def agg(df: DataFrame, suffix: str) -> DataFrame:
        return df.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias(f"n_{suffix}"),
            F.expr("SUM(CAST(l_quantity AS DECIMAL(25,6)))").alias(
                f"qty_{suffix}"
            ),
        )

    mv = agg(lineitem.filter(F.expr(_MV_BASE)), "base")
    delta = agg(lineitem.filter(F.expr(_MV_DELTA)), "delta")
    zero = F.lit(0).cast("decimal(25,6)")
    return mv.join(delta, "l_returnflag", "full_outer").select(
        "l_returnflag",
        (
            F.coalesce("n_base", F.lit(0)) + F.coalesce("n_delta", F.lit(0))
        ).alias("n_items"),
        (
            F.coalesce("qty_base", zero) + F.coalesce("qty_delta", zero)
        ).cast("double").alias("total_qty"),
    )


@register(
    "q162_orc_roundtrip",
    oracle=_FP_SQL.format(fmt="orc"),
    tags=("sources", "sinks", "orc"),
)
def q162_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → ORC → read-back, fingerprinted per lang like q101's
    JSON/CSV legs — the third interchange format, and the one whose
    read path matters most operationally: ORC (like parquet) carries
    types and per-stripe min/max statistics, so unlike the text formats
    the read side needs no declared schema and keeps predicate pushdown.
    (Avro is not bundled in this environment — the external
    spark-avro module would slot into the same fingerprint harness.)"""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    out = fixture_copy(
        "lake_orc", sf_dir, ("documents",),
        lambda tmp: docs.write.mode("overwrite").orc(tmp),
    )
    return _fingerprint(spark.read.orc(out), "orc")


COMPACTION_SHARDS = 64
COMPACTION_GROUPS = 8


@register(
    "q164_compaction_plan",
    oracle=f"""
    WITH shards AS (
        SELECT doc_id % {COMPACTION_SHARDS} AS shard_id,
               CAST(SUM(n_chars) AS BIGINT) AS shard_bytes
        FROM documents GROUP BY shard_id
    ),
    t AS (SELECT CAST(SUM(shard_bytes) AS BIGINT) AS total FROM shards),
    c AS (
        SELECT shard_id, shard_bytes, total,
               SUM(shard_bytes) OVER (
                   ORDER BY shard_id ROWS UNBOUNDED PRECEDING
               ) AS cum_bytes
        FROM shards CROSS JOIN t
    )
    SELECT shard_id, shard_bytes,
           CAST(cum_bytes AS BIGINT) AS cum_bytes,
           CAST(((cum_bytes - shard_bytes) * {COMPACTION_GROUPS}) // total
                AS INT) AS group_id
    FROM c
    """,
    tags=("lake", "compaction", "planning"),
)
def q164_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the maintenance job every lake
    runs: given per-shard byte sizes (the q86 manifest grain), assign
    shards to {COMPACTION_GROUPS} roughly-equal rewrite groups by
    walking them in order and cutting at every total/{COMPACTION_GROUPS}
    boundary. The group id is ((cum_before x groups) // total) — pure
    integer arithmetic, so the plan is bitwise-identical in both engines
    and across partitionings. Ordered-walk packing (vs size-sorted
    first-fit) preserves shard adjacency, which is what you want when
    shards are range-partitioned. The window runs over the |shards|-row
    aggregate, never the corpus."""
    from pyspark.sql import Window as W

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    shards = docs.groupBy(
        (F.col("doc_id") % COMPACTION_SHARDS).alias("shard_id")
    ).agg(F.sum("n_chars").cast("bigint").alias("shard_bytes"))
    t = shards.agg(F.sum("shard_bytes").cast("bigint").alias("total"))
    w = W.orderBy("shard_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = shards.crossJoin(F.broadcast(t)).withColumn(
        "cum_bytes", F.sum("shard_bytes").over(w)
    )
    return c.select(
        "shard_id",
        "shard_bytes",
        F.col("cum_bytes").cast("bigint").alias("cum_bytes"),
        F.expr(
            f"CAST(((cum_bytes - shard_bytes) * {COMPACTION_GROUPS}) div total"
            " AS INT)"
        ).alias("group_id"),
    )


@register(
    "q174_schema_evolution",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN doc_id % 2 = 1 AND source IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_source,
           COUNT(DISTINCT CASE WHEN doc_id % 2 = 1 THEN source END)
               AS n_sources
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("lake", "sources", "schema-evolution"),
)
def q174_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet batches written with DIFFERENT
    schemas — v2 adds the ``source`` column, the additive-column case
    every long-lived lake hits — read back as ONE dataset with
    ``mergeSchema=true``; v1 rows surface NULL source, and the per-lang
    rollup counts exactly how many rows carry the evolved column. The
    oracle recomputes from the base table with the same even/odd split
    (the q101/q162 direct-recompute pattern), so the parity gate proves
    the merged read drops nothing and nulls exactly the v1 rows.

    At scale: mergeSchema reconciles footers at planning time (a
    listing-sized cost, not a data scan); the read itself stays one
    pruned columnar scan per batch, and the rollup is one lang-keyed
    map-side-combinable shuffle. Plain v1/v2 subdirs (no '=' in names)
    keep partition-column inference out of the schema."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]

    def write(tmp: str) -> None:
        v1 = docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "lang", "n_chars"
        )
        v2 = docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "lang", "n_chars", "source"
        )
        v1.write.mode("overwrite").parquet(os.path.join(tmp, "v1"))
        v2.write.mode("overwrite").parquet(os.path.join(tmp, "v2"))

    out = fixture_copy("lake_evo", sf_dir, ("documents",), write)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "v1"), os.path.join(out, "v2")
    )
    return (
        merged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.count("source").alias("n_with_source"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


def _cdc_compaction_oracle() -> str:
    from .dedup import _cdc_chunks_duckdb

    return f"""
    WITH ch AS (
        SELECT DISTINCT unnest({_cdc_chunks_duckdb()}) AS chunk_hash
        FROM documents
    )
    SELECT substring(chunk_hash, 1, 1) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_rows_compacted,
           MIN(chunk_hash) AS min_hash,
           MAX(chunk_hash) AS max_hash
    FROM ch GROUP BY bucket
    """


# the per-batch arrival grain the fragmented landing simulates (8
# micro-batches' worth of appends — the q219 drain shape)
COMPACTION_ARRIVAL_SLICES = 8
# test hook: the most recent q223 (fragmented, compacted) directory pair
_LAST_COMPACTION_DIRS: tuple[str, str] | None = None


@register(
    "q223_cdc_index_compaction",
    oracle=_cdc_compaction_oracle(),
    tags=("lake", "compaction", "cdc", "index-maintenance"),
)
def q223_cdc_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction EXECUTED — the completion of the trio q164
    (compaction planning) and q219 (the producer: a streaming maintainer
    whose per-batch appends fragment the hash-prefix-partitioned landing
    into one-file-per-bucket-per-batch). This is the lake-maintenance
    rewrite every such table needs: read the fragmented artifact,
    repartition on the directory column (each bucket's rows collapse
    into one task, so partitionBy writes exactly ONE file per bucket —
    tests/test_new_ops.py pins the before>1/after==1 file counts on the
    real directories), and land the compacted layout. The OUTPUT reads
    the compacted artifact, and its twin counts are the preservation
    invariant: a row dropped or duplicated by the rewrite makes
    n_rows_compacted diverge from n_chunks and breaks the value hash
    against the oracle, which recomputes the distinct chunk set from
    raw documents — the same exactly-once accounting q219 uses for
    appends, applied to the rewrite.

    The fragmented input is built the way the producer fragments it:
    the corpus's distinct chunk set (from the materialized
    cdc_chunk_index — referee-switchable like every index consumer)
    spread over COMPACTION_ARRIVAL_SLICES hash slices — the per-batch
    arrival grain — so partitionBy writes one file per (slice x
    touched bucket), ~slices x buckets small files (the pathology; an
    explicit slice count because AQE's post-shuffle coalescing would
    otherwise hide it at fixture scale). Both copies are landed once by
    ``artifacts.fixture_copy``, keyed by the documents table's file
    identity and the cdc_chunk_index fingerprint: a write that fails
    leaves no directory behind, so an interrupted compaction is rebuilt
    on the next call instead of read back empty. Scale shape: compaction
    is one read + one hash exchange on the partition column + one
    write, no wide aggregate; at 100 TB it runs per-partition-group on
    the q164 plan's grouping rather than whole-table."""
    from .dedup import cdc_chunk_index

    schema = "chunk_hash string, pb string"

    def write_frag(tmp: str) -> None:
        chunks = (
            cdc_chunk_index(spark, sf_dir)
            .select("chunk_hash")
            .distinct()
            .withColumn("pb", F.substring("chunk_hash", 1, 1))
            # slice key = xxhash64(chunk_hash), NOT chunk_hash itself: the
            # upstream distinct already hash-partitions on chunk_hash, so
            # when shuffle.partitions == COMPACTION_ARRIVAL_SLICES Catalyst
            # elides a same-key repartition and AQE may coalesce the
            # remaining exchange to ONE partition at small fixtures —
            # writing the "fragmented" landing as one file per bucket.
            # A derived key keeps the explicit (non-coalescable) exchange.
            .repartition(COMPACTION_ARRIVAL_SLICES, F.xxhash64("chunk_hash"))
        )
        chunks.write.mode("overwrite").partitionBy("pb").parquet(tmp)

    def write_comp(tmp: str) -> None:
        # the compaction rewrite under test
        (
            spark.read.schema(schema)
            .parquet(frag)
            .repartition("pb")
            .write.mode("overwrite")
            .partitionBy("pb")
            .parquet(tmp)
        )

    # both copies key on the chunk index they derive from; each is landed
    # on its own, so a reaped or half-written one is rebuilt, never read
    inputs = (
        artifacts.key("cdc_chunk_index", sf_dir),
        COMPACTION_ARRIVAL_SLICES,
    )
    docs = ("documents",)
    frag = fixture_copy("lake_cdcfrag", sf_dir, docs, write_frag, inputs)
    comp = fixture_copy("lake_cdccomp", sf_dir, docs, write_comp, inputs)
    global _LAST_COMPACTION_DIRS
    _LAST_COMPACTION_DIRS = (frag, comp)
    idx = spark.read.schema(schema).parquet(comp)
    return idx.groupBy(
        F.substring("chunk_hash", 1, 1).alias("bucket")
    ).agg(
        F.countDistinct("chunk_hash").cast("bigint").alias("n_chunks"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows_compacted"),
        F.min("chunk_hash").alias("min_hash"),
        F.max("chunk_hash").alias("max_hash"),
    )
