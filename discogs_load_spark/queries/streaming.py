"""Driver-visible streaming queries: run a fixture table through a REAL
Structured Streaming pipeline (file source → e.g. watermarked
tumbling-window aggregate → memory or foreachBatch sink, drained to
completion) and return the finished result as a batch DataFrame.

Three owners carry the plumbing: ``stream_source`` builds and reads the
declared source copies (STREAM_SOURCES), ``_drain`` runs every bounded
stream under the scoped drain config (session.scoped_conf), and
``_drain_to_memory`` names the memory sink for the queries that use one.

Because the stream is driven to completion over static input, the result is
exactly the batch tumbling aggregate — so unlike most streaming surfaces
this one is fully oracle-checkable (same SQL dual as q40). The decimal-sum
recipe (functions/numeric.py) keeps the value hash stable: streaming partial
aggregates add in arrival order, which would make a raw double SUM
hash-unstable.

Scale shape: the watermark bounds state to O(active windows) regardless of
stream length; the memory sink is test/driver plumbing only — production
composes writeStream.foreachBatch → JDBC/parquet (sinks/) around the same
transformation.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from ..functions.numeric import dec_sum, dec_sum_sql
from ..session import load_tables, local_frame, scoped_conf
from .artifacts import fixture_copy
from .registry import register


STREAM_DRAIN_PARTITIONS = "8"
# Stream-source parquet row-group size + the scoped split sizing that
# exploits it (r14): a micro-batch reads `maxFilesPerTrigger` fixture-scale
# files, and with single-row-group files a byte-range split never yields
# rows — the per-batch MAP work (the Arrow chunker, the signature pass) ran
# on 4 of 32 cores at any fixture scale, ~0.6 s of the measured ~1.3 s
# batch (OPTIMIZATION_r14.md). Sources are therefore written with small row
# groups and drains read with a matching split size, so batch map
# parallelism tracks data volume instead of file count. Local-profile
# sizing in the session.py maxPartitionBytes=4m tradition; a production
# stream's sources arrive as many cluster-sized files and keeps the
# defaults — both knobs are deployment-scoped, not semantics.
STREAM_SOURCE_ROW_GROUP_BYTES = 256 * 1024
STREAM_DRAIN_SPLIT_BYTES = str(1024 * 1024)
STREAM_DRAIN_OPEN_COST = str(256 * 1024)

# Session config every bounded drain runs under (scoped_conf restores it).
#
# A streaming query materializes one state store (and its per-batch
# version files) PER shuffle partition PER stateful operator, so the
# fixed cost of draining a small bounded stream is dominated by
# ``spark.sql.shuffle.partitions`` — 32 stores x versions for kilobytes
# of state. 8 keeps all cores busy at bench scale while quartering the
# state-store churn. This is the standard deployment-sizing knob (state
# partition count is pinned by the checkpoint at first start); a real
# 24/7 stream at 100 TB/day sizes it to the cluster instead — nothing
# about the operators changes. The split sizing pairs with the sources'
# small row groups (STREAM_SOURCE_ROW_GROUP_BYTES above) so per-batch
# map stages parallelize past the file count.
#
# AQE OFF inside the drain scope (r15): a foreachBatch body is a fresh
# BATCH query per micro-batch, so AQE re-plans it per batch and
# materializes every shuffle as its own stage-job — the q226 drain
# profile read 36 jobs / 2.6 s of job time inside a 6.7 s wall, the
# other 4.1 s being driver gaps between those tiny jobs. A micro-batch's
# data volume is bounded by TRIGGER SIZING (maxFilesPerTrigger), not by
# the corpus, so runtime re-optimization has nothing to adapt to at any
# deployment scale: partition counts are pinned by the scoped
# shuffle-partition knob above, and the per-batch join keys (md5-prefix
# hashes, LSH buckets) are uniform by construction, so skew-splitting
# has no target either. The stateful drains (q88/q110/q114/q115/q116)
# already run with AQE off internally (streaming queries don't support
# it); this makes the foreachBatch bodies match. Batch-mode consumers
# outside the drain scope keep AQE on.
STREAM_DRAIN_CONF = {
    "spark.sql.shuffle.partitions": STREAM_DRAIN_PARTITIONS,
    "spark.sql.files.maxPartitionBytes": STREAM_DRAIN_SPLIT_BYTES,
    "spark.sql.files.openCostInBytes": STREAM_DRAIN_OPEN_COST,
    "spark.sql.adaptive.enabled": "false",
}
NO_DATA_BATCHES_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"


def _drain(
    spark: SparkSession, writer: DataStreamWriter, no_data_batches: bool = True
) -> None:
    """Run a bounded stream to completion under STREAM_DRAIN_CONF: start,
    wait until all available input is processed, stop.

    ``no_data_batches=False`` additionally disables the watermark-advance
    no-data micro-batch for THIS drain (r14). That batch exists so
    append-mode AGGREGATIONS can flush windows finalized by the last data
    batch's watermark — for an operator that only ever emits on arriving
    input (q116's inner stream-stream join: output rows are produced in
    the data batch that delivers the matching row; the no-data batch can
    only evict state, never emit), it is a pure state-store-churn round
    (~1.0 s of addBatch for 0 input rows in the q116 profile, 8
    partitions x 4 join state stores committing a version each).
    Result-identical BY CONSTRUCTION for emit-on-arrival operators; never
    set it for watermarked append aggregations (sessions, tumbling
    windows) — those rely on the no-data batch for their final rows."""
    conf = STREAM_DRAIN_CONF
    if not no_data_batches:
        conf = {**conf, NO_DATA_BATCHES_KEY: "false"}
    with scoped_conf(spark, conf):
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def _drain_to_memory(
    spark: SparkSession,
    stream: DataFrame,
    query: str,
    output_mode: str,
    no_data_batches: bool = True,
) -> DataFrame:
    """Drain ``stream`` into a uniquely named memory sink and return the
    sink as a batch table."""
    name = f"{query}_sink_{uuid.uuid4().hex[:8]}"
    _drain(
        spark,
        stream.writeStream.format("memory").queryName(name).outputMode(output_mode),
        no_data_batches,
    )
    return spark.table(name)


def _source_writer(df: DataFrame):
    """Writer for stream-source parquet copies: small row groups so the
    scoped drain split sizing can parallelize each micro-batch's map work
    (see STREAM_SOURCE_ROW_GROUP_BYTES)."""
    return df.write.option(
        "parquet.block.size", str(STREAM_SOURCE_ROW_GROUP_BYTES)
    )


def _new_vectors(embeddings: DataFrame) -> DataFrame:
    """The held-out delta vectors (the q100/q212 snapshot convention)."""
    from .dedup import NEW_MOD, NEW_REM

    return embeddings.filter((F.col("vec_id") % NEW_MOD) == NEW_REM)


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# File count of the throttled (maxFilesPerTrigger=4) sources: 3 micro-
# batches per drain, so COMPACT_EVERY=3 fires exactly one in-stream
# compaction. Read when a source is built, so a test can set 24 (6
# batches, two swaps); the count folds into the copy's cache key.
STREAM_SOURCE_FILES = 12


@dataclass(frozen=True)
class _StreamSource:
    """One fixture-derived stream-source copy: the fixture table it is
    cut from, the frame written from that table, the reader schema (None:
    the table's own) and the micro-batch throttle. A throttled source is
    written as ``STREAM_SOURCE_FILES`` files, so every drain spans
    files / maxFilesPerTrigger micro-batches at any fixture scale."""

    table: str
    frame: Callable[[DataFrame], DataFrame]
    schema: T.StructType | None = None
    max_files_per_trigger: int | None = None


STREAM_SOURCES = {
    # re-materialized at microsecond precision: the raw fixture parquet
    # can be TIMESTAMP(NANOS), which the streaming file source cannot read
    "events": _StreamSource("events", lambda t: t, EVENT_SCHEMA),
    # every event TWICE (q110's in-flight dedup input)
    "events_x2": _StreamSource("events", lambda t: t.unionAll(t), EVENT_SCHEMA),
    # the index maintainers' sources: q218/q219/q224 share docs,
    # q220/q226 share the held-out new vectors. Written as 12 files, not
    # as the table dump: the dump inherits the table's 32 reshard parts,
    # so at 4 files per trigger q219's drain paid EIGHT micro-batches
    # whose ~0.7 s fixed cost (touched-bucket collect, pinned count,
    # 16-dir partitioned append commit) dominated the ~0.5 s of real
    # chunk work per batch — measured 11.1 s warm vs ~6 s on the 12-file
    # layout (OPTIMIZATION_r14.md). Batch sizing is the standard
    # streaming throughput knob; the maintainers' rollups are
    # batch-count-invariant.
    "docs": _StreamSource("documents", lambda t: t, max_files_per_trigger=4),
    "newvecs": _StreamSource("embeddings", _new_vectors, max_files_per_trigger=4),
}


def stream_source(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The streaming DataFrame over a declared source copy (STREAM_SOURCES),
    landed once per fixture by ``artifacts.fixture_copy``. The copy stands
    in for the always-there kafka/landing source a production stream
    reads; the downstream operators are source-agnostic. Its key is the
    fixture table's file identity plus the writer's row-group size and
    the file count, so a regenerated fixture, a layout change or a
    file-count probe never serves a stale copy."""
    src = STREAM_SOURCES[name]
    table = load_tables(spark, sf_dir, [src.table])[src.table]
    nf = STREAM_SOURCE_FILES if src.max_files_per_trigger else None

    def write(tmp: str) -> None:
        frame = src.frame(table)
        if nf:
            frame = frame.repartition(nf)
        _source_writer(frame).mode("overwrite").parquet(tmp)

    path = fixture_copy(
        f"stream_{name}{nf or ''}", sf_dir, (src.table,), write,
        inputs=(f"rg{STREAM_SOURCE_ROW_GROUP_BYTES}", f"nf{nf}"),
    )
    reader = spark.readStream.schema(src.schema or table.schema)
    if src.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", src.max_files_per_trigger)
    return reader.parquet(path)


def prewarm_stream_sources(spark: SparkSession, sf_dir: str) -> None:
    """Build every declared stream-source copy WITHOUT running any drain.
    The measurement warm-up (tools/harness.py) calls this once per tier
    outside the per-query timed windows — the same out-of-window
    treatment the ingest artifacts already get — so a query's committed
    row measures the drain, not a one-time parquet copy of its input."""
    for name in STREAM_SOURCES:
        stream_source(spark, sf_dir, name)


def _land_ledger(df: DataFrame, batch_id: int, path: str) -> None:
    """Replay-safe foreachBatch landing into a parquet ledger.
    foreachBatch is at-least-once: a micro-batch replayed after a crash
    between the parquet commit and the checkpoint commit re-lands under
    the SAME batch_id. The ledger is partitioned by batch_id and written
    with dynamic-partition overwrite, so a replay overwrites only its own
    partition and the ledger is idempotent under replay, not merely
    append-only."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def _read_or_empty(
    spark: SparkSession, d: str, part_col: str, schema: str
) -> DataFrame:
    """Read a partitioned landing with a pinned schema; an empty frame of
    that schema while no partition directory exists yet."""
    if any(e.startswith(f"{part_col}=") for e in os.listdir(d)):
        return spark.read.schema(schema).parquet(d)
    return local_frame(spark, [], schema)


# test hook: per query id, the final landed dir (and, for the
# generation-swap maintainers, how many swaps the drain made)
LAST_LANDING: dict[str, dict] = {}


class _GenerationLanding:
    """The shared generation-swap landing behind the three streamed
    index maintainers (q218 signature / q224 CDC chunk / q226
    embedding): micro-batches APPEND partitioned writes into the
    current generation directory; every COMPACT_EVERY appends (and once
    more at drain end, the caller's final ``compact()``) the landing is
    rewritten one-file-per-bucket into generation N+1, the read pointer
    swaps, and generation N is deleted to bound disk. foreachBatch runs
    batches sequentially on the driver, so the swap is race-free; the
    rewrite reads generation N while writing N+1 — never its own write
    target (the q219 read-your-own-writes discipline applied to the
    rewrite). ``read_schema`` (q224) makes ``read()`` safe on a
    generation with no partition dirs yet — the anti-join consumer's
    empty-index case; the append-only maintainers infer from parquet."""

    def __init__(
        self,
        spark: SparkSession,
        query: str,
        part_col: str,
        read_schema: str | None = None,
    ) -> None:
        self.spark = spark
        self.query = query
        self.part_col = part_col
        self.read_schema = read_schema
        # captured from the first appended batch: partition-directory
        # TYPE INFERENCE must never retype the bucket column — q226's
        # pb is a 4-char '0'/'1' string, which an inferred read would
        # parse as an integer and re-land as pb=10 instead of pb=0010,
        # silently changing the bucket naming across a generation swap
        self._schema = None
        self.root = tempfile.mkdtemp(prefix=f"{query}_gen_")
        self.gen = 0
        self.since = 0
        os.makedirs(os.path.join(self.root, "g0"))

    def cur_dir(self) -> str:
        return os.path.join(self.root, f"g{self.gen}")

    def checkpoint_dir(self) -> str:
        return os.path.join(self.root, "_chk")

    def read(self) -> DataFrame:
        d = self.cur_dir()
        if self.read_schema is not None:
            return _read_or_empty(self.spark, d, self.part_col, self.read_schema)
        if self._schema is not None:
            # the writer's own schema (bucket column included as its
            # written type) — partition values parse as declared
            return self.spark.read.schema(self._schema).parquet(d)
        return self.spark.read.parquet(d)
    def append(self, df: DataFrame) -> None:
        """Land one micro-batch (repartition on the directory column so
        partitionBy writes one file per touched bucket, not
        tasks x buckets), then compact if the cadence is due."""
        if self._schema is None:
            self._schema = df.schema
        (
            df.repartition(self.part_col)
            .write.mode("append")
            .partitionBy(self.part_col)
            .parquet(self.cur_dir())
        )
        self.since += 1
        if self.since >= COMPACT_EVERY:
            self.compact()

    def finalize(self) -> None:
        """Drain-end compaction, elided when provably redundant: if the
        cadence compact already ran after the last append (since == 0
        with at least one swap behind us) the current generation is
        already one file per bucket, and re-rewriting it would charge
        every drain whose batch count is a multiple of COMPACT_EVERY —
        which the fixed 12-file sources make ALL of them — one wasted
        full read+shuffle+write of the landing (r13 review finding).
        A drain that never appended anything (gen == 0, since == 0, no
        schema captured) is a no-op: compact() would otherwise hit
        spark.read.parquet on an empty g0 dir and raise on schema
        inference (ADVICE r13 — unreachable with the 12-file fixture
        sources, but the helper is shared infrastructure). Records the
        final generation in LAST_LANDING."""
        if self._schema is not None and (self.since or self.gen == 0):
            self.compact()
        LAST_LANDING[self.query] = {"dir": self.cur_dir(), "generations": self.gen}

    def compact(self) -> None:
        import shutil

        nxt = os.path.join(self.root, f"g{self.gen + 1}")
        (
            self.read()
            .repartition(self.part_col)
            .write.mode("overwrite")
            .partitionBy(self.part_col)
            .parquet(nxt)
        )
        old = self.cur_dir()
        self.gen += 1
        self.since = 0
        shutil.rmtree(old, ignore_errors=True)  # bound disk to ~1 gen


@register(
    "q88_streaming_tumbling",
    oracle=f"""
    SELECT DATE_TRUNC('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           {dec_sum_sql("value", "total_value")}
    FROM events
    GROUP BY DATE_TRUNC('hour', ts), event_type
    """,
    tags=("streaming", "window-agg"),
)
def q88_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dual of q40: tumbling 1h counts + exact value sums,
    computed by the streaming runtime (not a batch rewrite) and drained to
    completion so the answer is deterministic."""
    agg = (
        stream_source(spark, sf_dir, "events")
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("value", "total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    # complete mode: append would withhold windows still inside the
    # watermark horizon at end-of-stream
    return _drain_to_memory(spark, agg, "q88", "complete")


@register(
    "q92_streaming_foreachbatch_sink",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           MIN(event_id) AS min_id,
           MAX(event_id) AS max_id
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "sink"),
)
def q92_streaming_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sink side of streaming: events stream -> ``foreachBatch`` ->
    parquet lake (one batch_id partition per micro-batch, the replay-safe
    _land_ledger; exactly the composition a production job uses for
    JDBC/COPY via sinks/postgres.py) -> read the
    landed files back and aggregate.

    foreachBatch hands each micro-batch over as a BATCH DataFrame, so every
    batch-only sink (parquet partitionBy, JDBC, COPY) works unmodified; the
    read-back aggregation proves no rows were lost or duplicated in
    transit (count + id range per event type, all integers — exact).
    """
    out = tempfile.mkdtemp(prefix="q92_lake_")
    _drain(
        spark,
        stream_source(spark, sf_dir, "events")
        .writeStream.foreachBatch(lambda df, batch_id: _land_ledger(df, batch_id, out))
        .option("checkpointLocation", os.path.join(out, "_chk")),
    )
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
    )


@register(
    "q110_streaming_dedup",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           {dec_sum_sql("value", "total_value")}
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "dedup"),
)
def q110_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the source directory contains every event
    TWICE (the ``events_x2`` source copy), the stream drops the
    duplicates by event_id in-flight, and the post-dedup aggregate must
    equal the single-copy batch oracle — proving rows were removed by the
    stateful operator, not lost by the source.

    Unwatermarked ``dropDuplicates`` keeps one state row per key forever —
    correct for a drained bounded test; a production stream bounds state
    with ``withWatermark`` + ``dropDuplicatesWithinWatermark``, which
    trades exactness outside the lateness horizon. Duplicates here
    may arrive in DIFFERENT micro-batches (file order is not promised),
    which is exactly what the unbounded state handles deterministically.
    """
    deduped = stream_source(spark, sf_dir, "events_x2").dropDuplicates(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dec_sum("value", "total_value")
    )
    return _drain_to_memory(spark, agg, "q110", "complete")


SESSION_GAP_HOURS = 6


@register(
    "q114_streaming_sessions",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                            > CAST({SESSION_GAP_HOURS} AS BIGINT) * 3600 * 1000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_seq
        FROM seq
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL {SESSION_GAP_HOURS} HOUR AS session_end,
           COUNT(*) AS n_events,
           {dec_sum_sql("value", "session_value")}
    FROM sess
    GROUP BY user_id, session_seq
    """,
    tags=("streaming", "session-window"),
)
def q114_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows computed by the STREAMING runtime
    (``session_window``, incremental merge state) and drained over static
    input; the oracle derives the identical sessions with the batch
    lag/cumsum construction (q41's), with Spark's session-end convention
    (last event + gap). Exact value sums via the decimal recipe — a raw
    streaming SUM(double) adds in arrival order and would be
    hash-unstable."""
    agg = (
        stream_source(spark, sf_dir, "events")
        .withWatermark("ts", "24 hours")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_HOURS} hours").alias("sess"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", "session_value"),
        )
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )
    return _drain_to_memory(spark, agg, "q114", "complete")


@register(
    "q115_stateful_running_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful", "python-seam"),
)
def q115_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator under the value-hash gate:
    per-user running totals via ``applyInPandasWithState`` (cross-batch
    state, one emission per key per batch). The running value accumulates
    in INTEGER CENTS — the fixture's values are exact 2-decimal amounts,
    so cents are exact int64 and the total is order-insensitive no matter
    how the file source batches rows (a float accumulator here would be
    arrival-order-dependent and unable to match any oracle). The final
    answer per user is the emission with the highest event count (both
    fields are monotone), which must equal the batch GROUP BY."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    emitted = (
        stream_source(spark, sf_dir, "events")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id bigint, n_events bigint, total_cents bigint",
            stateStructType="n bigint, cents bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # the memory sink appends every per-batch emission; keep each user's
    # final (monotone-max) state row
    return (
        _drain_to_memory(spark, emitted, "q115", "update")
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_cents")).alias("f"))
        .select("user_id", "f.n_events", "f.total_cents")
    )


def purchase_click_join(
    purchases: DataFrame,
    clicks: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each purchase matched with the same
    user's clicks in the following ``horizon``.

    Both sides carry watermarks and the join condition bounds event time in
    BOTH directions — that pair of constraints is what lets Spark evict
    buffered rows (state is O(rows inside the horizon window per side), not
    O(stream)). Without the time bound, a stream-stream join must buffer a
    side forever. The equi key (user_id) carries the state-store sharding,
    so state scales out with the shuffle like every other keyed operator.
    """
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("p_event"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", watermark)
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("c_event"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    ).withWatermark("c_ts", watermark)
    return p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") > F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select("p_event", "p_user", "c_event", "c_ts", "c_value")


@register(
    "q116_stream_stream_join",
    oracle="""
    SELECT p.event_id AS p_event, p.user_id AS p_user,
           c.event_id AS c_event, c.ts AS c_ts, c.value AS c_value
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND c.ts > p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    tags=("streaming", "stream-stream-join"),
)
def q116_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchases ⋈ same-user clicks within
    the following hour) executed by the STREAMING runtime — two
    watermarked file-source streams, state-store-backed join, drained to
    completion — against the batch interval-join oracle. Inner join
    results emit as matches arrive (append mode); the two-sided time
    bound in the condition is what lets the state store evict buffered
    rows (purchase_click_join docstring). No float aggregation anywhere,
    so the row set is trivially deterministic."""
    # one stream_source call per join side: the plan keeps two
    # independent file sources, each tracking its own offsets
    purchases = stream_source(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    clicks = stream_source(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    )
    joined = purchase_click_join(purchases, clicks, horizon="1 hour")
    # inner join emits on arrival — the watermark no-data batch can only
    # evict state, never produce a row; skip it (see _drain)
    return _drain_to_memory(spark, joined, "q116", "append", no_data_batches=False)


@register(
    "q127_stream_static_join",
    oracle=f"""
    SELECT COALESCE(c_mktsegment, 'unknown') AS segment,
           COUNT(*) AS n_events,
           {dec_sum_sql("value", "total_value")}
    FROM events LEFT JOIN customer ON user_id = c_custkey
    GROUP BY COALESCE(c_mktsegment, 'unknown')
    """,
    tags=("streaming", "stream-static-join"),
)
def q127_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the remaining Structured Streaming
    join type after q116's stream-stream: the event stream left-joins a
    static dimension (customer) per micro-batch, so the dimension is
    re-broadcast per batch with NO state store involved (the static side
    is not stateful; unmatched users surface as 'unknown' instead of
    silently dropping). Aggregated by market segment with the decimal-sum
    recipe so the drained result is hash-stable against the batch oracle.
    """
    customer = load_tables(spark, sf_dir, ["customer"])["customer"]
    enriched = stream_source(spark, sf_dir, "events").join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        F.col("user_id") == F.col("c_custkey"),
        "left",
    )
    agg = (
        enriched.groupBy(
            F.coalesce("c_mktsegment", F.lit("unknown")).alias("segment")
        )
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value", "total_value"))
    )
    return _drain_to_memory(spark, agg, "q127", "complete")


@register(
    "q161_streaming_matview",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           {dec_sum_sql("value", "total_value")}
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "matview", "incremental"),
)
def q161_streaming_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental materialized view — q156's algebraic-rollup
    property composed with Structured Streaming: each micro-batch lands
    its PARTIAL aggregate (count + exact DECIMAL sum per event_type) via
    ``foreachBatch`` into a parquet ledger partitioned by batch_id
    (_land_ledger), and the view is the re-aggregation of the partials.
    Landing partials instead of read-modify-writing the view per batch
    keeps the sink free of write races, and a batch replayed from the
    checkpoint overwrites only its own partition, so the ledger is
    idempotent under replay (tests/test_streaming.py pins it); the
    merge stays exact because the partials are stored as DECIMAL(25,6) —
    the double cast happens once, after the final merge. The oracle
    aggregates the raw events directly: stream partials must reproduce
    the direct answer bit-for-bit.

    At 100 TB/day: per batch the ledger gains |event_type| rows; the
    view query reads partials only — never the event history."""
    ledger = tempfile.mkdtemp(prefix="q161_ledger_")

    def land_partial(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_partial"),
            F.expr("SUM(CAST(value AS DECIMAL(25,6)))").alias("v_partial"),
        )
        _land_ledger(partial, batch_id, ledger)

    _drain(
        spark,
        stream_source(spark, sf_dir, "events")
        .writeStream.foreachBatch(land_partial)
        .option("checkpointLocation", os.path.join(ledger, "_chk")),
    )
    return (
        spark.read.parquet(ledger)
        .groupBy("event_type")
        .agg(
            F.sum("n_partial").alias("n"),
            F.expr(
                "CAST(CAST(SUM(v_partial) AS DECIMAL(25,6)) AS DOUBLE)"
            ).alias("total_value"),
        )
    )


SCMS_DEPTH = 4
SCMS_WIDTH = 64
SCMS_TOP = 20


def _scms_oracle() -> str:
    from ..functions.textfns import hex_prefix_num_sql

    def cell(uid_col: str, d_col: str) -> str:
        # re-derive per call site with qualified columns (q180's robust
        # pattern) — never string-surgery on an emitted expression
        return (
            hex_prefix_num_sql(
                f"md5(CAST({uid_col} AS VARCHAR) || '#' "
                f"|| CAST({d_col} AS VARCHAR))",
                8,
            )
            + f" % {SCMS_WIDTH}"
        )

    return f"""
    WITH uc AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY user_id
    ),
    grid AS (
        SELECT d, {cell('user_id', 'd')} AS cell,
               CAST(SUM(c) AS BIGINT) AS cell_count
        FROM uc, generate_series(0, {SCMS_DEPTH - 1}) AS g(d)
        GROUP BY d, cell
    ),
    exact AS (
        SELECT user_id, c AS exact_count FROM uc
        ORDER BY c DESC, user_id LIMIT {SCMS_TOP}
    ),
    probes AS (
        SELECT e.user_id, e.exact_count, s.d,
               {cell('e.user_id', 's.d')} AS cell
        FROM exact e, generate_series(0, {SCMS_DEPTH - 1}) AS s(d)
    ),
    est AS (
        SELECT p.user_id, MIN(g.cell_count) AS est_count
        FROM probes p JOIN grid g ON g.d = p.d AND g.cell = p.cell
        GROUP BY p.user_id
    )
    SELECT e.user_id, e.exact_count, s.est_count,
           s.est_count - e.exact_count AS overcount,
           CAST(ROW_NUMBER() OVER (ORDER BY e.exact_count DESC, e.user_id)
                AS INT) AS rank
    FROM exact e JOIN est s ON e.user_id = s.user_id
    ORDER BY e.exact_count DESC, e.user_id
    """


@register(
    "q190_streaming_countmin",
    oracle=_scms_oracle(),
    tags=("streaming", "sketch", "count-min", "mergeable"),
)
def q190_streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: q180's count-min sketch MAINTAINED by a
    Structured Streaming pipeline — each micro-batch lands its partial
    DEPTH x WIDTH grid (per-batch user counts hashed into cells) via
    ``foreachBatch`` into the replay-safe batch_id-partitioned ledger
    (_land_ledger), and the live sketch is the cell-wise SUM of the
    partials (CMS merge = '+') — the q161 matview discipline applied to
    a sketch. Because every counter is an exact
    integer, the streamed-and-merged grid is BITWISE equal to the grid a
    batch job would build over the same history — which is exactly what
    the oracle checks: it recomputes grid and estimates directly from
    the raw events. The top-{SCMS_TOP} most-active users are then
    point-queried against the merged sketch, overcount = measured
    collision error.

    At 100 TB/day: per batch the ledger gains <= DEPTH*WIDTH rows
    (constant), the estimate query reads partials only — never the event
    history — and per-user state never exists anywhere (that is the
    sketch's point; the exact side here is the fixture-scale referee)."""
    from ..operators.sketch import cms_fanout, cms_point_query

    events = load_tables(spark, sf_dir, ["events"])["events"]
    ledger = tempfile.mkdtemp(prefix="q190_cms_ledger_")

    def land_partial(batch_df: DataFrame, batch_id: int) -> None:
        counts = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        partial = (
            cms_fanout(counts, "user_id", SCMS_DEPTH, SCMS_WIDTH)
            .groupBy("d", "cell")
            .agg(F.sum("c").cast("bigint").alias("c_partial"))
        )
        _land_ledger(partial, batch_id, ledger)

    _drain(
        spark,
        stream_source(spark, sf_dir, "events")
        .writeStream.foreachBatch(land_partial)
        .option("checkpointLocation", os.path.join(ledger, "_chk")),
    )

    grid = (
        spark.read.parquet(ledger)
        .groupBy("d", "cell")
        .agg(F.sum("c_partial").cast("bigint").alias("cell_count"))
    )
    exact = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), "user_id")
        .limit(SCMS_TOP)
    )
    return cms_point_query(grid, exact, "user_id", SCMS_DEPTH, SCMS_WIDTH)


def _q218_oracle() -> str:
    from ..functions.textfns import doc_shingles_sql, norm_sql

    sh = doc_shingles_sql("text", 3, "duckdb")
    norm = norm_sql("text", "duckdb")
    return f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN len({sh}) > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_minhashable,
           CAST(COUNT(DISTINCT md5({norm})) AS BIGINT) AS n_distinct_hashes,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM documents GROUP BY source
    """


@register(
    "q218_streaming_index_ingest",
    oracle=_q218_oracle(),
    tags=("streaming", "index", "dedup", "compaction", "index-maintenance"),
)
def q218_streaming_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r10 signature index maintained BY THE STREAMING ENGINE — the
    ingest-time story (queries/sig_index.py) run as the 24/7 job it
    would be in production: documents arrive as a file-source stream,
    each micro-batch runs the SAME ``sig_frame`` build the batch index
    uses and appends its signature rows to the index table via
    foreachBatch (the q92 landing pattern — the batch-only parquet sink
    works unmodified), and the landed index is read back and rolled up
    per source. The oracle recomputes the rollup from raw ``documents``,
    so a row lost or duplicated in transit, or a batch/stream divergence
    in the build expression, breaks the value hash.

    r13 (VERDICT r12 item 3): the landing gets the q224 treatment — the
    sig index is the repo's most-consumed artifact, and the old flat
    ``mode("append")`` landing was the one remaining unboundedly-
    fragmenting table (one file set per micro-batch, forever). Rows now
    land hash-prefix-PARTITIONED (``pb`` = first hex char of the content
    hash — 16 balanced buckets, the measured q219 sizing) and every
    COMPACT_EVERY micro-batches (plus once at drain end) the landing is
    rewritten one-file-per-bucket into a NEW generation directory with
    the read pointer swapped and the superseded generation deleted —
    race-free because foreachBatch runs sequentially on the driver, and
    never reading its own write target. Own 12-file source (shared with
    q224's cache) so every drain spans >= 3 micro-batches at any fixture
    scale and the driver's correctness runs exercise the swap path.

    Scale shape: the per-batch build is the index's own one-pass map
    (no state store — signatures are pure per-row functions) and never
    READS the landing, so steady-state per-batch latency is flat in the
    index size; the compaction batches read one generation (amortized
    1/COMPACT_EVERY, and at 100 TB run per-touched-partition on the
    q164 plan's grouping rather than whole-table). The rollup output is
    layout-invariant: same oracle, same columns as the flat landing."""
    from .sig_index import hashed_mode, sig_frame, with_derived_index_cols

    landing = _GenerationLanding(
        spark, "q218_streaming_index_ingest", CDC_LANDED_PART_COL
    )
    # partition bucket from the content hash in EITHER index layout
    # (hashed mode stores the 16 raw bytes as chb; string mode the hex)
    pb_col = (
        F.substring(F.lower(F.hex("chb")), 1, 1)
        if hashed_mode()
        else F.substring("content_hash", 1, 1)
    )

    def land(batch_df: DataFrame, _batch_id: int) -> None:
        landing.append(
            sig_frame(batch_df).withColumn(CDC_LANDED_PART_COL, pb_col)
        )

    _drain(
        spark,
        stream_source(spark, sf_dir, "docs")
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", landing.checkpoint_dir()),
    )
    landing.finalize()  # drain-end rewrite, elided if already compact
    # normalize the landed layout (hashed mode stores chb, not the hex
    # content_hash) the same way the batch index's read path does
    idx = with_derived_index_cols(landing.read())
    return idx.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        # h0's nullness IS the minhashable contract (null h ⟺ empty
        # shingles) and exists in both index modes — the lean hashed
        # layout stores no shingle payload at all
        F.sum(F.col("h0").isNotNull().cast("int")).cast("bigint").alias(
            "n_minhashable"
        ),
        F.countDistinct("content_hash").cast("bigint").alias(
            "n_distinct_hashes"
        ),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# q219 landing layout: the index lands hash-prefix-partitioned so each
# micro-batch's anti-join PRUNES to the directories its candidate hashes
# can live in. 1 hex char = 16 buckets at fixture scale: bucket count is
# a target-file-size knob (the same knob as any bucketed lake table —
# a 100 TB deployment raises it so a steady-state delta touches a strict
# subset), and the MEASURED cost of over-bucketing is real: at 256
# buckets batch k's anti-join opened k x 256 tiny files and the sf1
# drain read 56.7 s vs 14.7 flat (SCALE_PROBES r12) — file-open fixed
# costs, not data. The rollup's 1-char bucket is derived from chunk_hash
# independently, so the OUTPUT is layout-invariant.
CDC_LANDED_PREFIX_CHARS = 1
CDC_LANDED_PART_COL = "pb"
CDC_LANDED_SCHEMA = f"chunk_hash string, {CDC_LANDED_PART_COL} string"


def _land_novel_hashes(
    batch_df: DataFrame,
    read_index: Callable[[], DataFrame],
    append: Callable[[DataFrame], None],
) -> None:
    """One micro-batch of the CDC index maintainers (q219/q224): chunk the
    batch's documents (the same Arrow chunker the batch index uses), keep
    its distinct hashes with their landing bucket, anti-join them against
    the buckets of the index so far that they touch, and append only the
    novel ones.

    ``read_index()`` is called BEFORE the append: spark.read builds its
    InMemoryFileIndex eagerly at DataFrame creation, so the anti-join's
    file listing is pinned pre-append and can never see this batch's own
    appends (the read-your-own-writes hazard). The old persist + count()
    pin was a redundant extra job per batch (~0.3 s x batches, r14; the
    twin-count oracle still proves exactly-once end-to-end, and
    tests/test_streaming.py guards the eager-listing behaviour)."""
    from pyspark.storagelevel import StorageLevel

    from .dedup import _cdc_chunk_frame

    batch_hashes = (
        _cdc_chunk_frame(batch_df)
        .select("chunk_hash")
        .distinct()
        .withColumn(
            CDC_LANDED_PART_COL,
            F.substring("chunk_hash", 1, CDC_LANDED_PREFIX_CHARS),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    touched_rows = batch_hashes.select(CDC_LANDED_PART_COL).distinct()
    # bounded: <= 16^CDC_LANDED_PREFIX_CHARS two-char strings — the
    # partition-pruning predicate, same class as convergence scalars
    touched = [r[0] for r in touched_rows.collect()]
    # partition filter on the landing layout's directory column: the
    # anti-join scans ONLY the buckets this batch's hashes can live in,
    # so per-batch cost tracks the touched slice of the index, not its
    # full accumulated size (VERDICT r11 item 4 — the rescan term grew
    # with total novel content)
    index_so_far = read_index().filter(F.col(CDC_LANDED_PART_COL).isin(touched))
    novel = batch_hashes.join(
        index_so_far.select("chunk_hash"), "chunk_hash", "left_anti"
    )
    append(novel)
    batch_hashes.unpersist()


def _q219_oracle() -> str:
    from .dedup import _cdc_chunks_duckdb

    return f"""
    WITH ch AS (
        SELECT DISTINCT unnest({_cdc_chunks_duckdb()}) AS chunk_hash
        FROM documents
    )
    SELECT substring(chunk_hash, 1, 1) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_rows_landed,
           MIN(chunk_hash) AS min_hash,
           MAX(chunk_hash) AS max_hash
    FROM ch GROUP BY bucket
    """


@register(
    "q219_streaming_cdc_index_maintenance",
    oracle=_q219_oracle(),
    tags=("streaming", "index", "cdc", "incremental", "index-maintenance"),
)
def q219_streaming_cdc_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CDC chunk index maintained BY THE STREAMING ENGINE — q212's
    batch write-set computed per MICRO-BATCH: documents arrive as a
    throttled file stream, each batch chunks its documents (the same
    Arrow chunker the batch index uses), anti-joins the batch's distinct
    hashes against the index AS LANDED SO FAR, and appends only the
    novel ones (the q100/q212 'screen the delta against the artifact'
    shape run incrementally from an empty index; _land_novel_hashes).
    The anti-join's index read is created BEFORE the append, which pins
    the pre-append file listing — the read-your-own-writes hazard a
    naive same-directory read/append would have.

    The rollup's twin counts ARE the exactly-once invariant: a hash
    re-appended by any batch (an anti-join that missed earlier
    landings) makes n_rows_landed exceed n_chunks and breaks the value
    hash against the oracle, which recomputes the distinct corpus chunk
    set from raw documents. Scale shape: per batch, one map-side chunk
    pass + one hash-keyed anti-join against the index; the landed index
    grows by novel content only, and since r12 it lands HASH-PREFIX-
    PARTITIONED (``pb=`` directories, CDC_LANDED_PREFIX_CHARS) so the
    anti-join's scan prunes to the buckets the batch's hashes touch —
    the accumulated-index rescan term VERDICT r11 item 4 named is now
    bounded by the touched slice, not the index's total size (the
    bucketed lake-table layout q212's docstring names, applied to the
    maintenance path; tests/test_streaming.py asserts the pruned read
    selects a strict file subset on the landed artifact)."""
    out = tempfile.mkdtemp(prefix="q219_cdc_idx_")
    LAST_LANDING["q219_streaming_cdc_index_maintenance"] = {"dir": out}

    def append(novel: DataFrame) -> None:
        # repartition on the directory column: partitionBy writes one
        # file per (task x value) — unrepartitioned, 8 drain tasks x 256
        # buckets would spray ~2k files per batch
        novel.repartition(CDC_LANDED_PART_COL).write.mode(
            "append"
        ).partitionBy(CDC_LANDED_PART_COL).parquet(out)

    def land_novel(batch_df: DataFrame, _batch_id: int) -> None:
        _land_novel_hashes(
            batch_df,
            lambda: _read_or_empty(spark, out, CDC_LANDED_PART_COL, CDC_LANDED_SCHEMA),
            append,
        )

    _drain(
        spark,
        stream_source(spark, sf_dir, "docs")
        .writeStream.foreachBatch(land_novel)
        .option("checkpointLocation", os.path.join(out, "_chk")),
    )
    idx = spark.read.schema(CDC_LANDED_SCHEMA).parquet(out)
    return idx.groupBy(
        F.substring("chunk_hash", 1, 1).alias("bucket")
    ).agg(
        F.countDistinct("chunk_hash").cast("bigint").alias("n_chunks"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows_landed"),
        F.min("chunk_hash").alias("min_hash"),
        F.max("chunk_hash").alias("max_hash"),
    )


EMB_STREAM_BITS = 8  # landed sign-prefix width (fixed: dual-dialect)


def _q220_oracle() -> str:
    from ..functions.vectors import lsh_bucket_sql
    from ..operators.clustering import kmeans_oracle_ctes
    from .dedup import NEW_MOD, NEW_REM
    from .similarity import DIM, SEM_ITER, sem_k_sql

    # iterations = SEM_ITER + 1: the (SEM_ITER+1)-th centroid CTE is the
    # per-cluster MEAN of the SEM_ITER-th assignment — exactly the frozen
    # centroid table the engine derives with recompute_centroids (the
    # surplus final assignment CTE is never referenced, so DuckDB never
    # executes it)
    parts, _, last_c = kmeans_oracle_ctes(
        "base", "vec_id", "embedding", DIM, sem_k_sql("base"), SEM_ITER + 1
    )
    from ..functions.vectors import cosine_sql

    cos = cosine_sql("e.embedding", "c.centroid", DIM, "duckdb")
    bits = lsh_bucket_sql("embedding", EMB_STREAM_BITS, DIM, "duckdb")
    body = ",\n    ".join(parts)
    return f"""
    WITH base AS (
        SELECT * FROM embeddings WHERE vec_id % {NEW_MOD} <> {NEW_REM}
    ),
    {body},
    newv AS (
        SELECT vec_id, embedding, {bits} AS bits8
        FROM embeddings WHERE vec_id % {NEW_MOD} = {NEW_REM}
    ),
    assigned AS (
        SELECT vec_id, cluster, bits8 FROM (
            SELECT e.vec_id, c.cluster, e.bits8,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {cos} DESC, c.cluster DESC)
                       AS rn
            FROM newv e CROSS JOIN {last_c} c
        ) WHERE rn = 1
    )
    SELECT cluster,
           CAST(COUNT(*) AS BIGINT) AS n_new,
           MIN(vec_id) AS min_vec,
           MAX(vec_id) AS max_vec,
           CAST(COUNT(DISTINCT bits8) AS BIGINT) AS n_buckets
    FROM assigned GROUP BY cluster
    """


def _flat_oracle_guard(spark: SparkSession, sf_dir: str) -> str | None:
    from .similarity import flat_oracle_guard

    return flat_oracle_guard(spark, sf_dir)


@register(
    "q220_streaming_emb_index_maintenance",
    oracle=_q220_oracle(),
    tags=(
        "streaming",
        "index",
        "embedding",
        "clustering",
        "index-maintenance",
    ),
    oracle_guard=_flat_oracle_guard,
)
def q220_streaming_emb_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The enriched embedding index maintained BY THE STREAMING ENGINE —
    the emb_index counterpart of q218/q219 (VERDICT r10 item 6): the
    cluster partition is FROZEN from the base corpus (the ingest
    artifact — centroids after the same unrolled Lloyd rounds
    sem_assignments runs, trained WITHOUT the held-out delta), and new
    vectors (the q100/q212 ``vec_id % {NEW_MOD} == {NEW_REM}`` snapshot
    convention) arrive as a throttled file stream: each micro-batch
    assigns its vectors to the nearest frozen centroid (broadcast
    cosine argmax — a pure per-row function once the centroids are
    fixed, so no state store) and lands enriched rows (vec_id, cluster,
    sign-bit prefix) in the replay-safe batch_id-partitioned ledger
    (_land_ledger). The rollup reads the
    LANDED artifact; the oracle recomputes base k-means → frozen
    centroids → delta assignment from raw ``embeddings``, so a dropped
    batch, a drifted centroid, or a batch/stream divergence in the
    assignment breaks the value hash.

    This is the production answer to 'new vectors between re-clusters':
    assign to the existing partition at arrival cost O(k·batch);
    re-clustering on drift is a batch rebuild of the artifact (the
    fingerprinted emb_enriched build), not a streaming operator.

    The frozen centroids are the CLUSTER MEANS of the base partition —
    derived from the same ``sem_assignments`` the enriched index build
    runs (flat Lloyd at fixture scales, two-level above 50k vectors:
    the first probe of this query used flat k-means training directly
    and read 19.8x at sf1→sf10, the N·k ≈ N²/{SEM_CELL} term two-level
    exists to remove). The oracle reproduces the means as one extra
    centroid CTE after the unrolled flat rounds — exact at every driver
    scale, where the engine's switch also picks flat."""
    from ..functions.vectors import lsh_bucket_sql
    from .emb_index import frozen_centroids
    from .similarity import DIM

    # the frozen centroid table is the MATERIALIZED ingest artifact now
    # (emb_index.frozen_centroids, fingerprinted per fixture, referee-
    # switchable) — the Lloyd training no longer re-runs per invocation
    # and nothing is left persisted (ADVICE r12). The flat-regime oracle
    # caveat is a contract-layer guard (similarity.flat_oracle_guard),
    # not a per-call warn (VERDICT r12 item 5).
    cent = frozen_centroids(spark, sf_dir).persist()
    cent.count()  # materialize the broadcast side once, outside batches

    out = tempfile.mkdtemp(prefix="q220_emb_idx_")
    from ..functions.vectors import cosine_sql

    # parsed ONCE, outside the batch loop (r15): the sign-bit expression
    # is ~11 KB of SQL (8 planes x 32 literal components) and F.expr
    # re-parsed it per micro-batch — measured ~1-2 s of the q226-family
    # batch-body construction, pure driver time. A Column is an immutable
    # unresolved expression, reusable across every batch's DataFrame.
    bits_col = F.expr(lsh_bucket_sql("embedding", EMB_STREAM_BITS, DIM, "spark"))
    ccos_col = F.expr(cosine_sql("embedding", "centroid", DIM, "spark"))

    def land_assigned(batch_df: DataFrame, batch_id: int) -> None:
        # assign_clusters' shape (broadcast centroids + struct-max
        # argmax) with bits8 CARRIED THROUGH the grouping key — it is
        # functionally dependent on vec_id, so this saves the per-batch
        # join back to the batch frame (measured: per-batch overhead
        # dominated the sf10 drain)
        scored = (
            batch_df.select(
                "vec_id", bits_col.alias("bits8"), "embedding"
            )
            .crossJoin(F.broadcast(cent))
            .select(
                "vec_id", "bits8", ccos_col.alias("cos"), "cluster"
            )
        )
        assigned = (
            scored.groupBy("vec_id", "bits8")
            .agg(F.max(F.struct("cos", "cluster")).alias("best"))
            .select("vec_id", "bits8", F.col("best.cluster").alias("cluster"))
        )
        _land_ledger(assigned, batch_id, out)

    _drain(
        spark,
        stream_source(spark, sf_dir, "newvecs")
        .writeStream.foreachBatch(land_assigned)
        .option("checkpointLocation", os.path.join(out, "_chk")),
    )
    cent.unpersist()
    idx = spark.read.parquet(out)
    return idx.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new"),
        F.min("vec_id").alias("min_vec"),
        F.max("vec_id").alias("max_vec"),
        F.countDistinct("bits8").cast("bigint").alias("n_buckets"),
    )


COMPACT_EVERY = 3  # micro-batches between in-stream compactions


@register(
    "q224_streaming_maintain_and_compact",
    oracle=_q219_oracle(),
    tags=("streaming", "index", "cdc", "compaction", "index-maintenance"),
)
def q224_streaming_maintain_and_compact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 24/7 maintenance job composed end-to-end: q219's pruned
    novel-append PLUS q223's compaction run IN-STREAM — every
    COMPACT_EVERY micro-batches (and once at drain end) the landed
    index is rewritten one-file-per-bucket into a NEW generation
    directory and the maintainer's read pointer swaps to it, so the
    per-batch anti-join never reads an unboundedly fragmenting table.
    Generation swap instead of in-place overwrite is the point:
    foreachBatch runs batches sequentially on the driver, so the swap
    is race-free, the rewrite reads generation N while writing N+1
    (never its own input — the q219 read-your-own-writes discipline
    applied to the rewrite), and the superseded generation is deleted
    to bound disk. The rollup reads the FINAL generation; the oracle is
    q219's (the distinct corpus chunk set from raw documents), so a row
    lost or duplicated by ANY append or ANY rewrite across the whole
    drain breaks the twin counts. tests/test_streaming.py asserts the
    final artifact is one file per bucket and that the drain actually
    swapped generations."""
    landing = _GenerationLanding(
        spark,
        "q224_streaming_maintain_and_compact",
        CDC_LANDED_PART_COL,
        read_schema=CDC_LANDED_SCHEMA,
    )

    # the family's 12-file docs source: at 4 files per trigger every
    # drain spans >= 3 micro-batches at ANY fixture scale, so the
    # in-stream compaction path is exercised by the driver's correctness
    # runs too, not only the probe tiers
    _drain(
        spark,
        stream_source(spark, sf_dir, "docs")
        .writeStream.foreachBatch(
            lambda df, _batch_id: _land_novel_hashes(df, landing.read, landing.append)
        )
        .option("checkpointLocation", landing.checkpoint_dir()),
    )
    landing.finalize()  # drain-end rewrite, elided if already compact
    idx = landing.read()
    return idx.groupBy(
        F.substring("chunk_hash", 1, 1).alias("bucket")
    ).agg(
        F.countDistinct("chunk_hash").cast("bigint").alias("n_chunks"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows_landed"),
        F.min("chunk_hash").alias("min_hash"),
        F.max("chunk_hash").alias("max_hash"),
    )


EMB_LANDED_PART_BITS = 4  # pb = first 4 sign bits -> 16 bounded buckets


def _q226_oracle() -> str:
    from .similarity import _delta_assign_oracle

    return _delta_assign_oracle(
        multiprobe=True, complete=True, landed_bits=EMB_STREAM_BITS
    )


@register(
    "q226_streaming_emb_maintain_and_compact",
    oracle=_q226_oracle(),
    tags=(
        "streaming",
        "index",
        "embedding",
        "clustering",
        "compaction",
        "index-maintenance",
    ),
    oracle_guard=_flat_oracle_guard,
)
def q226_streaming_emb_maintain_and_compact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q224's generation-swap maintenance applied to the THIRD index
    family — the streamed embedding index — with q225's COMPOSED
    assignment as the per-batch operator. q220 lands its enriched rows
    as a flat per-batch append (the fragmentation q218/q219 shed) and
    scores every arriving vector against ALL k frozen centroids — the
    O(batch x k) per-batch term the metric flagged at 19.1x and this
    round's first probe of a naive q226 re-measured at 36x per batch
    (k ~ n/250 grows with the corpus while the bucketed candidate count
    does not). Here each micro-batch runs the q225 composition instead:
    multiprobe sign-prefix argmax for the bulk (O(rows x (p+1) x ~4)
    candidates, independent of k), exact argmax for ONLY the bucket-miss
    residue, ``via_exact`` landed per row. Rows land PARTITIONED on
    ``pb`` = the first {EMB_LANDED_PART_BITS} stored sign bits (16
    bounded buckets, the measured q219 sizing) and every COMPACT_EVERY
    micro-batches plus once at drain end the landing is rewritten
    one-file-per-bucket into a new generation, read pointer swapped,
    superseded generation deleted (race-free: foreachBatch is
    sequential; the rewrite never reads its own write target). Own
    12-file source so every drain spans >= 3 micro-batches at any
    fixture scale. With this, all three streamed index families
    (signature / CDC chunk / embedding) run the same bounded 24/7 loop:
    partitioned landing, in-stream compaction, layout-invariant rollup.

    The composed assignment is a pure per-vector function of the frozen
    centroid table, so batch boundaries cannot change it — the rollup
    equals q225's on the shared columns (test-pinned), and the oracle
    replays the full composition (multiprobe CTE + exact-residue argmax
    + the landed sign-prefix bucket count), so a row lost or duplicated
    by ANY append or ANY rewrite, or a batch/stream divergence in the
    assignment, breaks the value hash. Same materialized frozen-centroid
    artifact, same flat-regime oracle guard as q220/q221/q222/q225.

    Persist-once, measured and REJECTED (r13 verdict item 6): the cheap
    path ``best`` is referenced twice per batch (residue anti-join +
    landed union), so a persist→unpersist of ``newb``/``best`` inside
    the batch looked like a free halving of the probe-join work. A/B at
    BOTH tiers says otherwise — warm per-batch means: no-persist
    1.23-1.35 s, persist+count 1.39-1.58 s, lazy persist 1.34-1.51 s
    (sf1, 4 runs each; sf0.1 reads the same ordering). The recompute is
    two map-side broadcast-join passes over a micro-batch — cheaper
    than the cache materialization job + ser/deser it would save, at
    any batch size the 24/7 loop actually sees (bounded by trigger
    sizing, not corpus size). The simpler form stays."""
    from ..functions.vectors import (
        ADAPTIVE_LSH_MAX_PLANES,
        centroid_planes_value,
        cosine_sql,
        lsh_bucket_sql,
    )
    from .emb_index import frozen_centroids
    from .similarity import DIM

    cent = frozen_centroids(spark, sf_dir).persist()
    # bounded 1-row scalar: the centroid count sizes the shared prefix
    # ONCE, outside batches (python twin of centroid_planes_sql,
    # equality test-pinned)
    p_val = centroid_planes_value(cent.count())
    cbits = lsh_bucket_sql("centroid", ADAPTIVE_LSH_MAX_PLANES, DIM, "spark")
    ebits = lsh_bucket_sql("embedding", ADAPTIVE_LSH_MAX_PLANES, DIM, "spark")
    centb = cent.select(
        "cluster",
        "centroid",
        F.expr(f"substring({cbits}, 1, {p_val})").alias("bk"),
    )

    landing = _GenerationLanding(
        spark, "q226_streaming_emb_maintain_and_compact", CDC_LANDED_PART_COL
    )

    # parsed ONCE, outside the batch loop (r15, the q220 note): the
    # sign-bit expressions are 11-22 KB of SQL apiece (plane-literal
    # arrays) and re-parsing them per micro-batch was ~1-2 s of pure
    # driver time per batch-body construction
    bits_col = F.expr(lsh_bucket_sql("embedding", EMB_STREAM_BITS, DIM, "spark"))
    ebk_col = F.expr(f"substring({ebits}, 1, {p_val})")
    ccos_col = F.expr(cosine_sql("embedding", "centroid", DIM, "spark"))
    probe_i_col = F.explode(F.expr(f"sequence(-1, {p_val - 1})"))
    probe_bk_col = F.expr(
        "CASE WHEN i = -1 THEN bk"
        " ELSE concat(substring(bk, 1, i),"
        " CASE WHEN substring(bk, i + 1, 1) = '0'"
        " THEN '1' ELSE '0' END,"
        f" substring(bk, i + 2, {p_val} - i - 1)) END"
    )

    def land_assigned(batch_df: DataFrame, _batch_id: int) -> None:
        newb = batch_df.select(
            "vec_id",
            "embedding",
            bits_col.alias("bits8"),
            ebk_col.alias("bk"),
        )
        probes = newb.select(
            "vec_id",
            "bits8",
            "embedding",
            "bk",
            probe_i_col.alias("i"),
        ).select(
            "vec_id",
            "bits8",
            "embedding",
            probe_bk_col.alias("bk"),
        )
        # cheap path: in-bucket argmax over ~4 candidates per probe
        # (bits8 carried through the grouping key — functionally
        # dependent on vec_id, the q220 trick)
        best = (
            probes.join(F.broadcast(centb), "bk")
            .select("vec_id", "bits8", ccos_col.alias("cos"), "cluster")
            .groupBy("vec_id", "bits8")
            .agg(F.max(F.struct("cos", "cluster")).alias("b"))
            .select(
                "vec_id",
                "bits8",
                F.col("b.cluster").alias("cluster"),
                F.lit(0).alias("via_exact"),
            )
        )
        # exact path for ONLY the bucket-miss residue. Membership in `best`
        # is exactly "some probe key hit a non-empty centroid bucket", so
        # the residue anti-join probes a map-side broadcast SEMI of the
        # probe frame against the centroid bucket list instead of
        # re-deriving `best` itself (r15): the anti-join's build side was
        # best's whole probe-join + aggregate subtree, and column pruning
        # (vec_id only) made that copy a DIFFERENT exchange from the union
        # branch's, so ReusedExchange never fired and the probe-join +
        # partial aggregate executed twice per batch (measured: union noop
        # 0.75 s vs best alone 0.37 s). The semi's build side is the
        # |centroid-bucket|-row bk list — the broadcast size class the
        # batch already ships twice — and the probe side is a shuffle-free
        # projection of the batch.
        hit_ids = probes.join(
            F.broadcast(centb.select("bk")), "bk", "left_semi"
        ).select("vec_id")
        residb = (
            newb.join(hit_ids, "vec_id", "left_anti")
            .crossJoin(F.broadcast(cent))
            .select("vec_id", "bits8", ccos_col.alias("cos"), "cluster")
            .groupBy("vec_id", "bits8")
            .agg(F.max(F.struct("cos", "cluster")).alias("b"))
            .select(
                "vec_id",
                "bits8",
                F.col("b.cluster").alias("cluster"),
                F.lit(1).alias("via_exact"),
            )
        )
        landing.append(
            best.unionByName(residb).withColumn(
                CDC_LANDED_PART_COL,
                F.substring("bits8", 1, EMB_LANDED_PART_BITS),
            )
        )

    _drain(
        spark,
        stream_source(spark, sf_dir, "newvecs")
        .writeStream.foreachBatch(land_assigned)
        .option("checkpointLocation", landing.checkpoint_dir()),
    )
    cent.unpersist()
    landing.finalize()  # drain-end rewrite, elided if already compact
    idx = landing.read()
    return idx.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new"),
        F.min("vec_id").alias("min_vec"),
        F.max("vec_id").alias("max_vec"),
        F.countDistinct("bits8").cast("bigint").alias("n_buckets"),
        F.sum("via_exact").cast("bigint").alias("n_via_exact"),
    )
