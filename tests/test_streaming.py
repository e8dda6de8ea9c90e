"""Structured Streaming operators: batch rows through a real streaming
runtime (file source → memory sink, processAllAvailable), checked against
their batch duals.
"""

from __future__ import annotations

import sys
import time

import pytest
from pyspark.sql import functions as F

from discogs_load_spark.operators.relational import sessionize
from discogs_load_spark.session import load_tables
from discogs_load_spark.streaming.ops import (
    dedup_stream,
    read_event_stream,
    running_user_totals,
    session_aggregates,
    windowed_counts,
)

from .conftest import REPO, SF_SMALL

sys.path.insert(0, str(REPO / "tools"))
from harness import batch_seconds, time_query  # noqa: E402


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """events fixture re-materialized at microsecond precision (the raw
    parquet is TIMESTAMP(NANOS), unreadable by a streaming source)."""
    path = str(tmp_path_factory.mktemp("stream") / "events")
    load_tables(spark, SF_SMALL, ["events"])["events"].write.parquet(path)
    return path


def _run_to_memory(stream_df, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_windowed_counts_matches_batch(spark, events_dir):
    stream = read_event_stream(spark, events_dir)
    # complete mode: append would (correctly) withhold windows still
    # inside the watermark horizon at end-of-stream
    _run_to_memory(windowed_counts(stream, "1 hour"), "win_counts", "complete")
    got = {
        (r.window_start, r.event_type): r.n
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = spark.read.parquet(events_dir)
    want = {
        (r.ws, r.event_type): r.n
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_session_aggregates_matches_batch_session_count(spark, events_dir):
    stream = read_event_stream(spark, events_dir)
    _run_to_memory(session_aggregates(stream, gap="6 hours"), "sessions", "complete")
    got = (
        spark.sql("SELECT user_id, count(*) AS n FROM sessions GROUP BY user_id")
        .collect()
    )
    got = {r.user_id: r.n for r in got}
    batch = sessionize(
        spark.read.parquet(events_dir), ["user_id"], "ts", 6 * 3600, ["event_id"]
    )
    want = {
        r.user_id: r.n
        for r in batch.groupBy("user_id")
        .agg(F.countDistinct("session_seq").alias("n"))
        .collect()
    }
    assert got == want


def test_dedup_stream_drops_duplicates(spark, events_dir, tmp_path):
    dup_dir = str(tmp_path / "dup")
    base = spark.read.parquet(events_dir).limit(50)
    base.union(base).write.parquet(dup_dir)  # every event twice
    stream = read_event_stream(spark, dup_dir)
    _run_to_memory(dedup_stream(stream), "dedup_out", "append")
    out = spark.sql("SELECT event_id FROM dedup_out").collect()
    ids = [r.event_id for r in out]
    assert len(ids) == 50
    assert len(set(ids)) == 50


def test_running_user_totals_matches_batch(spark, events_dir):
    stream = read_event_stream(spark, events_dir)
    _run_to_memory(running_user_totals(stream), "running", "update")
    # last update per user == batch totals
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql(
            """SELECT user_id, n_events, total_value FROM (
                 SELECT *, ROW_NUMBER() OVER (
                     PARTITION BY user_id ORDER BY n_events DESC) rn
                 FROM running) WHERE rn = 1"""
        ).collect()
    }
    want = {
        r.user_id: (r.n, r.total)
        for r in spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert abs(got[u][1] - want[u][1]) < 1e-6


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    from discogs_load_spark.streaming.ops import purchase_click_join

    stream = read_event_stream(spark, events_dir)
    joined = purchase_click_join(
        stream.filter(F.col("event_type") == "purchase"),
        stream.filter(F.col("event_type") == "click"),
        horizon="1 hour",
    )
    _run_to_memory(joined, "ssjoin", "append")
    got = spark.sql("SELECT * FROM ssjoin")

    batch = spark.read.parquet(events_dir)
    p = batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("p_event"),
        F.col("ts").alias("p_ts"),
    )
    c = batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("c_event"),
        F.col("ts").alias("c_ts"),
    )
    want = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") > F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 hour")),
    )
    got_pairs = sorted((r.p_event, r.c_event) for r in got.collect())
    want_pairs = sorted((r.p_event, r.c_event) for r in want.collect())
    assert got_pairs == want_pairs and len(got_pairs) > 0


def test_streaming_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Kill-and-resume: a file-source stream lands half its input through
    foreachBatch, stops, more files arrive, and a NEW query resumes from
    the same checkpoint. The landed output must contain every event
    exactly once — the checkpoint's processed-file log is what makes the
    restart neither skip nor duplicate."""
    import os

    from pyspark.sql import functions as F

    from discogs_load_spark.session import load_tables
    from discogs_load_spark.streaming.ops import read_event_stream

    from .conftest import SF_SMALL

    events = load_tables(spark, SF_SMALL, ["events"])["events"]
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    events.filter(F.col("event_id") % 2 == 0).write.parquet(src)

    def land(batch_df, _bid):
        batch_df.write.mode("append").parquet(out)

    def drain_once():
        q = (
            read_event_stream(spark, src)
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    drain_once()
    n_first = spark.read.parquet(out).count()
    assert 0 < n_first < events.count()

    # late files arrive while the query is DOWN; the resumed query must
    # pick up exactly the delta
    os.remove(os.path.join(src, "_SUCCESS"))
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
    drain_once()

    landed = spark.read.parquet(out)
    assert landed.count() == events.count()  # no loss, no duplication
    got = {
        (r.event_type, r.n)
        for r in landed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    want = {
        (r.event_type, r.n)
        for r in events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_q219_lands_partitioned_and_prunes_anti_join_reads(spark):
    """The streaming CDC index maintainer must land its novel hashes
    hash-prefix-PARTITIONED (pb= directories) and a bucket-filtered read
    of the landed artifact must scan a strict subset of its files —
    the partition pruning that bounds the per-batch anti-join to the
    touched slice instead of the whole accumulated index (VERDICT r11
    item 4). Exercised on the REAL landed artifact of a full q219 drain,
    and the per-batch latencies the probe protocol reads must be there,
    one per micro-batch."""
    import os

    from discogs_load_spark.queries import streaming as st
    from discogs_load_spark.queries.registry import REGISTRY

    name = "q219_streaming_cdc_index_maintenance"
    with batch_seconds(spark) as lat:
        result = REGISTRY[name].fn(spark, SF_SMALL)
    assert result.count() == 16  # hex first-char rollup, all buckets hit

    out = st._LAST_CDC_LANDED_DIR
    assert out is not None
    part_dirs = [
        e for e in os.listdir(out)
        if e.startswith(f"{st.CDC_LANDED_PART_COL}=")
    ]
    assert len(part_dirs) > 1, "landing is not hash-prefix partitioned"

    schema = f"chunk_hash string, {st.CDC_LANDED_PART_COL} string"
    full = spark.read.schema(schema).parquet(out)
    one_bucket = part_dirs[0].split("=", 1)[1]
    pruned = full.filter(F.col(st.CDC_LANDED_PART_COL) == one_bucket)
    # the bucket predicate must reach the scan as a PARTITION filter
    # (directory pruning), not a data filter over a full scan
    from discogs_load_spark.plans import formatted_plan

    plan = formatted_plan(pruned)
    pf_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert pf_lines and any(
        st.CDC_LANDED_PART_COL in ln and one_bucket in ln
        for ln in pf_lines
    ), plan
    # and the pruned read genuinely scans fewer rows than the artifact
    # holds (each partition dir holds only its own bucket's hashes)
    assert 0 < pruned.count() < full.count()

    # one latency per micro-batch (>= 1: at sf0.001 the source can land
    # as a single file and drain in one batch; the probe tiers land
    # many files and genuinely span batches)
    assert lat and all(t > 0 for t in lat)


def test_q224_in_stream_compaction_swaps_generations(spark):
    """The composed maintainer must (a) actually swap generations during
    the drain (its 12-file source guarantees >= 3 micro-batches at any
    fixture scale, and COMPACT_EVERY = 3), (b) leave the FINAL artifact
    one file per bucket (the consumer-facing compaction contract), and
    (c) record one latency per micro-batch for the probe protocol."""
    import glob
    import os

    from discogs_load_spark.queries import streaming as st
    from discogs_load_spark.queries.registry import REGISTRY

    name = "q224_streaming_maintain_and_compact"
    with batch_seconds(spark) as lat:
        out = REGISTRY[name].fn(spark, SF_SMALL)
    assert out.count() == 16  # hex first-char rollup

    info = st._LAST_Q224
    assert info is not None
    assert len(lat) >= 3 and all(t > 0 for t in lat)
    # >= 1 in-stream swap (since >= COMPACT_EVERY batches); the drain-end
    # finalize() is elided when the landing is already compact
    assert info["generations"] >= 1

    files_per_bucket = {
        b: len(glob.glob(os.path.join(info["dir"], b, "*.parquet")))
        for b in os.listdir(info["dir"])
        if b.startswith(f"{st.CDC_LANDED_PART_COL}=")
    }
    assert files_per_bucket and set(files_per_bucket.values()) == {1}, (
        files_per_bucket
    )


def test_q218_sig_landing_partitioned_and_compacted(spark):
    """The streamed signature-index landing must get the q224 treatment
    (VERDICT r12 item 3): (a) land hash-prefix-partitioned (pb= dirs),
    (b) swap generations in-stream (12-file source, COMPACT_EVERY = 3,
    so >= 1 in-stream swap plus the final one), (c) leave the FINAL
    artifact one file per bucket, and (d) record one latency per
    micro-batch. The rollup itself stays layout-invariant — pinned by
    the oracle-parity suite against raw documents."""
    import glob
    import os

    from discogs_load_spark.queries import streaming as st
    from discogs_load_spark.queries.registry import REGISTRY

    name = "q218_streaming_index_ingest"
    with batch_seconds(spark) as lat:
        out = REGISTRY[name].fn(spark, SF_SMALL)
    assert out.count() >= 1  # per-source rollup

    info = st._LAST_Q218
    assert info is not None
    assert len(lat) >= 3 and all(t > 0 for t in lat)
    # >= 3 batches with COMPACT_EVERY = 3 guarantees the IN-STREAM swap
    # fired; the drain-end finalize() is elided when the cadence compact
    # already ran after the last batch (no redundant rewrite), so the
    # floor is 1, not 2
    assert info["generations"] >= 1

    files_per_bucket = {
        b: len(glob.glob(os.path.join(info["dir"], b, "*.parquet")))
        for b in os.listdir(info["dir"])
        if b.startswith(f"{st.CDC_LANDED_PART_COL}=")
    }
    assert len(files_per_bucket) > 1, "landing is not hash-prefix partitioned"
    assert set(files_per_bucket.values()) == {1}, files_per_bucket


def test_q226_emb_landing_partitioned_and_compacted(spark):
    """The third index family's composed maintainer: (a) pb= partition
    dirs from the landed sign-prefix, (b) >= 1 in-stream generation
    swap plus the final one (12-file source, COMPACT_EVERY = 3),
    (c) one file per bucket at close, (d) one latency per micro-batch,
    (e) the per-batch operator is q225's COMPOSED assignment, which is
    a pure per-vector function of the frozen centroids — so batch
    boundaries cannot change it and the rollup must equal q225's on the
    shared columns, row for row."""
    import glob
    import os

    from discogs_load_spark.queries import streaming as st
    from discogs_load_spark.queries.registry import REGISTRY

    name = "q226_streaming_emb_maintain_and_compact"
    with batch_seconds(spark) as lat:
        out = sorted(
            (r.cluster, r.n_new, r.min_vec, r.max_vec, r.n_via_exact)
            for r in REGISTRY[name].fn(spark, SF_SMALL).collect()
        )
    composed = sorted(
        map(
            tuple,
            REGISTRY["q225_delta_assign_complete"]
            .fn(spark, SF_SMALL)
            .collect(),
        )
    )
    assert out == composed and len(out) >= 1

    info = st._LAST_Q226
    assert info is not None
    assert len(lat) >= 3 and all(t > 0 for t in lat)
    assert info["generations"] >= 1

    # partition-type inference must NOT retype the bucket column: pb is
    # a 4-char '0'/'1' string and every generation's directories must
    # keep the 4-char naming — an inferred-int read inside compact()
    # would re-land pb=0010 as pb=10 across a swap (r13 review finding;
    # _GenerationLanding pins the writer's schema on read)
    assert all(
        len(b.split("=", 1)[1]) == 4
        for b in os.listdir(info["dir"])
        if b.startswith(f"{st.CDC_LANDED_PART_COL}=")
    )

    files_per_bucket = {
        b: len(glob.glob(os.path.join(info["dir"], b, "*.parquet")))
        for b in os.listdir(info["dir"])
        if b.startswith(f"{st.CDC_LANDED_PART_COL}=")
    }
    assert len(files_per_bucket) > 1, "landing is not sign-prefix partitioned"
    assert set(files_per_bucket.values()) == {1}, files_per_bucket


def test_two_swap_cadence_is_correct_and_bounded(spark, monkeypatch):
    """VERDICT r13 item 5: the amortization claim ('rewrites amortized
    1/COMPACT_EVERY') was only ever exercised at n_swaps=1 — the 12-file
    sources give 3 batches per drain, so COMPACT_EVERY=3 fires exactly
    one in-stream compact and the finalize is elided. A 24-file source
    (SPARK_GRAFT_STREAM_FILES=24, probe-only — the file count is folded
    into the cached source path so this can't poison the default cache)
    gives 6 batches and TWO in-stream swaps, the second rewriting an
    already-compacted + newly-appended landing. Pin: (a) 6 batches,
    (b) generations == 2 with the finalize still elided, (c) the final
    artifact stays one file per bucket, and (d) the rollup is
    swap-count-invariant — q226's equals q225's composition row for
    row, exactly as at n_swaps=1."""
    import glob
    import os

    from discogs_load_spark.queries import streaming as st
    from discogs_load_spark.queries.registry import REGISTRY

    monkeypatch.setenv("SPARK_GRAFT_STREAM_FILES", "24")
    assert st.stream_source_files() == 24

    name = "q226_streaming_emb_maintain_and_compact"
    with batch_seconds(spark) as lat:
        out = sorted(
            (r.cluster, r.n_new, r.min_vec, r.max_vec, r.n_via_exact)
            for r in REGISTRY[name].fn(spark, SF_SMALL).collect()
        )
    assert len(lat) == 6 and all(t > 0 for t in lat)
    info = st._LAST_Q226
    assert info["generations"] == 2  # two in-stream swaps, finalize elided

    monkeypatch.delenv("SPARK_GRAFT_STREAM_FILES")
    composed = sorted(
        map(
            tuple,
            REGISTRY["q225_delta_assign_complete"]
            .fn(spark, SF_SMALL)
            .collect(),
        )
    )
    assert out == composed and len(out) >= 1

    files_per_bucket = {
        b: len(glob.glob(os.path.join(info["dir"], b, "*.parquet")))
        for b in os.listdir(info["dir"])
        if b.startswith(f"{st.CDC_LANDED_PART_COL}=")
    }
    assert files_per_bucket and set(files_per_bucket.values()) == {1}

    # the CDC maintainer on the same 24-file cadence
    monkeypatch.setenv("SPARK_GRAFT_STREAM_FILES", "24")
    name = "q224_streaming_maintain_and_compact"
    with batch_seconds(spark) as lat:
        assert REGISTRY[name].fn(spark, SF_SMALL).count() == 16
    assert len(lat) == 6
    assert st._LAST_Q224["generations"] == 2


def test_time_query_reads_batch_seconds_from_progress_events(spark):
    """The harness reads per-micro-batch latency from Spark's progress
    events (each batch's addBatch duration): a drain reports one positive
    entry per batch, a query that starts no stream reports none and does
    not wait for events, and the listener is removed afterwards."""
    streams = spark._jsparkSession.streams()
    n_listeners = len(streams.listListeners())

    seconds, lat = time_query(spark, "q218_streaming_index_ingest", SF_SMALL)
    assert seconds > 0
    assert lat and all(t > 0 for t in lat)

    t0 = time.monotonic()
    seconds, lat = time_query(spark, "q01_pricing_summary", SF_SMALL)
    assert lat == []
    assert time.monotonic() - t0 < seconds + 5

    assert len(streams.listListeners()) == n_listeners


def test_centroid_planes_value_matches_sql_ladder():
    """The streaming maintainer holds the prefix length as a driver-side
    int (functions/vectors.centroid_planes_value); it must equal the SQL
    CASE ladder both dialects bucket with, at every threshold edge."""
    import duckdb

    from discogs_load_spark.functions.vectors import (
        centroid_planes_sql,
        centroid_planes_value,
    )

    con = duckdb.connect()
    for k in (1, 8, 16, 17, 64, 65, 256, 257, 1024, 1025, 4096, 4097, 99999):
        want = con.execute(
            f"SELECT {centroid_planes_sql(str(k))}"
        ).fetchone()[0]
        assert centroid_planes_value(k) == want, k


def test_spark_read_pins_file_listing_before_append(spark, tmp_path):
    """Guard for the q219/q224 landing anti-join's undocumented-behavior
    dependency (ADVICE r14): removing the persist+count pin before the
    landing append relies on spark.read building its InMemoryFileIndex
    EAGERLY at DataFrame creation, so a frame created before an append
    never sees the appended files. If a DSv2 migration ever makes the
    listing lazy, this trips before the anti-join can drop novel rows."""
    out = str(tmp_path / "pin")
    spark.range(5).write.parquet(out)
    pinned = spark.read.parquet(out)
    spark.range(100, 103).write.mode("append").parquet(out)
    assert pinned.count() == 5, (
        "spark.read no longer pins its file listing at DataFrame "
        "creation — restore an explicit persist+count pin before the "
        "landing append in queries/streaming.py (q219/q224 anti-join)"
    )
    assert spark.read.parquet(out).count() == 8
