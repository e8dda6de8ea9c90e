"""Behavioral analytics over the ``events`` stream table: conversion
funnel, weekly retention cohorts, event-transition matrix.

These are the product-analytics shapes a training-data/event pipeline runs
at 100 TB scale, and each is written in its scalable form:

  - the funnel is three per-user MIN aggregates chained with strictly-
    increasing-timestamp joins — every stage shuffles on user_id only and
    carries one row per user, never the raw event fan-out;
  - retention dedups to the (user, cohort_week, offset_week) grain FIRST
    (map-side combine shrinks to the grid size) and only then counts — a
    COUNT(DISTINCT user_id) straight over the joined fact would shuffle
    every event row per grid cell;
  - transitions are a per-user lag window (one shuffle on user_id, which
    at scale should be the events table's native clustering) followed by
    a pre-aggregated count.

The reference has no event-time capability at all (SURVEY §2.C streaming:
none); this module plus streaming/ops.py is the engine's superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.numeric import epoch_us
from ..session import load_tables
from .registry import register

_EPOCH = "2024-01-01"  # fixture events all live in Jan 2024


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ["events"])["events"]


@register(
    "q81_conversion_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase,
           CAST((SELECT SUM(epoch_us(p.t_purchase) - epoch_us(v.t_view))
            FROM p JOIN v ON p.user_id = v.user_id) AS BIGINT) AS total_funnel_us
    """,
    tags=("events", "funnel"),
)
def q81_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: users counted at each stage only
    if the stage event strictly follows their previous stage's first event.

    Each stage is MIN-per-user then an equi-join on user_id with the
    ordering predicate as a residual condition — stage cardinality is
    ≤ |users| rows of (key, timestamp), so every join after the first
    aggregate is AQE-broadcast-sized relative to the event fan-out. The
    funnel latency total is an integer-microsecond sum (exact, order-
    insensitive — no decimal machinery needed).
    """
    events = _events(spark, sf_dir)
    # each stage frame is eagerly checkpointed (r14): v feeds c, the
    # n_view count AND the lag join; c feeds p and n_click; p feeds lag
    # and n_purchase — left lazy, the 4 racing count/lag broadcast
    # builds re-derived the event scan + stage chain up to FIVE times
    # (job_wall 3.8 s vs 2.3 s wall in the r14 profile). Each frame is
    # <= |users| rows of (key, timestamp) — the per-user funnel state
    # any engine materializes once per stage.
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .localCheckpoint()
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v.select(F.col("user_id").alias("vu"), "t_view"),
              (F.col("user_id") == F.col("vu")) & (F.col("ts") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .localCheckpoint()
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c.select(F.col("user_id").alias("cu"), "t_click"),
              (F.col("user_id") == F.col("cu")) & (F.col("ts") > F.col("t_click")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
        .localCheckpoint()
    )
    lag = p.join(v, "user_id").select(
        (epoch_us("t_purchase") - epoch_us("t_view")).alias("us")
    )
    # each agg frame is exactly 1 row: hint the broadcast explicitly so
    # the plan shape (BroadcastNestedLoopJoin) doesn't depend on AQE's
    # runtime size estimate
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_click"))))
        .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n_purchase"))))
        .crossJoin(F.broadcast(lag.agg(F.sum("us").alias("total_funnel_us"))))
    )
    return counts


@register(
    "q82_retention_cohorts",
    oracle=f"""
    WITH firsts AS (
        SELECT user_id, MIN(ts) AS first_ts
        FROM events GROUP BY user_id
    ),
    grid AS (
        SELECT DISTINCT e.user_id,
               CAST(FLOOR((CAST(f.first_ts AS DATE) - DATE '{_EPOCH}') / 7.0)
                    AS BIGINT) AS cohort_week,
               CAST(FLOOR((CAST(e.ts AS DATE) - DATE '{_EPOCH}') / 7.0)
                    AS BIGINT)
                 - CAST(FLOOR((CAST(f.first_ts AS DATE) - DATE '{_EPOCH}') / 7.0)
                        AS BIGINT) AS offset_week
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week, offset_week, COUNT(*) AS active_users
    FROM grid
    GROUP BY cohort_week, offset_week
    ORDER BY cohort_week, offset_week
    """,
    tags=("events", "retention"),
)
def q82_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention grid: users bucketed by first-seen week (cohort),
    counted once per calendar-week offset they return in.

    Week indices are integer day-arithmetic from a fixed epoch (identical
    in both engines; no date_trunc locale/week-start ambiguity). The
    distinct-to-the-grid-grain-then-count pattern is the scalable form of
    COUNT(DISTINCT): the dedup's partial aggregation collapses each
    user's events map-side before any wide shuffle.
    """
    events = _events(spark, sf_dir)
    firsts = events.groupBy(F.col("user_id").alias("fu")).agg(
        F.min("ts").alias("first_ts")
    )
    epoch = F.lit(_EPOCH).cast("date")
    week = lambda col: F.floor(F.datediff(F.col(col).cast("date"), epoch) / 7.0)
    grid = (
        events.join(firsts, F.col("user_id") == F.col("fu"))
        .select(
            "user_id",
            week("first_ts").alias("cohort_week"),
            (week("ts") - week("first_ts")).alias("offset_week"),
        )
        .dropDuplicates(["user_id", "cohort_week", "offset_week"])
    )
    return (
        grid.groupBy("cohort_week", "offset_week")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .orderBy("cohort_week", "offset_week")
    )


@register(
    "q83_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM seq
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    ORDER BY prev_type, next_type
    """,
    tags=("events", "window"),
)
def q83_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix (the Markov-chain input): each
    user's event stream lagged by one, pairs counted.

    One shuffle on user_id for the lag window (with event_id as the
    deterministic tie-break within equal timestamps), then the pair count
    partially aggregates map-side — the output is |event_types|² rows no
    matter the input scale.
    """
    events = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("prev_type", "next_type")
    )


PR_SCALE = 1_000_000_000
PR_ITERS = 10
# Hard ceiling on the collected vocab² transition graph (~100 B/edge ->
# ~100 MB of driver rows, the broadcast size class). The event-type
# vocabulary is an enum (dozens of values); hitting this cap means the
# premise is wrong for the input, and the guard turns a silent driver
# OOM into an error naming it (VERDICT r14 "What's wrong" #3).
PR_GRAPH_CAP = 1_000_000


def _pagerank_oracle() -> str:
    """Unrolled 10-iteration PageRank as chained CTEs (the same shape the
    Spark side builds declaratively). All arithmetic is BIGINT with
    integer division, so every iteration is bitwise identical in both
    engines — no float mass to drift."""
    head = f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS nxt
        FROM events
    ),
    edges AS (
        SELECT event_type AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS w
        FROM seq WHERE nxt IS NOT NULL GROUP BY src, nxt
    ),
    outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT event_type AS node FROM events),
    base AS (
        SELECT CAST(CAST(15 AS BIGINT) * {PR_SCALE} // (100 * COUNT(*)) AS BIGINT) AS b,
               CAST({PR_SCALE} // COUNT(*) AS BIGINT) AS r0
        FROM nodes
    ),
    pr0 AS (SELECT node, (SELECT r0 FROM base) AS r FROM nodes)"""
    steps = []
    for i in range(PR_ITERS):
        steps.append(f"""
    c{i} AS (
        SELECT e.dst AS node,
               SUM((p.r * 85 * e.w) // (100 * o.ow)) AS contrib
        FROM edges e
        JOIN pr{i} p ON p.node = e.src
        JOIN outw o ON o.src = e.src
        GROUP BY e.dst
    ),
    pr{i + 1} AS (
        SELECT n.node,
               CAST((SELECT b FROM base) + COALESCE(c.contrib, 0) AS BIGINT) AS r
        FROM nodes n LEFT JOIN c{i} c ON c.node = n.node
    )""")
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
    SELECT node, r AS rank_scaled FROM pr{PR_ITERS} ORDER BY node
    """
    )


@register(
    "q130_event_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative", "events"),
)
def q130_event_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-transition graph (damping 0.85, 10
    iterations, simplified/no-dangling-redistribution form) — the third
    iterative algorithm under the value-hash gate after k-means (q99) and
    connected components (q89), and like them built as ONE declarative
    plan: the power iteration is unrolled into 10 join+aggregate rounds.

    Exactness: ranks live in integer billionths (PR_SCALE); each edge
    contribution is (r * 85 * w) div (100 * outw) in BIGINT — integer
    division makes every round bitwise reproducible in any engine, which
    a float power iteration cannot promise (its additions reassociate
    under shuffle).

    Scale shape (r14): the ONLY corpus-sized work is the transition
    count — one window pass + one map-side-combinable aggregate. Its
    output is the event-type transition graph, bounded by the event-type
    VOCABULARY squared (the same domain bound that let the old form
    broadcast the rank vector every round — broadcastable and
    collectable are the same size class here, like the engine's ≤16
    bucket-string collects). The 10 integer power-iteration rounds then
    run driver-side over that collected graph: the old declaratively
    unrolled form spent ~60 Spark jobs (per-round broadcast exchanges,
    eager rank checkpoints) iterating a ~|vocab|-row state — measured
    4.1–4.9 s of which the corpus pass was ~1 s. Arithmetic is identical
    (Python ints ARE arbitrary-precision; all terms non-negative, so
    // == BIGINT div), so the oracle's unrolled CTE replay still
    value-hash-matches bitwise."""
    events = load_tables(spark, sf_dir, ["events"])["events"]
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(w_seq).alias("nxt")
    )
    edges = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    # bounded: ≤ |event-type vocab|² rows (the broadcast size class)
    graph = [
        (r["src"], r["dst"], r["w"], r["ow"])
        for r in edges.join(outw, "src").limit(PR_GRAPH_CAP + 1).collect()
    ]
    if len(graph) > PR_GRAPH_CAP:
        # fail loudly at the premise, not as an opaque driver OOM: this
        # path exists BECAUSE event_type is a low-cardinality enum whose
        # vocab² transition graph is driver-sized (r15 guard)
        raise ValueError(
            f"q130 transition graph has more than {PR_GRAPH_CAP} "
            "edges: the event-type vocabulary is not "
            "enum-small, so the collected-graph PageRank premise does "
            "not hold — use a distributed rank iteration for this input"
        )
    # bounded: ≤ |event-type vocab| rows
    nodes = sorted(
        r[0] for r in events.select("event_type").distinct().collect()
    )
    n = len(nodes)
    if n == 0:
        # empty events: the previous declarative plan degraded to an
        # empty frame; keep that instead of a ZeroDivisionError on n
        # (ADVICE r14)
        return spark.createDataFrame([], "node string, rank_scaled bigint")
    b = 15 * PR_SCALE // (100 * n)
    ranks = {nd: PR_SCALE // n for nd in nodes}
    for _ in range(PR_ITERS):
        contrib: dict = {}
        for src, dst, w, ow in graph:
            contrib[dst] = contrib.get(dst, 0) + (
                ranks[src] * 85 * w
            ) // (100 * ow)
        ranks = {nd: b + contrib.get(nd, 0) for nd in nodes}
    return spark.createDataFrame(
        [(nd, ranks[nd]) for nd in nodes],
        "node string, rank_scaled bigint",
    ).orderBy("node")
