"""Relational operators Spark lacks as single calls: as-of join,
gap-based sessionization, first-wins dedup.

All are compositions of built-in window/join operators — no UDFs, no
driver-side loops — so they run at any scale the underlying shuffle does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..functions.numeric import epoch_us


def first_wins_dedup(df: DataFrame, key_cols: list[str], order_cols: list[Column]) -> DataFrame:
    """Keep exactly one row per key: the first under ``order_cols``.

    The explicit, global version of the reference's batch-scoped
    ``HashMap::entry(id).or_insert(row)`` (release.rs:184-187): 'first' is
    defined by a deterministic ordering instead of arrival order, and the
    scope is the whole dataset instead of one 10k-row batch (deviation
    documented in quirks.py). One shuffle on the key.
    """
    w = W.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
) -> DataFrame:
    """Backward as-of join: for each left row, attach the right row with the
    greatest ``right_ts`` <= ``left_ts`` within the same ``on`` keys
    (left-outer: unmatched left rows keep NULL payload).

    Implementation is the union-sort trick, which scales where a naive
    range-join (O(n*m) per key) or per-key ``merge_asof`` in Pandas would
    not: union both sides tagged by origin, ONE shuffle on the key, sort each
    partition by (ts, origin), and carry the last-seen right payload forward
    with ``last(ignorenulls)``. Right rows sort before left rows at equal ts,
    making the match inclusive. Cost: one shuffle + one in-partition sort —
    the same as a single window function, independent of match fan-out.

    Callers must ensure ``right_ts`` is unique per key (pre-aggregate ties)
    for deterministic payloads.
    """
    payload = F.struct(*[F.col(c) for c in right_payload]).alias("__payload")
    r = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__origin"),
        payload,
    )
    left_cols = [c for c in left.columns]
    l = left.select(
        *left_cols,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__origin"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
    )
    # align schemas: right side carries NULL for left-only columns
    for c in left_cols:
        if c not in on:
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    r = r.select(*left_cols, "__ts", "__origin", "__payload")

    unioned = l.unionByName(r)
    w = (
        W.partitionBy(*on)
        .orderBy("__ts", "__origin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    matched = unioned.withColumn(
        "__match", F.last("__payload", ignorenulls=True).over(w)
    )
    out = matched.filter(F.col("__origin") == 1).drop("__ts", "__origin", "__payload")
    for c in right_payload:
        out = out.withColumn(c, F.col(f"__match.{c}"))
    return out.drop("__match")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with manual key salting for skewed keys.

    A hot key (one value holding a large share of rows) funnels into a
    single shuffle partition and stalls the stage. Salting splits the hot
    side: the large ``left`` gets a random salt in [0, n_salts); the small-
    per-key ``right`` is replicated n_salts times (explode of a literal
    range, not a shuffle); the join key becomes (key, salt), spreading each
    hot key over n_salts partitions.

    AQE's skew-join handles most cases automatically (enabled in
    session.py); this operator is for the residual ones — skew inside a
    single shuffle *block* or non-AQE deployments. Cost: right side × n_salts.
    """
    salted_left = left.withColumn(
        "__salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    salted_right = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = salted_left.join(
        salted_right,
        (salted_left[left_key] == salted_right[right_key])
        & (salted_left["__salt"] == salted_right["__salt"]),
        how,
    )
    return out.drop("__salt")


def range_join_bucketized(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    lower_s: int,
    upper_s: int,
) -> DataFrame:
    """Time-range join with NO equi key: pairs where
    ``left_ts + lower_s < right_ts <= left_ts + upper_s`` (seconds).

    Without an equi anchor Spark plans a theta join as BroadcastNestedLoop
    — O(|L|·|R|) and a broadcast of a whole side, which dies at scale. The
    classic fix is to mint the equi key: bucket time into windows of width
    (upper-lower); each left row can only match rights in ≤2 consecutive
    buckets, so explode left into those bucket ids and equi-join on the
    bucket (shuffle-partitionable, skew handled by AQE), then apply the
    exact range predicate. Candidate blowup is bounded by 2x the true
    match density per bucket. Column names must be disjoint across sides.
    """
    width_us = max(upper_s - lower_s, 1) * 1_000_000
    l_us = epoch_us(left_ts)
    r_us = epoch_us(right_ts)
    l2 = left.withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor((l_us + lower_s * 1_000_000) / width_us),
                F.floor((l_us + upper_s * 1_000_000) / width_us),
            )
        ),
    )
    r2 = right.withColumn("__bkt", F.floor(r_us / width_us))
    exact = (r_us > l_us + lower_s * 1_000_000) & (
        r_us <= l_us + upper_s * 1_000_000
    )
    return l2.join(r2, "__bkt").filter(exact).drop("__bkt")


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap_seconds: int,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since the
    previous event of the same key exceeds ``gap_seconds``.

    Adds an integer ``session_seq`` (1-based per key). Classic lag-then-
    cumulative-sum over one window — a single shuffle on the key. Gap math is
    done in epoch microseconds (exact integers) for cross-engine determinism.
    The streaming dual is q114's ``session_window`` aggregate in
    queries/streaming.py.
    """
    order = [F.col(ts_col)] + [F.col(c) for c in (order_tiebreak or [])]
    w = W.partitionBy(*key_cols).orderBy(*order)
    gap_us = gap_seconds * 1_000_000
    prev_us = F.lag(epoch_us(ts_col)).over(w)
    new_session = (
        F.when(prev_us.isNull(), 1)
        .when(epoch_us(ts_col) - prev_us > gap_us, 1)
        .otherwise(0)
    )
    w_run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return df.withColumn("__new", new_session).withColumn(
        "session_seq", F.sum("__new").over(w_run).cast("int")
    ).drop("__new")
