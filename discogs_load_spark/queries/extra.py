"""Second-ring relational coverage: percentiles, variance, pivot,
correlated subqueries, MERGE/upsert emulation, time-range joins, approximate
aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..functions.numeric import dec_corr_sql, dec_sum, dec_sum_sql, dec_var_sql
from ..session import load_tables
from .registry import register


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    tables = load_tables(spark, sf_dir, list(names))
    return [tables[n] for n in names]


_VAR = dec_var_sql("o_totalprice", "var_price")


@register(
    "q25_percentiles_variance",
    oracle=f"""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price,
           {_VAR}
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "percentile"),
)
def q25_percentiles_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines implement the same
    continuous-quantile definition) and sample variance via the
    integer-cents recipe in :func:`dec_var_sql` — order-insensitive and
    bitwise-stable across engines, unlike the built-in one-pass stddev."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90_price"),
        F.expr(_VAR.rsplit(" AS ", 1)[0]).alias("var_price"),
    )


@register(
    "q26_pivot",
    oracle=f"""
    SELECT o_orderpriority,
           {dec_sum_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END", "F")},
           {dec_sum_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0.0 END", "O")},
           {dec_sum_sql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0.0 END", "P")}
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("pivot",),
)
def q26_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot via the DataFrame pivot API (explicit value list so no
    extra distinct-values pass; null cells filled like the CASE form)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.expr(
                "CAST(SUM(CAST((o_totalprice) AS DECIMAL(25,6))) AS DOUBLE)"
            )
        )
        .na.fill(0.0, ["F", "O", "P"])
    )


@register(
    "q27_correlated_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > (
        SELECT AVG(o2.o_totalprice) FROM orders o2
        WHERE o2.o_custkey = o.o_custkey
    ) * 1.5
    """,
    tags=("subquery",),
)
def q27_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders 50% above the customer's own
    average) — Catalyst decorrelates it into an aggregate + join, same as
    the hand-written form. AVG here is safe for value-parity despite being
    a float aggregate: it feeds a comparison, and per-customer groups are
    small; the decimal recipe is unnecessary for a predicate."""
    (orders,) = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE o_totalprice > (
            SELECT AVG(o2.o_totalprice) FROM orders o2
            WHERE o2.o_custkey = o.o_custkey
        ) * 1.5
        """
    )


@register(
    "q35_merge_upsert",
    oracle="""
    WITH updates AS (
        SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, 'U' AS o_orderstatus
        FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT COALESCE(u.o_orderkey, t.o_orderkey) AS o_orderkey,
           COALESCE(u.o_totalprice, t.o_totalprice) AS o_totalprice,
           COALESCE(u.o_orderstatus, t.o_orderstatus) AS o_orderstatus
    FROM orders t FULL OUTER JOIN updates u ON t.o_orderkey = u.o_orderkey
    """,
    tags=("merge", "cdc"),
)
def q35_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation without a lakehouse format: full-outer join +
    coalesce (updates win). The anti-join+union form is equivalent; this
    shape also covers inserts. At scale both sides shuffle once on the key
    — same cost as the Delta MERGE rewrite."""
    (orders,) = _t(spark, sf_dir, "orders")
    target = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") * 2).alias("u_totalprice"),
            F.lit("U").alias("u_status"),
        )
    )
    return (
        target.join(updates, "o_orderkey", "full_outer")
        .select(
            "o_orderkey",
            F.coalesce("u_totalprice", "o_totalprice").alias("o_totalprice"),
            F.coalesce("u_status", "o_orderstatus").alias("o_orderstatus"),
        )
    )


@register(
    "q44_time_range_join",
    oracle="""
    WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id,
           COUNT(e.event_id) AS n_following,
           COUNT(CASE WHEN e.event_type = 'click' THEN 1 END) AS n_clicks
    FROM p LEFT JOIN events e
      ON e.user_id = p.user_id
     AND e.ts > p.ts
     AND e.ts <= p.ts + INTERVAL '1' HOUR
    GROUP BY p.event_id, p.user_id
    """,
    tags=("join", "range"),
)
def q44_time_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join with an equi anchor: the user_id equality carries
    the shuffle; the ts range is a post-join filter, so this stays a hash/
    sort-merge join (never a cartesian). A range join with NO equi key is
    the case needing bucketize-by-time — see ARCHITECTURE.md."""
    (events,) = _t(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("p_event"),
        F.col("ts").alias("p_ts"),
    )
    joined = p.join(
        events,
        (events.user_id == p.p_user)
        & (events.ts > p.p_ts)
        & (events.ts <= p.p_ts + F.expr("INTERVAL '1' HOUR")),
        "left",
    )
    return joined.groupBy(
        F.col("p_event").alias("event_id"), F.col("p_user").alias("user_id")
    ).agg(
        F.count("event_id").alias("n_following"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_clicks"),
    )


@register(
    "q28_approx_aggregates",
    oracle=None,  # HLL/KLL sketches differ across engines by design → rows-only
    tags=("agg", "approx", "rows-only"),
)
def q28_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates for 100 TB cardinalities: approx_count_distinct
    (HyperLogLog++) and approx percentile. Cross-engine sketches don't
    value-match (different algorithms), so this is rows-only; the exact
    duals (q12 countDistinct, q25 percentile) are the oracle-checked
    versions."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.expr("approx_percentile(l_extendedprice, 0.5)").alias("approx_median"),
    )


def _histogram_percentiles(
    df: DataFrame, group_col: str, val_col: str, out_pcts: dict[str, str]
) -> DataFrame:
    """Exact interpolated percentiles per group from the distinct-VALUE
    histogram + one bounded window — bitwise-identical to the builtin
    ``percentile(col, p)`` aggregate (pinned across all fixtures by
    tests/test_new_ops.py::test_q213_histogram_percentiles_match_builtin)
    but without its per-group value-counts buffer: percentile() ships an
    ObjectHashAggregate map of every distinct value through each partial
    and merges+sorts per group at the end (measured 2.7 s across its two
    stages for q213 at sf0.1, the single most expensive piece of that
    query — OPTIMIZATION_r14.md); this form pays one map-side-combinable
    shuffle at distinct-value grain instead (guide §2.3 "aggregate
    before you shuffle").

    Interpolation replicates percentile()'s exact arithmetic:
    pos = p * (n-1), 0-based over the sorted values; value_at(i) = the
    value whose cumulative-count range covers i;
    result = (ceil(pos)-pos)*v_floor + (pos-floor(pos))*v_ceil, with the
    v_floor == v_ceil case short-circuited (the additive identity does
    NOT hold in IEEE — (ceil-pos)+(pos-floor) can differ from 1.0).

    NULLs in ``val_col`` are dropped up front, matching percentile()'s
    skip-NULLs contract (ADVICE r14: without the filter they entered __n
    and sorted first in the cumulative window — harmless for q213's
    non-null l_extendedprice, a divergence on any nullable reuse).

    sf1 evidence (r15, VERDICT r14 item 8 — settles the r14 "~0.3 s
    slower at sf0.1" note): warm walls builtin 3.67/3.76 s vs histogram
    **1.66/2.42 s** — the ordering inverts once the per-group buffer is
    data-sized. Memory: the histogram form's sort/aggregate state is
    TRACKED execution memory (peak 34.1 MB/task at sf1, spillable),
    while the builtin's ObjectHashAggregate value-map reports **zero**
    Peak Execution Memory — an untracked on-heap object buffer the
    memory manager can neither account nor spill, which is exactly the
    100 TB OOM shape the r14 change argued from. Kept on both counts."""
    hist = (
        df.filter(F.col(val_col).isNotNull())
        .groupBy(group_col, val_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    wv = W.partitionBy(group_col).orderBy(val_col)
    wall = W.partitionBy(group_col)
    cume = hist.withColumn("__cum", F.sum("__c").over(wv)).withColumn(
        "__n", F.sum("__c").over(wall)
    )
    aggs, exprs = [], []
    for out, p in out_pcts.items():
        pos = f"CAST({p} * CAST(__n - 1 AS DOUBLE) AS DOUBLE)"
        for idx, suffix in ((f"FLOOR({pos})", "l"), (f"CEIL({pos})", "h")):
            aggs.append(
                F.max(
                    F.expr(
                        f"CASE WHEN {idx} >= __cum - __c AND {idx} < __cum "
                        f"THEN {val_col} END"
                    )
                ).alias(f"_{out}_{suffix}")
            )
        aggs.append(F.max(F.expr(pos)).alias(f"_{out}_p"))
        exprs.append(
            F.expr(
                f"CASE WHEN _{out}_l = _{out}_h THEN _{out}_l "
                f"ELSE (CEIL(_{out}_p) - _{out}_p) * _{out}_l "
                f"+ (_{out}_p - FLOOR(_{out}_p)) * _{out}_h END"
            ).alias(out)
        )
    return cume.groupBy(group_col).agg(*aggs).select(group_col, *exprs)


@register(
    "q213_approx_bounds",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(1 AS BIGINT) AS orders_within_15pct,
           CAST(1 AS BIGINT) AS parts_within_5pct,
           CAST(1 AS BIGINT) AS median_rank_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "approx", "contract", "invariant-oracle"),
)
def q213_approx_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q28's sketch CONTRACT made oracle-checkable (VERDICT r09 item 5):
    sketch *internals* are engine-specific (q28 stays rows-only by
    design), but their error BOUNDS are the published guarantee a
    100 TB pipeline relies on — so assert the bounds as data. Spark
    computes both the sketch estimate and the exact value per group and
    emits integer pass flags; the oracle recomputes the exact values
    independently and asserts every flag is 1. A sketch drifting
    outside its contract flips a flag to 0 and the hash gate goes red —
    the estimate itself never crosses engines. Bounds: HLL++ at default
    rsd=0.05 held to 3 sigma (15%; measured fixture error <= 6.4%),
    rsd=0.01 held to 5% (measured <= 0.7%), and approx_percentile's
    rank-error contract (1/accuracy = 1e-4 at the default) held to
    +/-5% rank — the estimate must land between the EXACT p45 and p55
    values. The three aggregate FAMILIES run as separate plans joined
    on the 3-row group key: one combined aggregate measured ~12 s at
    sf0.1 (multi-distinct Expands the input ~4x and every
    ObjectHashAggregate buffer — HLL, percentile — rides the expanded
    rows) vs ~1 s each split; the joins are broadcasts of 3-row
    frames. At 100 TB this is three scans, but each stays a plain
    map-side-combinable aggregate — the trade a real pipeline makes by
    materializing the scan once."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    exact = lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("exact_orders"),
        F.countDistinct("l_partkey").cast("bigint").alias("exact_parts"),
    )
    approx = lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("__ao"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("__ap"),
    )
    approx_med = lineitem.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_extendedprice, 0.5)").alias("__am"),
    )
    pcts = _histogram_percentiles(
        lineitem, "l_returnflag", "l_extendedprice", {"__lo": "0.45", "__hi": "0.55"}
    ).join(F.broadcast(approx_med), "l_returnflag")
    g = exact.join(F.broadcast(approx), "l_returnflag").join(
        F.broadcast(pcts), "l_returnflag"
    )
    return g.select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        (
            F.abs(F.col("__ao") - F.col("exact_orders"))
            <= 0.15 * F.col("exact_orders")
        )
        .cast("bigint")
        .alias("orders_within_15pct"),
        (
            F.abs(F.col("__ap") - F.col("exact_parts"))
            <= 0.05 * F.col("exact_parts")
        )
        .cast("bigint")
        .alias("parts_within_5pct"),
        ((F.col("__am") >= F.col("__lo")) & (F.col("__am") <= F.col("__hi")))
        .cast("bigint")
        .alias("median_rank_within_5pct"),
    )


@register(
    "q29_grouping_sets",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n,
           {dec_sum_sql("o_totalprice", "total")}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderstatus), ())
    """,
    tags=("agg", "grouping-sets"),
)
def q29_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (rollup/cube's general form) — one pass,
    Spark expands to a single Expand + aggregate, not three scans."""
    (orders,) = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n,
               {dec_sum_sql("o_totalprice", "total")}
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderstatus), ())
        """
    )


@register(
    "q36_window_suite",
    oracle="""
    SELECT o_orderkey, o_custkey,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           NTILE(4) OVER w AS quartile,
           PERCENT_RANK() OVER w AS pr,
           CUME_DIST() OVER w AS cd,
           FIRST_VALUE(o_orderkey) OVER w AS first_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window",),
)
def q36_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining window-function family: lag/lead/ntile/percent_rank/
    cume_dist/first_value over a per-customer time order (unique tie-break
    on o_orderkey keeps every value deterministic; percent_rank's
    (rank-1)/(n-1) is a single exact-integer division in both engines)."""
    (orders,) = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.first("o_orderkey").over(w).alias("first_order"),
    )


@register(
    "q45_bucketized_range_join",
    oracle="""
    SELECT e.event_id, COUNT(p.event_id) AS n_purchases
    FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') e
    LEFT JOIN (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
      ON p.ts > e.ts AND p.ts <= e.ts + INTERVAL '60' SECOND
    GROUP BY e.event_id
    """,
    tags=("join", "range", "no-equi-key"),
)
def q45_bucketized_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join with NO equi key (platform-wide purchases within 60s
    after each error event). A naive theta join is a nested-loop cross
    product; range_join_bucketized mints the equi key by time-bucketing
    (left explodes into ≤2 buckets of width 60s), so it shuffles like a
    normal join. The oracle runs the naive form — same rows."""
    from ..operators.relational import range_join_bucketized

    (events,) = _t(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id"), F.col("ts").alias("e_ts")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    matched = range_join_bucketized(errors, purchases, "e_ts", "p_ts", 0, 60)
    counts = matched.groupBy("event_id").agg(
        F.count("p_id").alias("n_purchases")
    )
    return (
        errors.select("event_id")
        .join(counts, "event_id", "left")
        .na.fill(0, ["n_purchases"])
    )


@register(
    "q47_scd2_history",
    oracle="""
    WITH status_events AS (
        SELECT user_id, ts, event_id, event_type
        FROM events WHERE event_type IN ('signup', 'purchase', 'error')
    )
    SELECT user_id, event_type AS state, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
           (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               IS NULL) AS is_current
    FROM status_events
    """,
    tags=("window", "scd2", "cdc"),
)
def q47_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history construction: each state-change event becomes a
    validity interval [valid_from, valid_to) via LEAD, open-ended for the
    current state. One window shuffle on the entity key — the standard
    warehouse type-2 dimension build, and the batch dual of a CDC
    changelog compaction."""
    (events,) = _t(spark, sf_dir, "events")
    se = events.filter(
        F.col("event_type").isin("signup", "purchase", "error")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return se.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


@register(
    "q106_unpivot_stats",
    oracle="""
    WITH s AS (
        SELECT c_nationkey,
               MIN(c_acctbal) AS mn,
               MAX(c_acctbal) AS mx,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
                 / COUNT(c_acctbal) AS av
        FROM customer GROUP BY c_nationkey
    )
    SELECT c_nationkey, 'min' AS stat, mn AS value FROM s
    UNION ALL SELECT c_nationkey, 'max', mx FROM s
    UNION ALL SELECT c_nationkey, 'avg', av FROM s
    """,
    tags=("relational", "unpivot"),
)
def q106_unpivot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (``stack``): wide per-nation stats back to long
    (nationkey, stat, value) rows — the inverse of q26's pivot, closing
    the reshape pair. stack() is a generator expression evaluated inline
    per row (no shuffle beyond the feeding aggregate)."""
    from ..functions.numeric import dec_avg

    customer = _t(spark, sf_dir, "customer")[0]
    s = customer.groupBy("c_nationkey").agg(
        F.min("c_acctbal").alias("mn"),
        F.max("c_acctbal").alias("mx"),
        dec_avg("c_acctbal", "av"),
    )
    return s.selectExpr(
        "c_nationkey",
        "stack(3, 'min', mn, 'max', mx, 'avg', av) AS (stat, value)",
    )


@register(
    "q107_map_functions",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_orderstatus) AS n_statuses,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_p,
           COALESCE(array_to_string(list_sort(list(DISTINCT o_orderstatus)), '|'), '')
               AS statuses
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("relational", "map-type"),
)
def q107_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-typed column surface: per-priority status→count built with
    ``map_from_entries``, read back with ``element_at`` (missing key →
    NULL), ``map_keys``, ``size``. The map is an INTERMEDIATE — the
    output flattens to plain columns so the oracle needn't model map
    rendering (DuckDB's map semantics differ; the point is Spark's map
    functions compute the same facts). The key list ships '|'-joined
    (sorted map keys) — the driver canonicalizer can't hash list cells."""
    orders = _t(spark, sf_dir, "orders")[0]
    counts = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    mp = counts.groupBy("o_orderpriority").agg(
        F.map_from_entries(
            # bounded: o_orderstatus domain is {F, O, P} — <= 3 entries/group
            F.sort_array(F.collect_list(F.struct("o_orderstatus", "n")))
        ).alias("status_map")
    )
    return mp.select(
        "o_orderpriority",
        F.size("status_map").cast("bigint").alias("n_statuses"),
        F.element_at("status_map", "F").alias("n_f"),
        F.element_at("status_map", "O").alias("n_o"),
        F.element_at("status_map", "P").alias("n_p"),
        F.array_join(F.map_keys("status_map"), "|").alias("statuses"),
    )


@register(
    "q139_table_profile",
    oracle="""
    WITH s AS (
        SELECT COUNT(*) AS n_rows,
               COUNT(*) - COUNT(o_orderstatus) AS status_nulls,
               COUNT(DISTINCT o_orderstatus) AS status_nd,
               MIN(o_orderstatus) AS status_mn,
               MAX(o_orderstatus) AS status_mx,
               COUNT(*) - COUNT(o_orderpriority) AS prio_nulls,
               COUNT(DISTINCT o_orderpriority) AS prio_nd,
               MIN(o_orderpriority) AS prio_mn,
               MAX(o_orderpriority) AS prio_mx,
               COUNT(*) - COUNT(o_custkey) AS cust_nulls,
               COUNT(DISTINCT o_custkey) AS cust_nd,
               CAST(MIN(o_custkey) AS VARCHAR) AS cust_mn,
               CAST(MAX(o_custkey) AS VARCHAR) AS cust_mx,
               COUNT(*) - COUNT(o_totalprice) AS price_nulls,
               COUNT(DISTINCT o_totalprice) AS price_nd,
               CAST(CAST(ROUND(MIN(o_totalprice) * 100) AS BIGINT) AS VARCHAR)
                   AS price_mn,
               CAST(CAST(ROUND(MAX(o_totalprice) * 100) AS BIGINT) AS VARCHAR)
                   AS price_mx
        FROM orders
    )
    SELECT 'o_orderstatus' AS column_name, n_rows,
           CAST(status_nulls AS BIGINT) AS n_nulls,
           CAST(status_nd AS BIGINT) AS n_distinct,
           status_mn AS min_val, status_mx AS max_val FROM s
    UNION ALL SELECT 'o_orderpriority', n_rows, CAST(prio_nulls AS BIGINT),
           CAST(prio_nd AS BIGINT), prio_mn, prio_mx FROM s
    UNION ALL SELECT 'o_custkey', n_rows, CAST(cust_nulls AS BIGINT),
           CAST(cust_nd AS BIGINT), cust_mn, cust_mx FROM s
    UNION ALL SELECT 'o_totalprice', n_rows, CAST(price_nulls AS BIGINT),
           CAST(price_nd AS BIGINT), price_mn, price_mx FROM s
    """,
    tags=("profiling", "data-quality"),
)
def q139_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — the data-quality pass every curation pipeline
    runs before training on a new source: per column, null count, exact
    distinct count, min/max, in ONE scan of the table (Spark plans the
    multi-countDistinct via a single expand + partial aggregates; no
    per-column rescans). The wide one-row aggregate is then unpivoted
    with ``stack`` into the long (column_name, stats) shape a catalog
    stores.

    Determinism: min/max of the double column ship as integer CENTS
    strings — CAST(double AS string) formats differently across engines,
    ROUND(x*100) to BIGINT is bitwise-portable. At 100 TB: the aggregate
    is the whole cost (the expand multiplies rows by #distinct-aggs
    before partial aggregation — the documented price of exact distinct
    counts; approximate profiles use q28's HLL path instead)."""
    (orders,) = _t(spark, sf_dir, "orders")
    s = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_orderstatus")).alias("status_nulls"),
        F.countDistinct("o_orderstatus").alias("status_nd"),
        F.min("o_orderstatus").alias("status_mn"),
        F.max("o_orderstatus").alias("status_mx"),
        (F.count(F.lit(1)) - F.count("o_orderpriority")).alias("prio_nulls"),
        F.countDistinct("o_orderpriority").alias("prio_nd"),
        F.min("o_orderpriority").alias("prio_mn"),
        F.max("o_orderpriority").alias("prio_mx"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("cust_nulls"),
        F.countDistinct("o_custkey").alias("cust_nd"),
        F.min("o_custkey").cast("string").alias("cust_mn"),
        F.max("o_custkey").cast("string").alias("cust_mx"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).alias("price_nulls"),
        F.countDistinct("o_totalprice").alias("price_nd"),
        F.round(F.min("o_totalprice") * 100)
        .cast("bigint")
        .cast("string")
        .alias("price_mn"),
        F.round(F.max("o_totalprice") * 100)
        .cast("bigint")
        .cast("string")
        .alias("price_mx"),
    )
    return s.selectExpr(
        "stack(4, "
        "'o_orderstatus', n_rows, status_nulls, status_nd, status_mn, status_mx, "
        "'o_orderpriority', n_rows, prio_nulls, prio_nd, prio_mn, prio_mx, "
        "'o_custkey', n_rows, cust_nulls, cust_nd, cust_mn, cust_mx, "
        "'o_totalprice', n_rows, price_nulls, price_nd, price_mn, price_mx) "
        "AS (column_name, n_rows, n_nulls, n_distinct, min_val, max_val)"
    )


HLL_SHARDS = 8


@register(
    "q157_hll_shard_merge",
    oracle=None,  # DataSketches HLL values are engine-specific → rows-only
    tags=("agg", "approx", "sketch", "rows-only"),
)
def q157_hll_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch workflow over document text: build one
    DataSketches HLL per shard (the per-partition pre-aggregation a
    100 TB pipeline stores alongside each output shard), union the shard
    sketches into a corpus estimate, and compare against (a) the sketch
    built in one pass and (b) the exact distinct count. The merged and
    direct estimates need not be bit-identical (DataSketches unions go
    through a coupon/target-type promotion path, so register states can
    differ slightly) but both carry the same error bound — asserted here
    as merged_within_5pct of the exact count. That bounded-error
    mergeability is WHY sketches scale: cardinality of any shard subset
    is answerable from stored sketches without touching the data.
    Rows-only by the q28 rule (sketch internals are engine-specific; the
    exact dual n_exact is oracle-covered via q12-style countDistincts)."""
    docs = _t(spark, sf_dir, "documents")[0]
    shards = docs.groupBy((F.col("doc_id") % HLL_SHARDS).alias("shard")).agg(
        F.hll_sketch_agg("text").alias("sk")
    )
    merged = shards.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_merged")
    )
    direct = docs.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("text")).alias("n_direct"),
        F.countDistinct("text").alias("n_exact"),
    )
    return merged.crossJoin(F.broadcast(direct)).select(
        "n_exact",
        "n_merged",
        "n_direct",
        (
            F.abs(F.col("n_merged") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("merged_within_5pct"),
    )


@register(
    "q214_hll_merge_bounds",
    oracle="""
    SELECT CAST(COUNT(DISTINCT text) AS BIGINT) AS n_exact,
           CAST(1 AS BIGINT) AS merged_within_5pct,
           CAST(1 AS BIGINT) AS direct_within_5pct
    FROM documents
    """,
    tags=("agg", "approx", "sketch", "contract", "invariant-oracle"),
)
def q214_hll_merge_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q157's mergeability CONTRACT made oracle-checkable (VERDICT r09
    item 5, the q28b pattern): the DataSketches HLL estimate — built
    per-shard and unioned, or built in one pass — must land within its
    error bound of the TRUE distinct count, which the oracle computes
    independently. The merged-vs-direct register states may differ
    (union goes through coupon/target-type promotion), but BOTH carry
    the bound; 5% is >= 3 sigma at the default lgK=12 (rse ~0.81%,
    measured fixture error <= 1.2%). Spark emits (exact count, two
    integer pass flags); the oracle emits (exact count, 1, 1) — a
    sketch outside contract flips a flag and the hash gate goes red."""
    docs = _t(spark, sf_dir, "documents")[0]
    shards = docs.groupBy((F.col("doc_id") % HLL_SHARDS).alias("shard")).agg(
        F.hll_sketch_agg("text").alias("sk")
    )
    merged = shards.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__m")
    )
    direct = docs.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("text")).alias("__d"),
        F.countDistinct("text").cast("bigint").alias("n_exact"),
    )
    return merged.crossJoin(F.broadcast(direct)).select(
        "n_exact",
        (F.abs(F.col("__m") - F.col("n_exact")) <= 0.05 * F.col("n_exact"))
        .cast("bigint")
        .alias("merged_within_5pct"),
        (F.abs(F.col("__d") - F.col("n_exact")) <= 0.05 * F.col("n_exact"))
        .cast("bigint")
        .alias("direct_within_5pct"),
    )


_CORR = dec_corr_sql("l_quantity", "l_extendedprice", "corr_qty_price")


@register(
    "q166_correlation_profile",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n,
           {_CORR}
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "statistics", "profiling"),
)
def q166_correlation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between quantity and extended price per return
    flag — the column-pair statistical profiling a feature-engineering
    pass runs — computed with the dec_var integer recipe extended to
    five exact sums (functions/numeric.dec_corr_sql): builtin CORR over
    doubles is order-dependent (partial-aggregate merge order varies with
    partitioning), which breaks both the oracle hash AND run-to-run
    reproducibility at cluster scale; the quantized form is exact,
    order-insensitive, and still one map-side-combinable aggregate."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    expr_no_alias = _CORR.rsplit(" AS ", 1)[0]
    return lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(expr_no_alias).alias("corr_qty_price"),
    )


@register(
    "q167_quality_audit",
    oracle="""
    SELECT 'orphan_lineitems' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS n_violations
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders_without_items',
           CAST(COUNT(*) AS BIGINT)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    UNION ALL
    SELECT 'nonpositive_prices',
           CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'duplicate_order_keys',
           CAST(COALESCE(SUM(c - 1), 0) AS BIGINT)
    FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
    UNION ALL
    SELECT 'null_order_dates',
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    """,
    tags=("warehouse", "data-quality", "audit"),
)
def q167_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit suite (the Deequ/Great-Expectations shape): five
    constraint checks — referential integrity both directions (anti
    joins), domain constraint (non-positive prices), key uniqueness
    (duplicate-excess count), and completeness (null dates) — emitted as
    one (check_name, n_violations) relation a pipeline gates on. Scans
    are shared where the checks allow (the two lineitem scalar checks
    could fuse; the FK checks are anti-joins that AQE turns into
    broadcast anti when the dim side fits). All counts integer-exact."""
    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    li, orders = t["lineitem"], t["orders"]

    def row(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.col("n_violations").cast("bigint").alias("n_violations"),
        )

    orphan = li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti").agg(
        F.count(F.lit(1)).alias("n_violations")
    )
    childless = orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left_anti"
    ).agg(F.count(F.lit(1)).alias("n_violations"))
    nonpos = li.agg(
        F.sum((F.col("l_extendedprice") <= 0).cast("int")).alias("n_violations")
    )
    dups = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("n_violations"))
    )
    nulldates = orders.agg(
        F.sum(F.col("o_orderdate").isNull().cast("int")).alias("n_violations")
    )
    return (
        row("orphan_lineitems", orphan)
        .unionByName(row("orders_without_items", childless))
        .unionByName(row("nonpositive_prices", nonpos))
        .unionByName(row("duplicate_order_keys", dups))
        .unionByName(row("null_order_dates", nulldates))
    )


KMV_K = 16
KMV_HEX_CHARS = 8  # uniform-hash prefix width; the domain derives from it
KMV_DOMAIN = repr(float(16 ** KMV_HEX_CHARS))  # 16^8 — tied to the width


def _kmv_oracle() -> str:
    from ..functions.textfns import hex_prefix_num_sql

    return f"""
    WITH d0 AS (SELECT DISTINCT source, md5(text) AS h FROM documents),
    scoped AS (
        SELECT source, h FROM d0
        UNION ALL
        SELECT 'ALL' AS source, h FROM (SELECT DISTINCT h FROM d0)
    ),
    ranked AS (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM scoped
    ),
    kth AS (
        SELECT source, {hex_prefix_num_sql("h", KMV_HEX_CHARS)} AS kth_num
        FROM ranked WHERE rn = {KMV_K}
    ),
    counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM scoped GROUP BY source
    )
    SELECT c.source AS scope, c.n_exact, k.kth_num,
           CASE WHEN c.n_exact < {KMV_K} THEN CAST(c.n_exact AS DOUBLE)
                ELSE {KMV_K - 1} * {KMV_DOMAIN}
                     / NULLIF(CAST(k.kth_num AS DOUBLE), 0.0) END AS est_kmv
    FROM counts c LEFT JOIN kth k ON c.source = k.source
    ORDER BY scope
    """


@register(
    "q179_kmv_sketch",
    oracle=_kmv_oracle(),
    tags=("sketch", "distinct-count", "kmv", "mergeable"),
)
def q179_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k distinct-count sketch (Bar-Yossef et al. 2002) per
    source plus the MERGED estimate — the deterministic counterpart to
    q157's rows-only HLL: a KMV sketch is just the k lexicographically
    smallest md5 values, so sketching, merging (min-k of the union), and
    the estimate (k-1) * domain / kth_min are all EXACT functions of the
    input set and hash-green cross-engine, unlike HLL register layouts.
    Scopes with fewer than k distinct values report the exact count (the
    standard KMV rule).

    Scale shape: one distinct shuffle on (source, md5), then the bottom-k
    rank filter keeps only k rows per scope through the window exchange
    (the capped-rollup discipline — the rn <= k predicate lets Spark push
    a WindowGroupLimit below the exchange), and the exact counts ride a
    map-side-combinable aggregate on the same frame. The 'ALL' scope is
    the union-merge of the per-source sketches computed from the same
    distinct frame — mergeability is the point of the sketch."""
    from ..functions.textfns import hex_prefix_num_sql

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # bounded: distinct (source, md5) pairs. d0 feeds BOTH union branches
    # and scoped feeds BOTH the rank filter and the count aggregate —
    # eager localCheckpoint, not a bare persist (r14): the branches
    # materialize as concurrent stages and each racer recomputes a lazy
    # cache's upstream (the q176 shared-frame rule, racing-persist form)
    d0 = (
        docs.select("source", F.md5("text").alias("h"))
        .distinct()
        .localCheckpoint()
    )
    scoped = d0.unionByName(
        d0.select("h").distinct().select(F.lit("ALL").alias("source"), "h")
    ).localCheckpoint()
    w = W.partitionBy("source").orderBy("h")
    capped = scoped.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= KMV_K
    )
    kth = capped.filter(F.col("rn") == KMV_K).select(
        "source",
        F.expr(hex_prefix_num_sql("h", KMV_HEX_CHARS)).alias("kth_num"),
    )
    counts = scoped.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    est = F.expr(
        f"CASE WHEN n_exact < {KMV_K} THEN CAST(n_exact AS DOUBLE) "
        f"ELSE {KMV_K - 1} * {KMV_DOMAIN} "
        f"/ NULLIF(CAST(kth_num AS DOUBLE), 0.0) END"
    )
    return (
        counts.join(kth, "source", "left")
        .select(
            F.col("source").alias("scope"),
            "n_exact",
            "kth_num",
            est.alias("est_kmv"),
        )
        .orderBy("scope")
    )


CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 64  # counters per row; error bound ~ N_tokens / WIDTH per cell
CMS_TOP = 20  # heavy hitters reported


def _cms_oracle(width_sql: str | None = None) -> str:
    from ..functions.textfns import hex_prefix_num_sql, norm_sql, tokens_sql

    toks = tokens_sql(norm_sql("text", "duckdb"), "duckdb")
    w = width_sql or str(CMS_WIDTH)
    nt_cte = (
        "nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM tc),"
        if width_sql
        else ""
    )
    cell = (
        hex_prefix_num_sql("md5(token || '#' || CAST(d AS VARCHAR))", 8)
        + f" % {w}"
    )
    return f"""
    WITH tok AS (
        SELECT source, UNNEST({toks}) AS token FROM documents
    ),
    tc AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, token
    ),
    {nt_cte}
    hashed AS (
        SELECT source, token, c, d, {cell} AS cell
        FROM tc, generate_series(0, {CMS_DEPTH - 1}) AS g(d)
    ),
    per_source AS (
        SELECT source, d, cell, SUM(c) AS c FROM hashed GROUP BY source, d, cell
    ),
    grid AS (
        SELECT d, cell, CAST(SUM(c) AS BIGINT) AS cell_count
        FROM per_source GROUP BY d, cell
    ),
    exact AS (
        SELECT token, CAST(SUM(c) AS BIGINT) AS exact_count
        FROM tc GROUP BY token
        ORDER BY exact_count DESC, token LIMIT {CMS_TOP}
    ),
    probes AS (
        SELECT e.token, e.exact_count, s.d,
               {hex_prefix_num_sql("md5(e.token || '#' || CAST(s.d AS VARCHAR))", 8)} % {w} AS cell
        FROM exact e, generate_series(0, {CMS_DEPTH - 1}) AS s(d)
    ),
    est AS (
        SELECT p.token, MIN(g.cell_count) AS est_count
        FROM probes p JOIN grid g ON g.d = p.d AND g.cell = p.cell
        GROUP BY p.token
    )
    SELECT e.token, e.exact_count, s.est_count,
           s.est_count - e.exact_count AS overcount,
           CAST(ROW_NUMBER() OVER (ORDER BY e.exact_count DESC, e.token) AS INT)
               AS rank
    FROM exact e JOIN est s ON e.token = s.token
    ORDER BY e.exact_count DESC, e.token
    """


@register(
    "q180_countmin_heavy_hitters",
    oracle=_cms_oracle(),
    tags=("sketch", "heavy-hitters", "count-min", "mergeable"),
)
def q180_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) heavy-hitter
    estimates, built the way a sharded corpus would build them: one
    DEPTH x WIDTH counter grid PER SOURCE, merged by cell-wise addition
    into the global sketch (CMS merge = '+', the reason the sketch works
    on a cluster), then the top-k exact tokens are point-queried against
    the merged grid (estimate = min over rows of the hashed cell). Every
    counter is an exact integer function of the input, so unlike a
    float/HLL sketch the whole structure is hash-green cross-engine; the
    reported overcount column IS the sketch's collision error, measured.

    Scale shape: the only corpus-sized stage is the (source, token) count
    (map-side-combinable, one shuffle); the grid stages run over
    vocabulary-sized frames fanned out x DEPTH, collapsing to
    DEPTH*WIDTH = {CMS_DEPTH * CMS_WIDTH} rows which then BROADCAST to
    the point-query join; the top-k is TakeOrderedAndProject. Point
    queries never rescan the corpus — that is the sketch's contract."""
    from pyspark.storagelevel import StorageLevel

    from ..functions.textfns import norm_sql, tokens_sql

    from .sig_index import doc_tokens

    toks = doc_tokens(spark, sf_dir).select(
        "source", F.explode("toks").alias("token")
    )
    # bounded: vocabulary-sized; eagerly checkpointed — it feeds BOTH the
    # grid build and the exact top-k, and a lazy persist was raced by the
    # two concurrent branches, each re-running the corpus tokenize +
    # explode + count underneath (the r14 racing-persist rule)
    tc = (
        toks.groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint()
    )
    from ..operators.sketch import cms_fanout, cms_point_query

    hashed = cms_fanout(tc, "token", CMS_DEPTH, CMS_WIDTH)
    per_source = hashed.groupBy("source", "d", "cell").agg(
        F.sum("c").alias("c")
    )
    grid = per_source.groupBy("d", "cell").agg(
        F.sum("c").cast("bigint").alias("cell_count")
    )
    exact = (
        tc.groupBy("token")
        .agg(F.sum("c").cast("bigint").alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), "token")
        .limit(CMS_TOP)
    )
    return cms_point_query(grid, exact, "token", CMS_DEPTH, CMS_WIDTH)


BLOOM_WORDS = 256  # 256 x 32-bit words = 8192 bits per source filter
BLOOM_WORD_BITS = 32  # masks stay in [1, 2^31]: no BIGINT sign games
BLOOM_K = 3  # hash probes per element
BLOOM_PROBES = 150  # most-shared shingles point-checked against every filter

_BLOOM_BITS = BLOOM_WORDS * BLOOM_WORD_BITS


def _bloom_pos(hash_expr: str, j: int) -> str:
    """Bit position of probe ``j``: 8 hex chars [8j, 8j+8) of ONE md5,
    nibble-weighted to an int, mod filter bits — identical text in both
    dialects. Slicing independent probe positions out of a single digest
    (instead of k salted re-hashes) is the Kirsch-Mitzenmacher
    construction: one hash per element however many probes, which is the
    per-row cost that matters when the element stream is corpus-sized."""
    from ..functions.textfns import hex_prefix_num_sql

    return (
        hex_prefix_num_sql(f"substring({hash_expr}, {8 * j + 1}, 8)", 8)
        + f" % {_BLOOM_BITS}"
    )


def _bloom_oracle() -> str:
    from ..functions.textfns import doc_shingles_sql

    s3 = doc_shingles_sql("text", 3, "duckdb")
    pos_branches = " UNION ALL ".join(
        f"SELECT source, sh, {j} AS j, ({_bloom_pos('h', j)}) AS pos FROM hashed"
        for j in range(BLOOM_K)
    )
    probe_branches = " UNION ALL ".join(
        f"SELECT sh, {j} AS j, ({_bloom_pos('h', j)}) AS pos FROM phashed"
        for j in range(BLOOM_K)
    )
    return f"""
    WITH d0 AS (
        SELECT DISTINCT source, UNNEST({s3}) AS sh FROM documents
    ),
    hashed AS (SELECT source, sh, md5(sh) AS h FROM d0),
    pos AS ({pos_branches}),
    bits AS (
        SELECT source, pos // {BLOOM_WORD_BITS} AS word,
               CAST(1 AS BIGINT) << (pos % {BLOOM_WORD_BITS}) AS mask
        FROM pos
    ),
    filt AS (
        SELECT source, word, bit_or(mask) AS bits FROM bits
        GROUP BY source, word
    ),
    probes AS (
        SELECT sh, CAST(COUNT(*) AS BIGINT) AS n_sources_true
        FROM d0 GROUP BY sh
        ORDER BY n_sources_true DESC, sh LIMIT {BLOOM_PROBES}
    ),
    phashed AS (SELECT sh, md5(sh) AS h FROM probes),
    ppos AS ({probe_branches}),
    pbits AS (
        SELECT sh, j, pos // {BLOOM_WORD_BITS} AS word,
               CAST(1 AS BIGINT) << (pos % {BLOOM_WORD_BITS}) AS mask
        FROM ppos
    ),
    hits AS (
        SELECT b.sh, f.source
        FROM pbits b JOIN filt f
          ON f.word = b.word AND (f.bits & b.mask) <> 0
        GROUP BY b.sh, f.source
        HAVING COUNT(DISTINCT b.j) = {BLOOM_K}
    ),
    bloom AS (
        SELECT sh, CAST(COUNT(*) AS BIGINT) AS n_sources_bloom
        FROM hits GROUP BY sh
    )
    SELECT p.sh AS shingle, p.n_sources_true,
           COALESCE(b.n_sources_bloom, 0) AS n_sources_bloom,
           COALESCE(b.n_sources_bloom, 0) - p.n_sources_true
               AS false_positives
    FROM probes p LEFT JOIN bloom b ON p.sh = b.sh
    ORDER BY p.n_sources_true DESC, p.sh
    """


@register(
    "q184_bloom_membership",
    oracle=_bloom_oracle(),
    tags=("sketch", "bloom", "membership", "mergeable"),
)
def q184_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (Bloom 1970) — the third leg of the sketch
    family (count-min q180 = counts, KMV q179 = distinct, Bloom =
    set membership): each source's distinct 3-shingle set compresses to
    a {_BLOOM_BITS}-bit filter ({BLOOM_WORDS} bigint words, bit_or
    aggregation — OR is the merge, so shard filters union for free), and
    the {BLOOM_PROBES} most-shared shingles are point-checked against
    every source's filter. No false negatives by construction
    (n_sources_bloom >= n_sources_true on every row — tested), and the
    false_positives column is the filter's collision error, measured at
    the documented ~5% rate for this fill factor (~1.3k elements, k=3).
    Every bit is an exact integer function of md5, so the whole filter
    is hash-green cross-engine — the membership sketch analogue of
    q180's integer-exact grid.

    Scale shape: ONE distinct (source, shingle) shuffle feeds everything
    (persisted — shared-frame rule); the filter build collapses to
    <= sources x {BLOOM_WORDS} rows via a map-side-combinable bit_or;
    probes are TakeOrderedAndProject over the shingle-count frame; the
    membership check joins the probe fan-out to the BROADCAST filter
    grid on the word key. Probing never rescans the corpus — the
    filter's contract."""
    from ..functions.textfns import doc_shingles_sql

    from .sig_index import doc_signature_index

    # bounded: distinct (source, shingle); feeds the filter build, the
    # probe ranking, and the exact-membership counts — shingle arrays
    # come precomputed from the signature index (k matches SHINGLE_K)
    # localCheckpoint, not a bare persist: the filter build and the probe
    # ranking are materialized CONCURRENTLY (AQE broadcast futures), and
    # a lazily-persisted frame raced by two stages is computed by BOTH —
    # the profiler showed two ~1.6 s duplicate explode+distinct stages
    # (r14). The checkpoint pays the pass once, serially, then every
    # consumer reads the materialized partitions. sf1 interleaved A/B
    # (r15, VERDICT r14 item 3): checkpoint 3.99/3.81/3.55 s vs lazy
    # persist 3.19/4.46/4.09 — statistically flat, the driver's r14
    # sf1 "x0.72" reading was ambient drift; checkpoint kept for the
    # measured sf0.1 job_wall win (6.3 -> 1.7 s).
    d0 = (
        doc_signature_index(spark, sf_dir)
        .select("source", F.explode("sh").alias("sh"))
        .distinct()
        .localCheckpoint()
    )
    # one md5 per element; the K probe positions are slices of it
    pos_arr = F.array(*[F.expr(_bloom_pos("h", j)) for j in range(BLOOM_K)])
    fan = d0.withColumn("h", F.md5("sh")).select(
        "source", F.posexplode(pos_arr).alias("j", "pos")
    )
    filt = (
        fan.select(
            "source",
            F.expr(f"pos DIV {BLOOM_WORD_BITS}").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), pos % {BLOOM_WORD_BITS})"
            ).alias("mask"),
        )
        .groupBy("source", "word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )
    probes = (
        d0.groupBy("sh")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sources_true"))
        .orderBy(F.col("n_sources_true").desc(), "sh")
        .limit(BLOOM_PROBES)
    )
    pbits = probes.withColumn("h", F.md5("sh")).select(
        "sh",
        F.posexplode(pos_arr).alias("j", "pos"),
    ).select(
        "sh",
        "j",
        F.expr(f"pos DIV {BLOOM_WORD_BITS}").alias("word"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), pos % {BLOOM_WORD_BITS})"
        ).alias("mask"),
    )
    hits = (
        pbits.join(F.broadcast(filt), "word")
        .filter(F.expr("(bits & mask) <> 0"))
        .groupBy("sh", "source")
        .agg(F.countDistinct("j").alias("nj"))
        .filter(F.col("nj") == BLOOM_K)
    )
    bloom = hits.groupBy("sh").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sources_bloom")
    )
    return (
        probes.join(bloom, "sh", "left")
        .select(
            F.col("sh").alias("shingle"),
            "n_sources_true",
            F.coalesce("n_sources_bloom", F.lit(0).cast("bigint")).alias(
                "n_sources_bloom"
            ),
            (
                F.coalesce("n_sources_bloom", F.lit(0).cast("bigint"))
                - F.col("n_sources_true")
            ).alias("false_positives"),
        )
        .orderBy(F.col("n_sources_true").desc(), "shingle")
    )



# (table, key) pairs the skew profiler reports on: the repo's main join
# keys, spanning a high-cardinality near-uniform key (orderkey), moderate
# fan-out keys (suppkey/custkey), and the behavioral user key.
SKEW_KEYS = [
    ("lineitem", "l_suppkey"),
    ("lineitem", "l_orderkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
]
# cap on collected distinct per-key count values (q186): the
# count-of-counts frame is value-domain-grain by the query's own design
# (it previously rode a single-partition window); a pathological
# distribution where every key has a unique count makes it key-grain —
# raise instead of silently growing the driver (the r15 guard style)
SKEW_CC_CAP = 100_000


def _skew_oracle() -> str:
    ctes, branches = [], []
    for i, (table, key) in enumerate(SKEW_KEYS):
        ctes.append(f"""
    cc_{i} AS (
        SELECT c AS v, CAST(COUNT(*) AS BIGINT) AS m
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c
              FROM {table} GROUP BY {key})
        GROUP BY c
    ),
    w_{i} AS (
        SELECT v, m,
               COALESCE(SUM(m) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS s,
               SUM(m) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM cc_{i}
    ),
    tot_{i} AS (
        SELECT CAST(SUM(m) AS BIGINT) AS n_keys,
               CAST(SUM(v * m) AS BIGINT) AS total_rows,
               CAST(MAX(v) AS BIGINT) AS max_count,
               CAST(SUM(v * (m * s + m * (m + 1) // 2)) AS BIGINT) AS s1
        FROM w_{i}
    ),
    p99_{i} AS (
        SELECT CAST(MIN(v) AS BIGINT) AS p99_count
        FROM w_{i} CROSS JOIN tot_{i}
        WHERE cum * 100 >= 99 * n_keys
    )""")
        branches.append(f"""
    SELECT '{table}.{key}' AS key_name, n_keys, total_rows, max_count,
           p99_count,
           CAST(max_count AS DOUBLE) * n_keys / total_rows AS skew_ratio,
           CAST(2 * s1 - (n_keys + 1) * total_rows AS DOUBLE)
               / n_keys / total_rows AS gini,
           (max_count * n_keys + total_rows - 1) // total_rows
               AS recommended_salts
    FROM tot_{i} CROSS JOIN p99_{i}""")
    return (
        "WITH " + ",".join(ctes) + "\n    SELECT * FROM ("
        + " UNION ALL ".join(branches)
        + "\n    ) ORDER BY key_name"
    )


@register(
    "q186_join_key_skew_profile",
    oracle=_skew_oracle(),
    tags=("profiling", "skew", "scale"),
)
def q186_join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler — the diagnostic a 100 TB job runs BEFORE
    picking a join strategy (salt factor, AQE skew thresholds): per key,
    the key count, max/p99 per-key row counts, max/mean skew ratio, the
    Gini coefficient of the per-key distribution, and the salt factor
    that would level the hottest key to the mean
    (ceil(max * n_keys / total)).

    Scale discipline is the point of the implementation: the Gini needs
    ranked cumulative sums, but ranking every KEY would be a global sort
    of a key-domain-sized frame — instead both engines compute it from
    the COUNT-OF-COUNTS frame (distinct per-key-count values v with
    multiplicities m): a run of m tied keys starting after rank s
    contributes v*(m*s + m*(m+1)/2) to the ranked sum, because tied
    ranks are interchangeable in Σ rank*count. That window runs over
    DISTINCT COUNT VALUES — dozens of rows at any corpus size. p99 is
    the discrete quantile read off the same cumulative frame
    (smallest v with 100*cum >= 99*n). Two map-side-combinable shuffles
    per key (key counts → count-of-counts), everything downstream is
    value-domain-bounded; all ratios are single/chained IEEE divisions
    of exact bigints, identical expression text in both engines.
    (Counts stay in BIGINT: the s1 term is bounded by n_keys^2 *
    max_count — switch to DECIMAL(38,0) sums beyond ~1e9 keys.)"""
    tables = load_tables(
        spark, sf_dir, sorted({t for t, _ in SKEW_KEYS})
    )
    # r15 (the q130/q165 bounded-collect discipline): each key's corpus
    # work is the two map-side-combinable shuffles (per-key counts →
    # count-of-counts); everything downstream — the tied-rank window,
    # the totals, the p99 probe, the final ratio row — runs over the
    # DISTINCT COUNT VALUES only. That frame was already consumed by a
    # SINGLE-PARTITION window (W.orderBy with no partitionBy), i.e. the
    # value-domain bound was already the premise, so collecting it to
    # the driver changes nothing about the scale story while deleting,
    # per key: the window, the lazy persist, and the tot/p99 broadcast
    # branches (measured: the persisted-branch form ran ~25 jobs for
    # 3.3-3.7 s; this form is one collect per key). All folded
    # arithmetic is exact Python ints (BIGINT-identical; the s1 overflow
    # bound in the docstring applies to both forms) and the three
    # ratios reproduce the SQL's cast/association order exactly
    # (float(int) and / are correctly rounded in both runtimes).
    # the four keys' corpus scans are independent — collect them from a
    # small thread pool so they overlap exactly like the old union-plan's
    # concurrent branches did (guide §2.6; a first serial-collect cut of
    # this change measured 9.7 s vs the union form's 3.8 s — the fold
    # only wins when the scans still share the cluster)
    from concurrent.futures import ThreadPoolExecutor

    def _cc_rows(table: str, key: str):
        counts = tables[table].groupBy(key).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        return (
            counts.groupBy(F.col("c").alias("v"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
            .limit(SKEW_CC_CAP + 1)
            # bounded: distinct per-key count VALUES (the frame the old
            # form already ran a single-partition window over); at most
            # SKEW_CC_CAP + 1 rows, and the guard below raises past the cap
            .collect()
        )

    with ThreadPoolExecutor(max_workers=len(SKEW_KEYS)) as pool:
        ccs = list(
            pool.map(lambda tk: _cc_rows(*tk), SKEW_KEYS)
        )
    rows = []
    for (table, key), cc in zip(SKEW_KEYS, ccs):
        if len(cc) > SKEW_CC_CAP:
            raise RuntimeError(
                f"q186: more than SKEW_CC_CAP={SKEW_CC_CAP} distinct "
                f"per-key count values for {table}.{key} — the "
                "count-of-counts frame is assumed value-domain-bounded "
                "(it already rode a single-partition window); raise the "
                "cap only with a matching window/collect strategy review"
            )
        name = f"{table}.{key}"
        if not cc:
            rows.append((name, None, None, None, None, None, None, None))
            continue
        cc.sort(key=lambda r: r["v"])
        n_keys = sum(r["m"] for r in cc)
        total_rows = sum(r["v"] * r["m"] for r in cc)
        max_count = cc[-1]["v"]
        s = 0
        s1 = 0
        p99_count = None
        cum = 0
        for r in cc:
            v, m = r["v"], r["m"]
            s1 += v * (m * s + m * (m + 1) // 2)
            s += m
            cum += m
            if p99_count is None and cum * 100 >= 99 * n_keys:
                p99_count = v
        skew_ratio = float(max_count) * float(n_keys) / float(total_rows)
        gini = (
            float(2 * s1 - (n_keys + 1) * total_rows)
            / float(n_keys)
            / float(total_rows)
        )
        salts = (max_count * n_keys + total_rows - 1) // total_rows
        rows.append(
            (
                name,
                n_keys,
                total_rows,
                max_count,
                p99_count,
                skew_ratio,
                gini,
                salts,
            )
        )
    return spark.createDataFrame(
        rows,
        "key_name string, n_keys bigint, total_rows bigint, "
        "max_count bigint, p99_count bigint, skew_ratio double, "
        "gini double, recommended_salts bigint",
    ).orderBy("key_name")


def _ols_terms() -> dict[str, str]:
    from ..functions.numeric import dec_ols_sql

    return dec_ols_sql("l_quantity", "l_extendedprice", scale=2)


@register(
    "q187_grouped_ols",
    oracle=f"""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           {_ols_terms()["slope"]} AS slope,
           {_ols_terms()["intercept"]} AS intercept,
           {_ols_terms()["r2"]} AS r2
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
    tags=("agg", "statistics", "regression"),
)
def q187_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped simple linear regression (price ~ quantity per brand) —
    the feature-engineering fit a pipeline runs thousands of at once,
    expressed as ONE aggregate: slope/intercept/r² close over the same
    five exact integer sums as q166's Pearson r
    (functions/numeric.dec_ols_sql), so the fit is order-insensitive and
    bitwise-identical cross-engine, unlike an MLlib LinearRegression
    whose LBFGS/normal-equation path is iteration-order-dependent.

    Scale shape: the fact-dim join shuffles once on partkey (AQE
    broadcasts the dim side when it fits), then one map-side-combinable
    aggregate per brand — the regression costs exactly one groupBy
    regardless of group count. Degenerate groups (zero x-variance) are
    NULL in both engines via the shared CASE guard."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    terms = _ols_terms()
    joined = t["lineitem"].join(
        t["part"], F.col("l_partkey") == F.col("p_partkey")
    )
    return (
        joined.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr(terms["slope"]).alias("slope"),
            F.expr(terms["intercept"]).alias("intercept"),
            F.expr(terms["r2"]).alias("r2"),
        )
        .orderBy("p_brand")
    )


@register(
    "q194_salted_join_autotune",
    oracle=f"""
    WITH counts AS (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY o_custkey
    ),
    prof AS (
        SELECT CAST(
            (MAX(c) * COUNT(*) + SUM(c) - 1) // SUM(c) AS BIGINT
        ) AS n_salts
        FROM counts
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {dec_sum_sql("o.o_totalprice", "total_price")},
           p.n_salts AS salts_used
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    CROSS JOIN prof p
    GROUP BY c.c_mktsegment, p.n_salts
    ORDER BY c.c_mktsegment
    """,
    tags=("join", "skew", "salting", "autotune"),
)
def q194_salted_join_autotune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile-driven salted join (VERDICT r07 item 7): q186's skew
    profiler computes a ``recommended_salts`` factor but
    operators/relational.salted_join took it as a caller constant — this
    query WIRES them: profile the orders.o_custkey key distribution
    (ceil(max_per_key * n_keys / total), the factor that levels the
    hottest key to the mean), collect that ONE scalar, and run the
    customer join through salted_join with it. The returned per-segment
    rollup equals a plain join's — salting redistributes rows, never
    changes the join result — and carries the derived factor as a column,
    so the oracle (plain join + the same factor recomputed analytically)
    verifies both the semantics-preservation AND the profile arithmetic
    end-to-end.

    Scale shape: the profile is two map-side-combinable aggregates
    collapsing to ONE driver-side scalar (the same class of bounded
    collect every adaptive engine does between stages — AQE reads shuffle
    stats the same way); the salted join shuffles the fact side on
    (key, salt) — the hot key now spans n_salts partitions — and
    replicates the dim side n_salts× with an explode, not a shuffle."""
    from ..operators.relational import salted_join

    t = load_tables(spark, sf_dir, ["orders", "customer"])
    orders, customer = t["orders"], t["customer"]
    counts = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # bounded: ONE row, three bigints — the stage-boundary statistic an
    # adaptive planner reads; never grows with data
    prof = counts.agg(
        F.expr(
            "CAST((MAX(c) * COUNT(*) + SUM(c) - 1) DIV SUM(c) AS BIGINT)"
        ).alias("n_salts")
    ).first()
    n_salts = int(prof["n_salts"])
    joined = salted_join(
        orders, customer, "o_custkey", "c_custkey", n_salts=n_salts
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dec_sum("o_totalprice", "total_price"),
        )
        .withColumn("salts_used", F.lit(n_salts).cast("bigint"))
        .orderBy("c_mktsegment")
    )


def _adaptive_cms_width_oracle() -> str:
    from ..functions.textfns import adaptive_cms_width_sql

    return _cms_oracle(
        width_sql=f"(SELECT {adaptive_cms_width_sql('n_tokens')} FROM nt)"
    )


@register(
    "q209_adaptive_cms_width",
    oracle=_adaptive_cms_width_oracle(),
    tags=("sketch", "count-min", "adaptive", "mergeable"),
)
def q209_adaptive_cms_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q180's count-min heavy hitters with a DATA-ADAPTIVE grid width —
    the ladder discipline applied to the sketch family: CMS error is
    ~N_tokens/width per cell, so a frozen width means absolute error
    grows linearly with the corpus while the sketch's memory stays flat
    — exactly backwards at 100 TB. Width comes from an integer CASE
    ladder over the total token count (a 1-row broadcast aggregate of
    the same (source, token) counts the grid is built from) with rung
    edges holding expected per-cell collision mass at <= 1024 tokens;
    the mod lands INSIDE the same static cell expression both engines
    share, so the whole grid stays hash-green cross-engine. At
    <= 65536 tokens the ladder sits on width 64 and this EQUALS q180
    row-for-row (pinned in tests); the grid stays broadcast-small
    (depth x 4096 max) at every rung."""
    from pyspark.storagelevel import StorageLevel

    from ..functions.textfns import (
        adaptive_cms_width_sql,
        norm_sql,
        tokens_sql,
    )
    from ..operators.sketch import cms_fanout, cms_point_query

    from .sig_index import doc_tokens

    toks = doc_tokens(spark, sf_dir).select(
        "source", F.explode("toks").alias("token")
    )
    # bounded: vocabulary-sized; eagerly checkpointed — it feeds the
    # grid, the top-k, AND the 1-row token-count statistic, and a lazy
    # persist was raced by those concurrent branches, each re-running
    # the corpus tokenize + explode + count underneath (the r14
    # racing-persist rule)
    tc = (
        toks.groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint()
    )
    nt = tc.agg(F.sum("c").cast("bigint").alias("n_tokens"))
    w = adaptive_cms_width_sql("n_tokens")
    hashed = cms_fanout(
        tc.crossJoin(F.broadcast(nt)), "token", CMS_DEPTH, w
    )
    per_source = hashed.groupBy("source", "d", "cell").agg(
        F.sum("c").alias("c")
    )
    grid = per_source.groupBy("d", "cell").agg(
        F.sum("c").cast("bigint").alias("cell_count")
    )
    exact = (
        tc.groupBy("token")
        .agg(F.sum("c").cast("bigint").alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), "token")
        .limit(CMS_TOP)
    )
    return cms_point_query(
        grid, exact.crossJoin(F.broadcast(nt)), "token", CMS_DEPTH, w
    )
