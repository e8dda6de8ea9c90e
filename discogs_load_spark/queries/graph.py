"""Graph analytics over a co-occurrence graph built from the relational
fixture: node = part brand, edge = "two brands appear in the same order"
(the market-basket projection of the order/lineitem bipartite graph).

Complements the iterative graph ops elsewhere in the engine (q89/q95
connected components, q130 PageRank) with the
*count-shaped* graph queries — edge building, triangle enumeration,
neighborhood similarity — that are pure joins + aggregates and therefore
run under the full value-hash oracle gate.

Scale shapes (the part that must survive 100 TB):
  - the bipartite relation is deduped to its (order, brand) grain FIRST —
    map-side combine collapses the lineitem fan-out before any join;
  - the edge build is a self-equi-join on the ORDER key; per-order fanout
    is bounded by distinct brands per order (single digits in any basket
    dataset), so the join output is |orders| x O(basket²), never |orders|²;
  - triangles close over the BRAND-level edge list (|brands|² worst case —
    thousands, not billions) with two equi-joins on ordered node ids,
    the standard a<b<c enumeration that counts each triangle exactly once;
  - degrees and pair-intersections reuse the same deduped relation, so
    Jaccard is two tiny aggregates + one join, no second fact scan.

The reference has no graph capability at all (SURVEY §2.C); this module is
engine-extension surface from the north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import load_tables
from .registry import register

# Edge cut: keep pairs with ABOVE-AVERAGE co-occurrence. A dense basket
# graph co-occurs everywhere (every brand pair shares some orders at any
# scale), so an absolute support threshold either keeps everything or
# nothing depending on SF; the mean cut is scale-invariant and exact
# (integer sum / count, one double division, integer-vs-double compare).
_OB_SQL = """
        SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
        FROM lineitem JOIN part ON p_partkey = l_partkey
"""

_EDGES_SQL = f"""
    ob AS ({_OB_SQL}),
    allpairs AS (
        SELECT a.brand AS ba, b.brand AS bb, COUNT(*) AS w
        FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
        GROUP BY a.brand, b.brand
    ),
    wavg AS (
        SELECT CAST(SUM(w) AS DOUBLE) / COUNT(*) AS avg_w FROM allpairs
    ),
    edges AS (
        SELECT ba, bb, w FROM allpairs CROSS JOIN wavg WHERE w > avg_w
    )
"""


def _order_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    return (
        t["lineitem"]
        .select("l_orderkey", "l_partkey")
        .join(t["part"].select("p_partkey", "p_brand"), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )


def _edges(ob: DataFrame) -> DataFrame:
    a = ob.alias("a")
    b = ob.alias("b")
    allpairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(F.col("a.brand").alias("ba"), F.col("b.brand").alias("bb"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    wavg = allpairs.agg(
        F.expr("CAST(SUM(w) AS DOUBLE) / COUNT(*)").alias("avg_w")
    )
    return allpairs.crossJoin(F.broadcast(wavg)).filter(
        F.col("w") > F.col("avg_w")
    ).select("ba", "bb", "w")


@register(
    "q152_basket_triangles",
    oracle=f"""
    WITH {_EDGES_SQL}
    SELECT e1.ba AS brand_a, e1.bb AS brand_b, e2.bb AS brand_c,
           CAST(LEAST(e1.w, e2.w, e3.w) AS BIGINT) AS w_min
    FROM edges e1
    JOIN edges e2 ON e2.ba = e1.bb
    JOIN edges e3 ON e3.ba = e1.ba AND e3.bb = e2.bb
    """,
    tags=("graph", "triangles", "join"),
)
def q152_basket_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration on the brand co-occurrence graph: triples of
    brands pairwise sharing an above-average number of orders, each triangle
    emitted once via the ordered a<b<c closure (two equi-joins over the
    edge list — edges carry a.brand < b.brand by construction, so the
    join conditions alone enforce the ordering), with the weakest edge
    weight as the triangle's support. Triangle density over a basket
    graph is the classic bundle/affinity signal."""
    # the edge list is referenced three times below; without materializing
    # it each alias re-derives the whole lineitem⋈part self-join pipeline
    # (the plan replicates ~7 fact scans). localCheckpoint, not a bare
    # persist (r14): two of the three references build as concurrent
    # broadcast futures, and a lazily-persisted frame raced by several
    # stages is computed by each. |edges| <= |brands|² — trivially
    # materialized at any data scale.
    e = _edges(_order_brand(spark, sf_dir)).localCheckpoint()
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (
        e1.join(e2, F.col("e2.ba") == F.col("e1.bb"))
        .join(
            e3,
            (F.col("e3.ba") == F.col("e1.ba"))
            & (F.col("e3.bb") == F.col("e2.bb")),
        )
        .select(
            F.col("e1.ba").alias("brand_a"),
            F.col("e1.bb").alias("brand_b"),
            F.col("e2.bb").alias("brand_c"),
            F.least(F.col("e1.w"), F.col("e2.w"), F.col("e3.w"))
            .cast("bigint")
            .alias("w_min"),
        )
    )


@register(
    "q153_brand_jaccard",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS (SELECT brand, COUNT(*) AS d FROM ob GROUP BY brand)
    SELECT e.ba AS brand_a, e.bb AS brand_b,
           CAST(e.w AS BIGINT) AS n_common,
           CAST(da.d AS BIGINT) AS n_a,
           CAST(db.d AS BIGINT) AS n_b,
           (CAST(e.w AS DOUBLE) / (da.d + db.d - e.w)) AS jaccard
    FROM edges e
    JOIN deg da ON da.brand = e.ba
    JOIN deg db ON db.brand = e.bb
    """,
    tags=("graph", "similarity", "jaccard"),
)
def q153_brand_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood (order-set) Jaccard similarity between brand pairs:
    |orders(a) ∩ orders(b)| / |orders(a) ∪ orders(b)| — the co-occurrence
    normalization that turns raw basket counts into an affinity score
    (high-volume brands co-occur with everything; Jaccard discounts
    that). The intersection IS the edge weight already computed; the
    union comes from two degree lookups (|brands| rows, broadcast), so
    the whole score costs no pass beyond the edge build. Integer counts,
    one double division — bitwise stable."""
    # ob feeds the edge build twice (both join sides) plus the degree
    # aggregate. localCheckpoint, not a bare persist (r14): the degree
    # lookups build as CONCURRENT broadcast futures while the edge join
    # materializes, and a lazily-persisted frame raced by several stages
    # is computed by each of them — the checkpoint pays the (order,
    # brand) dedup once, serially, then every consumer reads it.
    ob = _order_brand(spark, sf_dir).localCheckpoint()
    e = _edges(ob)
    deg = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("brand").alias("ba"), F.col("d").alias("d_a"))
    db = deg.select(F.col("brand").alias("bb"), F.col("d").alias("d_b"))
    return (
        e.join(F.broadcast(da), "ba")
        .join(F.broadcast(db), "bb")
        .select(
            F.col("ba").alias("brand_a"),
            F.col("bb").alias("brand_b"),
            F.col("w").cast("bigint").alias("n_common"),
            F.col("d_a").cast("bigint").alias("n_a"),
            F.col("d_b").cast("bigint").alias("n_b"),
            F.expr("CAST(w AS DOUBLE) / (d_a + d_b - w)").alias("jaccard"),
        )
    )
