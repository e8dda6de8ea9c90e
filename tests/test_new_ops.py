"""Operator-level checks for the bucketized range join, SimHash banding,
and IVF probe: each approximate/re-keyed implementation is compared against
the naive exact form on the small fixture.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from discogs_load_spark.operators.dedup import simhash, simhash_near_dup_pairs
from discogs_load_spark.operators.relational import range_join_bucketized
from discogs_load_spark.operators.similarity import cosine_topk, ivf_topk
from discogs_load_spark.session import load_tables

from .conftest import SF_SMALL


def test_range_join_bucketized_equals_theta_join(spark):
    events = load_tables(spark, SF_SMALL, ["events"])["events"]
    left = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"), F.col("ts").alias("e_ts")
    )
    right = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    bucketized = range_join_bucketized(left, right, "e_ts", "p_ts", 0, 300)
    naive = left.join(
        right,
        (F.col("p_ts") > F.col("e_ts"))
        & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL '300' SECOND")),
    )
    got = sorted((r.e_id, r.p_id) for r in bucketized.collect())
    want = sorted((r.e_id, r.p_id) for r in naive.collect())
    assert got == want and len(want) > 0


def test_simhash_banding_finds_all_close_pairs(spark):
    docs = load_tables(spark, SF_SMALL, ["documents"])["documents"]
    sigs = simhash(docs, "doc_id", "text").cache()
    banded = simhash_near_dup_pairs(sigs, "doc_id", max_hamming=3, n_bands=4)
    a = sigs.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sig_a")
    )
    b = sigs.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sig_b")
    )
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))),
        )
        .filter(F.col("hamming") <= 3)
    )
    got = sorted((r.id_a, r.id_b, r.hamming) for r in banded.collect())
    want = sorted((r.id_a, r.id_b, r.hamming) for r in brute.collect())
    sigs.unpersist()
    # pigeonhole guarantee: banding loses NOTHING at hamming <= n_bands - 1
    assert got == want


def test_ivf_topk_subset_of_exact_ranking(spark):
    emb = load_tables(spark, SF_SMALL, ["embeddings"])["embeddings"]
    queries = emb.filter(F.col("vec_id").isin(0, 1))
    ivf = ivf_topk(
        emb, queries, "vec_id", "embedding", 64, k=5,
        centroid_ids=(3, 57, 111),
    )
    exact = cosine_topk(emb, queries, "vec_id", "embedding", 64, k=200)
    got = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    universe = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert len(got) > 0
    # every IVF hit is a genuine corpus neighbor (cell-restricted subset of
    # the exact ranking's top-200 pool)
    assert got <= universe


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """write_bucketed_table co-locates both sides; the equi-join plan must
    contain NO Exchange (the point of bucketing: the reference's b-tree
    index analogue, and the 100 TB answer for repeated fact-fact joins)."""
    from discogs_load_spark.sinks.files import write_bucketed_table

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketed LOCATION '{tmp_path}'")
    spark.catalog.setCurrentDatabase("bucketed")
    # fixture tables are broadcast-sized, which would bypass the bucketed
    # SMJ this test exists to prove; at real scale both sides exceed the
    # broadcast threshold on their own
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load_tables(spark, SF_SMALL, ["orders"])["orders"]
        lineitem = load_tables(spark, SF_SMALL, ["lineitem"])["lineitem"]
        write_bucketed_table(
            orders.select("o_orderkey", "o_totalprice"),
            "orders_b", "o_orderkey", n_buckets=8,
        )
        write_bucketed_table(
            lineitem.select("l_orderkey", "l_quantity"),
            "lineitem_b", "l_orderkey", n_buckets=8,
        )
        ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        n = joined.count()
        want = (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .count()
        )
        assert n == want > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
        spark.catalog.setCurrentDatabase("default")


def test_prefix_filter_jaccard_equals_bruteforce(spark):
    """Prefix filtering is EXACT: its output must equal the all-pairs
    Jaccard join on the same corpus — including pairs whose shingle sets
    differ in size (the case the prefix-length bound has to survive)."""
    from discogs_load_spark.operators.dedup import (
        jaccard_verify,
        prefix_filter_jaccard_pairs,
    )

    docs = load_tables(spark, SF_SMALL, ["documents"])["documents"]
    got = prefix_filter_jaccard_pairs(docs, "doc_id", "text", threshold=0.7)
    ids = docs.select(F.col("doc_id").alias("id_a"))
    all_pairs = ids.join(
        docs.select(F.col("doc_id").alias("id_b")),
        F.col("id_a") < F.col("id_b"),
    )
    want = jaccard_verify(docs, all_pairs, "doc_id", "text", threshold=0.7)
    got_rows = sorted((r.id_a, r.id_b, round(r.jaccard, 9)) for r in got.collect())
    want_rows = sorted((r.id_a, r.id_b, round(r.jaccard, 9)) for r in want.collect())
    assert got_rows == want_rows and len(want_rows) > 0


def test_q223_compaction_collapses_files_and_preserves_rows(spark):
    """The compaction rewrite's two contracts on the REAL artifacts: the
    fragmented landing holds >1 file per bucket (the arrival-slice
    pathology the query constructs), the compacted layout exactly 1,
    and the bucket rollup is identical read from either side — a row
    dropped or duplicated by the rewrite would diverge the frames (and
    independently break the twin counts against the driver oracle)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from discogs_load_spark.queries import lake
    from discogs_load_spark.queries.registry import REGISTRY

    from .conftest import SF_SMALL

    out = REGISTRY["q223_cdc_index_compaction"].fn(spark, SF_SMALL)
    rows = sorted(map(tuple, out.collect()))
    assert rows, "empty compaction rollup"
    frag, comp = lake._LAST_COMPACTION_DIRS

    def files_per_bucket(d):
        return {
            b: len(glob.glob(os.path.join(d, b, "*.parquet")))
            for b in os.listdir(d)
            if b.startswith("pb=")
        }

    ff, cf = files_per_bucket(frag), files_per_bucket(comp)
    assert max(ff.values()) > 1, f"fragmented input not fragmented: {ff}"
    assert set(cf.values()) == {1}, f"compaction left multi-file buckets: {cf}"

    schema = "chunk_hash string, pb string"
    roll = lambda d: sorted(  # noqa: E731
        map(
            tuple,
            spark.read.schema(schema)
            .parquet(d)
            .groupBy(F.substring("chunk_hash", 1, 1).alias("bucket"))
            .agg(
                F.countDistinct("chunk_hash").cast("bigint").alias("n_chunks"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.min("chunk_hash").alias("min_hash"),
                F.max("chunk_hash").alias("max_hash"),
            )
            .collect(),
        )
    )
    assert roll(frag) == roll(comp)


def test_q213_histogram_percentiles_match_builtin(spark):
    """r14: q213's exact p45/p55 bounds moved from the builtin
    percentile() aggregate (per-group value-counts buffer shipped through
    every partial) to the distinct-value histogram + window form. The two
    must be BITWISE identical — the contract flags compare the sketch
    median against these bounds, so even a 1-ulp interpolation divergence
    is the class of drift this repo bans."""
    import struct

    from pyspark.sql import functions as F

    from discogs_load_spark.queries.extra import _histogram_percentiles
    from discogs_load_spark.session import load_tables

    from .conftest import SF_SMALL

    li = load_tables(spark, SF_SMALL, ["lineitem"])["lineitem"]
    builtin = {
        r[0]: (r[1], r[2])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.45)"),
            F.expr("percentile(l_extendedprice, 0.55)"),
        )
        .collect()
    }
    hist = {
        r[0]: (r[1], r[2])
        for r in _histogram_percentiles(
            li, "l_returnflag", "l_extendedprice", {"lo": "0.45", "hi": "0.55"}
        ).collect()
    }
    assert builtin.keys() == hist.keys()
    for k in builtin:
        for a, b in zip(builtin[k], hist[k]):
            assert struct.pack("<d", a) == struct.pack("<d", b), (k, a, b)


def test_stopword_feature_arrow_matches_hof(spark):
    """r15: the q176/q177 stopword-ratio featurize moved from the
    interpreted `filter(toks, t -> t IN (...))` Catalyst lambda to an
    Arrow mapInPandas over the JVM-normalized string (the CDC-chunker
    precedent). The feature doubles must be BITWISE identical to the
    array-HOF form of stopword_ratio_sql the oracles share — q177 groups
    by the raw double and q176 folds it through five gradient rounds, so
    a 1-ulp divergence changes hashes."""
    import struct

    from discogs_load_spark.functions.textfns import (
        STOPWORDS,
        norm_sql,
        stopword_ratio_sql,
        tokens_sql,
    )
    from discogs_load_spark.queries.text import _stopword_feature_frame
    from discogs_load_spark.session import load_tables

    from .conftest import SF_SMALL

    docs = load_tables(spark, SF_SMALL, ["documents"])["documents"]
    y = "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END"

    def key(rows):
        return sorted(
            (
                None if r.x is None else struct.pack(">d", r.x),
                None if r.y is None else struct.pack(">d", r.y),
            )
            for r in rows
        )

    toks = tokens_sql(norm_sql("text", "spark"), "spark")
    hof = key(
        docs.select(
            F.expr(stopword_ratio_sql(toks, STOPWORDS["en"], "spark")).alias("x"),
            F.expr(y).cast("double").alias("y"),
        ).collect()
    )
    arrow = key(_stopword_feature_frame(docs, y, "double").collect())
    assert len(hof) > 0
    assert hof == arrow
