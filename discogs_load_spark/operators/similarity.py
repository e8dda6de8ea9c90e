"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk` — brute-force exact top-k: the correctness baseline.
  One broadcast of the (few) query vectors against the corpus; the corpus is
  scanned once, never shuffled, and top-k folds through
  TakeOrderedAndProject per query.
- :func:`lsh_topk` — the scale path: hyperplane-LSH bucket equi-join prunes
  the candidate set before exact rerank. At 100 TB the bucket join touches
  ~corpus/2^planes per query instead of the full corpus; recall is tuned by
  n_planes (fewer planes → bigger buckets → higher recall, more compute).
- :func:`embedding_near_dup_pairs` — self-join flavor for corpus-level
  near-duplicate detection.

Dot products are fixed-association double folds (functions/vectors.py —
zip_with/aggregate loops on the Spark side, list_sum folds in the DuckDB
oracle) → bitwise identical results, and the loop form keeps the stage
inside whole-stage codegen at any dim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from ..functions.vectors import dot_sql, lsh_bucket_sql, norm2_sql

DEFAULT_PLANES = 8


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors for each query vector (brute force).

    queries must be small (it is broadcast); corpus is streamed once.
    Output: (query_id, neighbor_id, cosine, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.expr(f"sqrt({norm2_sql(vec_col, dim, 'spark')})").alias("qnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.expr(f"sqrt({norm2_sql(vec_col, dim, 'spark')})").alias("cnorm"),
    )
    # norms ride each side computed once per row, not once per pair; the
    # arithmetic (dot / (sqrt(n_a) * sqrt(n_b))) is unchanged so the value
    # is still bitwise equal to the oracle's inline form
    sim = F.expr(dot_sql("qvec", "cvec", dim, "spark")) / (
        F.col("qnorm") * F.col("cnorm")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", sim)
        .select("query_id", "neighbor_id", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    n_planes: int = DEFAULT_PLANES,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane bucket."""
    bucket = lsh_bucket_sql(vec_col, n_planes, dim, "spark")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.expr(bucket).alias("bucket"),
        F.expr(f"sqrt({norm2_sql(vec_col, dim, 'spark')})").alias("qnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.expr(bucket).alias("bucket"),
        F.expr(f"sqrt({norm2_sql(vec_col, dim, 'spark')})").alias("cnorm"),
    )
    sim = F.expr(dot_sql("qvec", "cvec", dim, "spark")) / (
        F.col("qnorm") * F.col("cnorm")
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", sim)
        .select("query_id", "neighbor_id", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    centroid_ids: tuple[int, ...] = (),
    n_probe: int = 1,
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into Voronoi cells
    around fixed centroid vectors, then search the query's nearest
    ``n_probe`` cells.

    The inverted-file structure (FAISS IVF-Flat shape) as DataFrames: cell
    assignment is a broadcast cross-join against the tiny centroid set +
    argmax-by-cosine (one scan of the corpus, no shuffle besides the final
    window); the probe is an equi-join on cell id. At 100 TB the cell
    column is what you'd partition/bucket the corpus table BY, making each
    probe touch ``n_probe`` partitions. Recall is tuned by centroid count
    and n_probe (the production knob: probe more cells → higher recall,
    proportionally more distance computations). Centroids here are
    designated corpus rows (k-means would drift per run; fixed ids keep
    the operator deterministic and oracle-checkable).
    """
    cent = corpus.filter(F.col(id_col).isin(*centroid_ids)).select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("centvec"),
        F.expr(f"sqrt({norm2_sql(vec_col, dim, 'spark')})").alias("centnorm"),
    )
    return ivf_topk_with_centroids(
        corpus, queries, cent, id_col, vec_col, dim, k, n_probe=n_probe
    )


def ivf_topk_with_centroids(
    corpus: DataFrame,
    queries: DataFrame,
    cent: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    n_probe: int = 1,
) -> DataFrame:
    """IVF probe against an arbitrary centroid table (cid, centvec,
    centnorm) — the entry point a LEARNED index uses (k-means centroids
    from operators/clustering.py) while :func:`ivf_topk` keeps the
    fixed-designated-row form. Same plan shape: broadcast cell
    assignment, equi-join probe on the cell id.

    Multi-probe: corpus rows live in exactly ONE cell (their nearest);
    queries carry their ``n_probe`` nearest cells, so the probe equi-join
    fans each query out to n_probe cells. A neighbor matches at most once
    (its single home cell), so no dedup step is needed before ranking."""

    def assign(df: DataFrame, probes: int) -> DataFrame:
        scored = df.crossJoin(F.broadcast(cent)).withColumn(
            "__ccos",
            F.expr(dot_sql(vec_col, "centvec", dim, "spark"))
            / (
                F.expr(f"sqrt({norm2_sql(vec_col, dim, 'spark')})")
                * F.col("centnorm")
            ),
        )
        w = W.partitionBy(id_col).orderBy(F.desc("__ccos"), F.asc("cid"))
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= probes)
            .select(F.col(id_col), F.col(vec_col), F.col("cid").alias("cell"))
        )

    def assign1(df: DataFrame) -> DataFrame:
        return assign(df, 1)

    c = assign1(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        "cell",
        F.expr(f"sqrt({norm2_sql(vec_col, dim, 'spark')})").alias("cnorm"),
    )
    q = assign(queries, n_probe).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        "cell",
        F.expr(f"sqrt({norm2_sql(vec_col, dim, 'spark')})").alias("qnorm"),
    )
    sim = F.expr(dot_sql("qvec", "cvec", dim, "spark")) / (
        F.col("qnorm") * F.col("cnorm")
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", sim)
        .select("query_id", "neighbor_id", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _best_match_from_bucketed(base: DataFrame, id_col: str, dim: int) -> DataFrame:
    """Shared argmax tail for the best-match operators: bucket equi-join,
    exact cosine, per-id map-side-combinable argmax + candidate count.
    ``base`` must carry (vid, vec, bucket, nrm)."""
    a = base.select(
        F.col("vid").alias("id_a"),
        F.col("vec").alias("vec_a"),
        "bucket",
        F.col("nrm").alias("nrm_a"),
    )
    b = base.select(
        F.col("vid").alias("id_b"),
        F.col("vec").alias("vec_b"),
        "bucket",
        F.col("nrm").alias("nrm_b"),
    )
    sim = F.expr(dot_sql("vec_a", "vec_b", dim, "spark")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    cand = (
        a.join(b, "bucket")
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn("cosine", sim)
    )
    best = F.max(
        F.struct(F.col("cosine"), (-F.col("id_b")).alias("nb"))
    ).alias("m")
    return cand.groupBy("id_a").agg(
        best, F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    ).select(
        F.col("id_a").alias(id_col),
        (-F.col("m.nb")).alias("best_id"),
        F.col("m.cosine").alias("best_cosine"),
        "n_candidates",
    )


def _adaptive_bucketed_base(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    max_planes: int | None,
    enriched: DataFrame | None,
) -> DataFrame:
    """(vid, vec, bucket, nrm) with the DATA-ADAPTIVE prefix bucket,
    persisted (both self-join sides reuse it): sign bits for
    ``max_planes`` hyperplanes computed once per vector (or read from
    the enriched index's stored 16-plane string — a PREFIX of it is the
    same key by the nested-plane-family property), bucket = the prefix
    whose length the corpus row count picks through
    :func:`adaptive_planes_sql`'s integer CASE ladder. The row count is
    a broadcast scalar (one stage-boundary statistic, the q194
    discipline); prefix-of-signs means the ladder can only COARSEN or
    REFINE the same partitioning family, so results remain a pure
    deterministic function of the input set in both engines."""
    from pyspark.storagelevel import StorageLevel

    from ..functions.vectors import (
        ADAPTIVE_LSH_MAX_PLANES,
        adaptive_planes_sql,
    )

    mp = max_planes or ADAPTIVE_LSH_MAX_PLANES
    if enriched is not None:
        assert mp <= ADAPTIVE_LSH_MAX_PLANES
        nr = enriched.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        # least(mp, ladder): the in-plan branch's sign string is only mp
        # chars long, so its substring self-caps at mp — the stored
        # 16-plane string must be capped EXPLICITLY or a caller passing
        # max_planes < ladder gets finer buckets than the referee
        # (ADVICE r10)
        return (
            enriched.crossJoin(F.broadcast(nr))
            .select(
                F.col(id_col).alias("vid"),
                F.col(vec_col).alias("vec"),
                F.expr(
                    f"substring(bits, 1,"
                    f" least({mp}, {adaptive_planes_sql('n_rows')}))"
                ).alias("bucket"),
                F.col("nrm"),
            )
            # 1-2 index splits otherwise (see _bucketed_base)
            .repartition("bucket")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    signs = lsh_bucket_sql(vec_col, mp, dim, "spark")
    nr = df.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    return (
        df.crossJoin(F.broadcast(nr))
        .select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vec"),
            F.expr(
                f"substring({signs}, 1, {adaptive_planes_sql('n_rows')})"
            ).alias("bucket"),
            F.expr(f"sqrt({norm2_sql(vec_col, dim, 'spark')})").alias("nrm"),
        )
        # both self-join sides reuse the 16-plane sign computation
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def embedding_best_match_adaptive(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    max_planes: int | None = None,
    enriched: DataFrame | None = None,
) -> DataFrame:
    """Best bucket-mate with a DATA-ADAPTIVE plane count
    (:func:`_adaptive_bucketed_base`) — expected bucket population (and
    with it the candidate count per row) stays bounded as the corpus
    grows, inside ONE static plan with no replan or recompile. This is
    the fix for the fixed-plane form's quadratic candidate term
    (measured 49.8x at sf1→sf10 with p frozen at 8; the prefix ladder
    re-measures ~linear)."""
    base = _adaptive_bucketed_base(df, id_col, vec_col, dim, max_planes, enriched)
    return _best_match_from_bucketed(base, id_col, dim)


def embedding_near_dup_pairs_adaptive(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    max_planes: int | None = None,
    enriched: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs with the DATA-ADAPTIVE prefix bucket
    (:func:`_adaptive_bucketed_base`) — the scale-safe form of
    :func:`embedding_near_dup_pairs`, whose FIXED plane count keeps the
    candidate term at N²/2^p (quadratic in the corpus for any frozen p;
    the 4-plane referee measured 100.5x at sf1→sf10). Here the ladder
    holds expected bucket population bounded, so candidates grow
    ~linearly with N. Output (id_a < id_b, cosine >= threshold) within
    shared adaptive buckets — the recall trade is the same single-band
    hyperplane-LSH contract as the fixed form, with p now a function of
    corpus size instead of a constant."""
    base = _adaptive_bucketed_base(df, id_col, vec_col, dim, max_planes, enriched)
    return _pairs_from_bucketed(base, dim, threshold)


def embedding_best_match(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = DEFAULT_PLANES,
    enriched: DataFrame | None = None,
) -> DataFrame:
    """Per-vector best LSH-bucket neighbor: (id, best_id, best_cosine,
    n_candidates) — the BOUNDED-output dual of
    :func:`embedding_near_dup_pairs`.

    The pair form's output grows with pair density (a threshold that
    admits x% of all pairs returns ~x·N²/2 rows); this returns <= one row
    per vector by construction. The argmax is a plain aggregate (max over
    a (cosine, -id) struct), so it partially aggregates map-side: each
    task forwards at most one candidate per id into the shuffle and the
    candidate set is never materialized. Candidate generation is the same
    bucket equi-join (~N²/2^planes comparisons); at corpus scale n_planes
    grows with log(N) to hold per-bucket population constant."""
    base = _bucketed_base(df, id_col, vec_col, dim, n_planes, enriched)
    return _best_match_from_bucketed(base, id_col, dim)


def _bucketed_base(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    enriched: DataFrame | None,
) -> DataFrame:
    """(vid, vec, bucket, nrm) — from the enriched index (prefix of the
    stored 16-plane sign string + stored norm; queries/emb_index.py) or
    computed in-plan. Bitwise-equal paths: the plane family is nested,
    and the stored nrm is the same IEEE sqrt expression."""
    from ..functions.vectors import ADAPTIVE_LSH_MAX_PLANES

    if enriched is not None:
        assert n_planes <= ADAPTIVE_LSH_MAX_PLANES
        # repartition on the bucket key: the small index parquet reads
        # back as 1-2 splits (serial bucket join otherwise); the one
        # exchange restores parallelism and co-partitions both self-join
        # sides (ReusedExchange — the lsh_candidate_pairs discipline)
        return enriched.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vec"),
            F.expr(f"substring(bits, 1, {n_planes})").alias("bucket"),
            F.col("nrm"),
        ).repartition("bucket")
    bucket = lsh_bucket_sql(vec_col, n_planes, dim, "spark")
    return df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.expr(bucket).alias("bucket"),
        F.expr(f"sqrt({norm2_sql(vec_col, dim, 'spark')})").alias("nrm"),
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = DEFAULT_PLANES,
    enriched: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs: bucket self-join, then exact cosine.

    The equi-join on the bucket key is what makes this survive scale: with
    p planes a corpus of N splits into ~2^p buckets, so the pair candidate
    count is ~N²/2^p instead of N². Output (id_a < id_b, cosine >= threshold).
    """
    base = _bucketed_base(df, id_col, vec_col, dim, n_planes, enriched)
    return _pairs_from_bucketed(base, dim, threshold)


def _pairs_from_bucketed(base: DataFrame, dim: int, threshold: float) -> DataFrame:
    """Shared pair tail: bucket equi self-join, exact cosine rerank,
    (id_a < id_b, cosine >= threshold). ``base`` must carry
    (vid, vec, bucket, nrm)."""
    a = base.select(
        F.col("vid").alias("id_a"),
        F.col("vec").alias("vec_a"),
        "bucket",
        F.col("nrm").alias("nrm_a"),
    )
    b = base.select(
        F.col("vid").alias("id_b"),
        F.col("vec").alias("vec_b"),
        "bucket",
        F.col("nrm").alias("nrm_b"),
    )
    sim = F.expr(dot_sql("vec_a", "vec_b", dim, "spark")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
