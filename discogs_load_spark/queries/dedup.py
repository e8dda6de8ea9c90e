"""Deduplication query surface over the ``documents`` fixture (north-star
extension ops; BASELINE.json). Oracles are generated from the same dual-
dialect fragments the operators compile to, so both engines run byte-
identical hash math (functions/textfns.py docstring explains why md5-string
MinHash makes this possible).

Fixture note: the synthetic corpus has no exact duplicates but DOES contain
planted near-duplicate pairs (shingle-Jaccard ≈ 0.98) — the MinHash-LSH →
Jaccard-verify pipeline recovers exactly those.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from pyspark.storagelevel import StorageLevel

from ..functions.textfns import (
    SIMHASH_BITS,
    adaptive_snb_window_sql,
    doc_shingles_sql,
    minhash_agg_sql,
    norm_sql,
    oph_bucket_sql,
    simhash_bit_sql,
    simhash_value_sql,
    tokens_sql,
)
from ..operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_N_HASHES,
    MEMBER_CAP,
    adaptive_lsh_candidate_pairs,
    capped_member_rollup,
    containment_prefix_pairs,
    containment_verify,
    connected_components,
    jaccard_verify,
    lsh_bipartite_candidates,
    lsh_candidate_pairs,
    oph_minhash_signatures_from_shingles,
    prefix_filter_jaccard_pairs,
    simhash_from_shingles,
    simhash_near_dup_pairs,
)
from ..session import load_tables, scoped_conf
from . import artifacts
from .registry import register
from .sig_index import (
    doc_shingle_frame,
    doc_shingle_sets,
    doc_signature_index,
    doc_signatures,
)

JACCARD_THRESHOLD = 0.8


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ["documents"])["documents"]


# --- oracle SQL builders (DuckDB dialect) ----------------------------------

_D_SH = doc_shingles_sql("text", 3, "duckdb")
_D_AGGS = ", ".join(minhash_agg_sql("sh", DEFAULT_N_HASHES))
_R = DEFAULT_N_HASHES // DEFAULT_BANDS


def _bucket_union() -> str:
    parts = []
    for band in range(DEFAULT_BANDS):
        cols = ", ".join(f"h{i}" for i in range(band * _R, band * _R + _R))
        parts.append(
            f"SELECT doc_id, {band} AS band, md5(concat({cols})) AS key FROM sig"
        )
    return " UNION ALL ".join(parts)


_PAIRS_CTE_BODY = f"""
    s AS (SELECT doc_id, unnest({_D_SH}) AS sh FROM documents),
    sig AS (SELECT doc_id, {_D_AGGS} FROM s GROUP BY doc_id),
    buckets AS ({_bucket_union()}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
"""
_PAIRS_CTE = f"\n    WITH {_PAIRS_CTE_BODY}"


@register(
    "q50_exact_dedup",
    oracle=f"""
    SELECT md5({norm_sql('text', 'duckdb')}) AS content_hash,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    tags=("dedup", "exact"),
)
def q50_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized text, min-id keeper.
    ``content_hash`` comes precomputed from the signature index (one row
    per document, including shingle-less ones), so the query is one
    groupBy over a 32-byte key — operators/dedup.exact_dedup_groups is
    the in-plan form the index build shares."""
    return (
        doc_signature_index(spark, sf_dir)
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "q51_minhash_lsh_pairs",
    oracle=f"{_PAIRS_CTE} SELECT id_a, id_b FROM pairs",
    tags=("dedup", "minhash", "lsh"),
)
def q51_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12) + LSH(4 bands × 3) candidate pairs. Signatures come
    from the materialized index (sig_index.doc_signatures — same math as
    minhash_signatures, paid once per corpus at ingest)."""
    return lsh_candidate_pairs(doc_signatures(spark, sf_dir), "doc_id")


@register(
    "q52_jaccard_neardup",
    oracle=f"""
    {_PAIRS_CTE},
    sets AS (SELECT doc_id, list_distinct({_D_SH}) AS shset FROM documents)
    SELECT p.id_a, p.id_b,
           CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
             / (len(sa.shset) + len(sb.shset)
                - len(list_intersect(sa.shset, sb.shset))) AS jaccard
    FROM pairs p
    JOIN sets sa ON p.id_a = sa.doc_id
    JOIN sets sb ON p.id_b = sb.doc_id
    WHERE CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
             / (len(sa.shset) + len(sb.shset)
                - len(list_intersect(sa.shset, sb.shset))) >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "jaccard"),
)
def q52_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified with exact shingle-set Jaccard ≥ 0.8 —
    recovers the corpus's planted near-duplicate pairs. Signatures AND
    verify sets read the materialized signature index."""
    docs = _docs(spark, sf_dir)
    pairs = lsh_candidate_pairs(doc_signatures(spark, sf_dir), "doc_id")
    return jaccard_verify(
        docs, pairs, "doc_id", "text", threshold=JACCARD_THRESHOLD,
        sets=doc_shingle_sets(spark, sf_dir),
    )


_JACC = (
    "CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)"
    " / (len(sa.shset) + len(sb.shset) - len(list_intersect(sa.shset, sb.shset)))"
)


@register(
    "q89_dedup_components",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTE_BODY},
    sets AS (SELECT doc_id, list_distinct({_D_SH}) AS shset FROM documents),
    verified AS (
        SELECT p.id_a, p.id_b
        FROM pairs p
        JOIN sets sa ON p.id_a = sa.doc_id
        JOIN sets sb ON p.id_b = sb.doc_id
        WHERE {_JACC} >= {JACCARD_THRESHOLD}
    ),
    -- MATERIALIZED: the recursive walk references edges every iteration,
    -- and at a tight memory cap DuckDB re-inlines the whole
    -- shingle->minhash->verify feeder into each one (see q169)
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM verified
        UNION
        SELECT id_b, id_a FROM verified
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    walk(node, reach) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
    ),
    comp AS (SELECT node, MIN(reach) AS component FROM walk GROUP BY node)
    SELECT component, COUNT(*) AS n_docs,
           COALESCE(array_to_string(list_sort(list(node))[1:{MEMBER_CAP}], '|'),
                    '') AS doc_ids
    FROM comp GROUP BY component
    """,
    tags=("dedup", "graph", "iterative"),
)
def q89_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters = connected components of the verified pair graph
    (operators/dedup.connected_components docstring explains why pairs
    alone under-merge). Oracle: DuckDB recursive CTE computes the same
    transitive closure by reachability — an independent algorithm, so a
    closure bug can't self-confirm. The member list ships as a
    '|'-joined sorted string (driver canonicalizer can't hash list
    cells; doc ids are ints, so the join is lossless), CAPPED at the
    MEMBER_CAP smallest ids: a component is fixture-unbounded (a
    corpus-scale dup family is ONE group), so the rank filter runs
    before the collect and the reducer never materializes an unbounded
    array — n_docs still counts every member. The rank window and the
    groupBy share the component hash partitioning (one exchange)."""
    docs = _docs(spark, sf_dir)
    pairs = lsh_candidate_pairs(doc_signatures(spark, sf_dir), "doc_id")
    verified = jaccard_verify(
        docs, pairs, "doc_id", "text", threshold=JACCARD_THRESHOLD,
        sets=doc_shingle_sets(spark, sf_dir),
    ).select("id_a", "id_b")
    comp = connected_components(verified)
    return capped_member_rollup(comp, "component", "node", MEMBER_CAP).select(
        "component",
        F.col("n_members").alias("n_docs"),
        F.col("members").alias("doc_ids"),
    )


def _simhash_oracle() -> str:
    bits = ", ".join(
        f"SUM({simhash_bit_sql('shmd5', j, 'duckdb')}) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH s AS (SELECT doc_id, md5(unnest({_D_SH})) AS shmd5 FROM documents),
    sums AS (SELECT doc_id, {bits} FROM s GROUP BY doc_id)
    SELECT doc_id, CAST({simhash_value_sql('s')} AS BIGINT) AS simhash FROM sums
    """


@register(
    "q53_simhash",
    oracle=_simhash_oracle(),
    tags=("dedup", "simhash"),
)
def q53_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (majority vote over shingle md5 bits).
    Folds over the index's precomputed shingle arrays
    (operators/dedup.simhash_from_shingles)."""
    return simhash_from_shingles(doc_shingle_frame(spark, sf_dir), "doc_id")


def _simhash_pairs_oracle(max_hamming: int = 3, n_bands: int = 4) -> str:
    w = SIMHASH_BITS // n_bands
    mask = (1 << w) - 1
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"(simhash >> {b * w}) & {mask} AS key FROM sigs"
        for b in range(n_bands)
    )
    return f"""
    WITH sigs AS ({_simhash_oracle()}), bk AS ({bands})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM bk a
    JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


@register(
    "q64_simhash_hamming_pairs",
    oracle=_simhash_pairs_oracle(),
    tags=("dedup", "simhash", "lsh"),
)
def q64_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: byte-band pigeonhole join (hamming ≤ 3 over
    32 bits ⇒ one of 4 bytes matches exactly) + bit_count(xor) verify —
    recovers 21 of the corpus's 25 planted near-dup pairs with no cross
    product."""
    sigs = simhash_from_shingles(doc_shingle_frame(spark, sf_dir), "doc_id")
    return simhash_near_dup_pairs(sigs, "doc_id", max_hamming=3, n_bands=4)


# --- incremental (cross-snapshot) dedup ------------------------------------

NEW_MOD = 5  # docs with doc_id % NEW_MOD == NEW_REM play the "new snapshot"
NEW_REM = 4


@register(
    "q227_index_delta_merge_read",
    oracle=f"""
    SELECT md5({norm_sql('text', 'duckdb')}) AS content_hash,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies,
           CAST(SUM(CASE WHEN doc_id % {NEW_MOD} = {NEW_REM}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
    FROM documents GROUP BY 1
    """,
    tags=("dedup", "index", "lake", "incremental", "exact"),
)
def q227_index_delta_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSM read-merge (NEW r13): exact dedup computed over BASE
    INDEX ∪ DELTA LANDING instead of a full rebuild — the read path
    every main+delta index architecture needs between compactions
    (LevelDB/Iceberg read-merge; q218 lands the delta, q223/q224
    compact it, and THIS is how a consumer reads correct answers while
    that cycle runs). Base side = the materialized signature index
    filtered to the base snapshot (a pruned scan: 2 columns of a
    one-row-per-doc parquet); delta side = the streamed generation's
    artifact (sig_delta_landing — sig_frame of the new-snapshot docs,
    hash-prefix-partitioned exactly like q218's compacted landing).
    The union covers every document exactly once, so the oracle is the
    FULL-REBUILD answer (q50's oracle + the per-hash delta count): a
    row lost at the seam, double-counted across generations, or a
    base/delta build divergence breaks the value hash. ``n_delta``
    surfaces how much of each duplicate group arrived via the delta —
    the observable that proves the merged view actually reads both
    sides. Plan shape: two pruned artifact scans + one union + one
    32-byte-key groupBy; no re-derivation from raw text (plan-asserted:
    no regexp_replace), both snapshot filters are scan-level."""
    from .sig_index import sig_delta_landing

    base = (
        doc_signature_index(spark, sf_dir)
        .filter((F.col("doc_id") % NEW_MOD) != NEW_REM)
        .select("doc_id", "content_hash", F.lit(0).alias("is_delta"))
    )
    delta = sig_delta_landing(spark, sf_dir).select(
        "doc_id", "content_hash", F.lit(1).alias("is_delta")
    )
    return (
        base.unionByName(delta)
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sum("is_delta").cast("bigint").alias("n_delta"),
        )
    )



@register(
    "q100_incremental_dedup",
    oracle=f"""
    WITH {_PAIRS_CTE_BODY.replace(
        "a.doc_id < b.doc_id",
        f"a.doc_id % {NEW_MOD} = {NEW_REM} AND b.doc_id % {NEW_MOD} <> {NEW_REM}",
    )},
    sets AS (SELECT doc_id, list_distinct({_D_SH}) AS shset FROM documents),
    near AS (
        SELECT DISTINCT p.id_a AS doc_id
        FROM pairs p
        JOIN sets sa ON p.id_a = sa.doc_id
        JOIN sets sb ON p.id_b = sb.doc_id
        WHERE {_JACC} >= {JACCARD_THRESHOLD}
    ),
    hashes AS (
        SELECT doc_id, md5({norm_sql('text', 'duckdb')}) AS content_hash
        FROM documents
    ),
    exact AS (
        SELECT DISTINCT n.doc_id
        FROM hashes n JOIN hashes c ON n.content_hash = c.content_hash
        WHERE n.doc_id % {NEW_MOD} = {NEW_REM} AND c.doc_id % {NEW_MOD} <> {NEW_REM}
    )
    SELECT d.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'unique' END AS status
    FROM documents d
    LEFT JOIN exact e ON d.doc_id = e.doc_id
    LEFT JOIN near nr ON d.doc_id = nr.doc_id
    WHERE d.doc_id % {NEW_MOD} = {NEW_REM}
    """,
    tags=("dedup", "incremental", "minhash"),
)
def q100_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: screen a 'new snapshot' (20% of docs by id
    modulus) against the already-ingested corpus — exact content-hash
    semi-join first, then MinHash-LSH *bipartite* candidates
    (operators/dedup.lsh_bipartite_candidates) verified with exact
    Jaccard. |new|-proportional cost: the daily-crawl-delta shape, where
    the corpus side is a precomputed signature index at production scale
    — and since sig_index.py it literally IS: content hashes and MinHash
    signatures are read from the materialized per-document index, so the
    screen's cost is the bipartite join + candidate verify, never a
    corpus re-hash."""
    docs = _docs(spark, sf_dir)
    is_new = (F.col("doc_id") % NEW_MOD) == NEW_REM
    new_docs = docs.filter(is_new)

    hashed = doc_signature_index(spark, sf_dir).select(
        "doc_id", "content_hash"
    )
    exact = (
        hashed.filter(is_new)
        .alias("n")
        .join(
            hashed.filter(~is_new).select("content_hash").distinct().alias("c"),
            "content_hash",
            "left_semi",
        )
        .select("doc_id")
    )

    # one signature table, split by snapshot side — read from the
    # materialized index (both sides of the bipartite join filter the
    # same parquet scan; no per-delta corpus re-hash)
    is_new_sig = (F.col("doc_id") % NEW_MOD) == NEW_REM
    sigs = doc_signatures(spark, sf_dir)
    pairs = lsh_bipartite_candidates(
        sigs.filter(is_new_sig),
        sigs.filter(~is_new_sig),
        "doc_id",
    )
    near = (
        jaccard_verify(
            docs, pairs, "doc_id", "text", threshold=JACCARD_THRESHOLD,
            sets=doc_shingle_sets(spark, sf_dir),
        )
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
    )

    return (
        new_docs.select("doc_id")
        .join(exact.withColumn("__e", F.lit(1)), "doc_id", "left")
        .join(near.withColumn("__n", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("__e").isNotNull(), F.lit("exact_dup"))
            .when(F.col("__n").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("unique"))
            .alias("status"),
        )
    )


_Q112_BAND = 3  # length-band width; |len diff| <= 2 spans <= 1 adjacent band


def _fuzzy_matched_names(part: DataFrame) -> DataFrame:
    """(n1, n2, edit_dist): distinct part-name pairs with Levenshtein
    distance <= 2, via the length-banded vocab-domain self-join q112's
    docstring explains. BOTH orders plus the diagonal are kept, so
    callers can treat it as a symmetric match relation."""
    names = part.select(F.col("p_name").alias("n1")).distinct()
    band = (F.length("n1") / _Q112_BAND).cast("int")
    probe = names.select(
        "n1", F.explode(F.array(band - 1, band, band + 1)).alias("band")
    )
    home = names.select(F.col("n1").alias("n2"), band.alias("band"))
    return (
        probe.join(home, "band")
        .filter(F.abs(F.length("n1") - F.length("n2")) <= 2)
        .withColumn("edit_dist", F.levenshtein("n1", "n2").cast("bigint"))
        .filter(F.col("edit_dist") <= 2)
        .select("n1", "n2", "edit_dist")
    )


@register(
    "q112_fuzzy_name_match",
    oracle="""
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
    tags=("dedup", "fuzzy", "entity-resolution"),
)
def q112_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: near-identical part names (edit distance <=
    2), computed on the attribute DOMAIN and fanned back over rows. Names
    draw from a vocabulary that grows sublinearly in the catalog (the
    fixture's adjective+noun combos; real catalogs behave the same), so
    the quadratic Levenshtein runs over DISTINCT names only — a banded
    equi self-join of the |vocab|-sized name table (length banding makes
    the sound |len(a)-len(b)| <= 2 prune an equi condition: probe side
    fans to its 3 adjacent bands, build side keeps one home band, every
    name pair matches exactly once, both orders plus the diagonal kept so
    the row-level id ordering below stays independent of name order).
    The verdict then joins back to catalog rows with plain equi-joins on
    (name) and (name, brand). vs the r02 shape (banded join at ROW grain)
    this cuts Levenshtein evaluations from |catalog-pairs| (6.9M at
    sf0.1) to |vocab|² (~10k) — measured 6x faster — and the scale story
    improves the same way: the O(n²) work no longer grows with the
    catalog at all.

    Scale shape: NEITHER side is broadcast — catalog joins shuffle on
    their equi keys and AQE picks the physical strategy (plan-asserted
    with the broadcast threshold disabled); the name-domain self-join is
    a banded equi-join exactly like the LSH band joins. Levenshtein is
    classical edit distance in both engines → exact value-hash parity.

    REFEREE at scale (bench.SF1_REFEREE_EXCLUDED): the full pair SET is
    output-bound (~n²/|vocab| rows), so this form is quarantined from
    the bench scale tier; its measured bounded dual is q191 (best-match
    argmax over the same banded candidates, in the tier every round)."""
    part = load_tables(spark, sf_dir, ["part"])["part"]
    matched = _fuzzy_matched_names(part)
    a = part.select(
        F.col("p_partkey").alias("id_a"),
        F.col("p_name").alias("name_a"),
        F.col("p_brand").alias("brand_a"),
    )
    b = part.select(
        F.col("p_partkey").alias("id_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("brand_b"),
    )
    return (
        a.join(matched, F.col("name_a") == F.col("n1"))
        .join(
            b,
            (F.col("n2") == F.col("name_b"))
            & (F.col("brand_a") == F.col("brand_b")),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "name_a", "name_b", "edit_dist")
    )


@register(
    "q191_best_fuzzy_match",
    oracle="""
    WITH cand AS (
        SELECT a.p_partkey AS id_a, a.p_name AS name_a,
               b.p_partkey AS id_b, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_partkey <> b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 2
    )
    SELECT part_id, name, best_match_id, best_match_name, edit_dist,
           n_candidates
    FROM (
        SELECT id_a AS part_id, name_a AS name, id_b AS best_match_id,
               name_b AS best_match_name, edit_dist,
               CAST(COUNT(*) OVER (PARTITION BY id_a) AS BIGINT)
                   AS n_candidates,
               ROW_NUMBER() OVER (
                   PARTITION BY id_a ORDER BY edit_dist, id_b
               ) AS rn
        FROM cand
    ) t WHERE rn = 1
    """,
    tags=("dedup", "fuzzy", "entity-resolution", "bounded-output"),
)
def q191_best_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-output dual of q112 (VERDICT r07 item 4): per catalog row,
    its single best fuzzy match (min edit distance, then min partner id)
    among same-brand parts within edit distance 2, plus the candidate
    count — instead of the full pair set, whose cardinality grows
    ~n²/|vocab| on dense fixtures (q112 measured 35x at 10x rows,
    output-bound). This is the API a 100 TB entity-resolution caller
    wants: output <= one row per input row BY CONSTRUCTION, whatever the
    pair density does.

    Scale shape — the argmax is carried through the (brand, name) DOMAIN,
    never row×candidate grain (a first row-grain formulation measured 59x
    at 10x rows: with name multiplicity m, every matched name pair fans
    out m² catalog-row candidates before any aggregate can cap it — the
    tiled sf1 fixture has m growing WITH the corpus, and real catalogs'
    hot names do too). All rows sharing (brand, name) see the same
    candidate groups, and within a group every member carries the same
    edit distance, so a group is fully represented by (cnt, min_id,
    second_min_id): per (brand, n1) we aggregate S = Σ cnt (candidate
    count + self), A = min(d, min_id) over matched groups (the best when
    the row is NOT its own group's min), and B = the same min with the
    own-group term demoted to second_min_id (the best when it IS). The
    row level then just picks A or B with one equi-join — no candidate
    row ever materializes. Row-grain cost: two map-side-combinable
    shuffles of part on (brand, name) (count + a WindowGroupLimit'd
    top-2-ids window, the q183 discipline) plus the final summary join;
    everything else is vocab²-bounded."""
    part = load_tables(spark, sf_dir, ["part"])["part"]

    # --- row grain: (brand, name) group stats, linear, 2 shuffles ------
    cnts = part.groupBy("p_brand", "p_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = W.partitionBy("p_brand", "p_name").orderBy("p_partkey")
    top2 = (
        part.select("p_brand", "p_name", "p_partkey")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)  # WindowGroupLimit: <=2 rows/group/task
    )
    ids2 = top2.groupBy("p_brand", "p_name").agg(
        F.min(F.when(F.col("rn") == 1, F.col("p_partkey"))).alias("min_id"),
        F.min(F.when(F.col("rn") == 2, F.col("p_partkey"))).alias(
            "second_id"
        ),
    )
    groups = cnts.join(ids2, ["p_brand", "p_name"])

    # --- vocab grain: matched names x candidate groups -----------------
    matched = _fuzzy_matched_names(part)
    cg = matched.join(
        groups.select(
            F.col("p_brand").alias("brand"),
            F.col("p_name").alias("n2"),
            "cnt",
            "min_id",
            "second_id",
        ),
        "n2",
    )
    own = F.col("n2") == F.col("n1")
    a_term = F.struct(
        F.col("edit_dist"), F.col("min_id").alias("bid"),
        F.col("n2").alias("bname"),
    )
    b_term = F.when(~own, a_term).otherwise(
        F.when(
            F.col("second_id").isNotNull(),
            F.struct(
                F.col("edit_dist"), F.col("second_id").alias("bid"),
                F.col("n2").alias("bname"),
            ),
        )
    )
    summ = cg.groupBy("brand", "n1").agg(
        F.sum("cnt").alias("s_cnt"),
        F.min(a_term).alias("a"),
        F.min(b_term).alias("b"),
        F.min(F.when(own, F.col("min_id"))).alias("own_min"),
    )

    # --- row grain: pick A or B, one equi-join, no fanout ---------------
    best = F.when(F.col("p_partkey") == F.col("own_min"), F.col("b")).otherwise(
        F.col("a")
    )
    return (
        part.select("p_partkey", "p_name", "p_brand")
        .join(
            summ,
            (F.col("p_brand") == F.col("brand"))
            & (F.col("p_name") == F.col("n1")),
        )
        .withColumn("m", best)
        .filter(F.col("m").isNotNull() & (F.col("s_cnt") > 1))
        .select(
            F.col("p_partkey").alias("part_id"),
            F.col("p_name").alias("name"),
            F.col("m.bid").alias("best_match_id"),
            F.col("m.bname").alias("best_match_name"),
            F.col("m.edit_dist").alias("edit_dist"),
            (F.col("s_cnt") - 1).alias("n_candidates"),
        )
    )


SNB_WINDOW = 3  # sorted-neighborhood: pair each row with its next w rows


def _snb_ranked(part: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """The distributed global-rank lineage of :func:`_snb_pairs` —
    row-grain rank windowed per shuffle partition (pid), stitched with a
    broadcast per-partition offsets cumsum (the only SinglePartition
    frame is the bounded one-row-per-partition counts) over one
    checkpointed pid-tagged frame. Split out so the plan-shape test can
    pin the lineage before _snb_pairs checkpoints it."""
    sc_parallelism = part.sparkSession.sparkContext.defaultParallelism
    base = part.select("p_partkey", "p_name", *carry).repartitionByRange(
        sc_parallelism, "p_name", "p_partkey"
    )
    # materialized once: the rank branch and the per-partition sizes
    # branch project different columns, so with carried columns each gets
    # its own range exchange, and each exchange samples its own boundaries
    # (the RangePartitioner seeds by RDD id) — pids then disagree between
    # the branches and ranks collide or skip
    loc = base.withColumn("pid", F.spark_partition_id()).localCheckpoint()
    wloc = W.partitionBy("pid").orderBy("p_name", "p_partkey")
    loc = loc.withColumn("lrn", F.row_number().over(wloc))
    # bounded: one row per shuffle partition
    sizes = loc.groupBy("pid").agg(F.count(F.lit(1)).alias("n"))
    woff = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = sizes.select(
        "pid", F.coalesce(F.sum("n").over(woff), F.lit(0)).alias("off")
    )
    return loc.join(F.broadcast(offsets), "pid").select(
        "p_partkey",
        "p_name",
        *carry,
        (F.col("lrn") + F.col("off")).cast("bigint").alias("rk"),
    )


def _snb_pairs(
    part: DataFrame,
    carry: tuple[str, ...] = (),
    stats: DataFrame | None = None,
) -> DataFrame:
    """Sorted-neighborhood candidate pairs (id_a, id_b, name_a, name_b,
    g) with optional carried attribute columns suffixed _a/_b — the
    blocking engine shared by q196 (pair emission), q198 (linkage
    scoring), and q206 (adaptive window). See q196's docstring for the
    distributed-rank recipe. ``stats``: optional broadcast 1-row
    (n_rows, n_keys) frame — when given, the neighbor gap list is
    sequence(1, w) with w from the mean-multiplicity ladder
    (functions/textfns.adaptive_snb_window_sql) instead of the fixed
    SNB_WINDOW."""
    from pyspark.storagelevel import StorageLevel

    from ..functions.textfns import adaptive_snb_window_sql

    # FIXED-window path: eager localCheckpoint, not a lazy persist — the
    # probe/build join sides materialize as concurrent stages and each
    # racer recomputed the range-partition + window chain (the r14
    # racing-persist rule). The distributed-rank lineage itself lives in
    # _snb_ranked so the plan-shape pin (tests/test_plans.py) can assert
    # it pre-checkpoint. sf1 interleaved A/B (r15, VERDICT r14 item 3;
    # all three q198-path checkpoints toggled to lazy persists at once):
    # A=checkpoint q198 3.65/4.31, q200 9.19/8.22, q210 4.78/5.16 vs
    # B=persist q198 4.84/7.19, q200 9.72/13.79, q210 4.57/6.60 —
    # checkpoints win or tie every pair; the driver's r14 sf1 readings
    # for this family were ambient drift. Kept.
    # ADAPTIVE path (q206): the measured ordering is the REVERSE — the
    # adaptive probe's sequence(1, w) fan-out dwarfs the rank chain, so
    # the racing recompute is cheap while the checkpoint's exact tiny
    # byte size makes AQE coalesce the fan-out join to one task unless
    # countered with an extra shuffle (lazy persist 1.49 s job_wall vs
    # checkpoint+repartition 1.89 s, same hour) — keep the lazy persist
    # there and let lineage-based size estimates preserve parallelism.
    ranked = _snb_ranked(part, carry)
    ranked = (
        ranked.localCheckpoint()
        if stats is None
        else ranked.persist(StorageLevel.MEMORY_AND_DISK)
    )
    probe_src = (
        ranked if stats is None else ranked.crossJoin(F.broadcast(stats))
    )
    gaps = (
        F.array(*[F.lit(g) for g in range(1, SNB_WINDOW + 1)])
        if stats is None
        else F.expr(
            f"sequence(1, {adaptive_snb_window_sql('n_rows', 'n_keys', 'spark')})"
        )
    )
    probe = probe_src.select(
        F.col("p_partkey").alias("id_a"),
        F.col("p_name").alias("name_a"),
        *[F.col(c).alias(f"{c}_a") for c in carry],
        F.explode(gaps).alias("g"),
        F.col("rk").alias("rk_a"),
    ).withColumn("rk_b", F.col("rk_a") + F.col("g"))
    build = ranked.select(
        F.col("p_partkey").alias("id_b"),
        F.col("p_name").alias("name_b"),
        *[F.col(c).alias(f"{c}_b") for c in carry],
        F.col("rk").alias("rk_b"),
    )
    if stats is not None:
        return probe.join(build, "rk_b")
    # explicit-width repartition AQE cannot coalesce (the item-10 verify
    # rule): the checkpointed rank frame reports its exact tiny byte
    # size, and AQE would coalesce the neighbor join + window explode to
    # ONE partition (a 4 s single-task stage in the q206 regression) —
    # the fan-out and the per-pair work downstream are CPU-bound on
    # byte-small rows
    par = part.sparkSession.sparkContext.defaultParallelism
    return probe.repartition(par, "rk_b").join(build, "rk_b")


@register(
    "q196_sorted_neighborhood",
    oracle=f"""
    WITH ranked AS (
        SELECT p_partkey, p_name,
               ROW_NUMBER() OVER (ORDER BY p_name, p_partkey) AS rk
        FROM part
    )
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(b.rk - a.rk AS BIGINT) AS gap,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM ranked a JOIN ranked b
      ON b.rk BETWEEN a.rk + 1 AND a.rk + {SNB_WINDOW}
    """,
    tags=("dedup", "entity-resolution", "blocking", "bounded-output"),
)
def q196_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo merge/purge): sort
    the catalog on the blocking key (name), pair each row with its next
    {SNB_WINDOW} neighbors, and score the pairs (edit distance here) —
    the classic alternative to LSH/banding when the match signal is
    lexical locality. Output is exactly w·(N - w/2) pairs — LINEAR in the
    catalog by construction, the property that makes this blocking family
    survive any corpus where threshold-pair enumeration explodes.

    Scale shape — the global sort is the method, so it must not become a
    single-partition window: ranks are computed DISTRIBUTED, the
    standard two-pass recipe — range-repartition on the sort key, rank
    locally per partition (a parallel window keyed by partition id),
    then add broadcast per-partition offsets (one bounded row per
    partition — the frame every distributed rank/sort implementation
    maintains). The final rank is a pure function of the (name, id)
    total order, so it is invariant to where the range sampler happens
    to cut the boundaries. Neighbor pairing is then an exact equi-join
    on rank+g (g exploded from 1..w, the q112 banding trick with an
    integer key), never a range/theta join."""
    part = load_tables(spark, sf_dir, ["part"])["part"]
    return _snb_pairs(part).select(
        "id_a",
        "id_b",
        "name_a",
        "name_b",
        F.col("g").cast("bigint").alias("gap"),
        F.levenshtein("name_a", "name_b").cast("bigint").alias("edit_dist"),
    )


FS_M = "0.95"  # P(field agrees | true match) — the fixed m-probability
FS_1M = "0.05"  # 1 - m, as literal text shared by both dialects


def _fs_weight(
    agree_sql: str, num_col: str, n_rows_sql: str = "n_rows"
) -> str:
    """Fellegi-Sunter field weight as IDENTICAL expression text for both
    dialects: m/u on agreement, (1-m)/(1-u) on disagreement, with
    u = num / n_rows² computed from exact integer corpus marginals.
    ``num_col``/``n_rows_sql`` may be column names (the oracle's form) or
    exact integer literals (the engine folds the collected stats row in —
    the CASTs make both spellings the identical IEEE computation)."""
    u = (
        f"(CAST({num_col} AS DOUBLE)"
        f" / (CAST({n_rows_sql} AS DOUBLE) * CAST({n_rows_sql} AS DOUBLE)))"
    )
    return (
        f"CASE WHEN {agree_sql} THEN {FS_M} / {u}"
        f" ELSE {FS_1M} / (1.0 - {u}) END"
    )


_FS_AGREE = {
    "name": "levenshtein(name_a, name_b) <= 2",
    "brand": "p_brand_a = p_brand_b",
    "type": "p_type_a = p_type_b",
    "size": "abs(p_size_a - p_size_b) <= 1",
}
_FS_SCORE = "(((w_name * w_brand) * w_type) * w_size)"


def _q198_oracle() -> str:
    w_cols = ",\n               ".join(
        f"{_fs_weight(a, f'u_{f}_num')} AS w_{f}"
        for f, a in _FS_AGREE.items()
    )
    agree_cols = ", ".join(
        f"CAST({a} AS INT) AS agree_{f}" for f, a in _FS_AGREE.items()
    )
    return f"""
    WITH ranked AS (
        SELECT p_partkey, p_name, p_brand, p_type, p_size,
               ROW_NUMBER() OVER (ORDER BY p_name, p_partkey) AS rk
        FROM part
    ),
    pairs AS (
        SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
               a.p_name AS name_a, b.p_name AS name_b,
               a.p_brand AS p_brand_a, b.p_brand AS p_brand_b,
               a.p_type AS p_type_a, b.p_type AS p_type_b,
               a.p_size AS p_size_a, b.p_size AS p_size_b
        FROM ranked a JOIN ranked b
          ON b.rk BETWEEN a.rk + 1 AND a.rk + {SNB_WINDOW}
    ),
    nc AS (SELECT p_name, CAST(COUNT(*) AS BIGINT) AS c
           FROM part GROUP BY p_name),
    u_name AS (
        SELECT CAST(SUM(CAST(a.c AS DECIMAL(38,0)) * b.c) AS BIGINT)
               AS u_name_num
        FROM nc a JOIN nc b ON levenshtein(a.p_name, b.p_name) <= 2
    ),
    bc AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS c
           FROM part GROUP BY p_brand),
    u_brand AS (
        SELECT CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS BIGINT)
               AS u_brand_num FROM bc
    ),
    tc AS (SELECT p_type, CAST(COUNT(*) AS BIGINT) AS c
           FROM part GROUP BY p_type),
    u_type AS (
        SELECT CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS BIGINT)
               AS u_type_num FROM tc
    ),
    sc AS (SELECT p_size, CAST(COUNT(*) AS BIGINT) AS c
           FROM part GROUP BY p_size),
    u_size AS (
        SELECT CAST(SUM(CAST(a.c AS DECIMAL(38,0)) * b.c) AS BIGINT)
               AS u_size_num
        FROM sc a JOIN sc b ON abs(a.p_size - b.p_size) <= 1
    ),
    nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM part),
    weighted AS (
        SELECT id_a, id_b, {agree_cols},
               {w_cols}
        FROM pairs
        CROSS JOIN u_name CROSS JOIN u_brand CROSS JOIN u_type
        CROSS JOIN u_size CROSS JOIN nr
    )
    SELECT id_a, id_b, agree_name, agree_brand, agree_type, agree_size,
           {_FS_SCORE} AS match_weight
    FROM weighted
    """


@register(
    "q198_linkage_score",
    oracle=_q198_oracle(),
    tags=("dedup", "entity-resolution", "linkage", "scoring"),
)
def q198_linkage_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage scoring (1969; the Splink-style
    unsupervised variant) over the sorted-neighborhood candidates: each
    blocked pair gets a composite likelihood ratio Π_f w_f where
    w_f = m/u_f on field agreement and (1-m)/(1-u_f) on disagreement —
    m fixed (P(agree|match)={FS_M}), and each u_f (P(agree|random pair))
    estimated EXACTLY from corpus value frequencies: u = Σ c_v·c_v' over
    agreeing value pairs, divided by n². No logs anywhere (the classic
    formulation sums log-weights; the hash gate bans transcendentals, so
    the score is the equivalent fixed-order product of IEEE ratios —
    rank order identical), so the score is bitwise cross-engine.

    Completes the entity-resolution stack: blocking (q196) → scoring
    (here) → per-row best match (q191) → transitive clustering (q165).

    Scale shape: the four u statistics are value-domain aggregates
    (brand/type/size/name-vocab grain — the name term rides the q112
    banded vocab join, the size ±1 term an explode-minted equi-join),
    collapsing to ONE broadcast scalar row; pairs come from the linear
    w·N blocking; scoring is a per-row projection. Nothing pair-grain
    ever shuffles."""
    part = load_tables(spark, sf_dir, ["part"])["part"]
    # one projected, eagerly materialized frame: the pair blocking and
    # every marginal-statistics branch below read it — the previous lazy
    # persist was raced by 5 concurrent scan branches (the r14
    # racing-persist rule)
    part = part.select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size"
    ).localCheckpoint()
    pairs = _snb_pairs(part, carry=("p_brand", "p_type", "p_size"))

    # ALL four value-frequency marginals in ONE grouping-sets pass (one
    # scan + one shuffle where four separate groupBys paid four), with
    # the global row count riding along as the empty grouping set (r14).
    # gid bit i set = column i NOT grouped, so each slice filters exactly.
    cnts = (
        part.groupingSets(
            [["p_name"], ["p_brand"], ["p_type"], ["p_size"], []],
            "p_name",
            "p_brand",
            "p_type",
            "p_size",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.grouping_id().alias("gid"),
        )
        .localCheckpoint()
    )
    G_NAME, G_BRAND, G_TYPE, G_SIZE, G_ALL = 7, 11, 13, 14, 15

    def dec_cc(gid: int, alias: str) -> str:
        return (
            f"CAST(SUM(CASE WHEN gid = {gid} THEN"
            f" CAST(c AS DECIMAL(38,0)) * c END) AS BIGINT) AS {alias}"
        )

    bt = cnts.agg(
        F.expr(dec_cc(G_BRAND, "u_brand_num")),
        F.expr(dec_cc(G_TYPE, "u_type_num")),
        F.expr(f"MAX(CASE WHEN gid = {G_ALL} THEN c END) AS n_rows"),
    )
    nc = cnts.filter(F.col("gid") == G_NAME).select("p_name", "c")
    matched = _fuzzy_matched_names(part)
    u_name = (
        matched.join(nc.select(F.col("p_name").alias("n1"), F.col("c").alias("c1")), "n1")
        .join(nc.select(F.col("p_name").alias("n2"), F.col("c").alias("c2")), "n2")
        .agg(
            F.expr("CAST(SUM(CAST(c1 AS DECIMAL(38,0)) * c2) AS BIGINT)")
            .alias("u_name_num")
        )
    )
    # size +-1 agreement: mint the equi key by exploding each size value
    # to its 3-neighborhood — value-domain bounded (distinct sizes)
    scnt = cnts.filter(F.col("gid") == G_SIZE).select("p_size", "c")
    s_probe = scnt.select(
        F.col("c").alias("c_a"),
        F.explode(
            F.array(
                F.col("p_size") - 1, F.col("p_size"), F.col("p_size") + 1
            )
        ).alias("v"),
    )
    s_build = scnt.select(F.col("p_size").alias("v"), F.col("c").alias("c_b"))
    u_size = (
        s_probe.join(s_build, "v")
        .agg(
            F.expr("CAST(SUM(CAST(c_a AS DECIMAL(38,0)) * c_b) AS BIGINT)")
            .alias("u_size_num")
        )
    )

    def _ilit(v) -> str:
        return "CAST(NULL AS BIGINT)" if v is None else str(v)

    # bounded: ONE 5-scalar stats row, collected and folded into the
    # scoring expressions as exact integer literals (the q171/q176
    # bounded-scalar discipline) — no broadcast stats frame crossed into
    # the pair projection, and the former 5-broadcast crossJoin chain
    # collapses to one collect job. AQE off for JUST this collect (r15):
    # every input is either an ExistingRDD checkpoint of a value-domain
    # marginal or the vocab-banded name join — domain-grain under the
    # q112 sublinear-vocabulary premise, so runtime partition coalescing
    # and skew splitting have no corpus-scaled target, while AQE's
    # per-exchange stage materialization charged this 1-row collect
    # TWELVE driver-bound stage-jobs of the q200 profile's 58.
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        # bounded: the 1-row 5-scalar stats frame (see block above)
        srow = u_name.crossJoin(u_size).crossJoin(bt).collect()[0]
    u_lit = {f: _ilit(srow[f"u_{f}_num"]) for f in _FS_AGREE}
    n_lit = _ilit(srow["n_rows"])
    weighted = pairs
    for f, agree in _FS_AGREE.items():
        weighted = weighted.withColumn(
            f"agree_{f}", F.expr(agree).cast("int")
        ).withColumn(f"w_{f}", F.expr(_fs_weight(agree, u_lit[f], n_lit)))
    return weighted.select(
        "id_a",
        "id_b",
        "agree_name",
        "agree_brand",
        "agree_type",
        "agree_size",
        F.expr(_FS_SCORE).alias("match_weight"),
    )


FS_MATCH_T = 100.0  # likelihood-ratio threshold: name + >= 2 other fields


def _q200_oracle() -> str:
    return f"""
    WITH RECURSIVE scored AS ({_q198_oracle()}),
    -- MATERIALIZED: the recursive walk references edges every iteration
    -- (the q89 discipline)
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM scored
        WHERE match_weight > {FS_MATCH_T}
        UNION
        SELECT id_b, id_a FROM scored WHERE match_weight > {FS_MATCH_T}
    ),
    nodes AS (SELECT p_partkey AS node FROM part),
    walk(node, reach) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
    ),
    comp AS (SELECT node, MIN(reach) AS entity_id FROM walk GROUP BY node)
    SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_members,
           COALESCE(array_to_string(list_sort(list(node))[1:{MEMBER_CAP}],
                                    '|'), '') AS member_ids
    FROM comp GROUP BY entity_id
    """


@register(
    "q200_merge_purge_pipeline",
    oracle=_q200_oracle(),
    tags=("dedup", "entity-resolution", "pipeline", "composed"),
)
def q200_merge_purge_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full merge/purge pipeline END-TO-END — what an ER user
    actually runs, composed from the round's pieces: sorted-neighborhood
    blocking (q196) → Fellegi-Sunter scoring (q198) → likelihood-ratio
    threshold (> {FS_MATCH_T}: on every fixture tier this admits exactly
    the name-agree + >= 2-other-field patterns, min admitted weight
    ~117 vs next pattern ~2.6 — an ~45x margin) → connected components →
    one canonical entity row per component, INCLUDING singletons (every
    input record maps to an entity; components only cover edge-touched
    nodes, so unmatched records coalesce to themselves). Oracle: the
    q198 score stack wrapped in the recursive-CTE reachability closure —
    an independent algorithm, so a closure bug can't self-confirm.

    Scale shape: all stages inherit their linearity — w·N blocked pairs,
    broadcast-scalar scoring, connected components on the (sparse)
    thresholded edge set (one driver-side close below the operator's
    edge cap), capped member rollup (rank before collect;
    n_members still counts every member)."""
    scored = q198_linkage_score(spark, sf_dir)
    edges = scored.filter(F.col("match_weight") > FS_MATCH_T).select(
        "id_a", "id_b"
    )
    comp = connected_components(edges)
    part = load_tables(spark, sf_dir, ["part"])["part"]
    full = (
        part.select(F.col("p_partkey").alias("node"))
        .join(comp, "node", "left")
        .select(
            "node", F.coalesce("component", "node").alias("entity_id")
        )
    )
    return capped_member_rollup(full, "entity_id", "node", MEMBER_CAP).select(
        "entity_id",
        "n_members",
        F.col("members").alias("member_ids"),
    )


@register(
    "q195_minhash_best_match",
    oracle=f"""
    {_PAIRS_CTE},
    sym AS (
        SELECT id_a, id_b FROM pairs
        UNION ALL
        SELECT id_b AS id_a, id_a AS id_b FROM pairs
    ),
    sets AS (SELECT doc_id, list_distinct({_D_SH}) AS shset FROM documents),
    scored AS (
        SELECT s.id_a, s.id_b,
               CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
                 / (len(sa.shset) + len(sb.shset)
                    - len(list_intersect(sa.shset, sb.shset))) AS jaccard
        FROM sym s
        JOIN sets sa ON s.id_a = sa.doc_id
        JOIN sets sb ON s.id_b = sb.doc_id
    )
    SELECT doc_id, best_id, best_jaccard, n_candidates FROM (
        SELECT id_a AS doc_id, id_b AS best_id, jaccard AS best_jaccard,
               CAST(COUNT(*) OVER (PARTITION BY id_a) AS BIGINT)
                   AS n_candidates,
               ROW_NUMBER() OVER (
                   PARTITION BY id_a ORDER BY jaccard DESC, id_b
               ) AS rn
        FROM scored
    ) t WHERE rn = 1
    """,
    tags=("dedup", "minhash", "lsh", "bounded-output"),
)
def q195_minhash_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-output dual of q51/q52: per document, its single best
    near-duplicate candidate — the LSH-band candidate with the highest
    exact Jaccard (ties to the smaller id) — plus the candidate count.
    Where q52 returns the full verified pair set (output grows with pair
    density), this returns <= one row per document BY CONSTRUCTION: the
    dedup-pipeline API at 100 TB, where a keeper decision needs each
    doc's best partner, not the whole quadratic neighborhood.

    Scale shape: candidates come from the same banded equi-join as q51
    (never all-pairs; mega-buckets capped), exact Jaccard from the same
    two set joins as q52; the argmax is a map-side-combinable aggregate
    (max over a (jaccard, -id) struct), so each task forwards at most
    one row per doc into the final shuffle — no window over the full
    candidate set, no pair set materialized."""
    docs = _docs(spark, sf_dir)
    pairs = lsh_candidate_pairs(doc_signatures(spark, sf_dir), "doc_id")
    # symmetrize via explode, not union-of-reversed: the union's branches
    # each carry the full LSH candidate lineage, so the band self-join
    # pipeline ran twice
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a"), F.col("id_b")),
                F.struct(
                    F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
                ),
            )
        ).alias("e")
    ).select("e.id_a", "e.id_b")
    scored = jaccard_verify(
        docs, sym, "doc_id", "text", threshold=0.0,
        sets=doc_shingle_sets(spark, sf_dir),
    )
    best = F.max(
        F.struct(F.col("jaccard"), (-F.col("id_b")).alias("nb"))
    ).alias("m")
    return scored.groupBy("id_a").agg(
        best, F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    ).select(
        F.col("id_a").alias("doc_id"),
        (-F.col("m.nb")).alias("best_id"),
        F.col("m.jaccard").alias("best_jaccard"),
        "n_candidates",
    )


@register(
    "q123_prefix_filter_jaccard",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, unnest(list_distinct({_D_SH})) AS sh FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM s GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           CAST(n_inter AS DOUBLE) / (za.sz + zb.sz - n_inter) AS jaccard
    FROM inter
    JOIN sizes za ON za.doc_id = id_a
    JOIN sizes zb ON zb.doc_id = id_b
    WHERE CAST(n_inter AS DOUBLE) / (za.sz + zb.sz - n_inter)
          >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "jaccard", "prefix-filter", "exact"),
)
def q123_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup join via prefix filtering (PPJoin family) — the
    zero-false-negative alternative to the MinHash-LSH path (q52): order
    each shingle set rarest-global-token-first, equi-join on the short
    prefixes, verify exact Jaccard. The oracle is therefore the plain
    all-pairs formulation — on this corpus both paths recover exactly the
    planted near-duplicate pairs, but only this one is guaranteed to.
    Shingle arrays come precomputed from the signature index."""
    from .sig_index import doc_prefix_rank_index

    return prefix_filter_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", k=3,
        threshold=JACCARD_THRESHOLD,
        ranked=doc_prefix_rank_index(spark, sf_dir),
    )


def _consensus_oracle() -> str:
    from ..functions.vectors import cosine_sql, lsh_bucket_sql
    from .similarity import DIM, NEARDUP_PLANES, NEARDUP_THRESHOLD

    bucket = lsh_bucket_sql("embedding", NEARDUP_PLANES, DIM, "duckdb")
    cos = cosine_sql("x.embedding", "y.embedding", DIM, "duckdb")
    return f"""
    WITH {_PAIRS_CTE_BODY},
    sets AS (SELECT doc_id, list_distinct({_D_SH}) AS shset FROM documents),
    tpairs AS (
        SELECT p.id_a, p.id_b
        FROM pairs p
        JOIN sets sa ON p.id_a = sa.doc_id
        JOIN sets sb ON p.id_b = sb.doc_id
        WHERE {_JACC} >= {JACCARD_THRESHOLD}
    ),
    buck AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
    epairs AS (
        SELECT x.vec_id AS id_a, y.vec_id AS id_b
        FROM buck x JOIN buck y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        WHERE {cos} >= {NEARDUP_THRESHOLD}
    )
    SELECT COALESCE(t.id_a, e.id_a) AS id_a,
           COALESCE(t.id_b, e.id_b) AS id_b,
           t.id_a IS NOT NULL AS text_dup,
           e.id_a IS NOT NULL AS emb_dup,
           (t.id_a IS NOT NULL AND e.id_a IS NOT NULL) AS consensus
    FROM tpairs t
    FULL OUTER JOIN epairs e ON t.id_a = e.id_a AND t.id_b = e.id_b
    """


@register(
    "q141_dedup_consensus",
    oracle=_consensus_oracle(),
    tags=("dedup", "minhash", "embedding", "multi-signal"),
)
def q141_dedup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal near-dup consensus: the text path (MinHash-LSH →
    exact-Jaccard verify, q52) and the embedding path (hyperplane-bucket →
    cosine, q54) vote on the SAME pair space (vec_id == doc_id in the
    fixtures), full-outer joined into per-pair flags. Pairs both signals
    agree on are delete-safe; single-signal pairs go to review — the
    standard curation policy when lexical and semantic dedup disagree
    (a paraphrase is an embedding-only dup; boilerplate wrapping
    different facts is a text-only dup). Both inputs are already-blocked
    pair lists (LSH buckets on each side), so the consensus join is
    |pairs| x |pairs| only in the worst theoretical case and equi-keyed
    always."""
    from .similarity import DIM, NEARDUP_PLANES, NEARDUP_THRESHOLD

    docs = _docs(spark, sf_dir)
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    from ..operators.similarity import embedding_near_dup_pairs

    tpairs = (
        jaccard_verify(
            docs,
            lsh_candidate_pairs(doc_signatures(spark, sf_dir), "doc_id"),
            "doc_id",
            "text",
            threshold=JACCARD_THRESHOLD,
            sets=doc_shingle_sets(spark, sf_dir),
        )
        .select("id_a", "id_b")
        .withColumn("text_dup", F.lit(True))
    )
    from .emb_index import emb_enriched

    epairs = (
        embedding_near_dup_pairs(
            emb,
            "vec_id",
            "embedding",
            DIM,
            threshold=NEARDUP_THRESHOLD,
            n_planes=NEARDUP_PLANES,
            enriched=emb_enriched(spark, sf_dir),
        )
        .select("id_a", "id_b")
        .withColumn("emb_dup", F.lit(True))
    )
    return (
        tpairs.join(epairs, ["id_a", "id_b"], "full_outer")
        .select(
            "id_a",
            "id_b",
            F.coalesce("text_dup", F.lit(False)).alias("text_dup"),
            F.coalesce("emb_dup", F.lit(False)).alias("emb_dup"),
            (
                F.coalesce("text_dup", F.lit(False))
                & F.coalesce("emb_dup", F.lit(False))
            ).alias("consensus"),
        )
    )


# --- entity resolution: fuzzy matches -> transitive entity clusters -------


def _fuzzy_name_pairs(part: DataFrame) -> DataFrame:
    """(n1, n2) distinct-name pairs with edit distance <= 2, n1 < n2 —
    the q112 domain-grain banded self-join, reduced to the strict upper
    triangle for graph building."""
    names = part.select(F.col("p_name").alias("n1")).distinct()
    band = (F.length("n1") / _Q112_BAND).cast("int")
    probe = names.select(
        "n1", F.explode(F.array(band - 1, band, band + 1)).alias("band")
    )
    home = names.select(F.col("n1").alias("n2"), band.alias("band"))
    return (
        probe.join(home, "band")
        .filter(
            (F.col("n1") < F.col("n2"))
            & (F.abs(F.length("n1") - F.length("n2")) <= 2)
            & (F.levenshtein("n1", "n2") <= 2)
        )
        .select("n1", "n2")
    )


@register(
    "q165_entity_clusters",
    oracle="""
    WITH RECURSIVE
    names AS (SELECT DISTINCT p_name AS n FROM part),
    pairs AS (
        SELECT a.n AS n1, b.n AS n2
        FROM names a JOIN names b
          ON a.n < b.n AND levenshtein(a.n, b.n) <= 2
    ),
    edges AS (
        SELECT n1 AS src, n2 AS dst FROM pairs
        UNION SELECT n2, n1 FROM pairs
    ),
    walk(node, reach) AS (
        SELECT n, n FROM names
        UNION
        SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
    ),
    comp AS (SELECT node, MIN(reach) AS entity_name FROM walk GROUP BY node)
    SELECT p.p_brand AS brand, c.entity_name,
           COUNT(*) AS n_parts,
           CAST(COUNT(DISTINCT p.p_name) AS BIGINT) AS n_name_variants,
           MIN(p.p_partkey) AS min_partkey,
           MAX(p.p_partkey) AS max_partkey
    FROM part p JOIN comp c ON p.p_name = c.node
    GROUP BY p.p_brand, c.entity_name
    """,
    tags=("dedup", "entity-resolution", "graph", "iterative"),
)
def q165_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end to end — the MDM (master-data-management)
    pipeline built from parts the suite already verifies one by one:
    q112's domain-grain fuzzy matcher produces name-pair edges, q89's
    connected-components operator closes them transitively (A~B and B~C
    merge even when A~C was never a candidate pair), and every catalog
    row is assigned its canonical entity — (brand, lexicographically-
    smallest reachable name) — with per-entity row counts, variant
    counts, and key ranges. The oracle recomputes the closure with
    DuckDB's recursive-CTE reachability over a definition-shaped
    (unblocked) pair join: different candidate generation, different
    closure algorithm, same entities.

    Scale shape: the name graph lives at the DOMAIN grain (|vocab| nodes
    — sublinear in the catalog, the same premise that lets q112 run the
    quadratic Levenshtein over distinct names at all), so its banded
    pair list (24 edges over 64 distinct names at sf0.1) sits far below
    the operator's driver cap and closes driver-side with union-find in
    one collect; a vocabulary whose pair list outgrows the cap closes
    distributed instead. Catalog rows then join the finished
    |vocab|-row name→entity map once, by name, broadcast."""
    part = load_tables(spark, sf_dir, ["part"])["part"]
    comp = connected_components(_fuzzy_name_pairs(part), "n1", "n2")
    # singleton names never enter the pair graph: they are their own
    # entity (the left-join + coalesce below)
    return (
        part.join(F.broadcast(comp), part.p_name == comp.node, "left")
        .withColumn("entity_name", F.coalesce("component", "p_name"))
        .groupBy(F.col("p_brand").alias("brand"), "entity_name")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.countDistinct("p_name").cast("bigint").alias("n_name_variants"),
            F.min("p_partkey").alias("min_partkey"),
            F.max("p_partkey").alias("max_partkey"),
        )
    )


def _oph_pairs_cte() -> str:
    """q175 referee: the explode→group formulation of the per-row OPH
    signature — one md5 per shingle routed to bucket (hash % n), min per
    bucket, rotation densification via an n-term COALESCE chain — then
    the exact q51 banding/bucket-join CTEs over the densified h0..h{n-1}
    (``_bucket_union`` reads FROM sig, so the name is the contract)."""
    n = DEFAULT_N_HASHES
    bucket = oph_bucket_sql("m", n)
    pivots = ", ".join(
        f"MIN(CASE WHEN b = {i} THEN mh END) AS b{i}" for i in range(n)
    )
    dens = ", ".join(
        "COALESCE("
        + ", ".join(f"b{(j + t) % n}" for t in range(n))
        + f") AS h{j}"
        for j in range(n)
    )
    return f"""
    WITH s AS (SELECT doc_id, unnest({_D_SH}) AS sh FROM documents),
    h AS (SELECT doc_id, md5(sh) AS m FROM s),
    bmin AS (
        SELECT doc_id, {bucket} AS b, MIN(m) AS mh FROM h GROUP BY 1, 2
    ),
    sig0 AS (SELECT doc_id, {pivots} FROM bmin GROUP BY doc_id),
    sig AS (SELECT doc_id, {dens} FROM sig0),
    buckets AS ({_bucket_union()}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b FROM pairs
    """


@register(
    "q175_oph_minhash_pairs",
    oracle=_oph_pairs_cte(),
    tags=("dedup", "minhash", "oph", "lsh"),
)
def q175_oph_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-permutation MinHash + LSH candidate pairs — q51's semantics at
    1/12th the hashing cost: ONE md5 per shingle routed to a bucket, min
    per bucket, empty buckets densified by cyclic borrowing (Li et al.
    2012; Shrivastava & Li 2014). The densified signature satisfies the
    exact (id, h0..h{n-1}) contract of ``lsh_candidate_pairs``, so the
    banding, bucket capping, and pair equi-join are literally the q51
    code path.

    At 100 TB the signature stage is the map-side bottleneck of MinHash
    dedup (md5 over every shingle x n_hashes); OPH computes the same-
    width signature with a single pass, which is the variant production
    pipelines run. Candidate sets differ slightly from q51's independent
    permutations (same unbiased Jaccard estimator, different variance
    profile); both feed the same exact-Jaccard verify (q52) downstream.
    """
    sigs = oph_minhash_signatures_from_shingles(
        doc_shingle_frame(spark, sf_dir), "doc_id"
    )
    return lsh_candidate_pairs(sigs, "doc_id")


# --- r09: adaptive band geometry + CDC chunking + keeper selection ----------


def _adaptive_pairs_cte() -> str:
    """Adaptive-banding candidate pairs (DuckDB): same sig CTE as q51, but
    rows-per-band comes from functions/textfns.adaptive_band_rows_sql's
    ladder over the corpus row count — one rung's UNION-ALL legs survive
    the scalar-subquery gate, the rest scan nothing."""
    from ..functions.textfns import (
        ADAPTIVE_BAND_RUNGS,
        adaptive_band_rows_sql,
        band_key_sql,
    )

    ladder = adaptive_band_rows_sql("(SELECT n FROM nr)")
    legs = []
    for r in ADAPTIVE_BAND_RUNGS:
        for b in range(DEFAULT_N_HASHES // r):
            legs.append(
                f"SELECT doc_id, {b} AS band, "
                f"{band_key_sql(b, r, 'duckdb')} AS key "
                f"FROM sig WHERE {ladder} = {r}"
            )
    buckets = " UNION ALL ".join(legs)
    return f"""
    s AS (SELECT doc_id, unnest({_D_SH}) AS sh FROM documents),
    sig AS MATERIALIZED (SELECT doc_id, {_D_AGGS} FROM s GROUP BY doc_id),
    nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    buckets AS ({buckets}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
"""


@register(
    "q201_adaptive_band_neardup",
    oracle=f"""
    WITH {_adaptive_pairs_cte()},
    sets AS (SELECT doc_id, list_distinct({_D_SH}) AS shset FROM documents)
    SELECT p.id_a, p.id_b, {_JACC} AS jaccard
    FROM pairs p
    JOIN sets sa ON p.id_a = sa.doc_id
    JOIN sets sb ON p.id_b = sb.doc_id
    WHERE {_JACC} >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "minhash", "lsh", "adaptive"),
)
def q201_adaptive_band_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q52's verified near-dup pairs with a DATA-ADAPTIVE LSH band
    geometry — the q199 plane-prefix discipline applied to MinHash
    banding (VERDICT r08 item 7; fixed geometry ref: operators/dedup.py
    DEFAULT_BANDS): rows-per-band r is picked from the corpus row count
    by an integer CASE ladder (3 → 6 → 12; each rung divides the next,
    so candidate sets strictly nest), so the expected random-pair candidate volume
    ~N²·b·E[J]^r stays bounded per row as the corpus grows, inside one
    static dual-dialect plan. n_docs is a broadcast 1-row scalar (the
    q194 statistic); at fixture sizes <= 4096 the ladder sits on r=3
    and this query EQUALS q52 row-for-row (pinned in
    tests/test_llm_ops.py), which is exactly the nesting property the
    ladder is designed around: a wider band only merges hash evidence.
    Candidates that survive are exact-Jaccard verified (>= 0.8), so
    output is the true near-dup set — bounded by dup density, not by
    the banding."""
    docs = _docs(spark, sf_dir)
    nr = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    sigs = doc_signatures(spark, sf_dir)
    pairs = adaptive_lsh_candidate_pairs(sigs, nr, "doc_id")
    return jaccard_verify(
        docs, pairs, "doc_id", "text", threshold=JACCARD_THRESHOLD,
        sets=doc_shingle_sets(spark, sf_dir),
    )


def _keeper_manifest(docs: DataFrame, verified: DataFrame) -> DataFrame:
    """Shared tail of q204/q210: connected components over a verified
    pair frame → per-cluster quality keeper (map-side struct-max argmax
    on (n_chars, -id)) + purge accounting, singletons unioned in — the
    corpus's exact post-dedup manifest."""
    comp = connected_components(verified)
    quality = docs.select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars")
    )
    m = comp.join(quality, comp.node == quality.doc_id).select(
        "component", "node", "n_chars"
    )
    clustered = (
        m.groupBy("component")
        .agg(
            F.max(
                F.struct(F.col("n_chars"), (-F.col("node")).alias("ni"))
            ).alias("k"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .select(
            "component",
            (-F.col("k.ni")).alias("keeper_id"),
            F.col("k.n_chars").alias("keeper_chars"),
            "n_docs",
            (F.col("total_chars") - F.col("k.n_chars"))
            .cast("bigint")
            .alias("purged_chars"),
        )
    )
    singles = docs.join(comp, docs.doc_id == comp.node, "left_anti").select(
        F.col("doc_id").alias("component"),
        F.col("doc_id").alias("keeper_id"),
        F.col("n_chars").cast("bigint").alias("keeper_chars"),
        F.lit(1).cast("bigint").alias("n_docs"),
        F.lit(0).cast("bigint").alias("purged_chars"),
    )
    return clustered.unionByName(singles)


@register(
    "q204_neardup_keepers",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTE_BODY},
    sets AS (SELECT doc_id, list_distinct({_D_SH}) AS shset FROM documents),
    verified AS (
        SELECT p.id_a, p.id_b
        FROM pairs p
        JOIN sets sa ON p.id_a = sa.doc_id
        JOIN sets sb ON p.id_b = sb.doc_id
        WHERE {_JACC} >= {JACCARD_THRESHOLD}
    ),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM verified
        UNION
        SELECT id_b, id_a FROM verified
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    walk(node, reach) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
    ),
    comp AS (SELECT node, MIN(reach) AS component FROM walk GROUP BY node),
    m AS (
        SELECT c.component, c.node, d.n_chars
        FROM comp c JOIN documents d ON d.doc_id = c.node
    ),
    agg AS (
        SELECT component, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM m GROUP BY component
    ),
    keep AS (
        SELECT component, node AS keeper_id, n_chars AS keeper_chars
        FROM (
            SELECT component, node, n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY component
                       ORDER BY n_chars DESC, node
                   ) AS rn
            FROM m
        ) t WHERE rn = 1
    )
    SELECT k.component, k.keeper_id,
           CAST(k.keeper_chars AS BIGINT) AS keeper_chars,
           a.n_docs,
           CAST(a.total_chars - k.keeper_chars AS BIGINT) AS purged_chars
    FROM keep k JOIN agg a USING (component)
    UNION ALL
    SELECT d.doc_id AS component, d.doc_id AS keeper_id,
           CAST(d.n_chars AS BIGINT) AS keeper_chars,
           CAST(1 AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS purged_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM comp)
    """,
    tags=("dedup", "graph", "keeper", "merge-purge"),
)
def q204_neardup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper selection for the TEXT near-dup stack — the q200 merge/purge
    decision applied to q89's clusters: per connected component of the
    verified MinHash pair graph, keep the highest-quality member
    (n_chars as the fixture's quality proxy, ties to the smaller id) and
    report what dedup would purge. The keeper argmax is a plain
    map-side-combinable aggregate (max over a (n_chars, -id) struct —
    the q192 discipline, no Window over members), so each task forwards
    one candidate per component into the shuffle; singletons union in as
    their own keepers, making the output the corpus's exact
    post-dedup manifest. Oracle recomputes the closure with the
    independent recursive-CTE referee (the q89 discipline)."""
    docs = _docs(spark, sf_dir)
    pairs = lsh_candidate_pairs(doc_signatures(spark, sf_dir), "doc_id")
    verified = jaccard_verify(
        docs, pairs, "doc_id", "text", threshold=JACCARD_THRESHOLD,
        sets=doc_shingle_sets(spark, sf_dir),
    ).select("id_a", "id_b")
    return _keeper_manifest(docs, verified)


def _cdc_chunks_duckdb(with_len: bool = False) -> str:
    """Content-defined chunk hashes per document (DuckDB dialect);
    ``with_len`` emits struct(h, l) with the chunk token count.

    Rolling boundary: a chunk ends after token i when the md5 of the
    4-gram ending at i starts with hex '0' (p = 1/16 → ~16-token mean
    chunks). Every list the lambdas touch is bound ONCE per row via the
    single-element list_transform trick (functions/textfns.shingles_sql
    docstring: DuckDB re-evaluates expressions referenced from lambda
    bodies PER ELEMENT); indexed two-arg lambdas carry positions."""
    from ..functions.textfns import norm_sql, tokens_sql

    toks = tokens_sql(norm_sql("text", "duckdb"), "duckdb")
    end = "(CASE WHEN j < len(st) THEN st[j+1] ELSE len(t) END)"
    body = f"md5(array_to_string(t[s+1:{end}], ' '))"
    if with_len:
        body = (
            f"struct_pack(h := {body}, "
            f"l := CAST({end} - s AS BIGINT))"
        )
    return f"""list_transform([{toks}], t ->
  list_transform([CASE WHEN len(t) < 4 THEN []
      ELSE list_transform(generate_series(1, len(t) - 3),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) END], sh ->
    list_transform([list_prepend(0, list_filter(
        list_transform(sh, (g, i) -> CASE WHEN md5(g) LIKE '0%' THEN i + 3 ELSE -1 END),
        x -> x <> -1))], st ->
      list_filter(list_transform(st, (s, j) ->
          CASE WHEN {end} > s
               THEN {body}
               ELSE NULL END),
        h -> h IS NOT NULL)
    )[1]
  )[1]
)[1]"""


def _token_frame(docs: DataFrame, carry: tuple[str, ...]) -> DataFrame:
    """(doc_id, *carry, __toks) — normalization + tokenization stay
    JVM-side (codegen'd regexp_replace/split from the textfns fragments
    the DuckDB oracle renders in its own dialect), so the Arrow chunker
    never re-implements the one step where engines disagree in subtle
    ways (locale lowercasing)."""
    from ..functions.textfns import norm_sql, tokens_sql

    return docs.select(
        "doc_id",
        *carry,
        F.expr(tokens_sql(norm_sql("text", "spark"), "spark")).alias(
            "__toks"
        ),
    )


def _cdc_chunk_frame(
    docs: DataFrame, with_len: bool = False, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, *carry, chunk_hash[, chunk_tokens]) with multiplicity —
    the exploded CDC chunk table shared by the CDC suite (q202/q205/
    q208/q211/q212) and the streamed maintainers.

    Arrow-batched chunker (VERDICT r09 item 1): tokens are computed
    JVM-side, then one mapInPandas stage does the md5 boundary/content
    hashing per Arrow batch — the q193 codec pattern. Map-side only: no
    shuffle is introduced, the fan-out happens inside the UDF, and
    distribution follows the scan partitioning. Why Python wins here:
    the array-HOF form pays interpreted-Catalyst-lambda evaluation per
    4-gram (~2.2 ms/doc, ARCHITECTURE round-9 telemetry) while
    hashlib.md5 over offset-sliced bytes of the pre-joined token string
    is a tight C loop. Chunks are BYTE-IDENTICAL to the oracle's SQL
    form: tokens are [a-z0-9]+ (pure ASCII after norm), so char offsets
    == byte offsets and md5 over the byte slice equals md5 over the SQL
    concat (tests/test_plans.py pins it against a plain-Python chunker)."""
    from pyspark.sql import types as T

    toks = _token_frame(docs, carry)
    fields = [toks.schema["doc_id"], *[toks.schema[c] for c in carry]]
    fields.append(T.StructField("chunk_hash", T.StringType()))
    if with_len:
        fields.append(T.StructField("chunk_tokens", T.LongType()))
    schema = T.StructType(fields)
    n_carry = len(carry)

    def chunk_batches(batches):
        import hashlib

        import pandas as pd

        md5 = hashlib.md5
        for pdf in batches:
            ids: list = []
            carried: list[list] = [[] for _ in range(n_carry)]
            hashes: list[str] = []
            lens: list[int] = []
            cols = [pdf["doc_id"]] + [pdf[c] for c in carry] + [pdf["__toks"]]
            for row in zip(*cols):
                t = row[-1]
                n = len(t)
                if n == 0:
                    continue
                jb = " ".join(t).encode()
                offs = [0] * (n + 1)
                o = 0
                for i in range(n):
                    o += len(t[i]) + 1
                    offs[i + 1] = o
                # boundary after token g+3 iff md5(4-gram at g) hex
                # starts with '0' == first digest byte < 0x10
                bounds = [
                    g + 4
                    for g in range(n - 3)
                    if md5(jb[offs[g] : offs[g + 4] - 1]).digest()[0] < 16
                ]
                k = 0
                prev = 0
                for e in bounds + [n]:
                    if e > prev:
                        hashes.append(
                            md5(jb[offs[prev] : offs[e] - 1]).hexdigest()
                        )
                        if with_len:
                            lens.append(e - prev)
                        k += 1
                    prev = e
                if k:
                    ids.extend([row[0]] * k)
                    for j in range(n_carry):
                        carried[j].extend([row[1 + j]] * k)
            out = {"doc_id": ids}
            for j, c in enumerate(carry):
                out[c] = carried[j]
            out["chunk_hash"] = hashes
            if with_len:
                out["chunk_tokens"] = lens
            yield pd.DataFrame(out)

    return toks.mapInPandas(chunk_batches, schema)


CDC_INDEX_DIR = os.environ.get(
    "SPARK_GRAFT_CDC_INDEX_DIR", "/tmp/spark_graft_cdc_index"
)


def _cdc_index_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cdc_chunk_frame(
        _docs(spark, sf_dir), with_len=True, carry=("source",)
    )


def cdc_chunk_index(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """The materialized CDC chunk index (VERDICT r09 item 2): the
    superset frame (doc_id, source, chunk_hash, chunk_tokens) written
    ONCE per fixture generation as parquet and read by all five CDC
    queries — the production shape q212's docstring names (a bucketed
    lake table keyed by chunk_hash, the reference-analogous move to
    sql/indexes.sql:1-16's pre-declared access paths: pay the shred at
    ingest, not per query). Declared in queries/artifacts.py: keyed on
    the documents fixture's identity and the chunker version, so a
    fixture regeneration can never serve a stale index;
    SPARK_GRAFT_ARTIFACTS=0 makes every query recompute the in-plan
    chunk frame (the referee mode used by plan tests and build-cost
    probes)."""
    return artifacts.load("cdc_chunk_index", spark, sf_dir, rebuild)


def _cdc_delta_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deferred: streaming imports us (the landed-layout constants are
    # the streamed maintainer's, shared so both landings stay one layout)
    from .streaming import CDC_LANDED_PART_COL, CDC_LANDED_PREFIX_CHARS

    docs = _docs(spark, sf_dir).filter((F.col("doc_id") % NEW_MOD) == NEW_REM)
    return (
        _cdc_chunk_frame(docs)
        .select("chunk_hash")
        .distinct()
        .withColumn(
            CDC_LANDED_PART_COL,
            F.substring("chunk_hash", 1, CDC_LANDED_PREFIX_CHARS),
        )
    )


def cdc_delta_landing(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """(chunk_hash, pb) — the DELTA generation of the CDC chunk index as
    a cached artifact: the new-snapshot documents' DISTINCT chunk
    hashes, landed hash-prefix-partitioned exactly like q219's streamed
    landing (``pb`` = CDC_LANDED_PREFIX_CHARS leading hex chars) — the
    'delta' side of the CDC LSM read-merge (q229), the CDC sibling of
    sig_index.sig_delta_landing. Keyed on the base chunk index's
    fingerprint plus the snapshot modulus and the prefix width."""
    return artifacts.load("cdc_delta_landing", spark, sf_dir, rebuild)


def _q229_oracle() -> str:
    return f"""
    WITH ch AS (
        SELECT doc_id, unnest({_cdc_chunks_duckdb()}) AS chunk_hash
        FROM documents
    ),
    fl AS (
        SELECT chunk_hash,
               MAX(CASE WHEN doc_id % {NEW_MOD} <> {NEW_REM}
                        THEN 1 ELSE 0 END) AS in_base,
               MAX(CASE WHEN doc_id % {NEW_MOD} = {NEW_REM}
                        THEN 1 ELSE 0 END) AS in_delta
        FROM ch GROUP BY chunk_hash
    )
    SELECT substring(chunk_hash, 1, 1) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN in_delta = 1 AND in_base = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_novel_delta,
           CAST(SUM(in_base * in_delta) AS BIGINT) AS n_shared,
           MIN(chunk_hash) AS min_hash,
           MAX(chunk_hash) AS max_hash
    FROM fl GROUP BY bucket
    """


@register(
    "q229_cdc_delta_merge_read",
    oracle=_q229_oracle(),
    tags=("dedup", "cdc", "index", "lake", "incremental"),
)
def q229_cdc_delta_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC LSM read-merge (VERDICT r13 item 3): the corpus chunk
    dictionary computed over BASE CHUNK INDEX ∪ DELTA LANDING — the
    novelty answer a CDC consumer needs BETWEEN compactions (q219 lands
    the delta, q224 compacts it; this is the read path while that cycle
    runs — the q227 pattern applied to the chunk family). Base side =
    the materialized chunk index pruned to the base snapshot and the
    chunk_hash column; delta side = the cdc_delta_landing artifact
    (hash-prefix-partitioned like the streamed landing). The union
    covers every corpus chunk exactly once per side, so the oracle is
    the FULL-REBUILD answer: distinct chunks of the whole corpus with
    per-side membership flags recomputed from raw text. ``n_novel_delta``
    (chunks only the delta contains — the novelty measure) and
    ``n_shared`` (chunks in both snapshots) are the both-sides
    observables: a reader that silently misses the delta zeroes
    n_novel_delta; one that misses the base inflates it — either breaks
    the value hash. Plan shape: two pruned artifact scans (chunk_hash
    column only; snapshot filter at the base scan) + union + one
    32-byte-key groupBy + the bucket rollup; no re-derivation from raw
    text (plan-asserted in tests/test_index_refresh.py: no Arrow chunker
    stage under the default artifact mode)."""
    base = (
        cdc_chunk_index(spark, sf_dir)
        .filter((F.col("doc_id") % NEW_MOD) != NEW_REM)
        .select("chunk_hash")
        .distinct()
        .withColumn("is_delta", F.lit(0))
    )
    delta = (
        cdc_delta_landing(spark, sf_dir)
        .select("chunk_hash")
        .withColumn("is_delta", F.lit(1))
    )
    flags = (
        base.unionByName(delta)
        .groupBy("chunk_hash")
        .agg(
            F.max(1 - F.col("is_delta")).alias("in_base"),
            F.max("is_delta").alias("in_delta"),
        )
    )
    return flags.groupBy(
        F.substring("chunk_hash", 1, 1).alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(
            F.when((F.col("in_delta") == 1) & (F.col("in_base") == 0), 1)
            .otherwise(0)
        ).cast("bigint").alias("n_novel_delta"),
        F.sum(F.col("in_base") * F.col("in_delta"))
        .cast("bigint")
        .alias("n_shared"),
        F.min("chunk_hash").alias("min_hash"),
        F.max("chunk_hash").alias("max_hash"),
    )



@register(
    "q202_cdc_chunk_dedup",
    oracle=f"""
    WITH ch AS (
        SELECT doc_id, unnest({_cdc_chunks_duckdb()}) AS chunk_hash
        FROM documents
    )
    SELECT chunk_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           MIN(doc_id) AS keeper_doc
    FROM ch GROUP BY chunk_hash
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    tags=("dedup", "cdc", "chunking"),
)
def q202_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup — the sub-document counterpart of
    q50's whole-doc hash: chunk boundaries fall where the rolling hash of
    the trailing 4-gram lands in 1/16 of its space (md5 hex prefix '0'),
    so an insertion near the top of a near-copy re-synchronizes within a
    chunk or two and the shared tail still dedups — the property
    fixed-size chunking lacks and the reason CDC is the shape backup
    systems and crawl-dedup pipelines use. The chunk stage is map-side
    (the Arrow chunker, _cdc_chunk_frame), so the map side emits
    (doc_id, chunk_hash) with no shuffle before the single chunk-grain
    rollup.
    Output: chunks appearing in >= 2 docs with occurrence counts and the
    min-id keeper — bounded by shared-chunk cardinality. Reads the
    materialized chunk index (cdc_chunk_index) so the chunk stage is
    paid once per corpus, not once per query."""
    return (
        cdc_chunk_index(spark, sf_dir)
        .select("doc_id", "chunk_hash")
        .groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "q205_cdc_novelty",
    oracle=f"""
    WITH ch AS (
        SELECT doc_id, unnest({_cdc_chunks_duckdb()}) AS chunk_hash
        FROM documents
    ),
    newch AS (
        SELECT * FROM ch WHERE doc_id % {NEW_MOD} = {NEW_REM}
    ),
    idx AS (
        SELECT DISTINCT chunk_hash FROM ch
        WHERE doc_id % {NEW_MOD} <> {NEW_REM}
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(i.chunk_hash) AS BIGINT) AS n_dup_chunks,
           CAST(COUNT(*) - COUNT(i.chunk_hash) AS DOUBLE) / COUNT(*)
               AS novel_fraction
    FROM newch n LEFT JOIN idx i USING (chunk_hash)
    GROUP BY doc_id
    """,
    tags=("dedup", "cdc", "incremental", "bounded-output"),
)
def q205_cdc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta novelty screening — CDC composed with q100's incremental
    shape: the 'new snapshot' docs (doc_id % {NEW_MOD} == {NEW_REM}, the
    q100 split) are chunked content-defined (q202's boundaries) and each
    chunk is probed against the corpus chunk index, yielding per new doc
    the fraction of content the lake has NOT seen — the crawl-triage
    decision (drop / partial-dedup / ingest) a training pipeline makes
    per document, robust to insertions because CDC boundaries
    re-synchronize. Cost is |delta|·chunks probe-side against an index a
    production lake would persist at ingest; the single double division
    happens after integer counts, so values hash identically
    cross-engine. Docs with zero chunks (empty text) have no novelty
    row by definition. Both sides of the probe read the materialized
    chunk index (cdc_chunk_index) — two parquet scans replace two
    recomputations of the chunk frame."""
    chunks = cdc_chunk_index(spark, sf_dir).select("doc_id", "chunk_hash")
    is_new = (F.col("doc_id") % NEW_MOD) == NEW_REM
    idx = (
        chunks.filter(~is_new).select("chunk_hash").distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        chunks.filter(is_new)
        .join(idx, "chunk_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.count("__hit").cast("bigint").alias("n_dup_chunks"),
        )
        .withColumn(
            "novel_fraction",
            (F.col("n_chunks") - F.col("n_dup_chunks")).cast("double")
            / F.col("n_chunks"),
        )
    )


@register(
    "q206_adaptive_snb_window",
    oracle=f"""
    WITH stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT p_name) AS BIGINT) AS n_keys
        FROM part
    ),
    ranked AS (
        SELECT p_partkey, p_name,
               ROW_NUMBER() OVER (ORDER BY p_name, p_partkey) AS rk
        FROM part
    )
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(b.rk - a.rk AS BIGINT) AS gap,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM ranked a JOIN ranked b
      ON b.rk BETWEEN a.rk + 1 AND a.rk
           + (SELECT {adaptive_snb_window_sql("n_rows", "n_keys", "duckdb")}
              FROM stats)
    """,
    tags=("dedup", "entity-resolution", "blocking", "adaptive", "bounded-output"),
)
def q206_adaptive_snb_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q196's sorted-neighborhood blocking with a DATA-ADAPTIVE window —
    the last of the three frozen constants VERDICT r08 item 7 named
    (SNB_WINDOW, with SLM_DF_CAP → q203 and LSH bands → q201): w comes
    from the blocking key's mean multiplicity m = ceil(n/distinct names)
    via an integer CASE ladder, because two records of one entity can
    sit ~m interleaved rows apart once the key collides m ways — a
    FIXED w=3 silently loses recall exactly as the catalog densifies
    (the 10x tiled tier repeats every name once per tile). The two
    counts reach the gap explode as one broadcast scalar row inside the
    same static plan (sequence(1, w) replaces the literal gap array);
    output stays w·N — linear at every rung, with the top rung (256) as
    the documented cost ceiling. Neighbor sets are gap-prefix-nested:
    at any rung, the gap <= 3 slice equals q196 exactly (pinned in
    tests — the fixtures' 62-name vocabulary gives m = 4 → w = 16 at
    sf0.001, so the ladder is live on every tier)."""
    part = load_tables(spark, sf_dir, ["part"])["part"]
    stats = part.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("p_name").cast("bigint").alias("n_keys"),
    )
    return _snb_pairs(part, stats=stats).select(
        "id_a",
        "id_b",
        "name_a",
        "name_b",
        F.col("g").cast("bigint").alias("gap"),
        F.levenshtein("name_a", "name_b").cast("bigint").alias("edit_dist"),
    )


CONTAINMENT_THRESHOLD = 0.9


@register(
    "q207_minhash_containment",
    oracle=f"""
    WITH {_PAIRS_CTE_BODY},
    sets AS (SELECT doc_id, list_distinct({_D_SH}) AS shset FROM documents),
    joined AS (
        SELECT p.id_a, p.id_b,
               len(list_intersect(sa.shset, sb.shset)) AS n_inter,
               len(sa.shset) AS n_a, len(sb.shset) AS n_b
        FROM pairs p
        JOIN sets sa ON p.id_a = sa.doc_id
        JOIN sets sb ON p.id_b = sb.doc_id
    ),
    both_dirs AS (
        SELECT id_a AS id_sub, id_b AS id_super,
               CAST(n_inter AS DOUBLE) / n_a AS containment
        FROM joined
        UNION ALL
        SELECT id_b AS id_sub, id_a AS id_super,
               CAST(n_inter AS DOUBLE) / n_b AS containment
        FROM joined
    )
    SELECT id_sub, id_super, containment
    FROM both_dirs WHERE containment >= {CONTAINMENT_THRESHOLD}
    """,
    tags=("dedup", "minhash", "containment", "asymmetric"),
)
def q207_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup — the quotation/subset-document signal
    (Broder's containment, the other resemblance measure his original
    MinHash paper defines next to Jaccard): C(A→B) = |A∩B|/|A| is ~1
    when A rides inside a larger B even though their Jaccard is tiny, so
    symmetric near-dup misses exactly the quoted-tweet-in-article /
    boilerplate-wrapped-reprint shape corpus curation needs to catch.
    Candidates come from the SAME banded MinHash equi-join as q51 (one
    LSH pass serves both measures — at 100 TB you never re-block), then
    exact integer set cardinalities verify both directions; one double
    division per row, bitwise cross-engine. Output bounded by true
    containment density."""
    docs = _docs(spark, sf_dir)
    pairs = lsh_candidate_pairs(doc_signatures(spark, sf_dir), "doc_id")
    return containment_verify(
        docs, pairs, "doc_id", "text", threshold=CONTAINMENT_THRESHOLD,
        sets=doc_shingle_sets(spark, sf_dir),
    )


@register(
    "q215_containment_prefix_exact",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, unnest(list_distinct({_D_SH})) AS sh FROM documents
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM s GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    both_dirs AS (
        SELECT id_a AS id_sub, id_b AS id_super,
               CAST(n_inter AS DOUBLE) / za.sz AS containment
        FROM inter JOIN sizes za ON za.doc_id = id_a
        UNION ALL
        SELECT id_b, id_a, CAST(n_inter AS DOUBLE) / zb.sz
        FROM inter JOIN sizes zb ON zb.doc_id = id_b
    )
    SELECT id_sub, id_super, containment
    FROM both_dirs WHERE containment >= {CONTAINMENT_THRESHOLD}
    """,
    tags=("dedup", "containment", "prefix-filter", "exact"),
)
def q215_containment_prefix_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT containment join — the containment-aware blocking that
    closes q207's documented recall gap (ADVICE r09): q207 feeds
    Broder's C(A→B) verifier from Jaccard-banded MinHash candidates, so
    the high-containment/low-Jaccard quoted-tweet-in-article shape it
    advertises rarely survives blocking. This form blocks
    ASYMMETRICALLY (operators/dedup.containment_prefix_pairs): the sub
    side joins only its rarest-first prefix, the super side posts its
    full shingle set, so every pair with C >= {CONTAINMENT_THRESHOLD}
    is found BY CONSTRUCTION — the oracle is therefore the plain
    all-pairs formulation, exactly q123's relationship to q52. On this
    corpus the planted append-one-word pairs score C(base→copy) = 1.0
    (base shingles are a strict subset), so both directions of every
    planted pair appear; the recall theorem is pinned separately with a
    synthetic quote-in-article fixture in tests."""
    from .sig_index import doc_prefix_rank_index

    return containment_prefix_pairs(
        _docs(spark, sf_dir), "doc_id", "text", k=3,
        threshold=CONTAINMENT_THRESHOLD,
        sets=doc_shingle_sets(spark, sf_dir),
        ranked=doc_prefix_rank_index(spark, sf_dir),
    )


@register(
    "q208_chunk_length_profile",
    oracle=f"""
    WITH ch AS (
        SELECT doc_id, source, u.h AS chunk_hash, u.l AS chunk_tokens
        FROM (
            SELECT doc_id, source,
                   unnest({_cdc_chunks_duckdb(with_len=True)}) AS u
            FROM documents
        )
    ),
    win AS (
        SELECT source, doc_id, chunk_tokens,
               COUNT(*) OVER (PARTITION BY source) AS n_total,
               COUNT(*) OVER (
                   PARTITION BY source ORDER BY chunk_tokens
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cnt_le
        FROM ch
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(chunk_tokens) AS DOUBLE) / COUNT(*) AS mean_chunk_tokens,
           CAST(MAX(chunk_tokens) AS BIGINT) AS max_chunk_tokens,
           CAST(MIN(CASE WHEN 10 * cnt_le >= 9 * n_total
                         THEN chunk_tokens END) AS BIGINT)
               AS p90_chunk_tokens
    FROM win GROUP BY source
    """,
    tags=("dedup", "cdc", "profile", "analytics"),
)
def q208_chunk_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational telemetry for the CDC deployment (q202/q205): per
    source, the chunk count, mean/max chunk size, and the EXACT p90 via
    the integer-only cumulative-count window (10·cnt_le >= 9·n replaces
    ceil(0.9·n) — no float rank math to disagree across engines; the
    RANGE frame counts ties on both sides identically). A drifting chunk
    profile is how a mis-tuned boundary mask (too many/few cut points)
    or an adversarial source (boundary-stuffing spam) shows up in
    production; mean ~16 tokens pins the 1/16 boundary probability. One
    chunk-grain window + one rollup, both partitioned by source, over
    the materialized chunk index."""
    ch = cdc_chunk_index(spark, sf_dir).select(
        "doc_id", "source", "chunk_hash", "chunk_tokens"
    )
    w_n = W.partitionBy("source")
    w_le = (
        W.partitionBy("source")
        .orderBy("chunk_tokens")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    win = ch.withColumn("n_total", F.count(F.lit(1)).over(w_n)).withColumn(
        "cnt_le", F.count(F.lit(1)).over(w_le)
    )
    return win.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        (
            F.sum("chunk_tokens").cast("double") / F.count(F.lit(1))
        ).alias("mean_chunk_tokens"),
        F.max("chunk_tokens").cast("bigint").alias("max_chunk_tokens"),
        F.min(
            F.when(
                F.col("cnt_le") * 10 >= F.col("n_total") * 9,
                F.col("chunk_tokens"),
            )
        )
        .cast("bigint")
        .alias("p90_chunk_tokens"),
    )


@register(
    "q210_adaptive_merge_purge",
    oracle=f"""
    WITH RECURSIVE {_adaptive_pairs_cte()},
    sets AS (SELECT doc_id, list_distinct({_D_SH}) AS shset FROM documents),
    verified AS (
        SELECT p.id_a, p.id_b
        FROM pairs p
        JOIN sets sa ON p.id_a = sa.doc_id
        JOIN sets sb ON p.id_b = sb.doc_id
        WHERE {_JACC} >= {JACCARD_THRESHOLD}
    ),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM verified
        UNION
        SELECT id_b, id_a FROM verified
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    walk(node, reach) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
    ),
    comp AS (SELECT node, MIN(reach) AS component FROM walk GROUP BY node),
    m AS (
        SELECT c.component, c.node, d.n_chars
        FROM comp c JOIN documents d ON d.doc_id = c.node
    ),
    agg AS (
        SELECT component, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM m GROUP BY component
    ),
    keep AS (
        SELECT component, node AS keeper_id, n_chars AS keeper_chars
        FROM (
            SELECT component, node, n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY component
                       ORDER BY n_chars DESC, node
                   ) AS rn
            FROM m
        ) t WHERE rn = 1
    )
    SELECT k.component, k.keeper_id,
           CAST(k.keeper_chars AS BIGINT) AS keeper_chars,
           a.n_docs,
           CAST(a.total_chars - k.keeper_chars AS BIGINT) AS purged_chars
    FROM keep k JOIN agg a USING (component)
    UNION ALL
    SELECT d.doc_id AS component, d.doc_id AS keeper_id,
           CAST(d.n_chars AS BIGINT) AS keeper_chars,
           CAST(1 AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS purged_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM comp)
    """,
    tags=("dedup", "graph", "keeper", "merge-purge", "adaptive", "pipeline"),
)
def q210_adaptive_merge_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round's pieces composed end-to-end — the query a corpus
    curator actually runs, with every parameter corpus-derived (q200's
    composition role, played for the TEXT dedup stack): adaptive-band
    MinHash blocking (q201's ladder) → exact-Jaccard verify → connected
    components → per-cluster quality keeper + purge accounting with
    singletons (q204's manifest shape). At <= 4096 docs the band ladder
    sits on q52's geometry so this equals q204 bitwise (pinned); past
    the rung the blocking coarsens while verify/CC/keeper stay
    identical — the pipeline whose candidate volume survives corpus
    growth without a replan. Oracle recomputes the whole stack over the
    adaptive pair CTE with the recursive-CTE closure referee."""
    docs = _docs(spark, sf_dir)
    nr = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    sigs = doc_signatures(spark, sf_dir)
    pairs = adaptive_lsh_candidate_pairs(sigs, nr, "doc_id")
    verified = jaccard_verify(
        docs, pairs, "doc_id", "text", threshold=JACCARD_THRESHOLD,
        sets=doc_shingle_sets(spark, sf_dir),
    ).select("id_a", "id_b")
    return _keeper_manifest(docs, verified)


@register(
    "q211_source_overlap_matrix",
    oracle=f"""
    WITH ch AS (
        SELECT source, unnest({_cdc_chunks_duckdb()}) AS chunk_hash
        FROM documents
    ),
    pres AS (SELECT DISTINCT source, chunk_hash FROM ch),
    tot AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks
        FROM pres GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_chunks,
           CAST(COUNT(*) AS DOUBLE)
               / least(ta.n_chunks, tb.n_chunks) AS overlap
    FROM pres a
    JOIN pres b ON a.chunk_hash = b.chunk_hash AND a.source < b.source
    JOIN tot ta ON ta.source = a.source
    JOIN tot tb ON tb.source = b.source
    GROUP BY a.source, b.source, ta.n_chunks, tb.n_chunks
    """,
    tags=("dedup", "cdc", "provenance", "analytics"),
)
def q211_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-sharing matrix — syndication/provenance
    detection over the CDC chunk space: for every source pair, how many
    DISTINCT chunks they both contain and the overlap coefficient
    |A∩B| / min(|A|, |B|) (the containment-style normalization — a small
    feed fully mirrored by a big crawl scores ~1 where Jaccard would
    vanish). The chunk-presence frame is distinct-projected to
    (source, chunk) BEFORE the self-join, so the join grain is bounded
    by distinct content, not occurrences, and the matrix output is
    |sources|² at most. This is the corpus-level rollup of what q205
    answers per document: who is copying from whom."""
    ch = cdc_chunk_index(spark, sf_dir).select("source", "chunk_hash")
    pres = ch.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    tot = pres.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks")
    )
    a = pres.select(
        F.col("source").alias("source_a"), "chunk_hash"
    )
    b = pres.select(
        F.col("source").alias("source_b"), "chunk_hash"
    )
    shared = (
        a.join(b, "chunk_hash")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_chunks"))
    )
    return (
        shared.join(
            F.broadcast(
                tot.select(
                    F.col("source").alias("source_a"),
                    F.col("n_chunks").alias("n_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                tot.select(
                    F.col("source").alias("source_b"),
                    F.col("n_chunks").alias("n_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "shared_chunks",
            (
                F.col("shared_chunks").cast("double")
                / F.least("n_a", "n_b")
            ).alias("overlap"),
        )
    )


@register(
    "q212_cdc_index_delta",
    oracle=f"""
    WITH ch AS (
        SELECT doc_id, unnest({_cdc_chunks_duckdb()}) AS chunk_hash
        FROM documents
    ),
    idx AS (
        SELECT DISTINCT chunk_hash FROM ch
        WHERE doc_id % {NEW_MOD} <> {NEW_REM}
    )
    SELECT n.chunk_hash,
           MIN(n.doc_id) AS first_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM ch n LEFT JOIN idx i USING (chunk_hash)
    WHERE n.doc_id % {NEW_MOD} = {NEW_REM} AND i.chunk_hash IS NULL
    GROUP BY n.chunk_hash
    """,
    tags=("dedup", "cdc", "incremental", "index-maintenance"),
)
def q212_cdc_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE SET of incremental CDC index maintenance — the rows an
    ingest job appends to the persisted chunk index after screening a
    delta (q205 answers 'how novel is each new doc'; this materializes
    the novel content itself): distinct new-snapshot chunks anti-joined
    against the corpus index, with the first carrying doc and occurrence
    count. At 100 TB the index is a bucketed lake table keyed by
    chunk_hash, q205's probe and this append are the same equi-join
    partitioning, and the write set is bounded by NOVEL content — the
    property that makes CDC ingest cost proportional to what actually
    changed. Completes the CDC suite: q202 corpus rollup, q205 per-doc
    novelty, q208 telemetry, q211 cross-source matrix, q212 index
    delta — all five now reading the ONE materialized index this query
    maintains."""
    chunks = cdc_chunk_index(spark, sf_dir).select("doc_id", "chunk_hash")
    is_new = (F.col("doc_id") % NEW_MOD) == NEW_REM
    idx = chunks.filter(~is_new).select("chunk_hash").distinct()
    return (
        chunks.filter(is_new)
        .join(idx, "chunk_hash", "left_anti")
        .groupBy("chunk_hash")
        .agg(
            F.min("doc_id").alias("first_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        )
    )


@register(
    "q216_signature_index_stats",
    oracle=f"""
    WITH base AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN len({_D_SH}) > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_minhashable,
               CAST(COUNT(DISTINCT md5({norm_sql('text', 'duckdb')}))
                    AS BIGINT) AS n_distinct_hashes,
               CAST(SUM(len({tokens_sql(norm_sql('text', 'duckdb'), 'duckdb')}))
                    AS BIGINT) AS total_tokens
        FROM documents GROUP BY source
    ),
    shg AS (
        SELECT source, CAST(COUNT(DISTINCT sh) AS BIGINT)
                   AS n_distinct_shingles
        FROM (SELECT source, unnest({_D_SH}) AS sh FROM documents)
        GROUP BY source
    )
    SELECT b.source, b.n_docs, b.n_minhashable, b.n_distinct_hashes,
           b.total_tokens,
           COALESCE(s.n_distinct_shingles, 0) AS n_distinct_shingles
    FROM base b LEFT JOIN shg s ON b.source = s.source
    """,
    tags=("dedup", "index", "contract"),
)
def q216_signature_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signature index's CONTRACT as a driver-checked row (the q213/
    q214 move applied to the r10 index artifact): per source, the doc
    count, how many docs are MinHash-able (non-empty shingle array), the
    distinct content-hash count (exact-dedup cardinality), total token
    mass, and the distinct 3-shingle vocabulary. The Spark side reads
    every statistic FROM THE MATERIALIZED INDEX (queries/sig_index.py);
    the oracle recomputes all five from raw ``documents`` with the shared
    dual-dialect fragments — so a stale, truncated, or wrongly-built
    index (missing rows, mangled arrays, drifted hash math) breaks the
    value hash even though 29 other queries would each only see their
    own slice. Scale shape: two map-side passes over the index (one
    rollup, one distinct-shingle count — the q184 d0 shape) joined on
    the |sources|-sized key."""
    idx = doc_signature_index(spark, sf_dir)
    base = idx.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.size("sh") > 0).cast("int")).cast("bigint").alias(
            "n_minhashable"
        ),
        F.countDistinct("content_hash").cast("bigint").alias(
            "n_distinct_hashes"
        ),
        F.sum(F.size("toks")).cast("bigint").alias("total_tokens"),
    )
    shg = (
        idx.select("source", F.explode("sh").alias("s"))
        .groupBy("source")
        .agg(F.countDistinct("s").cast("bigint").alias("n_distinct_shingles"))
    )
    return base.join(shg, "source", "left").select(
        "source",
        "n_docs",
        "n_minhashable",
        "n_distinct_hashes",
        "total_tokens",
        F.coalesce("n_distinct_shingles", F.lit(0).cast("bigint")).alias(
            "n_distinct_shingles"
        ),
    )
