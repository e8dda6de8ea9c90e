"""Document deduplication operators for training-data pipelines.

Five dedup families, each scale-shaped for 100 TB:

- **exact** — hash-groupBy on normalized text: one shuffle on a 32-byte key.
- **MinHash + LSH** — shingle → n min-hashes → b bands → bucket equi-join:
  candidate pairs come from same-bucket joins, never a cross product.
  O(n_docs · n_shingles) map side; the shuffles are on band keys (uniform by
  construction).
- **n-gram Jaccard** — exact verify step over LSH candidates only.
- **SimHash** — 32-bit signature whose Hamming distance approximates cosine
  over shingle sets; near-dup buckets via signature prefix.
- embedding near-dup lives in similarity.py (same LSH machinery over
  hyperplane buckets).

All expressions come from functions/textfns.py so the DuckDB oracle runs the
byte-identical hash math (see that module's docstring for why md5-hex-string
MinHash makes cross-engine determinism trivial).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.storagelevel import StorageLevel

from ..functions.textfns import (
    SIMHASH_BITS,
    band_key_sql,
    norm_sql,
    oph_bucket_sql,
    shingles_sql,
    tokens_sql,
)
from ..session import local_frame

DEFAULT_N_HASHES = 12
DEFAULT_BANDS = 4  # 4 bands x 3 rows: catches jaccard >~ 0.6 reliably

# Mega-bucket guard: a band bucket of near-identical spam produces
# O(bucket^2) candidate pairs inside ONE join partition. Buckets above this
# size are capped to their min-N members by id before the self-join. 1024
# keeps every realistic organic bucket intact (4096 docs in a bucket at
# jaccard>=0.6 is a spam cluster, not a neighborhood) while bounding any one
# bucket's pair output to ~0.5M pairs.
DEFAULT_MAX_BUCKET = 1024

# Member-list cap for group rollups whose group size is fixture-unbounded
# (a connected component can be the whole corpus): the contract row ships
# the MEMBER_CAP smallest member ids; counts stay exact.
MEMBER_CAP = 32

# Edge-list ceiling for connected_components' driver-side close
# (~100 B/edge -> ~200 MB of driver rows, the broadcast size class); larger
# pair lists close distributed with connected_components_star.
CC_DRIVER_EDGE_CAP = 2_000_000

# connected_components_star's round limit: rounds grow with the log of the
# component size, so this covers any graph below 2^40 nodes
STAR_MAX_ROUNDS = 40


def capped_member_rollup(
    df: DataFrame, group_col: str, member_col: str, cap: int = MEMBER_CAP
) -> DataFrame:
    """(group, n_members, members) — exact group count plus a '|'-joined
    string of the ``cap`` SMALLEST members.

    The scale discipline for unbounded groups: members are rank-filtered
    with a row_number window BEFORE the collect, so no reducer ever holds
    more than ``cap`` elements per group — ``slice(sort_array(...))``
    after an uncapped collect_list would still materialize a corpus-scale
    dup family as one in-memory array. The window and the groupBy share
    the group-key hash partitioning, so Catalyst plans one exchange.
    Deterministic: members are unique ids, ascending rank, sorted output.
    Oracle dual: ``list_sort(list(member))[1:cap]``."""
    from pyspark.sql import Window as W

    ranked = df.withColumn(
        "__rn", F.row_number().over(W.partitionBy(group_col).orderBy(member_col))
    )
    return ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.array_join(
            F.transform(
                # bounded: rank-filtered to <= cap elements before collect
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("__rn") <= cap, F.col(member_col))
                    )
                ),
                lambda x: x.cast("string"),
            ),
            "|",
        ).alias("members"),
    )


def _cap_buckets(buckets: DataFrame, id_col: str, cap: int) -> DataFrame:
    """Keep at most ``cap`` members per (band, key) bucket — the ``cap``
    smallest ids.

    One window, deliberately partitioned the same way the caller already
    repartitioned (band, key): ENSURE_REQUIREMENTS reuses that exchange, so
    the cap adds a sort + rank but NO extra shuffle (asserted in
    test_plans.py). Memory is bounded without salting because Spark pushes a
    partial WindowGroupLimit below the exchange: every map task forwards at
    most ``cap`` rows per key, so one reducer sees <= cap * n_map_tasks rows
    of a mega-bucket, never the whole thing (a first salted-two-phase
    version was exact too but cost two windows + two extra exchanges on the
    full bucket table — 2x wall on the LSH bench).

    Trade-off (documented knob): pairs where BOTH members would need a
    dropped row are missed *for that band*; with near-identical docs every
    band hashes them to the same bucket, so a spam cluster still yields its
    first ``cap`` members' pairs — enough to route the whole cluster to one
    dedup group downstream.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("band", "key").orderBy(id_col)
    return (
        buckets.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def normalized(df: DataFrame, text_col: str, out: str = "norm") -> DataFrame:
    return df.withColumn(out, F.expr(norm_sql(text_col, "spark")))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct normalized text: (content_hash, keeper_id,
    n_copies). Keeper = min id (deterministic first-wins)."""
    return (
        normalized(df, text_col)
        .withColumn("content_hash", F.md5("norm"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingle_col(df: DataFrame, text_col: str, k: int, out: str) -> DataFrame:
    """Adds a shingle-array column, materializing the normalize→tokenize
    chain once (the regex walk is the dominant per-row cost; inlined copies
    defeat codegen subexpression elimination — see operators/text.py)."""
    return (
        df.withColumn("__norm", F.expr(norm_sql(text_col, "spark")))
        .withColumn("__toks", F.expr(tokens_sql("__norm", "spark")))
        .withColumn(out, F.expr(shingles_sql("__toks", k, "spark")))
        .drop("__norm", "__toks")
    )


def shingled(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, shingle) — exploded word k-grams. Docs with < k tokens vanish
    (no shingles → not MinHash-able; handle them with exact dedup)."""
    return _shingle_col(df, text_col, k, "__sh").select(
        F.col(id_col), F.explode("__sh").alias("sh")
    )


def minhash_signatures_from_shingles(
    shf: DataFrame,
    id_col: str,
    n_hashes: int = DEFAULT_N_HASHES,
    sh_col: str = "sh",
) -> DataFrame:
    """(id, h0..h{n-1}) from a PRECOMPUTED shingle-array frame — the core
    :func:`minhash_signatures` wraps. Split out so the materialized
    document signature index (queries/sig_index.py) and the raw-text
    wrapper share one definition of the hash math: the index build calls
    this once per corpus; ad-hoc callers still shingle in-plan. Docs with
    empty shingle arrays are dropped (no shingles → not MinHash-able)."""
    cols = [
        F.expr(
            f"array_min(transform({sh_col}, s -> md5('{i}:' || s)))"
        ).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return shf.filter(F.size(sh_col) > 0).select(F.col(id_col), *cols)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = DEFAULT_N_HASHES,
    k: int = 3,
) -> DataFrame:
    """(id, h0..h{n-1}) — computed per row with array HOFs: NO explode, NO
    shuffle. A signature is a pure function of one document, so at 100 TB
    this stage is embarrassingly map-side; the explode→groupBy formulation
    (the obvious one) shuffles every shingle string across the cluster just
    to bring them back to their own document. Measured 2.3x faster locally;
    at cluster scale the avoided shuffle is ~|corpus tokens| bytes. Same
    values (min over the same md5 set, and SUM order never mattered)."""
    out = _shingle_col(df, text_col, k, "__sh")
    return minhash_signatures_from_shingles(out, id_col, n_hashes, "__sh")


def oph_minhash_signatures_from_shingles(
    shf: DataFrame,
    id_col: str,
    n_hashes: int = DEFAULT_N_HASHES,
    sh_col: str = "sh",
) -> DataFrame:
    """One-permutation MinHash (Li et al. 2012) with rotation
    densification (Shrivastava & Li 2014): ONE md5 per shingle instead of
    ``n_hashes`` — each shingle's single hash is routed to bucket
    (hash % n) and each bucket keeps its min; an empty bucket borrows the
    cyclically-next non-empty bucket's value, so the signature stays
    fully populated and the LSH banding layer (:func:`lsh_candidate_pairs`)
    consumes it unchanged.

    Like :func:`minhash_signatures` this is per-row array HOFs — NO
    explode, NO shuffle — and the hash count drops from
    O(shingles x n_hashes) to O(shingles). Measured honestly (warm JIT,
    full signature materialization, sf0.1): at the registered n=12 the
    variants are EQUAL (2.3 vs 2.5 s), and at n=64 OPH is ~2.4x SLOWER —
    in this engine JIT'd md5 over short shingles is nearly free, so the
    saved hashing is outweighed by the struct materialization, map folds,
    and per-slot extraction that OPH adds (Spark evaluates higher-order
    functions interpreted, re-deriving the fold chain per projected
    column). The value of this operator is therefore ALGORITHMIC coverage
    — the one-permutation estimator (unbiased for Jaccard, different
    variance profile than k independent permutations) whose candidate
    sets feed the same exact-Jaccard verify — plus the honest measurement
    itself: where hashing genuinely dominates (expensive hash functions,
    pre-shingled binary features, engines that codegen lambdas), the
    O(shingles) hash count is the win this scheme was designed for."""
    out = shf.filter(F.size(sh_col) > 0)
    # hash once, bucket once: the (bucket, hash) struct is computed per
    # shingle; everything after is O(shingles + n) PER ROW — per-bucket
    # filters (n array scans) or an n-term COALESCE per slot (n^2
    # expression tree, which wrecks codegen past n ~ 32) are both avoided:
    #  1. sort the (b, m) structs: the first struct per distinct b is that
    #     bucket's min (one sort);
    #  2. one fold builds the bucket -> min map (first-wins on sorted);
    #  3. rotation densification = forward-fill over the DOUBLED slot
    #     array processed in reverse (carry = nearest non-empty slot to
    #     the right, wrap-around covered by the doubling) — one fold.
    out = (
        out.withColumn("__hm", F.expr(f"transform({sh_col}, s -> md5(s))"))
        .withColumn(
            "__bm",
            F.expr(
                f"array_sort(transform(__hm, m -> "
                f"struct({oph_bucket_sql('m', n_hashes)} AS b, m)))"
            ),
        )
        .withColumn(
            "__mins",
            F.expr(
                "aggregate(__bm, CAST(map() AS map<int, string>), "
                "(acc, x) -> CASE WHEN map_contains_key(acc, x.b) THEN acc "
                "ELSE map_concat(acc, map(x.b, x.m)) END)"
            ),
        )
        .withColumn(
            "__slots",
            F.expr(
                f"transform(sequence(0, {n_hashes - 1}), "
                "j -> try_element_at(__mins, j))"
            ),
        )
        .withColumn(
            "__dens",
            F.expr(
                "slice(reverse(aggregate(reverse(concat(__slots, __slots)), "
                "CAST(array() AS array<string>), "
                "(acc, x) -> concat(acc, array(coalesce(x, try_element_at(acc, -1)))))), "
                f"1, {n_hashes})"
            ),
        )
    )
    return out.select(
        F.col(id_col),
        *[
            F.expr(f"element_at(__dens, {j + 1})").alias(f"h{j}")
            for j in range(n_hashes)
        ],
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs agreeing on at least one LSH band.

    Banding: split the signature into ``bands`` groups of r hashes; docs
    sharing ALL r hashes of any band land in the same bucket. The self-join
    is an equi-join on (band_idx, band_key) — shuffle-partitionable, no
    quadratic blowup; buckets larger than ``max_bucket_size`` (spam
    clusters of near-identical docs) are capped to their min-N ids before
    the join (see :func:`_cap_buckets` for the recall trade-off). Pass
    ``max_bucket_size=None`` to disable.
    """
    # materialize signatures before the self-join: both sides of a
    # self-join are independent subplans to Spark, so without this the
    # entire shingle→minhash chain runs TWICE (exchange reuse does not
    # fire across the join's build/stream sides under AQE). Persisting the
    # signature table is what every production MinHash pipeline does
    # anyway — it's ~40 bytes/doc, MEMORY_AND_DISK spills gracefully, and
    # at lake scale you'd land it as a parquet stage output instead.
    # localCheckpoint, not a bare persist (r14): the self-join sides
    # materialize as CONCURRENT stages in one job, and a lazily-persisted
    # frame raced by both is computed by both (two identical full-chain
    # stages in the q175 profile); the eager checkpoint pays the chain
    # exactly once.
    signatures = signatures.localCheckpoint()
    # repartition on the join keys: ONE small shuffle (ids + band keys, not
    # shingles) whose output both sides of the self-join reuse
    # (ReusedExchange) — without it each side recomputes the full
    # shingle→minhash chain, and the join would shuffle anyway
    buckets = _band_buckets(signatures, id_col, n_hashes, bands).repartition(
        "band", "key"
    )
    if max_bucket_size is not None:
        buckets = _cap_buckets(buckets, id_col, max_bucket_size)
    return _bucket_pair_join(buckets, id_col)


def _bucket_pair_join(buckets: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing a (band, key) bucket — the
    equi-join tail every banding scheme funnels into."""
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def adaptive_lsh_candidate_pairs(
    signatures: DataFrame,
    n_rows: DataFrame,
    id_col: str,
    n_hashes: int = DEFAULT_N_HASHES,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """:func:`lsh_candidate_pairs` with a DATA-ADAPTIVE band geometry —
    the banding counterpart of q199's plane-prefix ladder (the q194/q199
    discipline generalized to MinHash): rows-per-band r is picked from
    the corpus row count by :func:`functions.textfns.adaptive_band_rows_sql`'s
    integer CASE ladder, so the expected random-pair candidate volume
    ~N²·b·E[J]^r stays bounded per row as the corpus grows, inside ONE
    static dual-dialect plan — no replan, no recompile.

    ``n_rows`` is a 1-row (n_docs bigint) frame, broadcast — the same
    stage-boundary statistic q194 reads. Each rung divides the next (3 | 6 | 12), so a wider band is a
    concatenation of narrower bands and candidate sets strictly nest
    (candidates at r=6 ⊆ candidates at r=3 on ANY input — asserted in
    tests).
    Recall trades down as r rises — the same trade the plane ladder
    makes, and the reason the rungs move with log N rather than a frozen
    compile-time r."""
    from ..functions.textfns import ADAPTIVE_BAND_RUNGS, adaptive_band_rows_sql

    signatures = signatures.persist(StorageLevel.MEMORY_AND_DISK)

    def band_struct(r: int):
        return F.array(
            *[
                F.struct(
                    F.lit(b).cast("int").alias("band"),
                    F.expr(band_key_sql(b, r, "spark")).alias("key"),
                )
                for b in range(n_hashes // r)
            ]
        )

    ladder = F.expr(adaptive_band_rows_sql("n_docs"))
    expr = None
    for r in ADAPTIVE_BAND_RUNGS[:-1]:
        cond = ladder == r
        expr = (
            F.when(cond, band_struct(r))
            if expr is None
            else expr.when(cond, band_struct(r))
        )
    bk = expr.otherwise(band_struct(ADAPTIVE_BAND_RUNGS[-1]))
    buckets = (
        signatures.crossJoin(F.broadcast(n_rows))
        .select(F.col(id_col), F.explode(bk).alias("bk"))
        .select(id_col, "bk.band", "bk.key")
        .repartition("band", "key")
    )
    if max_bucket_size is not None:
        buckets = _cap_buckets(buckets, id_col, max_bucket_size)
    return _bucket_pair_join(buckets, id_col)


def _band_buckets(
    signatures: DataFrame, id_col: str, n_hashes: int, bands: int
) -> DataFrame:
    """(id, band, key) — one bucket row per signature band."""
    r = n_hashes // bands
    band_struct = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(band_key_sql(b, r, "spark")).alias("key"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.explode(band_struct).alias("bk")
    ).select(id_col, "bk.band", "bk.key")


def lsh_bipartite_candidates(
    sig_new: DataFrame,
    sig_corpus: DataFrame,
    id_col: str,
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Distinct (id_a=new, id_b=corpus) pairs sharing an LSH band bucket —
    the INCREMENTAL dedup shape: a new snapshot is screened against the
    already-ingested corpus without re-pairing the corpus with itself.

    Same banding as :func:`lsh_candidate_pairs`, but the join is bipartite
    (new × corpus within a bucket) instead of a self-join, so the cost is
    |new|-proportional: exactly what a daily crawl delta against a 100 TB
    lake needs. The corpus side's band keys are a pure map of its
    signature table — at production scale they'd be a persisted index
    written once at ingest and only SCANNED here.
    """
    new_b = _band_buckets(sig_new, id_col, n_hashes, bands).alias("a")
    corp_b = _band_buckets(sig_corpus, id_col, n_hashes, bands).alias("b")
    return (
        new_b.join(
            corp_b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.6,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keeps pairs >= threshold.

    |A∩B| and |A∪B| are integer set sizes → the division is one double op,
    bitwise identical across engines.

    ``sets`` — optional precomputed (id_col, shset) frame (the signature
    index path: queries/sig_index.doc_shingle_sets); when given, ``df`` /
    ``text_col`` / ``k`` are not touched and the in-plan shingle chain is
    skipped. Candidate ids always come from signatures, which require a
    non-empty shingle set, so whether empty-set docs appear in ``sets``
    cannot change the inner joins below.
    """
    # sets is joined twice (id_a and id_b sides) — materialize once.
    # localCheckpoint, not a bare persist (r14): both join sides build as
    # concurrent stages, and a lazily-persisted frame raced by both is
    # computed by both.
    if sets is None:
        sets = _shingle_col(df, text_col, k, "__sh").select(
            F.col(id_col), F.array_distinct("__sh").alias("shset")
        )
    sets = sets.localCheckpoint()
    # spread the verify compute (r14): the candidate-pair frame is a few
    # bytes per row, so AQE's byte-based coalescing collapses it to ONE
    # partition — and the array_intersect per pair is the expensive part,
    # serialized on one core (a 1.55 s single-task stage in the q141
    # profile). An explicit-width hash repartition on the pair key is not
    # coalescible and costs only an (id, id) shuffle.
    pairs = pairs.repartition(
        pairs.sparkSession.sparkContext.defaultParallelism, "id_a", "id_b"
    )
    out = (
        pairs.join(sets.withColumnRenamed(id_col, "id_a"), "id_a")
        .withColumnRenamed("shset", "set_a")
        .join(sets.withColumnRenamed(id_col, "id_b"), "id_b")
        .withColumnRenamed("shset", "set_b")
        .withColumn("n_inter", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.size("set_a") + F.size("set_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def containment_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.9,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set CONTAINMENT over candidate pairs — the asymmetric
    dual of :func:`jaccard_verify`: C(A→B) = |A∩B| / |A| is ~1 when A is
    quoted/embedded inside a larger B even though Jaccard is tiny (a
    tweet inside an article scores J ≈ |tweet|/|article| but C ≈ 1) —
    the quotation/subset-document signal corpus-curation pipelines use
    where symmetric near-dup misses. Both directions are emitted
    (id_sub ⊂ id_super); sizes are integer set cardinalities so the one
    double division is bitwise cross-engine.

    RECALL LIMITATION (ADVICE r09): when candidates come from
    Jaccard-banded MinHash LSH (q207 feeds it lsh_candidate_pairs),
    high-containment/LOW-Jaccard pairs — exactly the
    tweet-inside-article shape above — rarely agree on any band, so
    recall for the extreme-size-skew case is structurally poor: the
    verifier is exact over whatever candidates arrive, but the blocking
    is symmetric. Engine and oracle share the blocking, so correctness
    gates stay green while this recall gap stays invisible — hence this
    note. A containment-aware blocking (band only the SMALLER doc's
    signature, or prefix-filter on the smaller shingle set, per the
    prefix_filter_jaccard_pairs machinery) is the upgrade path if the
    skewed shape matters for a corpus; the current composition's
    candidates are those whose Jaccard is also nontrivial (size ratio
    within ~[threshold, 1/threshold]).

    ``sets`` — optional precomputed (id_col, shset) frame, same contract
    as :func:`jaccard_verify`."""
    if sets is None:
        sets = _shingle_col(df, text_col, k, "__sh").select(
            F.col(id_col), F.array_distinct("__sh").alias("shset")
        )
    # same two r14 treatments as jaccard_verify: eager checkpoint (the
    # two join sides race a lazy persist) and an uncoalescible pair
    # repartition (the per-pair intersect is CPU-bound on byte-tiny rows)
    sets = sets.localCheckpoint()
    pairs = pairs.repartition(
        pairs.sparkSession.sparkContext.defaultParallelism, "id_a", "id_b"
    )
    joined = (
        pairs.join(sets.withColumnRenamed(id_col, "id_a"), "id_a")
        .withColumnRenamed("shset", "set_a")
        .join(sets.withColumnRenamed(id_col, "id_b"), "id_b")
        .withColumnRenamed("shset", "set_b")
        .withColumn("n_inter", F.size(F.array_intersect("set_a", "set_b")))
    )
    # both directions in ONE pass over `joined` via explode: the previous
    # ab.unionByName(ba) carried the full join + array_intersect lineage
    # in each branch, so the CPU-bound intersect (and the caller's pair
    # derivation) ran twice
    return (
        joined.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("id_sub"),
                        F.col("id_b").alias("id_super"),
                        (
                            F.col("n_inter").cast("double") / F.size("set_a")
                        ).alias("containment"),
                    ),
                    F.struct(
                        F.col("id_b").alias("id_sub"),
                        F.col("id_a").alias("id_super"),
                        (
                            F.col("n_inter").cast("double") / F.size("set_b")
                        ).alias("containment"),
                    ),
                )
            ).alias("e")
        )
        .select("e.id_sub", "e.id_super", "e.containment")
        .filter(F.col("containment") >= threshold)
    )


def _ranked_with_id(ranked: DataFrame, id_col: str) -> DataFrame:
    """Adapt a precomputed rank frame to the caller's id column: the
    materialized artifact (sig_index.doc_prefix_rank_index) carries
    ``doc_id``, but the prefix operators select ``id_col`` — a caller
    with any other id name would fail (or silently mis-select) without
    this rename (ADVICE r10)."""
    if id_col not in ranked.columns:
        if "doc_id" not in ranked.columns:
            raise ValueError(
                f"ranked frame has neither {id_col!r} nor 'doc_id': "
                f"{ranked.columns}"
            )
        return ranked.withColumnRenamed("doc_id", id_col)
    return ranked


def containment_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.9,
    shingles: DataFrame | None = None,
    sets: DataFrame | None = None,
    ranked: DataFrame | None = None,
) -> DataFrame:
    """EXACT containment join via ASYMMETRIC prefix filtering — the
    containment-aware blocking :func:`containment_verify`'s recall note
    prescribes (ADVICE r09): all (id_sub, id_super, containment) with
    C(sub→super) = |sub∩super| / |sub| >= ``threshold``, zero false
    negatives — including the high-containment/LOW-Jaccard
    tweet-inside-article shape that Jaccard-banded MinHash LSH (q207's
    candidate source) structurally misses.

    The asymmetry is the point: only the SUB side is prefix-reduced.
    If |A∩B| >= ceil(t·|A|), A can miss at most |A| - ceil(t·|A|)
    elements of B, so among A's first ``|A| - floor(t·|A|) + 1``
    rarest-global-frequency shingles at least one is in B (float-safe
    floor form, one longer than canonical — rounding can only add
    candidates, the q123 discipline). B's matching shingle can sit
    ANYWHERE in B's frequency order, so the super side posts its FULL
    shingle set — banding or prefixing B is exactly what destroys
    recall for small-in-large containment. Residual filters, both
    exactness-preserving: |B| >= ceil(t·|A|) (the only length bound —
    B unbounded above IS the use case), and the positional cap
    |A| - rank + 1 >= ceil(t·|A|) for the matched prefix rank (any-match
    form, a superset of first-match PPJoin).

    Scale shape: df-rollup + two windows per doc (the q123 stages), then
    one prefix×posting equi-join — never all-pairs; prefix size is
    ~(1-t)·|A|+1 (10% of shingles at t=0.9) and rarest-first ordering
    keeps posting buckets small until the shingle vocabulary saturates,
    where the honest bound is prefix_len × df (pair with the q203
    df-cap ladder for a bounded variant at adversarial vocabularies).

    ``shingles`` — optional precomputed (id_col, sh array) frame (the
    signature index path); ``sets`` — optional (id_col, shset) frame
    forwarded to the :func:`containment_verify` tail; ``ranked`` —
    optional precomputed (id_col, sh, __sz, __rn) rarest-first rank
    frame (sig_index.doc_prefix_rank_index), replacing the df-rollup +
    window stages below. Repartitioned on the join key: a small index
    parquet reads back as 1-2 splits (the q154 lesson), and one
    exchange co-partitions both prefix-join sides."""
    from pyspark.sql import Window as W

    if ranked is not None:
        ranked = _ranked_with_id(ranked, id_col).repartition("sh").persist(
            StorageLevel.MEMORY_AND_DISK
        )
    else:
        if shingles is not None:
            sh_pairs = shingles.select(
                F.col(id_col), F.explode("sh").alias("sh")
            ).distinct()
        else:
            sh_pairs = shingled(df, id_col, text_col, k).distinct()
        doc_freq = sh_pairs.groupBy("sh").agg(
            F.count(F.lit(1)).alias("__df")
        )
        by_doc = W.partitionBy(id_col)
        rarest_first = by_doc.orderBy(F.col("__df").asc(), F.col("sh").asc())
        ranked = (
            sh_pairs.join(doc_freq, "sh")
            .withColumn("__sz", F.count(F.lit(1)).over(by_doc))
            .withColumn("__rn", F.row_number().over(rarest_first))
            .select(id_col, "sh", "__sz", "__rn")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    need = F.ceil(F.lit(threshold) * F.col("__ssub") - F.lit(1e-9))
    sub = ranked.filter(
        F.col("__rn")
        <= F.col("__sz") - F.floor(F.lit(threshold) * F.col("__sz")) + 1
    ).select(
        F.col(id_col).alias("id_sub"), "sh",
        F.col("__sz").alias("__ssub"), F.col("__rn").alias("__psub"),
    )
    sup = ranked.select(
        F.col(id_col).alias("id_super"), "sh", F.col("__sz").alias("__ssup")
    )
    candidates = (
        sub.join(sup, "sh")
        .filter(F.col("id_sub") != F.col("id_super"))
        .filter(F.col("__ssup") >= need)
        .filter(F.col("__ssub") - F.col("__psub") + 1 >= need)
        .select(
            F.least("id_sub", "id_super").alias("id_a"),
            F.greatest("id_sub", "id_super").alias("id_b"),
        )
        .distinct()
    )
    return containment_verify(
        df, candidates, id_col, text_col, k=k, threshold=threshold,
        sets=sets,
    )


def simhash_near_dup_pairs(
    signatures: DataFrame,
    id_col: str,
    sig_col: str = "simhash",
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """(id_a < id_b, hamming) pairs whose SimHash differs in ≤ max_hamming
    bits, without a cross product.

    Pigeonhole banding: split the 32-bit signature into n_bands byte-sized
    bands; two signatures within max_hamming < n_bands bits MUST agree on
    at least one whole band, so the equi self-join on (band_idx, band_bits)
    finds every true pair. Exact verify = bit_count(xor) — one integer op.
    Same shuffle shape as MinHash-LSH: scales on band-key partitioning.
    """
    assert max_hamming < n_bands, "pigeonhole needs max_hamming < n_bands"
    # see lsh_candidate_pairs: materialize before self-join
    signatures = signatures.persist(StorageLevel.MEMORY_AND_DISK)
    width = SIMHASH_BITS // n_bands
    mask = (1 << width) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(f"(CAST({sig_col} AS BIGINT) >> {b * width}) & {mask}").alias(
                    "key"
                ),
            )
            for b in range(n_bands)
        ]
    )
    # same ReusedExchange trick as lsh_candidate_pairs: one signature-sized
    # shuffle on the join keys feeds both self-join sides
    buckets = (
        signatures.select(
            F.col(id_col), F.col(sig_col), F.explode(bands).alias("bk")
        )
        .select(id_col, sig_col, "bk.band", "bk.key")
        .repartition("band", "key")
    )
    if max_bucket_size is not None:
        buckets = _cap_buckets(buckets, id_col, max_bucket_size)
    a = buckets.select(
        F.col(id_col).alias("id_a"), F.col(sig_col).alias("sig_a"), "band", "key"
    )
    b = buckets.select(
        F.col(id_col).alias("id_b"), F.col(sig_col).alias("sig_b"), "band", "key"
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(
                F.col("sig_a").bitwiseXOR(F.col("sig_b"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """(node, component) for every node in the pair graph; component = the
    minimum node id reachable from it — the canonical keeper for a near-dup
    cluster (pairs alone under-merge: A~B and B~C may both pass the
    threshold while A~C was never a candidate; training-data dedup needs
    the transitive closure). Both columns keep the ``src`` column's type,
    so string ids label by lexicographic minimum.

    Every caller's pair list is a thresholded near-dup or name graph:
    25–10.6k edges at sf0.01–sf0.1, where a distributed loop pays a dozen
    or more fixed-cost jobs per call to close a graph the driver closes
    in milliseconds. Up to ``CC_DRIVER_EDGE_CAP`` edges are therefore
    collected and closed with union-find, each root its component's
    minimum (one collect job plus the edges' own upstream); above the
    cap, :func:`connected_components_star` closes the graph distributed.
    Self-loop-only nodes label themselves on both paths."""
    # bounded: at most CC_DRIVER_EDGE_CAP + 1 edge rows reach the driver
    edges = pairs.select(src, dst).limit(CC_DRIVER_EDGE_CAP + 1).collect()
    if len(edges) > CC_DRIVER_EDGE_CAP:
        return connected_components_star(pairs, src, dst)
    parent: dict = {}

    def find(x):
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    id_type = pairs.schema[src].dataType
    schema = StructType(
        [StructField("node", id_type), StructField("component", id_type)]
    )
    return local_frame(pairs.sparkSession, [(n, find(n)) for n in parent], schema)


def connected_components_star(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """(node, component) — identical contract to :func:`connected_components`
    (component = min reachable id) for pair lists above its driver cap,
    in O(log n) rounds instead of O(diameter): the alternating
    large-star/small-star formulation (Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond").

    Each round rewires the edge set toward a star forest:

    - **large-star**: every node u connects its STRICTLY GREATER neighbors
      to m(u) = min(N(u) ∪ {u}) — long tails collapse toward local minima;
    - **small-star**: every node u connects its ≤ neighbors (and itself)
      to its minimum neighbor — flattening two-level chains.

    Both phases are one groupBy(min) + one equi-join over the edge list —
    the same shuffle shape as a round of label propagation, but the round
    COUNT is logarithmic in component size, so a 10k-node path converges
    in ~15 rounds where min-label propagation needs 10k. Fixpoint is an
    EXACT set-equality check (symmetric difference empty — one cheap
    anti-join action per round over the converging edge set), not a
    hash-signature compare: two different consecutive edge sets colliding
    on a 32-bit-hash sum would otherwise break the loop early and
    silently under-merge. The converged edge set IS the (node → root)
    star forest, and the paper's invariant makes every root its
    component's minimum. Deterministic: min/greatest/least over ids only.
    Self-loop-only nodes (pairs where src == dst and the node appears in
    no other pair) surface as their own components — the same contract as
    :func:`connected_components`'s driver path.
    """
    raw = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # node universe BEFORE dropping self-loops: a node whose only pair is
    # (x, x) still labels itself, matching the driver path
    # explode, not union-of-projections: the union's branches each carry
    # the full caller lineage, so it would run twice
    all_nodes = (
        raw.select(F.explode(F.array("a", "b")).alias("node"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e = (
        raw.filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )

    def _unchanged(new: DataFrame, old: DataFrame) -> bool:
        diff = new.exceptAll(old).union(old.exceptAll(new))
        return diff.limit(1).count() == 0

    def _large_star(edges: DataFrame) -> DataFrame:
        nbrs = edges.select("u", "v").union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(edges: DataFrame) -> DataFrame:
        # edges arrive directed u -> v with v < u (large-star emits v = m < u)
        mins = edges.groupBy("u").agg(F.min("v").alias("m"))
        rewired = (
            edges.join(mins, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(mins.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
            .distinct()
        )
        return rewired

    for _ in range(STAR_MAX_ROUNDS):
        prev_e = e
        # lazy checkpoint: the fixpoint check's count materializes it in
        # the same job (the eager form paid a separate job per round — r14)
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        if _unchanged(e, prev_e):
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {STAR_MAX_ROUNDS} "
            f"rounds — not expected for any graph below 2^{STAR_MAX_ROUNDS} nodes"
        )
    # converged edge set is the star forest (child u -> root v); roots and
    # isolated-in-the-star nodes label themselves
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = all_nodes.join(
        labels.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    out = labels.union(roots)
    all_nodes.unpersist()
    return out


def simhash(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, simhash) over raw text — shingles in-plan, then delegates to
    :func:`simhash_from_shingles` (the core the signature index path
    shares)."""
    return simhash_from_shingles(
        _shingle_col(df, text_col, k, "__sh"), id_col, "__sh"
    )


def simhash_from_shingles(
    shf: DataFrame, id_col: str, sh_col: str = "sh"
) -> DataFrame:
    """(id, simhash) — 32-bit SimHash over word k-grams, per row, no
    shuffle (same reasoning as :func:`minhash_signatures`).

    One fold over the shingle array accumulates all 32 signed bit-votes in
    an int array (zip_with over the md5 nibble bits), then the majority
    vote folds into the final 32-bit value. Bit definition is identical to
    the exploded/grouped oracle formulation (textfns.simhash_bit_sql);
    integer sums make the vote order-insensitive, so the per-row fold and
    the oracle's SUM agree exactly."""
    # One conv() per shingle parses the first 8 md5 hex chars into a 32-bit
    # int whose bit (31 - j) IS SimHash bit j of the nibble definition
    # (nibble k = chars' MSB-first 4-bit groups: position 4*(7 - j//4) +
    # (3 - j%4) = 31 - j) — 32 integer shifts instead of 32 instr+substring
    # string ops per shingle. Wall time is unchanged (the fold is bound by
    # the per-shingle 32-int array allocation, measured at the sf1 tier),
    # but the expression is smaller and stays integer-side. The oracle
    # keeps the per-nibble formulation (textfns.simhash_bit_sql); bit
    # equality is exact by the identity above and pinned by the
    # oracle-parity tests.
    bitexpr = (
        f"(CASE WHEN shiftright(v, {SIMHASH_BITS - 1} - j) % 2 = 1 "
        f"THEN 1 ELSE -1 END)"
    )
    sums = (
        f"aggregate(transform({sh_col}, s -> "
        f"CAST(conv(substring(md5(s), 1, {SIMHASH_BITS // 4}), 16, 10) AS BIGINT)), "
        f"array_repeat(0, {SIMHASH_BITS}), "
        f"(acc, v) -> zip_with(acc, "
        f"transform(sequence(0, {SIMHASH_BITS - 1}), j -> {bitexpr}), "
        f"(a, b) -> a + b))"
    )
    powers = ", ".join(f"{1 << j}L" for j in range(SIMHASH_BITS))
    val = (
        f"aggregate(zip_with({sums}, array({powers}), "
        f"(s, p) -> IF(s >= 0, p, 0L)), 0L, (acc, x) -> acc + x)"
    )
    return (
        shf.filter(F.size(sh_col) > 0)
        .select(F.col(id_col), F.expr(val).alias("simhash"))
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
    ranked: DataFrame | None = None,
) -> DataFrame:
    """Exact set-similarity self-join via prefix filtering (PPJoin family):
    all pairs with shingle-set Jaccard >= ``threshold``, NO approximation.

    The LSH path (minhash_signatures -> lsh_candidate_pairs) is probabilistic:
    a pair above threshold can miss every band. Prefix filtering is the exact
    alternative: order each record's shingle set by ascending global document
    frequency (rarest first, shingle text as tie-break) and keep only the
    first ``|S| - floor(t*|S|) + 1`` shingles as its *prefix*. Two sets with
    Jaccard >= t must share at least ``ceil(t*|S|)`` elements, so their
    prefixes must intersect — candidates = equi-join on prefix shingles,
    then exact Jaccard verification. (Prefix length uses floor, one longer
    than the canonical ``|S| - ceil(t*|S|) + 1``, so float rounding of
    ``t*|S|`` can only add candidates, never drop a true pair.)

    Scale shape (100 TB story):
      - document frequency is one map-side-combinable groupBy over (id,
        shingle) pairs;
      - the rarest-first ordering makes join buckets small by construction —
        a shingle shared by millions of docs is almost never in anyone's
        prefix, the opposite of LSH's mega-bucket failure mode (no cap
        heuristic needed). When the shingle vocabulary SATURATES (tiny
        alphabet, bounded shingle space) even rare shingles' doc_freq grows
        with n; the PPJoin length + positional residual filters below then
        carry the load (measured: 19M -> 2.25M candidates at the bench's
        sf1 tier);
      - per-doc work is two window functions over the same doc-id partition
        (one shuffle), bounded by max document length, not corpus size;
      - never all-pairs: the only joins are equi-joins on shingle / doc id.

    Returns (id_a, id_b, jaccard) with id_a < id_b — identical semantics to
    the plain all-pairs Jaccard join, so the oracle can be the exact
    formulation.
    """
    from pyspark.sql import Window as W

    if ranked is not None:
        # precomputed rarest-first ranks (sig_index.doc_prefix_rank_index):
        # this operator's prefix is one filter over them; repartition on
        # the join key (the q154 small-parquet lesson + ReusedExchange)
        ranked = _ranked_with_id(ranked, id_col)
        prefixes = (
            ranked.filter(
                F.col("__rn")
                <= F.col("__sz")
                - F.floor(F.lit(threshold) * F.col("__sz"))
                + 1
            )
            .repartition("sh")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    else:
        if shingles is not None:
            pairs = shingles.select(
                F.col(id_col), F.explode("sh").alias("sh")
            ).distinct()
        else:
            pairs = shingled(df, id_col, text_col, k).distinct()
        doc_freq = pairs.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
        by_doc = W.partitionBy(id_col)
        rarest_first = by_doc.orderBy(F.col("__df").asc(), F.col("sh").asc())
        prefixes = (
            pairs.join(doc_freq, "sh")
            .withColumn("__sz", F.count(F.lit(1)).over(by_doc))
            .withColumn("__rn", F.row_number().over(rarest_first))
            .filter(
                F.col("__rn")
                <= F.col("__sz")
                - F.floor(F.lit(threshold) * F.col("__sz"))
                + 1
            )
            .select(id_col, "sh", "__sz", "__rn")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    a = prefixes.select(
        F.col(id_col).alias("id_a"), "sh",
        F.col("__sz").alias("__sa"), F.col("__rn").alias("__pa"),
    )
    b = prefixes.select(
        F.col(id_col).alias("id_b"), "sh",
        F.col("__sz").alias("__sb"), F.col("__rn").alias("__pb"),
    )
    # PPJoin residual filters — both exactness-preserving, both critical on
    # a SATURATED shingle vocabulary (fixture: 31^3 possible 3-grams), where
    # every shingle's doc_freq grows with n and raw prefix buckets pair up
    # ~n^2/V (measured 8.4x candidate cut at the sf1 tier):
    #  - length: J(A,B) >= t forces t*|A| <= |B| <= |A|/t;
    #  - positional: a prefix match at ranks (pa, pb) caps the overlap at
    #    min(|A|-pa, |B|-pb) + 1, which must reach ceil(t/(1+t)*(|A|+|B|)).
    #    Candidates survive if ANY shared prefix shingle passes — a superset
    #    of canonical first-match PPJoin, so no true pair is ever dropped.
    # The 1e-9 slack keeps float rounding of the t-products from ever
    # bumping a ceil/floor across an integer boundary toward over-pruning.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("__sa") + F.col("__sb"))
        - F.lit(1e-9)
    )
    candidates = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.col("__sb")
            >= F.ceil(F.lit(threshold) * F.col("__sa") - F.lit(1e-9))
        )
        .filter(
            F.col("__sb")
            <= F.floor(F.col("__sa") / F.lit(threshold) + F.lit(1e-9))
        )
        .filter(
            F.least(
                F.col("__sa") - F.col("__pa"), F.col("__sb") - F.col("__pb")
            )
            + 1
            >= alpha
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return jaccard_verify(df, candidates, id_col, text_col, k, threshold)
