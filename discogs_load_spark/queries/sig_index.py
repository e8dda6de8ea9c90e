"""Materialized document signature index — the ingest-time artifact the
whole text-dedup family reads.

Motivation (BENCH_perquery_r10): ~16 registered queries each re-ran the
normalize → tokenize → shingle → 12×md5 chain over the full ``documents``
table per query (q51/q52/q89/q100/q123/q141/q175/q195/q201/q204/q207/
q210/q215 + the simhash pair q53/q64), making the chain the suite's
dominant repeated cost — exactly the shape the CDC suite already fixed
with ``cdc_chunk_index`` (VERDICT r09 item 2). This module is the same
move one level up: ONE pass over the corpus materializes, per document,

- ``content_hash`` — md5 of the normalized text (exact-dedup key, q50),
- ``toks``         — the normalized token array (v2): the tokenized-corpus
                     artifact the text-analysis family reads (BM25
                     postings, n-gram LMs, BPE histograms, CMS grids) —
                     any k-gram derives from it with one cheap array
                     transform (functions/textfns.shingles_sql), no
                     per-query regex re-normalization,
- ``sh``           — the raw word-3-gram shingle array (order and
                     multiplicity preserved: every downstream operator —
                     distinct sets for Jaccard/containment, folds for
                     SimHash/OPH, explode for prefix filtering — derives
                     from it losslessly),
- ``h0..h{n-1}``   — the MinHash signature
                     (operators/dedup.minhash_signatures_from_shingles,
                     byte-identical math to the in-plan path),

declared in queries/artifacts.py: fingerprinted by the documents fixture's
identity, the layout mode, the shingle and hash constants and the text
functions' SQL, so a fixture regeneration or a semantics change can never
serve a stale index. ``SPARK_GRAFT_ARTIFACTS=0`` bypasses materialization
and every accessor returns the in-plan lineage (the referee mode —
tests/test_sig_index.py pins bitwise equality between the two paths).

100 TB design note: this is the standard production shape — MinHash
pipelines persist signatures at ingest (the signature columns are
~n_hashes×32 B/doc, trivially small) and re-screen every delta against
the index instead of re-hashing the corpus (q100's docstring has always
described this; now it IS this). The ``sh`` column is the honest cost:
storing raw shingle STRINGS is ~k× corpus size — at 100 TB that is the
difference between an index and a second corpus.

HASHED/LEAN LAYOUT (``SPARK_GRAFT_SIG_HASHED``, default ON since r12 —
VERDICT r10 item 3 built it, r11 item 1 measured it, r12 made it the
declared access path): the materialized index stores NO shingle payload at all and
compacts the minhash columns to 60-bit BIGINTs (8 B/slot instead of a
32-hex md5 string). Measured motivation (tools/sig_index_bytes.py):
storing xxhash64 shingle ARRAYS saves nothing over strings on
dictionary-encodable corpora — parquet already collapses both to ~2 B
dictionary indexes per occurrence — while the minhash columns and the
shingle payload together were ~85% of the index's bytes. Consumers
split by need:

- banding consumers read the stored compact signatures: banding
  compares slot equality only, so candidate sets equal string mode's
  unless two DISTINCT min-md5s agree on their first 60 bits
  (~pairs/2⁶⁰ — the driver's oracle diff would surface a hit);
- set-overlap consumers (the Jaccard/containment verify sets, the
  prefix-rank blocking artifact) use ``shh`` — xxhash64 per shingle,
  derived at read: |A∩B| and |A∪B| over xxhash64 images equal the
  string-set sizes unless two DISTINCT shingles in the same pair's
  union collide — probability ~|union|²/2⁶⁵ per pair (birthday bound
  on a 64-bit uniform hash), an accepted error term a production
  dedup pipeline trades for the smaller index and int-keyed shuffles;
- shingle-TEXT consumers (SimHash/OPH folds over md5(shingle), the
  bloom-grid and index-stats rollups that emit shingle columns) derive
  ``sh`` from the stored ``toks`` with one array transform
  (functions/textfns.shingles_sql) — values identical to the stored
  strings by shared build expression, and the expensive part of the
  chain (regex normalize + tokenize) still comes from the index.

The string-mode index (``SPARK_GRAFT_SIG_HASHED=0``) is the REFEREE:
tests/test_sig_hashed.py
pins final-output equality between the modes for every rewired operator
shape, and pins each compact signature slot to be EXACTLY the 60-bit
truncation of the same min-md5 string mode stores (same underlying
minhash — slot agreement is mode-independent modulo the truncation
bound above). Prefix-filter CANDIDATE sets may
differ between modes (the rarest-first tie-break orders hash values in
hashed mode, shingle text in string mode) — exactness of the final pair
set holds for ANY consistent total order (the PPJoin prefix theorem
fixes only prefix LENGTH, not the order), which the equality test pins
empirically.

ACCEPTED ERROR BOUND under the hashed default (ADVICE r11, recorded so
an eventual collision-induced driver diff is triaged as expected
behavior, not a regression): against the exact-string DuckDB oracles a
hashed-mode run carries a nonzero by-construction failure probability —
~|union|²/2⁶⁵ per verified pair (xxhash64 set images) and ~pairs/2⁶⁰
per banding slot (60-bit truncation). At the driver's sf0.01 tier
(~6k docs, ~10³ verified pairs of ~10²-shingle unions) the total is
< 10⁻¹⁰ per run; a hash-mismatch on exactly one dedup-family query
should be re-run once and, if repeatable, triaged as a REAL bug (a
repeatable collision at these set sizes is beyond the bound).

Reference parity note: the reference engine pre-declares its access
paths at ingest (discogs-load sql/indexes.sql:1-16); this index is the
Spark-native analogue for the dedup query family.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.textfns import norm_sql, shingles_sql, tokens_sql
from ..operators.dedup import DEFAULT_N_HASHES
from ..session import load_tables
from . import artifacts

SIG_INDEX_DIR = os.environ.get(
    "SPARK_GRAFT_SIG_INDEX_DIR", "/tmp/spark_graft_sig_index"
)

SHINGLE_K = 3


def _semantics_hash() -> str:
    """Digest of the SQL fragments the build lineage is made of — the
    normalize, tokenize, and shingle expressions (spark dialect; the
    duckdb fragments are value-equal by the dialect-fuzz tests). Folded
    into the fingerprint so an edit to textfns' regexes can never serve
    a stale cached index built under the old semantics (VERDICT r11
    item 2: the version STRING only tracks constants someone remembers
    to bump; the fragment text tracks itself). Resolved through the
    module attribute (not the import-time binding) so a monkeypatched
    fragment changes the fingerprint — which is also what the mutation
    test pins (tests/test_sig_index.py)."""
    from ..functions import textfns

    frag = "\n".join(
        (
            textfns.norm_sql("text", "spark"),
            textfns.tokens_sql("__norm", "spark"),
            textfns.shingles_sql("toks", SHINGLE_K, "spark"),
        )
    )
    return hashlib.md5(frag.encode()).hexdigest()[:10]


def hashed_mode() -> bool:
    """True when the index stores the lean v5h layout (no shingle
    payload, 60-bit bigint minhash slots) — THE DEFAULT since r12
    (VERDICT r11 item 1: INDEX_BYTES_r11 measured the string payload at
    5.3-7.4x the hashed layout's dedup bytes; at 100 TB the payload is
    the binding constraint, so the lean layout is the declared access
    path, not an option). ``SPARK_GRAFT_SIG_HASHED=0`` selects the
    string-mode layout — the by-construction-exact REFEREE
    (tests/test_sig_hashed.py pins output equality between the modes
    for every rewired operator shape)."""
    return os.environ.get("SPARK_GRAFT_SIG_HASHED", "1") == "1"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ["documents"])["documents"]


def sig_frame(docs: DataFrame, hashed: bool | None = None) -> DataFrame:
    """The index lineage, in-plan: one row per document (docs with < k
    tokens keep an EMPTY ``sh`` and null h-columns — they are still
    exact-dedup-able via ``content_hash``, matching the long-standing
    operator contract that shingle-less docs fall out of MinHash). The
    normalize→tokenize chain is materialized once per row (the
    _shingle_col discipline: inlined copies defeat codegen
    subexpression elimination).

    ``hashed`` (default: the ambient mode) swaps the stored layout:

    - string mode (referee): the full ``sh`` string array plus the
      32-hex md5 minhash columns — every value inspectable, the
      by-construction-exact oracle shape;
    - hashed mode: NO shingle payload at all (``sh``/``shh`` are
      re-derived from the stored ``toks`` at read — one array
      transform, no regex; the normalize→tokenize cost stays paid at
      ingest) and the minhash columns stored as 60-bit BIGINTs (the
      first 15 hex digits of the same min-md5) — 8 B instead of ~32 B
      per slot. Banding compares signature equality only, so candidate
      sets match string mode unless two DISTINCT min-md5s agree on
      their first 60 bits (~pairs/2⁶⁰, the truncation analogue of the
      shingle-hash bound in the module docstring). Null contract
      unchanged: shingle-less docs keep null h-columns in both modes."""
    if hashed is None:
        hashed = hashed_mode()
    out = (
        docs.withColumn("__norm", F.expr(norm_sql("text", "spark")))
        .withColumn("content_hash", F.md5("__norm"))
        .withColumn("toks", F.expr(tokens_sql("__norm", "spark")))
        .withColumn("sh", F.expr(shingles_sql("toks", SHINGLE_K, "spark")))
    )
    if hashed:
        sig_cols = [
            F.expr(
                f"CAST(conv(substring("
                f"array_min(transform(sh, s -> md5('{i}:' || s))),"
                f" 1, 15), 16, 10) AS BIGINT)"
            ).alias(f"h{i}")
            for i in range(DEFAULT_N_HASHES)
        ]
        # content_hash stored as its 16 raw bytes (LOSSLESS — the exact-
        # dedup contract keeps all 128 bits; read path derives the hex
        # string back, lower(hex(chb)) == md5's lowercase output)
        return out.select(
            "doc_id",
            "source",
            F.unhex("content_hash").alias("chb"),
            "toks",
            *sig_cols,
        )
    sig_cols = [
        F.expr(f"array_min(transform(sh, s -> md5('{i}:' || s)))").alias(
            f"h{i}"
        )
        for i in range(DEFAULT_N_HASHES)
    ]
    return out.select(
        "doc_id", "source", "content_hash", "toks", "sh", *sig_cols
    )


def with_derived_index_cols(df: DataFrame) -> DataFrame:
    """Re-derive the hashed/lean layout's dropped columns at read:
    ``content_hash`` (hex of the stored 16-byte ``chb`` — bit-identical
    to md5's lowercase output), ``sh`` (string shingles from the stored
    token array — identical values to the string-mode column by shared
    build expression) and ``shh`` (xxhash64 per shingle, the
    set-consumer payload). All lazily computed — Catalyst prunes them
    away for consumers that never select them. Public because the
    streaming index maintainer (q218) lands raw ``sig_frame`` output
    and normalizes the same way at read."""
    if "chb" in df.columns:
        df = df.withColumn("content_hash", F.lower(F.hex("chb")))
    if "sh" not in df.columns:
        df = df.withColumn(
            "sh", F.expr(shingles_sql("toks", SHINGLE_K, "spark"))
        )
    if "shh" not in df.columns:
        df = df.withColumn("shh", F.expr("transform(sh, s -> xxhash64(s))"))
    return df


def _read_index(df: DataFrame) -> DataFrame:
    return with_derived_index_cols(df) if hashed_mode() else df


def _sig_index_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sig_frame(_docs(spark, sf_dir))


def doc_signature_index(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """The materialized per-document signature index (see module
    docstring). The two layout modes cache separately (the mode is a
    fingerprint input); ``SPARK_GRAFT_ARTIFACTS=0`` returns the in-plan
    lineage (referee mode). In hashed mode the returned frame carries
    lazily DERIVED ``content_hash``/``sh``/``shh`` columns (from ``chb``
    and ``toks``) so every consumer works unchanged while none of them
    is stored."""
    return artifacts.load("doc_signature_index", spark, sf_dir, rebuild)


SIG_DELTA_PART_COL = "pb"


def _sig_delta_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import NEW_MOD, NEW_REM  # deferred: dedup imports us

    docs = _docs(spark, sf_dir).filter((F.col("doc_id") % NEW_MOD) == NEW_REM)
    pb = (
        F.substring(F.lower(F.hex("chb")), 1, 1)
        if hashed_mode()
        else F.substring("content_hash", 1, 1)
    )
    return sig_frame(docs).withColumn(SIG_DELTA_PART_COL, pb)


def sig_delta_landing(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """The streamed DELTA generation of the signature index as a cached
    artifact: ``sig_frame`` of the new-snapshot documents
    (doc_id-modulo convention, queries/dedup.NEW_MOD/NEW_REM), landed
    hash-prefix-PARTITIONED (``pb`` = first hex char of the content
    hash — exactly q218's landed layout after its in-stream
    compaction, one file per bucket). This is the 'delta' side of the
    LSM read-merge (q227): a consumer reads base index ∪ delta landing
    without waiting for the next full index rebuild. Keyed on the base
    index's fingerprint plus the snapshot modulus."""
    return artifacts.load("sig_delta_landing", spark, sf_dir, rebuild)


def doc_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h0..h{n-1}) — drop-in for
    ``minhash_signatures(docs, "doc_id", "text")`` (same empty-shingle
    filter, same hash math). The filter keys on h0's nullness — the
    index contract pins null h ⟺ empty shingle array — so column
    pruning reaches the scan and NO shingle payload is read (in hashed
    mode none is even stored)."""
    idx = doc_signature_index(spark, sf_dir)
    return idx.filter(F.col("h0").isNotNull()).select(
        "doc_id", *[f"h{i}" for i in range(DEFAULT_N_HASHES)]
    )


def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, toks) — the tokenized corpus, for the
    text-analysis family (token explodes, k-gram transforms, per-doc
    length stats). Same values as
    ``F.expr(tokens_sql(norm_sql("text"), ...))`` over ``documents`` by
    shared build expression."""
    return doc_signature_index(spark, sf_dir).select(
        "doc_id", "source", "toks"
    )


def doc_shingle_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) — the STRING shingle arrays, for the *_from_shingles
    operator cores (SimHash, OPH MinHash fold md5 over shingle text).
    In hashed mode ``sh`` is the derived-from-toks column — identical
    values by shared build expression."""
    return doc_signature_index(spark, sf_dir).select("doc_id", "sh")


def doc_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shset) — distinct shingle sets, the ``sets`` contract of
    jaccard_verify / containment_verify (both are element-type-agnostic:
    array_intersect/size only). In hashed mode the sets are xxhash64
    values (derived from ``toks`` at read) — |A∩B|/|A∪B| over the hash
    images equals the string-set Jaccard unless two distinct shingles in
    the pair's union collide (~|union|²/2⁶⁵, the module-docstring
    bound)."""
    stored = "shh" if hashed_mode() else "sh"
    return doc_signature_index(spark, sf_dir).select(
        "doc_id", F.array_distinct(stored).alias("shset")
    )


def _prefix_rank_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh, __sz, __rn) — every document's DISTINCT shingles
    ranked rarest-global-document-frequency-first (shingle text as the
    tie-break) with the doc's set size: the PPJoin-family blocking
    artifact both exact set-similarity operators consume
    (operators/dedup.prefix_filter_jaccard_pairs and
    containment_prefix_pairs derive their prefixes by filtering __rn
    against their own thresholds). Ordering depends on corpus-wide
    document frequency, so like the signature columns it is a pure
    function of the corpus — an ingest artifact.

    In hashed mode the ranked element is the xxhash64 value
    (column still named ``sh`` — consumers join and filter by name):
    document frequency of a hash equals that of its string
    (collision-free case), and the rarest-first TIE-BREAK orders hash
    values instead of shingle text, so prefixes — and with them
    candidate sets — may differ between modes. The final pair set does
    not: the prefix theorem's zero-false-negative guarantee fixes only
    the prefix LENGTH and requires a consistent total order, any order
    (tests/test_sig_hashed.py pins output equality)."""
    from pyspark.sql import Window as W

    stored = "shh" if hashed_mode() else "sh"
    sh_pairs = (
        doc_signature_index(spark, sf_dir)
        .select("doc_id", F.col(stored).alias("__shs"))
        .select("doc_id", F.explode("__shs").alias("sh"))
        .distinct()
    )
    doc_freq = sh_pairs.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    by_doc = W.partitionBy("doc_id")
    rarest_first = by_doc.orderBy(F.col("__df").asc(), F.col("sh").asc())
    return (
        sh_pairs.join(doc_freq, "sh")
        .withColumn("__sz", F.count(F.lit(1)).over(by_doc))
        .withColumn("__rn", F.row_number().over(rarest_first))
        .select("doc_id", "sh", "__sz", "__rn")
    )


def doc_prefix_rank_index(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """Materialized :func:`_prefix_rank_frame`, keyed on the signature
    index's fingerprint (so the hashed and string rank artifacts cache
    separately too); under the referee switch the in-plan lineage also
    derives its shingles in-plan."""
    return artifacts.load("doc_prefix_rank_index", spark, sf_dir, rebuild)
