"""Corpus-curation operators for a training-data pipeline: deterministic
train/val/test splitting, class-balanced downsampling, output-shard
planning, and TF-IDF keyword extraction — over the ``documents`` fixture.

Determinism is the design constraint everywhere: splits and samples must be
reproducible across runs, engines, AND cluster sizes, so nothing here uses
rand()/TABLESAMPLE (engine-specific PRNGs, partition-dependent). The
routing primitive is md5 of a stable key — identical hex in every engine —
which also makes every one of these fully oracle-checkable.

Scale shapes:
  - split/shard assignment is a per-row projection (no shuffle at all);
    the summary aggregate partial-aggregates map-side to O(#splits) rows;
  - balanced sampling is one window shuffle on the class key; the hash
    ordering inside the window is the deterministic stand-in for "random";
  - TF-IDF shuffles doc-term pairs twice (per-doc tf, per-term df) — both
    keys are high-cardinality and skew-resistant; the df side collapses to
    vocabulary size before joining back (AQE broadcasts it when it fits).

The reference has no sampling/splitting surface at all (it is a load-only
tool, SURVEY §2.C); these are engine extensions from the north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.textfns import (
    STOPWORDS,
    doc_shingles_sql,
    norm_sql,
    shingles_sql,
    stopword_hits_sql,
    token_count_sql,
    tokens_sql,
)
from ..session import load_tables
from .registry import register

# first hex nibble of md5(key): 0-9,a,b → train (12/16), c,d → val, e,f → test.
# The nibble is hoisted into its own column so md5 runs once per row instead
# of once per CASE branch (don't rely on the engine's CSE).
_NIBBLE = "substring(md5(CAST(doc_id AS {vtype})), 1, 1)"
_SPLIT_FROM_NIBBLE = (
    "CASE WHEN nib IN ('c', 'd') THEN 'val' "
    "WHEN nib IN ('e', 'f') THEN 'test' "
    "ELSE 'train' END"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ["documents"])["documents"]


_SAMPLE_CAP = 30
_SAMPLE_SALTS = 16


@register(
    "q84_train_test_split",
    oracle=f"""
    SELECT {_SPLIT_FROM_NIBBLE} AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (SELECT {_NIBBLE.format(vtype="VARCHAR")} AS nib, n_chars FROM documents)
    GROUP BY split
    ORDER BY split
    """,
    tags=("sampling", "documents"),
)
def q84_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 75/12.5/12.5 train/val/test split by the first hex
    nibble of md5(doc_id).

    Hash-routing (vs rand()) gives the three properties a training split
    needs: reproducible across runs and engines, stable under re-partition
    (assignment depends only on the key), and leakage-safe (a document can
    never change split when the corpus grows). Assignment is a pure
    projection — at 100 TB this costs one md5 per row and zero shuffles;
    the summary aggregate emits 3 rows.
    """
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn("nib", F.expr(_NIBBLE.format(vtype="STRING")))
        .withColumn("split", F.expr(_SPLIT_FROM_NIBBLE))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


@register(
    "q85_balanced_sample",
    oracle="""
    WITH ranked AS (
        SELECT lang, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(n_chars) AS BIGINT) AS sample_chars
    FROM ranked WHERE rn <= 30
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("sampling", "documents", "window"),
)
def q85_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample: at most 30 documents per language,
    chosen by md5(doc_id) order — a deterministic shuffle-proof stand-in
    for uniform random choice.

    Scale shape — exact salted two-phase top-k. A plain
    ``Window.partitionBy(lang)`` puts a dominant class (90% English at
    100 TB) on ONE partition. Instead:

      phase 1: window over (lang, salt) where salt = hash(doc_id) % 16 —
               16-way parallel per class, keeps each bucket's local
               top-30;
      phase 2: the exact per-lang window, now fed at most 30*16 = 480
               rows per class regardless of class skew.

    This is exact, not approximate: any row in a class's true top-30 is
    ranked <= 30 within its own salt bucket too (ranks only shrink when
    restricted to a subset), so phase 1 never drops a winner. Same
    semantics as the single-window form, bounded partition size at any
    scale. (The alternative in earlier drafts — an estimated md5
    threshold pre-filter — is approximate and can drop true winners when
    the estimate is off; the salted form needs no estimate.)
    """
    docs = _docs(spark, sf_dir)
    order = [F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()]
    local_w = Window.partitionBy("lang", "salt").orderBy(*order)
    exact_w = Window.partitionBy("lang").orderBy(*order)
    prefiltered = (
        docs.withColumn("salt", F.pmod(F.hash("doc_id"), F.lit(_SAMPLE_SALTS)))
        .withColumn("rn_local", F.row_number().over(local_w))
        .filter(F.col("rn_local") <= _SAMPLE_CAP)
    )
    return (
        prefiltered.withColumn("rn", F.row_number().over(exact_w))
        .filter(F.col("rn") <= _SAMPLE_CAP)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sample_chars"),
        )
        .orderBy("lang")
    )


@register(
    "q86_shard_manifest",
    oracle="""
    SELECT substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM documents
    GROUP BY shard
    ORDER BY shard
    """,
    tags=("sampling", "documents"),
)
def q86_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-shard planning manifest: route every document to one of 16
    hash shards and report per-shard row/byte totals — the planning query
    behind `df.repartition(N, hash_key).write` for evenly-sized output
    files.

    Hash sharding is what keeps 100 TB writes balanced regardless of key
    distribution (vs range sharding, which inherits the data's skew). The
    whole query is a map-side projection + 16-row aggregate; the manifest
    doubles as a cheap skew check (max/min shard byte ratio).
    """
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn(
            "shard", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


SEQ_BUDGET = 1024  # tokens per packed training sequence

_NIB_SQL = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)"


@register(
    "q90_sequence_packing",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               {_NIB_SQL} AS shard,
               md5(CAST(doc_id AS VARCHAR)) AS h,
               {token_count_sql('text', 'duckdb')} AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT shard, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM t
    )
    SELECT shard,
           CAST(cum_before // {SEQ_BUDGET} AS BIGINT) AS seq,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
    FROM c GROUP BY shard, seq
    ORDER BY shard, seq
    """,
    tags=("sampling", "documents", "packing"),
)
def q90_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed token-budget training sequences
    (concat-then-chunk, doc granularity): within each hash shard, documents
    are laid out in deterministic md5 order and a doc starts the next
    sequence when the running token count crosses the budget.

    This is the layout step between curation and the trainer: sequences are
    what a pretraining loader consumes, and packing density (seq_tokens vs
    budget) is the measurable utilization. Scale shape: one window per
    shard — the shard count is the parallelism knob (16 here; at 100 TB use
    O(cluster cores) shards, assignment stays a pure per-row projection),
    and the running sum is O(shard) sequential like any packing pass, but
    shards are independent. Deterministic: md5 order, integer token counts,
    integer division — no engine-specific tie-breaks.
    """
    docs = _docs(spark, sf_dir)
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.withColumn("h", F.md5(F.col("doc_id").cast("string")))
        .withColumn("shard", F.substring("h", 1, 1))
        .withColumn(
            "n_tokens",
            F.expr(token_count_sql("text", "spark")).cast("long"),
        )
        .withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("seq", F.expr(f"cum_before DIV {SEQ_BUDGET}"))
        .groupBy("shard", "seq")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
        )
        .orderBy("shard", "seq")
    )


@register(
    "q91_contamination_check",
    oracle=f"""
    WITH ev AS (
        SELECT DISTINCT unnest({doc_shingles_sql('text', 8, 'duckdb')}) AS sh
        FROM documents WHERE {_NIB_SQL} IN ('e', 'f')
    ),
    tr AS (
        SELECT doc_id, source FROM documents
        WHERE {_NIB_SQL} NOT IN ('c', 'd', 'e', 'f')
    ),
    trs AS (
        SELECT doc_id, unnest({doc_shingles_sql('text', 8, 'duckdb')}) AS sh
        FROM documents WHERE {_NIB_SQL} NOT IN ('c', 'd', 'e', 'f')
    ),
    contam AS (
        SELECT DISTINCT doc_id FROM trs WHERE sh IN (SELECT sh FROM ev)
    )
    SELECT tr.source,
           COUNT(*) AS n_train_docs,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated
    FROM tr LEFT JOIN contam c ON tr.doc_id = c.doc_id
    GROUP BY tr.source
    ORDER BY tr.source
    """,
    tags=("sampling", "documents", "dedup"),
)
def q91_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: which TRAIN documents share any word
    8-gram with the held-out TEST split (same md5-nibble routing as q84)?
    Word 8-grams are long enough that template phrasing shared across the
    whole synthetic corpus doesn't fire (3-grams flagged ~95% of train —
    vacuous); what remains is genuine span overlap, i.e. the planted
    near-duplicates that straddle the split boundary.

    The shape that scales is the inverted-index semi-join: explode both
    sides to (doc, shingle), dedup the eval side to a shingle set
    (benchmark-sized — small), and semi-join train shingles against it.
    Never doc x doc: cost is O(|train shingles|) with a broadcast-able
    build side. The corpus's planted near-duplicates that straddle the
    split boundary are exactly what this catches.
    """
    # Materialize the token array ONCE per row before shingling: the
    # shingle builder slices the token list 8 times, and inlining the full
    # normalize+split pipeline into each slice re-runs the regexes ~16x
    # per row inside Generate (which gets no common-subexpression reuse) —
    # observed 10.9 s -> ~3 s at sf0.1 from this hoist alone.
    docs = (
        _docs(spark, sf_dir)
        .withColumn("nib", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1))
        .withColumn("toks", F.expr(tokens_sql(norm_sql("text", "spark"), "spark")))
    )
    sh = F.expr(shingles_sql("toks", 8, "spark"))
    ev_sh = (
        docs.filter(F.col("nib").isin("e", "f"))
        .select(F.explode(sh).alias("sh"))
        .distinct()
    )
    train = docs.filter(~F.col("nib").isin("c", "d", "e", "f"))
    contam = (
        train.select("doc_id", F.explode(sh).alias("sh"))
        .join(F.broadcast(ev_sh), "sh", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_contam", F.lit(1))
    )
    return (
        train.join(contam, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum(F.coalesce("is_contam", F.lit(0))).alias("n_contaminated"),
        )
        .orderBy("source")
    )


def _tfidf_oracle() -> str:
    norm = norm_sql("text", "duckdb")
    toks = tokens_sql(norm, "duckdb")
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest({toks}) AS token FROM documents
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM toks WHERE token <> '' GROUP BY doc_id, token
    ),
    df AS (
        SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ),
    scored AS (
        SELECT tf.doc_id, tf.token, tf.tf, df.df,
               (tf.tf * 1000000) // df.df AS score,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY (tf.tf * 1000000) // df.df DESC, tf.token
               ) AS rn
        FROM tf JOIN df ON tf.token = df.token
    )
    SELECT doc_id, token, tf, df, score
    FROM scored WHERE rn <= 3
    ORDER BY doc_id, score DESC, token
    """


@register(
    "q87_tfidf_topk",
    oracle=_tfidf_oracle(),
    tags=("text", "documents", "window"),
)
def q87_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by integer-scaled TF-IDF
    (score = tf * 1e6 DIV document-frequency — integer arithmetic, so the
    ranking is bitwise identical in any engine; a float idf = ln(N/df)
    could differ by one ulp of libm and flip ties).

    Pipeline: explode to doc-term pairs → per-(doc,term) tf [shuffle 1 on
    the pair key] → per-term df over the tf table (vocabulary-sized output)
    [shuffle 2] → join df back [AQE broadcasts the vocabulary when it
    fits] → per-doc top-3 window [shuffle 3 on doc_id]. All three keys are
    high-cardinality; nothing here degrades with corpus size except the
    vocabulary join, which falls back to a shuffle join gracefully.
    """
    from .sig_index import doc_tokens

    toks = doc_tokens(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df, "token").withColumn(
        "score", F.expr("tf * 1000000 DIV df")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", "df", "score")
        .orderBy("doc_id", F.desc("score"), "token")
    )


@register(
    "q125_decontaminated_corpus",
    oracle=f"""
    WITH ev AS (
        SELECT DISTINCT unnest({doc_shingles_sql('text', 8, 'duckdb')}) AS sh
        FROM documents WHERE {_NIB_SQL} IN ('e', 'f')
    ),
    tr AS (
        SELECT doc_id, source,
               len({tokens_sql(norm_sql('text', 'duckdb'), 'duckdb')}) AS n_tokens
        FROM documents WHERE {_NIB_SQL} NOT IN ('c', 'd', 'e', 'f')
    ),
    trs AS (
        SELECT doc_id, unnest({doc_shingles_sql('text', 8, 'duckdb')}) AS sh
        FROM documents WHERE {_NIB_SQL} NOT IN ('c', 'd', 'e', 'f')
    ),
    contam AS (
        SELECT DISTINCT doc_id FROM trs WHERE sh IN (SELECT sh FROM ev)
    )
    SELECT tr.doc_id, tr.source, CAST(tr.n_tokens AS BIGINT) AS n_tokens
    FROM tr ANTI JOIN contam c ON tr.doc_id = c.doc_id
    """,
    tags=("sampling", "documents", "dedup", "pipeline"),
)
def q125_decontaminated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pretraining gate: hash-routed TRAIN split (q84's
    routing) MINUS every document sharing a word 8-gram with the held-out
    TEST split (q91's inverted-index screen) — emitted as the per-document
    training manifest (doc_id, source, n_tokens) a downstream packer
    (q90) would consume.

    Same scale shape as q91 — the eval shingle set is benchmark-sized and
    broadcast, train shingles stream through a left_anti equi-join, never
    doc x doc — but composed end-to-end: route, screen, emit. At 100 TB
    the only corpus-sized shuffle is the explode->semi-join on shingle.
    """
    docs = (
        _docs(spark, sf_dir)
        .withColumn("nib", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1))
        .withColumn("toks", F.expr(tokens_sql(norm_sql("text", "spark"), "spark")))
    )
    sh = F.expr(shingles_sql("toks", 8, "spark"))
    ev_sh = (
        docs.filter(F.col("nib").isin("e", "f"))
        .select(F.explode(sh).alias("sh"))
        .distinct()
    )
    train = docs.filter(~F.col("nib").isin("c", "d", "e", "f"))
    contam = (
        train.select("doc_id", F.explode(sh).alias("sh"))
        .join(F.broadcast(ev_sh), "sh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return train.join(contam, "doc_id", "left_anti").select(
        "doc_id", "source", F.size("toks").cast("bigint").alias("n_tokens")
    )


# keep the md5-first 2/5 of each source's token mass (integer-exact ratio
# test: cum*5 < total*2 — no float threshold to disagree on)
MIX_NUM, MIX_DEN = 2, 5


@register(
    "q126_source_mix",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               len({tokens_sql(norm_sql('text', 'duckdb'), 'duckdb')}) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before,
               SUM(n_tokens) OVER (PARTITION BY source) AS total_tokens
        FROM toks
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
           CAST(MAX(total_tokens) AS BIGINT) AS source_tokens
    FROM cum
    WHERE cum_before * {MIX_DEN} < total_tokens * {MIX_NUM}
    GROUP BY source
    ORDER BY source
    """,
    tags=("sampling", "documents", "mixing"),
)
def q126_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining data mixing: subsample each source to a fixed fraction
    of its token mass (2/5 here), choosing documents in deterministic
    md5-of-id order — the shuffle-proof, seed-free way to hit a target
    mix ratio that stays stable when the corpus regrows.

    Budget test is integer-exact (cum*5 < total*2): no float threshold
    for two engines to round differently. Scale note: the running sum is
    one window per source partition — fine while a single source fits a
    partition's worth of ROWS metadata (the doc rows themselves are
    skinny: id, count, hash). A web-scale single-source corpus would use
    the two-phase form: estimate the hash cutoff from a coarse
    per-hash-bucket token histogram (one groupBy), then exact-scan only
    the boundary bucket — same answer, no giant window (the q85
    pre-filter trick restated for quotas).
    """
    docs = _docs(spark, sf_dir).withColumn(
        "n_tokens", F.size(F.expr(tokens_sql(norm_sql("text", "spark"), "spark")))
    )
    w_ord = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("source")
    kept = (
        docs.withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w_ord), F.lit(0))
        )
        .withColumn("total_tokens", F.sum("n_tokens").over(w_all))
        .filter(
            F.col("cum_before") * MIX_DEN < F.col("total_tokens") * MIX_NUM
        )
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").cast("bigint").alias("kept_tokens"),
            F.max("total_tokens").cast("bigint").alias("source_tokens"),
        )
        .orderBy("source")
    )


PACK_CHUNK = 32  # non-overlapping chunks: stride == size, no token duplicated


def _chunked_packing_oracle() -> str:
    from ..operators.chunking import chunk_oracle_sql

    chunk_sql = chunk_oracle_sql(
        "documents", "doc_id", "text", size=PACK_CHUNK, stride=PACK_CHUNK
    )
    return _CHUNKPACK_TEMPLATE.format(chunk_sql=chunk_sql, budget=SEQ_BUDGET)


_CHUNKPACK_TEMPLATE = """
    WITH chunks AS ({chunk_sql}),
    t AS (
        SELECT doc_id, chunk_id, n_chunk_tokens,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
               md5(CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_id AS VARCHAR)) AS h
        FROM chunks
    ),
    c AS (
        SELECT shard, n_chunk_tokens,
               COALESCE(SUM(n_chunk_tokens) OVER (
                   PARTITION BY shard ORDER BY h, doc_id, chunk_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM t
    )
    SELECT shard,
           CAST(cum_before // {budget} AS BIGINT) AS seq,
           COUNT(*) AS n_chunks,
           CAST(SUM(n_chunk_tokens) AS BIGINT) AS seq_tokens
    FROM c GROUP BY shard, seq
    ORDER BY shard, seq
    """


@register(
    "q131_chunked_packing",
    oracle=_chunked_packing_oracle(),
    tags=("sampling", "packing", "chunking", "pipeline"),
)
def q131_chunked_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-then-pack — the composition real pretraining runs that plain
    document packing (q90) can't: documents longer than the context
    budget are first split into NON-overlapping token chunks (stride ==
    size, so no token is duplicated into the training stream), then the
    chunks are greedily packed into fixed token-budget sequences per
    shard in deterministic md5 order.

    Scale shape: chunking is map-side (operators/chunking.py docstring);
    packing is one running-sum window per shard partition over skinny
    (shard, hash, count) rows. Integer token counts throughout — the
    value hash has no float to drift.
    """
    from ..operators.chunking import chunk_documents

    docs = _docs(spark, sf_dir)
    chunks = chunk_documents(docs, "doc_id", "text", size=PACK_CHUNK, stride=PACK_CHUNK)
    t = chunks.select(
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("shard"),
        F.md5(
            F.concat_ws(":", F.col("doc_id").cast("string"), F.col("chunk_id").cast("string"))
        ).alias("h"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = t.withColumn(
        "cum_before", F.coalesce(F.sum("n_chunk_tokens").over(w), F.lit(0))
    ).withColumn("seq", F.expr(f"cum_before DIV {SEQ_BUDGET}").cast("bigint"))
    return (
        packed.groupBy("shard", "seq")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chunk_tokens").cast("bigint").alias("seq_tokens"),
        )
        .orderBy("shard", "seq")
    )


# --- temperature-scaled source mixture ------------------------------------

MIX_TEMPERATURE = 2  # weight = n^(1/T) = sqrt(n): upweights small sources
MIX_TOTAL_DOCS = 1000


@register(
    "q151_temperature_mixture",
    oracle=f"""
    WITH s AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(25,9)))
                    AS DOUBLE) AS total_weight
        FROM s
    )
    SELECT source, n_docs, total_chars,
           sqrt(CAST(n_docs AS DOUBLE)) AS weight,
           (sqrt(CAST(n_docs AS DOUBLE)) / total_weight) AS share,
           CAST(FLOOR((sqrt(CAST(n_docs AS DOUBLE)) / total_weight)
                      * {MIX_TOTAL_DOCS}) AS INT) AS target_docs
    FROM s CROSS JOIN tot
    """,
    tags=("sampling", "mixture", "curation"),
)
def q151_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture planning (the multilingual/
    multi-source sampling recipe from mBERT/XLM-R and every data-mixture
    paper since): per-source sampling weight n^(1/T) with T=2 — i.e.
    sqrt(n), which upweights small sources relative to proportional
    sampling — normalized into shares and integer per-source target
    counts for a {MIX_TOTAL_DOCS}-doc budget.

    Determinism under the value-hash gate: sqrt is IEEE-754
    correctly-rounded (bitwise identical in JVM and C), the share
    normalizer sums the per-source weights through the exact DECIMAL
    recipe (order-insensitive), and the final FLOOR sees bitwise-equal
    doubles in both engines. Scale: one map-side-combined groupBy to
    |sources| rows, a 1-row broadcast of the normalizer, zero further
    shuffles. The target_docs column feeds the q85 balanced sampler as
    its per-class quota."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    tot = s.agg(
        F.expr(
            "CAST(SUM(CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(25,9)))"
            " AS DOUBLE)"
        ).alias("total_weight")
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "total_chars",
        F.expr("sqrt(CAST(n_docs AS DOUBLE))").alias("weight"),
        F.expr("sqrt(CAST(n_docs AS DOUBLE)) / total_weight").alias("share"),
        F.expr(
            "CAST(FLOOR((sqrt(CAST(n_docs AS DOUBLE)) / total_weight)"
            f" * {MIX_TOTAL_DOCS}) AS INT)"
        ).alias("target_docs"),
    )


# --- quality-ordered curriculum under a token budget ----------------------

CURRICULUM_BUDGET_FRAC = 0.5  # spend half the corpus token budget


@register(
    "q159_curriculum_budget",
    oracle=f"""
    WITH per_doc AS (
        SELECT source,
               {token_count_sql('text', 'duckdb')} AS n_tokens,
               CAST(len(list_filter((CASE WHEN trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) = '' THEN [] ELSE string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') END), t -> t IN ('the', 'a', 'and', 'of', 'to', 'in', 'is'))) AS DOUBLE) / GREATEST(len((CASE WHEN trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) = '' THEN [] ELSE string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') END)), 1) AS sw_ratio
        FROM documents
    ),
    s AS (
        SELECT source,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(CAST(sw_ratio AS DECIMAL(25,9))) AS DOUBLE)
                   / COUNT(*) AS quality
        FROM per_doc GROUP BY source
    ),
    t AS (SELECT CAST(SUM(total_tokens) AS BIGINT) AS corpus_tokens FROM s),
    o AS (
        SELECT s.*, t.corpus_tokens,
               SUM(total_tokens) OVER (
                   ORDER BY quality DESC, source
                   ROWS UNBOUNDED PRECEDING
               ) AS cum_tokens
        FROM s CROSS JOIN t
    )
    SELECT source, quality, total_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           ((cum_tokens - total_tokens)
            < {CURRICULUM_BUDGET_FRAC} * corpus_tokens) AS included
    FROM o
    """,
    tags=("sampling", "curriculum", "curation"),
)
def q159_curriculum_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered curriculum selection under a token budget: rank
    sources by a quality score (mean per-doc stopword ratio — the q61
    signal, exact-decimal averaged), walk them best-first, and include a
    source iff it STARTS below {CURRICULUM_BUDGET_FRAC:.0%} of the corpus
    token budget — the greedy quality-first data-mixing pass (and the
    budget is a corpus fraction, so the selection rule is scale-
    invariant). Integer token cumsum over the |sources|-row aggregate
    (never the corpus), deterministic (quality, source) ordering, one
    1-row normalizer broadcast. Complements q151: that sets proportional
    temperature targets, this makes the greedy quality cut."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    toks = tokens_sql(norm_sql("text", "spark"), "spark")
    sw = stopword_hits_sql(toks, STOPWORDS["en"], "spark")
    per_doc = docs.select(
        "source",
        F.expr(token_count_sql("text", "spark")).alias("n_tokens"),
        F.expr(f"CAST({sw} AS DOUBLE) / GREATEST(size({toks}), 1)").alias(
            "sw_ratio"
        ),
    )
    s = per_doc.groupBy("source").agg(
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.expr(
            "CAST(SUM(CAST(sw_ratio AS DECIMAL(25,9))) AS DOUBLE) / COUNT(*)"
        ).alias("quality"),
    )
    t = s.agg(F.sum("total_tokens").cast("bigint").alias("corpus_tokens"))
    w = (
        Window.orderBy(F.desc("quality"), F.asc("source"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    o = s.crossJoin(F.broadcast(t)).withColumn(
        "cum_tokens", F.sum("total_tokens").over(w)
    )
    return o.select(
        "source",
        "quality",
        "total_tokens",
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        (
            (F.col("cum_tokens") - F.col("total_tokens"))
            < CURRICULUM_BUDGET_FRAC * F.col("corpus_tokens")
        ).alias("included"),
    )


# --- end-to-end curation pipeline: SemDeDup -> entities -> budget ----------

TRAIN_BUDGET_TOKENS = 2_000_000  # tokens to allocate across sources


def _curation_oracle() -> str:
    from ..functions.vectors import cosine_sql
    from ..operators.clustering import kmeans_oracle_ctes
    from .similarity import DIM, SEM_ITER, SEM_THRESHOLD, sem_k_sql

    parts, last_a, _ = kmeans_oracle_ctes(
        "embeddings", "vec_id", "embedding", DIM, sem_k_sql("embeddings"), SEM_ITER
    )
    cos_ab = cosine_sql("ea.embedding", "eb.embedding", DIM, "duckdb")
    # materialize the final assignment once: dpairs references it twice,
    # and at a tight memory cap DuckDB may otherwise re-inline the whole
    # Lloyd-round pipeline into both sides
    parts.append(f"lastm AS MATERIALIZED (SELECT * FROM {last_a})")
    body = ",\n    ".join(parts)
    return f"""
    WITH RECURSIVE {body},
    dpairs AS MATERIALIZED (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM lastm a
        JOIN lastm b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE {cos_ab} >= {SEM_THRESHOLD}
    ),
    -- MATERIALIZED: without the hint DuckDB inlines these into the
    -- recursive walk and re-executes the whole k-means + cosine pipeline
    -- EVERY iteration (256MB-cap OOM) -- with it, 0.2s at the same cap
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM dpairs
        UNION SELECT id_b, id_a FROM dpairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    walk(node, reach) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
    ),
    comp AS (SELECT node, MIN(reach) AS component FROM walk GROUP BY node),
    dropped AS (SELECT node AS doc_id FROM comp WHERE node <> component),
    per_doc AS (
        SELECT d.source,
               {token_count_sql('text', 'duckdb')} AS n_tokens,
               (dr.doc_id IS NOT NULL) AS is_dup
        FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
    ),
    s AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped,
               CAST(SUM(CASE WHEN is_dup THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_kept,
               CAST(SUM(CASE WHEN is_dup THEN 0 ELSE n_tokens END) AS BIGINT)
                   AS kept_tokens
        FROM per_doc GROUP BY source
    ),
    t AS (SELECT CAST(SUM(kept_tokens) AS BIGINT) AS total_kept FROM s)
    SELECT source, n_docs, n_dropped, n_kept, kept_tokens,
           CAST((kept_tokens * {TRAIN_BUDGET_TOKENS}) // total_kept AS BIGINT)
               AS budget_tokens
    FROM s CROSS JOIN t
    """


@register(
    "q169_curation_pipeline",
    oracle=_curation_oracle(),
    tags=("sampling", "curation", "dedup", "clustering", "pipeline"),
)
def q169_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation operators composed END TO END under ONE oracle —
    dedup → entity grouping → budget (VERDICT r03 #8): q154's SemDeDup
    pair generation (2-round k-means clusters, in-cluster cosine
    threshold), q89/q165's connected-components closure turning pairs
    into duplicate groups with the min-id member as keeper, then a
    per-source report — docs total/dropped/kept, kept token mass, and an
    integer pro-rata share of a {TRAIN_BUDGET_TOKENS:,}-token training
    budget (floordiv: exact in both engines). The oracle recomputes the
    whole chain independently (recursive-CTE reachability instead of
    union-find), so a bug anywhere in the composition — not just
    in one stage — breaks the value hash.

    Scale shape is the stages' own: broadcast centroids + cluster-keyed
    pair join (never all-pairs), a domain-sized driver-side closure, and
    a |sources|-row rollup with one 1-row broadcast normalizer. vec_id ==
    doc_id in the fixtures (TESTDATA.md), linking the two tables."""
    from ..operators.dedup import connected_components
    from .similarity import DIM, SEM_THRESHOLD

    from pyspark.storagelevel import StorageLevel

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]

    # (cluster, vec_id, embedding) from the materialized enriched index
    # (the ingest artifact — queries/emb_index.py; flat k-means at driver
    # scales, two-level above, sized by the corpus count at build time)
    from .emb_index import emb_enriched

    # repartition on the join key: the small index parquet reads back as
    # 1-2 splits, which would run the quadratic in-cluster cosine stage
    # on 1-2 cores; one exchange restores parallelism AND co-partitions
    # both self-join sides (ReusedExchange — the lsh_candidate_pairs
    # discipline)
    cv = (
        emb_enriched(spark, sf_dir)
        .select("cluster", "vec_id", "embedding", "nrm")
        .repartition("cluster")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    av = cv.select(
        "cluster",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    bv = cv.select(
        "cluster",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    # dot / (stored_norm_a * stored_norm_b): ONE fold per pair instead of
    # three (the inlined cosine recomputed both norms per PAIR — this was
    # the suite's single most expensive stage at every tier; bitwise equal
    # to the oracle's inline form, same association) — r11, VERDICT item 5
    from ..functions.vectors import dot_sql

    cos = F.expr(dot_sql("ea", "eb", DIM, "spark")) / (
        F.col("na") * F.col("nb")
    )
    pairs = (
        av.join(bv, (av.cluster == bv.cluster) & (F.col("id_a") < F.col("id_b")))
        .filter(cos >= SEM_THRESHOLD)
        .select("id_a", "id_b")
    )
    comp = connected_components(pairs)
    dropped = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id"), F.lit(True).alias("is_dup")
    )
    per_doc = (
        docs.join(dropped, "doc_id", "left")
        .select(
            "source",
            F.expr(token_count_sql("text", "spark")).alias("n_tokens"),
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )
    s = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("bigint").alias(
            "n_dropped"
        ),
        F.sum(F.when(F.col("is_dup"), 0).otherwise(1)).cast("bigint").alias(
            "n_kept"
        ),
        F.sum(F.when(F.col("is_dup"), 0).otherwise(F.col("n_tokens")))
        .cast("bigint")
        .alias("kept_tokens"),
    )
    # eager checkpoint on the |sources|-row rollup (r15, the r14
    # racing-persist rule): `s` feeds BOTH the broadcast normalizer `t`
    # and the final projection, and `t`'s broadcast build raced the main
    # path re-deriving s's ENTIRE lineage — the SemDeDup pair join, the
    # component closure and the corpus tokenize ran twice per
    # invocation (q169 profile: 40 jobs, job_wall 3.2 s in a 4.6 s wall)
    s = s.localCheckpoint()
    t = s.agg(F.sum("kept_tokens").cast("bigint").alias("total_kept"))
    return s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "n_dropped",
        "n_kept",
        "kept_tokens",
        # column divisor: both engines' integer division (`div` / `//`)
        # truncate identically (tests/test_dialect_fuzz.py pins it), and
        # every operand here is a non-negative BIGINT
        F.expr(
            f"CAST((kept_tokens * {TRAIN_BUDGET_TOKENS}) div total_kept"
            " AS BIGINT)"
        ).alias("budget_tokens"),
    )


WPS_K = 12  # sample size per source

# Identical expression text in both dialects; one IEEE division of two
# exactly-representable integers (u < 16**8, the md5 8-hex-char prefix
# domain from functions/textfns) — bitwise deterministic cross-engine.
_WPS_PRIORITY = "CAST(u AS DOUBLE) / weight"


def _q183_oracle() -> str:
    from ..functions.textfns import hex_prefix_num_sql

    u = hex_prefix_num_sql("md5(CAST(doc_id AS VARCHAR))", 8)
    tc = token_count_sql("text", "duckdb")
    return f"""
    WITH keyed AS (
        SELECT source, doc_id,
               GREATEST(CAST({tc} AS BIGINT), 1) AS weight,
               {u} + 1 AS u
        FROM documents
    ),
    scored AS (
        SELECT source, doc_id, weight, {_WPS_PRIORITY} AS priority
        FROM keyed
    ),
    ranked AS (
        SELECT source, doc_id, weight, priority,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY priority, doc_id
               ) AS INT) AS rk
        FROM scored
    )
    SELECT source, doc_id, weight, priority, rk
    FROM ranked WHERE rk <= {WPS_K}
    ORDER BY source, rk
    """


@register(
    "q183_weighted_priority_sample",
    oracle=_q183_oracle(),
    tags=("sampling", "curation", "weighted"),
)
def q183_weighted_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement, per source:
    each doc draws a reproducible uniform u from md5(doc_id) and competes
    with priority u / weight (weight = token count — longer docs more
    likely sampled); the {WPS_K} smallest priorities per source win. The
    priority-key construction is the hash-determinized form of the
    exponential-clocks / A-ES family (Efraimidis & Spirtes 2006): same
    per-key independent-priority structure, with the engine-portable
    u/w key replacing u^(1/w) (pow() is in the transcendental class the
    cross-engine hash gate bans — the selection pressure is the same
    direction, the distribution a documented approximation). Unlike
    rand()-based TABLESAMPLE, the sample is identical across runs,
    engines, partitionings, and cluster sizes, and it MERGES: the top-k
    of a union is the top-k of per-shard top-ks, so each shard ships k
    candidates, never its corpus.

    Scale shape: weight and priority are per-row projections (no
    shuffle); the only exchange is the per-source window, and the
    rk <= {WPS_K} predicate lets Spark push a WindowGroupLimit below it,
    so each map task forwards at most k rows per source."""
    from ..functions.textfns import hex_prefix_num_sql

    docs = _docs(spark, sf_dir)
    keyed = docs.select(
        "source",
        "doc_id",
        F.greatest(
            F.expr(token_count_sql("text", "spark")).cast("bigint"), F.lit(1)
        ).alias("weight"),
        (
            F.expr(hex_prefix_num_sql("md5(CAST(doc_id AS STRING))", 8))
            + F.lit(1)
        ).alias("u"),
    )
    scored = keyed.withColumn("priority", F.expr(_WPS_PRIORITY))
    w = Window.partitionBy("source").orderBy("priority", "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= WPS_K)
        .select("source", "doc_id", "weight", "priority", "rk")
        .orderBy("source", "rk")
    )


LR_BUDGET = 100  # global sample budget apportioned across sources


@register(
    "q185_stratified_allocation",
    oracle=f"""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM counts),
    quota AS (
        SELECT c.source, c.n_docs,
               ({LR_BUDGET} * c.n_docs) // t.n AS base_alloc,
               ({LR_BUDGET} * c.n_docs) % t.n AS rem
        FROM counts c CROSS JOIN tot t
    ),
    leftover AS (
        SELECT CAST({LR_BUDGET} - SUM(base_alloc) AS BIGINT) AS r FROM quota
    ),
    ranked AS (
        SELECT q.*, l.r,
               CAST(ROW_NUMBER() OVER (ORDER BY q.rem DESC, q.source)
                    AS BIGINT) AS rem_rank
        FROM quota q CROSS JOIN leftover l
    )
    SELECT source, n_docs, base_alloc,
           CAST(rem_rank AS INT) AS remainder_rank,
           CASE WHEN rem_rank <= r THEN 1 ELSE 0 END AS got_extra,
           base_alloc + CASE WHEN rem_rank <= r THEN 1 ELSE 0 END AS alloc
    FROM ranked
    ORDER BY source
    """,
    tags=("sampling", "curation", "apportionment"),
)
def q185_stratified_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact proportional apportionment of a global sample budget across
    sources — Hamilton's largest-remainder method, the integer-exact way
    to answer 'give me {LR_BUDGET} docs, proportional to source sizes'
    without the float-quota drift that makes naive round(budget * share)
    sum to 99 or 101: base = floor(B*n_i/N) via integer division, then
    the B - Σbase leftover units go to the largest remainders
    (deterministic source tie-break). Every column is integer
    arithmetic; Σalloc == B by construction (tested).

    Scale shape: one map-side-combinable count shuffle (corpus → one row
    per source), then everything runs on the sources-sized frame — the
    1-row total and leftover ride hinted broadcasts, and the remainder
    window sorts #sources rows, never the corpus."""
    from pyspark.storagelevel import StorageLevel

    docs = _docs(spark, sf_dir)
    # bounded: one row per source; persisted because counts feeds the
    # total, the quota frame, and (via quota) the leftover — without it
    # each branch re-runs the corpus count shuffle (shared-frame rule)
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tot = counts.agg(F.sum("n_docs").cast("bigint").alias("n"))
    quota = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr(f"({LR_BUDGET} * n_docs) DIV n").alias("base_alloc"),
        F.expr(f"({LR_BUDGET} * n_docs) % n").alias("rem"),
    )
    leftover = quota.agg(
        (F.lit(LR_BUDGET) - F.sum("base_alloc")).cast("bigint").alias("r")
    )
    ranked = quota.crossJoin(F.broadcast(leftover)).withColumn(
        "rem_rank",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "source"))
        .cast("bigint"),
    )
    extra = F.when(F.col("rem_rank") <= F.col("r"), 1).otherwise(0)
    return ranked.select(
        "source",
        "n_docs",
        "base_alloc",
        F.col("rem_rank").cast("int").alias("remainder_rank"),
        extra.cast("bigint").alias("got_extra"),
        (F.col("base_alloc") + extra).alias("alloc"),
    ).orderBy("source")
