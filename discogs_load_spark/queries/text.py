"""Text-analysis query surface over the ``documents`` fixture: token
counting, quality scoring, language ID, fingerprinting (north-star ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.numeric import dec_avg, dec_avg_sql
from ..functions.textfns import (
    RH_K,
    STOPWORDS,
    adaptive_df_cap_sql,
    char_class_count_sql,
    doc_shingles_sql,
    norm_sql,
    rolling_hash_min_sql,
    shingles_sql,
    stopword_hits_sql,
    stopword_ratio_sql,
    token_count_sql,
    tokens_sql,
)
from ..operators.text import fingerprint, language_id, quality_signals, token_stats
from ..session import load_tables, local_frame
from .registry import register
from .sig_index import doc_signature_index, doc_tokens


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ["documents"])["documents"]


_D_TOKS = tokens_sql(norm_sql("text", "duckdb"), "duckdb")


@register(
    "q60_token_stats",
    oracle=f"""
    WITH per_doc AS (
        SELECT doc_id, source,
               {token_count_sql('text', 'duckdb')} AS n_tokens,
               len({_D_TOKS}) AS n_words,
               length(text) AS n_chars_obs
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           {dec_avg_sql("CAST(n_chars_obs AS DOUBLE)", "avg_chars")},
           MAX(n_tokens) AS max_tokens
    FROM per_doc GROUP BY source
    """,
    tags=("text", "tokens"),
)
def q60_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (BPE-ish regex + whitespace words) rolled up by
    source — integer sums, so no float-ordering concerns."""
    stats = token_stats(_docs(spark, sf_dir), "text")
    return stats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_words").alias("total_words"),
        dec_avg("CAST(n_chars_obs AS DOUBLE)", "avg_chars"),
        F.max("n_tokens").alias("max_tokens"),
    )


@register(
    "q61_quality_signals",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars_obs,
           {char_class_count_sql('text', '[a-zA-Z0-9 ]', 'duckdb')}
               / GREATEST(length(text), 1) AS punct_ratio,
           {char_class_count_sql('text', '[^0-9]', 'duckdb')}
               / GREATEST(length(text), 1) AS digit_ratio,
           len({_D_TOKS}) AS n_words,
           {stopword_hits_sql(_D_TOKS, STOPWORDS['en'], 'duckdb')}
               / GREATEST(len({_D_TOKS}), 1) AS stopword_ratio,
           (len({_D_TOKS}) >= 5
            AND {char_class_count_sql('text', '[a-zA-Z0-9 ]', 'duckdb')}
                / GREATEST(length(text), 1) < 0.3
            AND {char_class_count_sql('text', '[^0-9]', 'duckdb')}
                / GREATEST(length(text), 1) < 0.3
            AND {stopword_hits_sql(_D_TOKS, STOPWORDS['en'], 'duckdb')}
                / GREATEST(len({_D_TOKS}), 1) > 0.0) AS keep
    FROM documents
    """,
    tags=("text", "quality"),
)
def q61_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals + composite keep flag (the standard
    pre-training filter shape)."""
    return quality_signals(_docs(spark, sf_dir), "text").select(
        "doc_id",
        "n_chars_obs",
        "punct_ratio",
        "digit_ratio",
        "n_words",
        "stopword_ratio",
        "keep",
    )


def _langid_case(dialect: str) -> str:
    """Nested-CASE argmax with alphabetical first-wins ties — mirrors the
    fold in operators/text.py::language_id exactly (integer comparisons,
    so value parity is structural, not floating-point)."""
    toks = tokens_sql(norm_sql("text", dialect), dialect)
    guess, score = "'unknown'", "0"
    for lang in sorted(STOPWORDS):
        s = stopword_hits_sql(toks, STOPWORDS[lang], dialect)
        guess = f"(CASE WHEN {s} > {score} THEN '{lang}' ELSE {guess} END)"
        score = f"(CASE WHEN {s} > {score} THEN {s} ELSE {score} END)"
    return guess


@register(
    "q62_langid_confusion",
    oracle=f"""
    SELECT lang, {_langid_case('duckdb')} AS lang_guess, COUNT(*) AS n
    FROM documents GROUP BY 1, 2
    """,
    tags=("text", "langid"),
)
def q62_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID, cross-tabbed against the labeled lang
    (a confusion matrix; the fixture text is synthetic word salad, so this
    validates the operator, not real-world accuracy)."""
    guessed = language_id(_docs(spark, sf_dir), "text")
    return guessed.groupBy("lang", "lang_guess").agg(
        F.count(F.lit(1)).alias("n")
    )


_D_SH = doc_shingles_sql("text", 3, "duckdb")


@register(
    "q63_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5({norm_sql('text', 'duckdb')}) AS content_md5,
           md5(array_to_string(
               list_sort(list_transform(list_distinct({_D_SH}), s -> md5(s)))[1:4],
               ',')) AS winnow_fp
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def q63_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content md5 + winnowing-style fingerprint (md5 of the 4 smallest
    shingle hashes): robust to small edits, all per-row array math."""
    return fingerprint(_docs(spark, sf_dir), "doc_id", "text", k=3, n_min=4)


_Q65_TOKS = _D_TOKS  # documents token array, DuckDB dialect


@register(
    "q65_corpus_pipeline",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source, text,
               md5({norm_sql('text', 'duckdb')}) AS content_hash,
               len({_Q65_TOKS}) AS n_words,
               {stopword_hits_sql(_Q65_TOKS, STOPWORDS['en'], 'duckdb')}
                   / GREATEST(len({_Q65_TOKS}), 1) AS stopword_ratio
        FROM documents
    ),
    kept AS (
        SELECT * FROM scored WHERE n_words >= 5 AND stopword_ratio > 0.0
    ),
    deduped AS (
        SELECT content_hash, MIN(doc_id) AS keeper_id,
               COUNT(*) AS n_copies
        FROM kept GROUP BY content_hash
    )
    SELECT k.source,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(k.n_words) AS BIGINT) AS total_words
    FROM deduped d JOIN kept k ON k.doc_id = d.keeper_id
    GROUP BY k.source
    """,
    tags=("text", "pipeline", "dedup"),
)
def q65_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline in one declared query: quality
    filter → exact dedup (keep min doc_id per content hash) → per-source
    rollup. Each stage is the operator the standalone queries check
    (q61 quality, q50 dedup, q60 stats); this proves they compose."""
    docs = _docs(spark, sf_dir)
    scored = (
        quality_signals(docs, "text")
        .withColumn(
            "content_hash", F.md5(F.expr(norm_sql("text", "spark")))
        )
    )
    kept = scored.filter(
        (F.col("n_words") >= 5) & (F.col("stopword_ratio") > 0.0)
    )
    # keeper = min doc_id per content hash, selected with ONE window over
    # the hash key instead of the old groupBy + left_semi join: the semi
    # join derived `kept` on BOTH sides, so the quality-signal scan (the
    # expensive tokenizing map work) ran twice per invocation (r14; same
    # rows — a doc_id can only be the group minimum of its own group)
    from pyspark.sql import Window as _W

    return (
        kept.withColumn(
            "__keeper",
            F.min("doc_id").over(_W.partitionBy("content_hash")),
        )
        .filter(F.col("doc_id") == F.col("__keeper"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_words").alias("total_words"),
        )
    )


@register(
    "q66_rolling_hash",
    oracle=f"""
    SELECT doc_id,
           {rolling_hash_min_sql('text', 'duckdb')} AS rolling_min,
           GREATEST(length(text) - {RH_K - 1}, 0) AS n_windows
    FROM documents
    """,
    tags=("text", "fingerprint", "rolling-hash"),
)
def q66_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash fingerprint: min hash over all 8-char
    windows. The Spark side runs the O(n) rolling recurrence in one
    per-row fold (no shuffle, whole-stage codegen); the oracle recomputes
    each window from scratch — same values, independently derived."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.expr(rolling_hash_min_sql("text", "spark")).alias("rolling_min"),
        F.greatest(
            F.length("text") - (RH_K - 1), F.lit(0)
        ).alias("n_windows"),
    )


VOCAB_TOP_N = 200


@register(
    "q124_vocab_topk",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST({_D_TOKS}) AS token FROM documents
    ),
    counts AS (
        SELECT token,
               CAST(COUNT(*) AS BIGINT) AS term_freq,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
        FROM tok GROUP BY token
    )
    SELECT token, term_freq, doc_freq,
           CAST(ROW_NUMBER() OVER (ORDER BY term_freq DESC, token) AS INT) AS rank
    FROM counts
    ORDER BY term_freq DESC, token
    LIMIT {VOCAB_TOP_N}
    """,
    tags=("text", "vocab", "tokenizer"),
)
def q124_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary builder (tokenizer-training precursor): top-N
    tokens by corpus term frequency with per-token document frequency,
    deterministic lexical tie-break.

    Scale shape: explode->groupBy is ONE map-side-combinable shuffle keyed
    by token (partial counts collapse within each scan task, so bytes
    shuffled ~ |vocab| x partitions, not |corpus tokens|); doc_freq rides
    the same aggregate via COUNT(DISTINCT doc_id), which Spark expands to
    a two-phase partial-distinct plan — still token-keyed, never a second
    corpus scan. The global top-N over |vocab| rows is
    TakeOrderedAndProject, not a full sort. The corpus-frequency ordering
    this emits is exactly what the prefix-filter join (q123) consumes as
    its rarest-first canonical order.
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.expr(tokens_sql(norm_sql("text", "spark"), "spark"))).alias(
            "token"
        ),
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("term_freq"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    # top-N FIRST (TakeOrderedAndProject over |vocab|), then rank the N
    # survivors — the single-partition window only ever sees the constant
    # VOCAB_TOP_N rows, never the vocabulary
    from pyspark.sql import Window as W

    top = counts.orderBy(F.col("term_freq").desc(), "token").limit(VOCAB_TOP_N)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(W.orderBy(F.col("term_freq").desc(), F.col("token")))
        .cast("int"),
    )


MIN_POSTING_DF = 2  # drop hapax tokens: at corpus scale they dominate rows
MAX_POSTING_DF_FRAC = 0.8  # stop-word guard: drop tokens in > 80% of the corpus
POSTING_CAP = 64  # contract row ships a prefix; a real index shards postings


@register(
    "q134_inverted_index",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, UNNEST({_D_TOKS}) AS token FROM documents
    )
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS doc_freq,
           COALESCE(array_to_string(list_sort(list(doc_id))[1:{POSTING_CAP}],
                                    '|'), '') AS postings
    FROM tok
    GROUP BY token
    HAVING COUNT(*) >= {MIN_POSTING_DF}
       AND COUNT(*) <= {MAX_POSTING_DF_FRAC} * (SELECT COUNT(*) FROM documents)
    ORDER BY token
    """,
    tags=("text", "search", "index-build"),
)
def q134_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: token -> sorted posting list + doc
    frequency; hapax tokens (df < 2) and stop-word-grade tokens
    (df > 80% of the corpus) dropped. The classic IR/search build job as
    one map-side explode + ONE token-keyed shuffle: the document-frequency
    ceiling is computed with a count window OVER the token partition and
    filtered BEFORE the posting collect, so a corpus-scale stop word never
    materializes its posting array on a reducer (the q51 bucket-cap
    discipline, operators/dedup.py:_cap_buckets) — and the window, the
    filter, and the groupBy all share the token hash partitioning, so
    Catalyst plans a single exchange. The contract row ships the
    POSTING_CAP smallest doc ids (rank-filtered before the collect — a
    mid-frequency token's posting list is still corpus-proportional; a
    real index writes the full list SHARDED, not as one array row);
    doc_freq stays exact. '|'-joined sorted string (driver canonicalizer
    can't hash list cells)."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n_docs"))
    tok = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(tokens_sql(norm_sql("text", "spark"), "spark"))
            ).alias("token"),
        )
        .distinct()
        .join(F.broadcast(n_docs))
        .withColumn("df", F.count(F.lit(1)).over(W.partitionBy("token")))
        .filter(
            (F.col("df") >= MIN_POSTING_DF)
            & (F.col("df") <= F.col("__n_docs") * MAX_POSTING_DF_FRAC)
        )
        .withColumn(
            "__rn",
            F.row_number().over(W.partitionBy("token").orderBy("doc_id")),
        )
    )
    return (
        tok.groupBy("token")
        .agg(
            F.max("df").cast("bigint").alias("doc_freq"),
            F.array_join(
                F.transform(
                    # bounded: rank-filtered to <= POSTING_CAP before collect
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("__rn") <= POSTING_CAP, F.col("doc_id")
                            )
                        )
                    ),
                    lambda x: x.cast("string"),
                ),
                "|",
            ).alias("postings"),
        )
        .orderBy("token")
    )


SEARCH_TERMS = ("spark", "window", "vector")


@register(
    "q135_conjunctive_search",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, {_D_TOKS} AS t FROM documents)
    SELECT doc_id, source
    FROM toks
    WHERE {" AND ".join(f"list_contains(t, '{w}')" for w in SEARCH_TERMS)}
    ORDER BY doc_id
    """,
    tags=("text", "search", "semi-join"),
)
def q135_conjunctive_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) search executed the way an index-backed engine
    does it — one scan over the union of the terms' posting lists, the
    AND folded into a distinct-matched-term count (r14; the earlier
    per-term-semi-join chain re-derived the posting relation once per
    term) — while the oracle evaluates the DEFINITION (per-document
    array membership). Two independent algorithms, one answer: the
    differential gate at its most honest.

    Scale: the scan touches only the searched terms' posting rows (index
    lookup shape); the per-row array-contains scan the oracle runs would
    read every token of every document.
    """
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id",
        F.explode(F.expr(tokens_sql(norm_sql("text", "spark"), "spark"))).alias(
            "token"
        ),
    )
    # conjunction via ONE posting scan: a doc matches iff it holds ALL
    # terms, i.e. its count of DISTINCT matched terms equals the term
    # count. The per-term-semi-join form tokenized the corpus once PER
    # TERM (three racing ~2 s broadcast builds of the same explode chain
    # in the r14 profile); this is the same index-backed shape an engine
    # runs — one scan of the union of the terms' postings — with the
    # AND folded into the count.
    matched = (
        tok.filter(F.col("token").isin(*SEARCH_TERMS))
        .select("doc_id", "token")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__n_terms"))
        .filter(F.col("__n_terms") == len(SEARCH_TERMS))
        .select("doc_id")
    )
    return (
        docs.select("doc_id", "source")
        .join(matched, "doc_id", "left_semi")
        .orderBy("doc_id")
    )


@register(
    "q136_ranked_search",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, {_D_TOKS} AS t FROM documents),
    scored AS (
        SELECT doc_id, source,
               {" + ".join(f"CAST(list_contains(t, '{w}') AS INT)" for w in SEARCH_TERMS)}
                   AS n_matched
        FROM toks
    )
    SELECT doc_id, source, CAST(n_matched AS INT) AS n_matched
    FROM scored
    WHERE n_matched > 0
    ORDER BY n_matched DESC, doc_id
    LIMIT 50
    """,
    tags=("text", "search", "ranking"),
)
def q136_ranked_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive (OR) search with match-count ranking, top-50 with a
    deterministic doc_id tie-break — completing the search mini-suite
    (q134 builds the index, q135 ANDs, this ranks ORs). Spark executes it
    index-shaped: per-term posting sets union into (doc, term-hit) rows,
    one groupBy counts matches, TakeOrderedAndProject takes the cut —
    the oracle again evaluates the per-document definition.
    """
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id",
        F.explode(F.expr(tokens_sql(norm_sql("text", "spark"), "spark"))).alias(
            "token"
        ),
    )
    hits = (
        tok.filter(F.col("token").isin(*SEARCH_TERMS))
        .select("doc_id", "token")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_matched"))
    )
    return (
        docs.select("doc_id", "source")
        .join(hits, "doc_id")
        .orderBy(F.col("n_matched").desc(), "doc_id")
        .limit(50)
        .select("doc_id", "source", "n_matched")
    )


BOILERPLATE_K = 3  # shingle width
BOILERPLATE_TOP = 5  # per-source survivors


@register(
    "q142_boilerplate_ngrams",
    oracle=f"""
    WITH sh AS (
        SELECT source, unnest({_D_SH}) AS shingle FROM documents
    ),
    c AS (SELECT source, shingle, COUNT(*) AS n FROM sh GROUP BY 1, 2),
    r AS (
        SELECT source, shingle, n,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY n DESC, shingle
               ) AS rn
        FROM c
    )
    SELECT source, shingle, CAST(n AS BIGINT) AS n_occurrences,
           CAST(rn AS INT) AS rank
    FROM r WHERE rn <= {BOILERPLATE_TOP}
    """,
    tags=("text", "boilerplate", "curation"),
)
def q142_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: the most-repeated word 3-grams per source —
    headers/footers/license blurbs repeat verbatim across a crawl source,
    and this per-source top-k is the candidate list a curation pipeline
    strips before training. One explode + one (source, shingle) count +
    a per-source rank window with deterministic (count desc, shingle)
    tie-break; Spark pushes a partial top-k below the exchange
    (WindowGroupLimit), so the window never materializes a source's full
    n-gram vocabulary on one reducer."""
    from pyspark.sql import Window as W

    # BOILERPLATE_K == sig_index.SHINGLE_K: the stored 3-gram shingle
    # arrays ARE this query's n-grams (asserted in tests/test_sig_index)
    sh = doc_signature_index(spark, sf_dir).select(
        "source", F.explode("sh").alias("shingle")
    )
    c = sh.groupBy("source", "shingle").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("source").orderBy(F.desc("n"), F.asc("shingle"))
    return (
        c.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= BOILERPLATE_TOP)
        .select(
            "source",
            "shingle",
            F.col("n").cast("bigint").alias("n_occurrences"),
            "rank",
        )
    )


@register(
    "q143_length_histogram",
    oracle="""
    SELECT lang,
           CAST(length(bin(n_chars)) AS INT) AS log2_bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE n_chars > 0
    GROUP BY lang, log2_bucket
    """,
    tags=("text", "histogram", "curation"),
)
def q143_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram in power-of-two buckets per language —
    the length-distribution profile that picks truncation/packing
    budgets. The bucket is floor(log2(n))+1 computed as
    LENGTH(BIN(n)) — pure integer/string ops, so bucket edges are exact
    in both engines (float LOG2 at a power-of-two boundary is not).
    Pure map-side projection + tiny aggregate: at 100 TB this is a scan
    at parquet speed emitting |langs| x ~20 rows."""
    docs = _docs(spark, sf_dir)
    return (
        docs.filter(F.col("n_chars") > 0)
        .groupBy(
            "lang",
            F.length(F.bin("n_chars")).cast("int").alias("log2_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


BM25_K1 = "1.2"
BM25_B_COMPL = "0.25"  # 1 - b with b = 0.75
BM25_B = "0.75"
BM25_TOP = 20


def _bm25_term_score(tf: str, df: str, dl: str, ndocs: str, total_words: str) -> str:
    """One BM25 term's score as arithmetic text shared verbatim by both
    dialects. Rational-IDF variant: idf = (N - df + 0.5)/(df + 0.5) — the
    log is dropped so the whole score is +,-,*,/ over doubles, which IEEE
    makes bitwise identical across engines (LN/LOG are libm-dependent and
    would drift in the last bits, breaking the value-hash gate). Ranking
    order vs log-IDF is preserved for single-term contributions (the map
    x -> (N-x+0.5)/(x+0.5) is monotone in df exactly like the log form).
    """
    avgdl = f"(CAST({total_words} AS DOUBLE) / {ndocs})"
    idf = f"((CAST({ndocs} - {df} AS DOUBLE) + 0.5) / (CAST({df} AS DOUBLE) + 0.5))"
    tfpart = (
        f"((CAST({tf} AS DOUBLE) * ({BM25_K1} + 1.0)) / "
        f"(CAST({tf} AS DOUBLE) + ({BM25_K1} * ({BM25_B_COMPL} + "
        f"(({BM25_B} * CAST({dl} AS DOUBLE)) / {avgdl})))))"
    )
    return f"({idf} * {tfpart})"


def _bm25_oracle() -> str:
    tf = {w: f"len(list_filter(toks, t -> t = '{w}'))" for w in SEARCH_TERMS}
    df = {
        w: f"(SELECT SUM(CASE WHEN list_contains(toks, '{w}') THEN 1 ELSE 0 END) FROM d)"
        for w in SEARCH_TERMS
    }
    terms = " + ".join(
        f"CAST({_bm25_term_score(tf[w], f'df_{w}', 'dl', 'ndocs', 'total_words')}"
        f" AS DECIMAL(25,9))"
        for w in SEARCH_TERMS
    )
    hits = " + ".join(f"CAST({tf[w]} > 0 AS INT)" for w in SEARCH_TERMS)
    dfcols = ", ".join(f"{df[w]} AS df_{w}" for w in SEARCH_TERMS)
    return f"""
    WITH d AS (SELECT doc_id, {_D_TOKS} AS toks FROM documents),
    dl AS (SELECT doc_id, toks, len(toks) AS dl FROM d),
    stats AS (
        SELECT COUNT(*) AS ndocs, CAST(SUM(dl) AS BIGINT) AS total_words,
               {dfcols}
        FROM dl
    )
    SELECT doc_id,
           CAST(({terms}) AS DOUBLE) AS score,
           CAST(({hits}) AS INT) AS n_terms
    FROM dl CROSS JOIN stats
    WHERE ({hits}) > 0
    ORDER BY score DESC, doc_id
    LIMIT {BM25_TOP}
    """


@register(
    "q145_bm25_topk",
    oracle=_bm25_oracle(),
    tags=("text", "search", "ranking", "bm25"),
)
def q145_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-ranked retrieval (rational-IDF variant, k1=1.2 b=0.75) for the
    standing query terms — the scoring layer on top of the q134-q136
    search suite. Spark runs it index-shaped: term postings with per-doc
    tf (one explode + one (doc, term)-keyed combiner shuffle restricted to
    the query terms), document frequency as a tiny per-term aggregate
    broadcast back, corpus stats (N, avgdl) as a broadcast 1-row
    aggregate, and the per-term partial scores summed with the exact
    DECIMAL recipe so the 3-term sum is order-insensitive. The oracle
    evaluates the per-document definition (array tf via list_filter) with
    the identical arithmetic text — two algorithms, one bitwise answer.
    Top-k is TakeOrderedAndProject with a doc_id tie-break.

    At 100 TB: the posting scan is pruned to |query terms| tokens before
    the shuffle, so shuffled bytes scale with matching docs, not corpus
    tokens; df/stats are scalar broadcasts; no window over the corpus.
    """
    base = doc_tokens(spark, sf_dir).select("doc_id", "toks")
    # dl rides the posting explode as a per-doc constant (r14): the
    # previous separate dl frame cost a (doc_id) shuffle join AND a
    # second index scan; filtering the array BEFORE the explode keeps
    # the exploded row count at |matching tokens|, same as the old
    # explode-then-filter
    tok = base.select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.explode(
            F.filter("toks", lambda t: t.isin(*SEARCH_TERMS))
        ).alias("token"),
    )
    # eager checkpoint (r14): tf (|matching docs| x |terms|, tiny) feeds
    # BOTH the df broadcast build and the scored join — left lazy, the
    # racing branches re-ran the posting scan + combiner shuffle twice.
    # dl is constant per doc_id, so adding it to the grouping key leaves
    # the groups identical.
    tf = (
        tok.groupBy("doc_id", "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    stats = base.agg(
        F.count(F.lit(1)).alias("ndocs"),
        F.sum(F.size("toks")).cast("bigint").alias("total_words"),
    )
    score_txt = _bm25_term_score("tf", "df", "dl", "ndocs", "total_words")
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(f"CAST({score_txt} AS DECIMAL(25,9))").alias("part"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.expr("CAST(CAST(SUM(part) AS DECIMAL(25,9)) AS DOUBLE)").alias(
                "score"
            ),
            F.count(F.lit(1)).cast("int").alias("n_terms"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(BM25_TOP)
    )


LM_MIN_COUNT = 3  # prune rare bigrams from the scoring table (KenLM-style)

_BG2 = doc_shingles_sql("text", 2, "duckdb")


@register(
    "q146_lm_doc_score",
    oracle=f"""
    WITH bg AS (
        SELECT doc_id, unnest({_BG2}) AS bigram FROM documents
    ),
    c AS (SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram),
    lm AS (
        SELECT bigram, CAST(n AS DOUBLE) / n_prefix AS p
        FROM (
            SELECT bigram, n,
                   SUM(n) OVER (PARTITION BY string_split(bigram, ' ')[1])
                       AS n_prefix
            FROM c
        )
        WHERE n >= {LM_MIN_COUNT}
    )
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(COUNT(lm.p) AS BIGINT) AS n_scored,
           CAST(SUM(CAST(lm.p AS DECIMAL(25,9))) AS DOUBLE) / COUNT(lm.p)
               AS avg_p
    FROM bg LEFT JOIN lm ON bg.bigram = lm.bigram
    GROUP BY bg.doc_id
    """,
    tags=("text", "ngram-lm", "quality", "curation"),
)
def q146_lm_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fluency score under the corpus bigram LM — the
    perplexity-filter shape every pre-training pipeline runs (score docs
    with a small LM, drop the tail), kept rational for the value-hash
    gate: the score is the mean conditional probability P(w2|w1) over the
    doc's bigrams (log-free; monotone proxy for the standard avg-log-prob
    at the filtering decision boundary). The LM is count-pruned at
    n >= {LM_MIN_COUNT}; prefix mass is computed over the UNPRUNED counts
    (real LM normalization), docs join against the pruned table with a
    left join so coverage (n_scored/n_bigrams) is part of the output.

    Scale shape: the LM table is vocabulary-sized (bigram types), built
    with one combiner shuffle; the prefix-mass window runs over the COUNT
    table, never the corpus; scoring is one (bigram)-keyed join of corpus
    bigram occurrences against that table — AQE broadcasts the pruned LM
    when it fits. The mean uses the exact DECIMAL sum, so partitioning
    never changes a score.
    """
    from pyspark.sql import Window as W

    from ..functions.textfns import shingles_sql

    bg = doc_tokens(spark, sf_dir).select(
        "doc_id",
        F.explode(F.expr(shingles_sql("toks", 2, "spark"))).alias("bigram"),
    )
    c = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    lm = (
        c.withColumn("w1", F.split(F.col("bigram"), " ").getItem(0))
        .withColumn("n_prefix", F.sum("n").over(W.partitionBy("w1")))
        .filter(F.col("n") >= LM_MIN_COUNT)
        .select(
            "bigram",
            (F.col("n").cast("double") / F.col("n_prefix")).alias("p"),
        )
    )
    return (
        bg.join(lm, "bigram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.count("p").cast("bigint").alias("n_scored"),
            F.expr(
                "CAST(SUM(CAST(p AS DECIMAL(25,9))) AS DOUBLE) / COUNT(p)"
            ).alias("avg_p"),
        )
    )


DUPNGRAM_K = 3


@register(
    "q147_dup_ngram_fraction",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, unnest({_D_SH}) AS shingle FROM documents
    ),
    d AS (
        SELECT doc_id, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh
    ),
    g AS (
        SELECT doc_id, COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup
        FROM d GROUP BY doc_id
    )
    SELECT doc_id, n_shingles, n_dup,
           (CAST(n_dup AS DOUBLE) / n_shingles) AS dup_frac
    FROM g
    """,
    tags=("text", "dedup", "substring", "curation"),
)
def q147_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-document n-gram duplication signal: the fraction of a
    document's distinct word {DUPNGRAM_K}-grams that appear in at least
    one other document — the scalable proxy for suffix-array
    exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): a high dup_frac marks boilerplate and
    near-copies that MinHash's document-level granularity misses.

    One explode + distinct, then the document-frequency count window OVER
    the shingle partition (the q134 discipline: the window and the
    per-doc groupBy share one shingle-keyed exchange, and no per-shingle
    posting list is ever materialized), then a doc-keyed count rollup.
    All integer counts; the fraction is one double division.
    """
    from pyspark.sql import Window as W

    # DUPNGRAM_K == sig_index.SHINGLE_K: read the stored shingle arrays
    sh = (
        doc_signature_index(spark, sf_dir)
        .select("doc_id", F.explode("sh").alias("shingle"))
        .distinct()
        .withColumn("df", F.count(F.lit(1)).over(W.partitionBy("shingle")))
    )
    g = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum((F.col("df") >= 2).cast("int")).cast("bigint").alias("n_dup"),
    )
    return g.select(
        "doc_id",
        "n_shingles",
        "n_dup",
        (F.col("n_dup").cast("double") / F.col("n_shingles")).alias("dup_frac"),
    )


BIGRAM_TOP = 100


@register(
    "q144_bigram_lm_counts",
    oracle=f"""
    WITH bg AS (
        SELECT unnest({doc_shingles_sql("text", 2, "duckdb")}) AS bigram
        FROM documents
    ),
    c AS (SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram),
    w AS (
        SELECT bigram, string_split(bigram, ' ')[1] AS w1, n,
               SUM(n) OVER (PARTITION BY string_split(bigram, ' ')[1])
                   AS n_prefix
        FROM c
    )
    SELECT bigram, CAST(n AS BIGINT) AS n,
           CAST(n_prefix AS BIGINT) AS n_prefix,
           CAST(n AS DOUBLE) / n_prefix AS p_cond
    FROM w
    ORDER BY n DESC, bigram
    LIMIT {BIGRAM_TOP}
    """,
    tags=("text", "ngram-lm", "curation"),
)
def q144_bigram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model table build: count(w1 w2), the prefix mass
    count(w1 *), and the conditional probability P(w2|w1) — the classic
    KenLM-style count pass (top-{BIGRAM_TOP} by frequency with a bigram
    tie-break). Bigrams reuse the 2-shingle builder (zip_with, map-side);
    counts shuffle once on the bigram; the prefix mass is a window over
    the COUNTS (vocabulary-sized, not corpus-sized) partitioned by w1.
    P(w2|w1) is one bigint/bigint double division — deterministic, no
    float aggregation. At 100 TB the count table is the only shuffled
    payload, which is the job's output anyway."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    bg = docs.select(
        F.explode(
            F.expr(doc_shingles_sql("text", 2, "spark"))
        ).alias("bigram")
    )
    c = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    win = W.partitionBy("w1")
    return (
        c.withColumn("w1", w1)
        .withColumn("n_prefix", F.sum("n").over(win).cast("bigint"))
        .select(
            "bigram",
            F.col("n").cast("bigint").alias("n"),
            "n_prefix",
            (F.col("n").cast("double") / F.col("n_prefix")).alias("p_cond"),
        )
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(BIGRAM_TOP)
    )


NUCLEUS_P = "0.9"  # top-p mass kept per prefix (literal: same text both engines)
NUCLEUS_MIN_PREFIX = 30  # score only prefixes with enough mass


@register(
    "q160_nucleus_vocab",
    oracle=f"""
    WITH bg AS (
        SELECT unnest({_BG2}) AS bigram FROM documents
    ),
    c AS (SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram),
    w AS (
        SELECT bigram, string_split(bigram, ' ')[1] AS w1,
               string_split(bigram, ' ')[2] AS w2, n,
               SUM(n) OVER (PARTITION BY string_split(bigram, ' ')[1])
                   AS n_prefix,
               SUM(n) OVER (
                   PARTITION BY string_split(bigram, ' ')[1]
                   ORDER BY n DESC, bigram
                   ROWS UNBOUNDED PRECEDING
               ) AS cum_n,
               ROW_NUMBER() OVER (
                   PARTITION BY string_split(bigram, ' ')[1]
                   ORDER BY n DESC, bigram
               ) AS rn
        FROM c
    )
    SELECT w1, w2, CAST(n AS BIGINT) AS n,
           CAST(n_prefix AS BIGINT) AS n_prefix,
           CAST(rn AS INT) AS rank
    FROM w
    WHERE n_prefix >= {NUCLEUS_MIN_PREFIX}
      AND (cum_n - n) < {NUCLEUS_P} * n_prefix
    """,
    tags=("text", "ngram-lm", "nucleus", "curation"),
)
def q160_nucleus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p) vocabulary pruning per prefix: for every context
    word w1 (with at least {NUCLEUS_MIN_PREFIX} continuations observed),
    keep the smallest probability-ranked set of continuations whose
    cumulative mass reaches p=0.9 — a continuation survives iff the mass
    BEFORE it is under p x n_prefix, the standard top-p rule (Holtzman et
    al. 2020) stated entirely in INTEGER arithmetic (cumulative count vs
    0.9 * prefix count), so the cut is bitwise-identical in both engines
    with no float summation anywhere.

    Plan shape: one bigram count shuffle (vocabulary-sized output), then
    prefix mass / cumulative count / rank as three window frames over the
    SAME w1 partition — one exchange, shared sort — over counts, never
    the corpus. The (n DESC, bigram) ordering is the q144 deterministic
    tie-break."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    bg = docs.select(
        F.explode(F.expr(doc_shingles_sql("text", 2, "spark"))).alias("bigram")
    )
    c = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    sp = F.split(F.col("bigram"), " ")
    part = W.partitionBy("w1")
    ordered = part.orderBy(F.desc("n"), F.asc("bigram"))
    cum = ordered.rowsBetween(W.unboundedPreceding, W.currentRow)
    w = (
        c.withColumn("w1", sp.getItem(0))
        .withColumn("w2", sp.getItem(1))
        .withColumn("n_prefix", F.sum("n").over(part))
        .withColumn("cum_n", F.sum("n").over(cum))
        .withColumn("rn", F.row_number().over(ordered))
    )
    return w.filter(
        (F.col("n_prefix") >= NUCLEUS_MIN_PREFIX)
        & ((F.col("cum_n") - F.col("n")) < F.expr(f"{NUCLEUS_P} * n_prefix"))
    ).select(
        "w1",
        "w2",
        F.col("n").cast("bigint").alias("n"),
        F.col("n_prefix").cast("bigint").alias("n_prefix"),
        F.col("rn").cast("int").alias("rank"),
    )

BPE_TOP_WORDS = 300  # word-histogram truncation: training corpus for merges
BPE_ROUNDS = 8  # unrolled merge-learning rounds under the value-hash gate


def _duck_merge_fold(src_list: str, lhs: str, rhs: str) -> str:
    """DuckDB greedy left-to-right non-overlapping pair-merge fold:
    ``list_reduce`` over single-element lists (the same semantics as the
    Spark ``aggregate`` fold: 'aaaa' + (a,a) -> [aa, aa]). NULL lhs/rhs
    (a merge-less round joined via LEFT JOIN ON TRUE) makes the CASE
    condition NULL, so every element falls to ELSE and the list passes
    through unmerged — identical to the Spark fold's try_element_at
    NULL-compare path."""
    return f"""list_reduce(list_transform({src_list}, x -> [x]),
                   (acc, x) -> CASE
                       WHEN acc[-1] = {lhs} AND x[1] = {rhs}
                       THEN list_concat(acc[1:-2], [{lhs} || {rhs}])
                       ELSE list_concat(acc, x) END)"""


def _bpe_train_ctes(prelude: str, hist_sql: str) -> str:
    """Shared CTE body: unrolled BPE merge learning — the DuckDB referee
    for q171/q172. ``prelude`` supplies caller-specific CTEs; ``hist_sql``
    is a (w, cnt) word-histogram SELECT over them, so a caller that
    already counts (source, word) pairs (q172) derives the histogram with
    a vocabulary-sized rollup instead of a second corpus scan. Each round
    re-derives pair counts from the truncated histogram, picks the
    (freq DESC, lhs, rhs) argmax into ``b{{i}}``, and applies the merge
    with the greedy fold; a merge-less round leaves the histogram intact
    (LEFT JOIN ON TRUE + NULL-pass-through fold) instead of annihilating
    it. Every w_i/b_i CTE is MATERIALIZED so DuckDB evaluates each round
    once, not once per downstream reference."""
    head = f"""
    WITH {prelude}
    top_words AS MATERIALIZED (
        SELECT w, cnt FROM ({hist_sql})
        ORDER BY cnt DESC, w LIMIT {BPE_TOP_WORDS}
    ),
    w0 AS MATERIALIZED (
        SELECT w, cnt,
               list_transform(generate_series(1, length(w)),
                              i -> substr(w, i, 1)) AS s
        FROM top_words
    )"""
    steps = []
    for i in range(BPE_ROUNDS):
        steps.append(f"""
    pc{i} AS (
        SELECT s[i] AS lhs, s[i + 1] AS rhs, CAST(SUM(cnt) AS BIGINT) AS freq
        FROM w{i}, UNNEST(generate_series(1, len(s) - 1)) AS t(i)
        GROUP BY 1, 2
    ),
    b{i} AS MATERIALIZED (
        SELECT lhs, rhs, freq FROM pc{i} ORDER BY freq DESC, lhs, rhs LIMIT 1
    ),
    w{i + 1} AS MATERIALIZED (
        SELECT w, cnt,
               {_duck_merge_fold("s", "b.lhs", "b.rhs")} AS s
        FROM w{i} LEFT JOIN b{i} b ON TRUE
    )""")
    return head + "," + ",".join(steps)


_D_TOK_HIST_PRELUDE = f"""tok AS (
        SELECT UNNEST({_D_TOKS}) AS w FROM documents
    ),"""
_D_TOK_HIST = "SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY w"


def _bpe_oracle() -> str:
    tail = "\n    UNION ALL\n".join(
        f"    SELECT {i + 1} AS round, lhs, rhs, freq FROM b{i}"
        for i in range(BPE_ROUNDS)
    )
    return (
        _bpe_train_ctes(_D_TOK_HIST_PRELUDE, _D_TOK_HIST)
        + f"\n    SELECT * FROM (\n{tail}\n    ) ORDER BY round"
    )


_SPARK_MERGE_FOLD = (
    "aggregate({src}, CAST(array() AS array<string>), (acc, x) -> "
    "CASE WHEN try_element_at(acc, -1) = {lhs} AND x = {rhs} "
    "THEN concat(slice(acc, 1, size(acc) - 1), "
    "            array(concat({lhs}, {rhs}))) "
    "ELSE concat(acc, array(x)) END)"
)


def _sql_str_lit(s: str) -> str:
    """SQL string literal (tokens are [a-z0-9]+ post-norm, but escape
    anyway so the expression is safe for any symbol content)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _merge_step(frame: DataFrame, best, sym_col: str) -> DataFrame:
    """Apply one learned merge (a collected (lhs, rhs, freq) row, or None
    for a round that found no pairs) to ``frame[sym_col]`` as a literal
    fold — a narrow expression, no join. A None merge is the identity:
    every row passes through unmerged, identically to the old empty-
    broadcast-frame LEFT-join form (r14 optimization: the per-round
    broadcast of a 1-row frame cost a BroadcastExchange + an eager
    localCheckpoint job per round; the argmax row is a bounded driver
    scalar — the convergence-scalar collect class — so folding it in as
    literals removes both)."""
    if best is None:
        return frame
    other = [c for c in frame.columns if c != sym_col]
    return frame.select(
        *other,
        F.expr(
            _SPARK_MERGE_FOLD.format(
                src=sym_col,
                lhs=_sql_str_lit(best["lhs"]),
                rhs=_sql_str_lit(best["rhs"]),
            )
        ).alias(sym_col),
    )


def _bpe_merge_symbols(s: list, lhs: str, rhs: str) -> list:
    """Greedy left-to-right non-overlapping merge — the driver-side twin
    of _SPARK_MERGE_FOLD ('aaaa' + (a,a) -> [aa, aa]; the fold semantics
    tests/test_llm_ops.py pins cross-engine)."""
    out: list = []
    i = 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
            out.append(lhs + rhs)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def _learn_bpe_merges(word_counts: DataFrame) -> list:
    """Run the merge-learning loop over a (w, cnt) word-count frame;
    return the per-round argmax results as (lhs, rhs, freq) dicts — None
    for a round with no pairs left.

    The top-K truncation runs distributed (the only corpus-coupled
    step); the truncated histogram is then COLLECTED (bounded:
    BPE_TOP_WORDS=300 rows — the q130 vocab-bounded class) and ALL
    BPE_ROUNDS of pair counting, argmax and merging run driver-side in
    exact integer/string arithmetic (r14 — the previous form paid one
    Spark job per round over a checkpointed 300-row frame, ~10 fixed-cost
    jobs for microseconds of actual work; Python ints ARE BIGINT here
    and the merge is the identical greedy fold, so the learned rules are
    bitwise the rules the in-plan loop produced). Argmax tie-break:
    (freq DESC, lhs, rhs) — identical to the old
    orderBy(desc(freq), lhs, rhs).limit(1)."""
    # bounded: BPE_TOP_WORDS rows (the vocab-truncated histogram)
    words = word_counts.orderBy(F.desc("cnt"), "w").limit(
        BPE_TOP_WORDS
    ).collect()
    syms = [(list(r["w"]), r["cnt"]) for r in words]
    bests: list = []
    for _ in range(BPE_ROUNDS):
        freqs: dict = {}
        for s, cnt in syms:
            for a, b in zip(s, s[1:]):
                freqs[(a, b)] = freqs.get((a, b), 0) + cnt
        if not freqs:
            bests.append(None)
            continue
        (lhs, rhs), freq = min(
            freqs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        bests.append({"lhs": lhs, "rhs": rhs, "freq": freq})
        syms = [(_bpe_merge_symbols(s, lhs, rhs), cnt) for s, cnt in syms]
    return bests


def _doc_word_counts(tok_arrays: DataFrame) -> DataFrame:
    """Corpus word histogram from a (.., toks) token-array frame (the
    signature index's tokenized corpus — sig_index.doc_tokens)."""
    return (
        tok_arrays.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


@register(
    "q171_bpe_merges",
    oracle=_bpe_oracle(),
    tags=("text", "tokenizer", "bpe", "iterative"),
)
def q171_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016): learn
    the first BPE_ROUNDS=8 merge rules over the corpus word histogram —
    the fourth unrolled iterative algorithm under the value-hash gate
    after k-means (q99), connected components (q89), and PageRank (q130).

    The classic formulation trains on word frequencies, not the raw
    corpus: the ONLY corpus-sized work is the q124-shaped token count
    (one map-side-combinable shuffle keyed by word), truncated to the
    top-BPE_TOP_WORDS=300 histogram with the (cnt DESC, word)
    deterministic tie-break. Every merge round then runs on that
    constant-row frame: pair counts come from exploding adjacent symbol
    pairs (two slices zipped — no sequence(), whose Spark
    descending-on-empty edge differs from DuckDB's), the argmax pair is a
    1-row TakeOrderedAndProject with a full tie-break, and the merge
    itself is a greedy left-to-right ``aggregate`` fold (non-overlapping,
    leftmost-first: 'aaaa' + (a,a) -> [aa, aa] — pinned cross-engine in
    tests/test_llm_ops.py). ``try_element_at`` keeps the
    empty-accumulator probe ANSI-safe. A round with no pairs left emits
    no row (the output may be shorter than 8 rows on degenerate corpora)
    and leaves the histogram untouched for later rounds — identically in
    both engines.

    Scale shape: rounds cost O(top-K) each regardless of corpus size, so
    at 100 TB the wall time is the token count plus a constant; the 1-row
    argmax and the histogram are ``localCheckpoint``ed (the q130 lineage
    discipline — without it the 8-round plan re-derives each round once
    per downstream branch, exponentially)."""
    bests = _learn_bpe_merges(_doc_word_counts(doc_tokens(spark, sf_dir)))
    # bests are collected 1-row scalars (see _learn_bpe_merges); the
    # 8-row output is rebuilt as a local relation — same rows, types and
    # round order as the old per-round-frame union
    rows = [
        (i + 1, b["lhs"], b["rhs"], b["freq"])
        for i, b in enumerate(bests)
        if b is not None
    ]
    return local_frame(
        spark, rows, "round int, lhs string, rhs string, freq bigint"
    ).orderBy("round")


def _bpe_encode_oracle() -> str:
    """q172 referee: derive the (source, word) counts FIRST, roll them up
    into the training histogram (vocabulary-sized — no second corpus
    scan, mirroring the Spark side), re-derive the q171 merges, then
    encode every DISTINCT corpus word by applying the merges in learned
    order and aggregate token/char counts per source."""
    d_toks = tokens_sql(norm_sql("text", "duckdb"), "duckdb")
    prelude = f"""tokd AS (
        SELECT source, UNNEST({d_toks}) AS w FROM documents
    ),
    counts AS MATERIALIZED (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tokd GROUP BY 1, 2
    ),"""
    hist = "SELECT w, CAST(SUM(c) AS BIGINT) AS cnt FROM counts GROUP BY w"
    enc_steps = []
    for i in range(BPE_ROUNDS):
        enc_steps.append(f"""
    e{i + 1} AS MATERIALIZED (
        SELECT w, {_duck_merge_fold("s", "b.lhs", "b.rhs")} AS s
        FROM e{i} LEFT JOIN b{i} b ON TRUE
    )""")
    return (
        _bpe_train_ctes(prelude, hist)
        + f""",
    e0 AS MATERIALIZED (
        SELECT DISTINCT w,
               list_transform(generate_series(1, length(w)),
                              i -> substr(w, i, 1)) AS s
        FROM counts
    ),"""
        + ",".join(enc_steps)
        + f""",
    wtok AS (
        SELECT w, CAST(len(s) AS BIGINT) AS nt,
               CAST(length(w) AS BIGINT) AS nc
        FROM e{BPE_ROUNDS}
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_words,
           CAST(SUM(c * nc) AS BIGINT) AS n_chars,
           CAST(SUM(c * nt) AS BIGINT) AS n_tokens
    FROM counts JOIN wtok USING (w)
    GROUP BY source ORDER BY source
    """
    )


@register(
    "q172_bpe_encode",
    oracle=_bpe_encode_oracle(),
    tags=("text", "tokenizer", "bpe"),
)
def q172_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the q171-learned BPE merges to encode the WHOLE corpus and
    report per-source token statistics (words, chars, post-BPE tokens) —
    the train->apply half of the tokenizer pipeline.

    Scale shape — ONE corpus-sized shuffle total: the (source, word)
    count; the training histogram is a vocabulary-sized rollup of those
    counts (not a second corpus scan), and the encoder runs 8 narrow
    merge folds over the vocabulary-sized distinct-word frame (a single
    codegen stage — the 1-row merge frames are broadcast LEFT joins, so a
    merge-less round passes words through instead of annihilating them,
    and the already-checkpointed trainer output means no branching
    re-runs training). Token counts per word ride the final join back
    onto the count frame — vocabulary x (source-vocabulary), both orders
    of magnitude smaller than the corpus at any scale — so the per-source
    totals are exact integers (no floats anywhere)."""
    tokd = doc_tokens(spark, sf_dir).select(
        "source", F.explode("toks").alias("w")
    )
    counts = tokd.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # the one corpus-sized shuffle feeds BOTH the trainer histogram and
    # the final rollup; persist so the two consumers share it
    counts = counts.persist()
    hist = counts.groupBy("w").agg(F.sum("c").cast("bigint").alias("cnt"))
    bests = _learn_bpe_merges(hist)
    enc = counts.select("w").distinct().select(
        "w",
        F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))").alias("s"),
    )
    for b in bests:
        enc = _merge_step(enc, b, "s")
    wtok = enc.select(
        "w",
        F.size("s").cast("bigint").alias("nt"),
        F.length("w").cast("bigint").alias("nc"),
    )
    return (
        counts.join(wtok, "w")
        .groupBy("source")
        .agg(
            F.sum("c").alias("n_words"),
            F.sum(F.col("c") * F.col("nc")).alias("n_chars"),
            F.sum(F.col("c") * F.col("nt")).alias("n_tokens"),
        )
        .orderBy("source")
    )


GD_ROUNDS = 5
GD_LR = "0.5"  # literal text so both engines fold the same constant


def _gd_exprs(w: str, b: str) -> dict[str, str]:
    """Shared per-row texts for one gradient step at weights (w, b).
    The sigmoid is the RATIONAL fast-sigmoid 0.5 + z/(2*(1+|z|)) — same
    monotone shape as logistic, but built from +,*,/,abs only, so the
    per-row double arithmetic is bitwise identical in both engines
    (exp() is NOT — libm vs JVM transcendentals differ in the last ulp,
    the engine-determinism class this repo bans)."""
    z = f"(({w}) * x + ({b}))"
    p = f"(0.5 + {z} / (2.0 * (1.0 + abs({z}))))"
    return {
        "e": f"({p} - y)",
        "ex": f"(({p} - y) * x)",
        # p >= 0.5 <=> z >= 0 exactly (p is 0.5 + an odd monotone term)
        "correct": f"(CASE WHEN ({z} >= 0) = (y = 1.0) THEN 1 ELSE 0 END)",
    }


def _gd_oracle() -> str:
    """q176 referee: the same unrolled full-batch rounds as chained CTEs.
    Each s{i} carries (w, b, n_correct) where n_correct is measured with
    the PRE-update weights during the same corpus pass that computes the
    decimal-exact gradient means."""
    x = stopword_ratio_sql(_D_TOKS, STOPWORDS["en"], "duckdb")
    head = f"""
    WITH f AS MATERIALIZED (
        SELECT {x} AS x,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        FROM documents
    ),
    s0 AS (SELECT CAST(0.0 AS DOUBLE) AS w, CAST(0.0 AS DOUBLE) AS b)"""
    steps = []
    for i in range(GD_ROUNDS):
        e = _gd_exprs("s.w", "s.b")
        steps.append(f"""
    s{i + 1} AS MATERIALIZED (
        SELECT s.w - {GD_LR} * ({dec_avg_sql(e["ex"], "gw").rsplit(" AS ", 1)[0]}) AS w,
               s.b - {GD_LR} * ({dec_avg_sql(e["e"], "gb").rsplit(" AS ", 1)[0]}) AS b,
               CAST(SUM({e["correct"]}) AS BIGINT) AS n_correct
        FROM f, s{i} s
        GROUP BY s.w, s.b
    )""")
    tail = "\n    UNION ALL\n".join(
        f"    SELECT {i + 1} AS round, w, b, n_correct FROM s{i + 1}"
        for i in range(GD_ROUNDS)
    )
    return head + "," + ",".join(steps) + f"\n    SELECT * FROM (\n{tail}\n    ) ORDER BY round"


def _stopword_feature_frame(docs: DataFrame, y_sql: str, y_type: str) -> DataFrame:
    """(x, y) stopword-ratio feature frame shared by the classifier-
    training (q176) and AUC-evaluation (q177) pair — x =
    stopword_ratio_sql's exact value, y = the caller's label expression.

    Arrow (r15, guide §4 / the CDC-chunker precedent): the SQL form's
    ``filter(toks, t -> t IN (...))`` is an interpreted Catalyst lambda
    paying a per-token linear IN scan (~6.3 s for the sf1 featurize pass
    — the whole cost of both queries' corpus pass), while a Python
    frozenset lookup over the SAME normalized string is a tight C loop
    (measured 1.8 s, x3.5). Bitwise equality with the SQL form the
    oracles use is test-pinned (tests/test_new_ops.py): the normalize
    happens JVM-side; Python's str.split(' ') equals Spark's split on the
    single-space-collapsed norm; hits and token counts are exact ints,
    and int/int float division is correctly rounded in both runtimes, so
    the double x is bit-identical. NULL text -> NULL norm -> NULL x;
    '' norm -> 0.0."""
    from pyspark.sql import types as T

    y_col = F.expr(y_sql).cast(y_type)
    base = docs.select(
        F.expr(norm_sql("text", "spark")).alias("__n"), y_col.alias("y")
    )
    schema = T.StructType(
        [
            T.StructField("x", T.DoubleType()),
            base.schema["y"],
        ]
    )
    sw = frozenset(STOPWORDS["en"])

    def feat(batches):
        import pandas as pd

        for pdf in batches:
            xs: list = []
            for s in pdf["__n"]:
                if s is None:
                    xs.append(None)
                    continue
                if s == "":
                    xs.append(0.0)
                    continue
                t = s.split(" ")
                hits = 0
                for w in t:
                    if w in sw:
                        hits += 1
                xs.append(hits / len(t))
            yield pd.DataFrame({"x": xs, "y": pdf["y"]})

    return base.mapInPandas(feat, schema)


@register(
    "q176_quality_classifier",
    oracle=_gd_oracle(),
    tags=("text", "quality", "classifier", "iterative", "curation"),
)
def q176_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed training of a quality/language classifier — the
    fastText-style curation step (train a cheap classifier, score the
    corpus) as the FIFTH unrolled iterative algorithm under the value-
    hash gate: 5 full-batch gradient-descent rounds on (stopword-ratio ->
    is-English) with a RATIONAL fast sigmoid (0.5 + z/(2(1+|z|)) — same
    monotone shape as logistic but +,*,/,abs only, so per-row doubles are
    bitwise identical cross-engine; exp() would differ in the last ulp).
    Gradient means are decimal-summed (order-insensitive); each round's
    output row carries the post-update (w, b) and the n_correct measured
    with pre-update weights during the same pass.

    Scale shape: the feature frame (x, y — two doubles per doc) is
    materialized ONCE from the corpus-sized tokenize pass and persisted
    (the standard featurize-then-iterate ML layout); each round is then
    ONE map-side-combinable aggregate over those two columns, with the
    1-row weight state collected and folded back as DOUBLE literals
    (r14, the q171/q130 bounded-scalar discipline — the previous form
    broadcast the state frame and eagerly checkpointed the 1-row result
    every round, two extra jobs per round for kilobytes of state). The
    literal fold is bitwise-exact: collect ships the double as its
    shortest round-trip decimal and both that parse and Spark's literal
    parse are correctly rounded, so the next round's arithmetic sees the
    identical IEEE value the checkpointed column held."""
    from pyspark.storagelevel import StorageLevel

    docs = _docs(spark, sf_dir)
    # Arrow featurize (shared with q177) — the corpus pass was the whole
    # sf1 cost of this query (r15)
    f = _stopword_feature_frame(
        docs, "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END", "double"
    ).persist(StorageLevel.MEMORY_AND_DISK)

    def _dlit(v: float | None) -> str:
        return "CAST(NULL AS DOUBLE)" if v is None else f"CAST('{v!r}' AS DOUBLE)"

    w_sql, b_sql = "CAST(0.0 AS DOUBLE)", "CAST(0.0 AS DOUBLE)"
    out_rows = []
    for i in range(GD_ROUNDS):
        e = _gd_exprs(w_sql, b_sql)
        gw = dec_avg_sql(e["ex"], "gw").rsplit(" AS ", 1)[0]
        gb = dec_avg_sql(e["e"], "gb").rsplit(" AS ", 1)[0]
        row = f.agg(
            F.expr(f"{w_sql} - {GD_LR} * ({gw})").alias("w"),
            F.expr(f"{b_sql} - {GD_LR} * ({gb})").alias("b"),
            F.expr(f"CAST(SUM({e['correct']}) AS BIGINT)").alias("n_correct"),
            # bounded: 1-row scalar per round (pre-update gradient + accuracy)
        ).collect()[0]
        out_rows.append((i + 1, row["w"], row["b"], row["n_correct"]))
        w_sql, b_sql = _dlit(row["w"]), _dlit(row["b"])
    f.unpersist()
    return local_frame(
        spark, out_rows, "round int, w double, b double, n_correct bigint"
    ).orderBy("round")


def _auc_oracle() -> str:
    s = stopword_ratio_sql(_D_TOKS, STOPWORDS["en"], "duckdb")
    return f"""
    WITH f AS (
        SELECT {s} AS s,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    g AS (
        SELECT s, CAST(SUM(y) AS BIGINT) AS np,
               CAST(COUNT(*) - SUM(y) AS BIGINT) AS nn
        FROM f GROUP BY s
    ),
    c AS (
        SELECT np, nn,
               SUM(nn) OVER (ORDER BY s NULLS LAST ROWS UNBOUNDED PRECEDING)
                   - nn AS nn_below
        FROM g
    )
    SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
           CAST(SUM(nn) AS BIGINT) AS n_neg,
           CAST(SUM(CAST(np AS DECIMAL(38,0)) * (2 * nn_below + nn))
                AS DOUBLE) AS auc_num2,
           CASE WHEN SUM(np) = 0 OR SUM(nn) = 0 THEN NULL
                ELSE CAST(SUM(CAST(np AS DECIMAL(38,0)) * (2 * nn_below + nn))
                          AS DOUBLE)
                     / (2.0 * CAST(SUM(np) AS DOUBLE)
                            * CAST(SUM(nn) AS DOUBLE)) END AS auc
    FROM c
    """


@register(
    "q177_feature_auc",
    oracle=_auc_oracle(),
    # python-seam: the stopword featurize is Arrow BY MEASUREMENT (r15,
    # _stopword_feature_frame — x3.5 over the interpreted Catalyst
    # lambda at sf1, bitwise equality pinned against the SQL form in
    # tests/test_new_ops.py), the q193 copy-codec precedent
    tags=("text", "quality", "evaluation", "auc", "python-seam"),
)
def q177_feature_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the stopword-ratio feature against the is-English label
    — the evaluation half of the q176 classifier story (the score text is
    the SHARED stopword_ratio_sql fragment, so feature and evaluation can
    never drift apart) — computed EXACTLY via Mann-Whitney pair counting
    with tie handling, no sampling and no per-pair work: group by
    distinct score (np/nn per score), one window over the GROUPED frame
    for the strictly-below negative count (ordered NULLS LAST explicitly
    — Spark defaults NULLS FIRST, DuckDB LAST, and a NULL-text score
    group must shift nn_below identically in both engines), then
    2*AUC*n_pos*n_neg = sum(np * (2*nn_below + nn)) accumulated in
    DECIMAL(38,0) — BIGINT products overflow past ~4e9 docs; the decimal
    widening is the dec_var_sql recipe — with ties contributing the
    standard half credit. The numerator is rendered as DOUBLE (exact to
    2^53; the decimal accumulation itself is exact at any scale) and the
    AUC division is NULL-guarded for single-class corpora (ANSI Spark
    raises on /0 where DuckDB yields NULL).

    Scale shape: one corpus-sized tokenize->groupBy(score) shuffle; the
    single-partition window runs over DISTINCT scores, whose cardinality
    is bounded by the (stopword-hits, token-count) integer domain — a
    value-domain bound, not a corpus bound (the q124 top-N discipline's
    cousin). At 100 TB this is one map-side-combinable aggregate plus a
    domain-sized window."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    # Arrow featurize (shared with q176) — the score column must stay
    # bitwise identical to q176's feature, which
    # the shared helper guarantees by construction
    f = _stopword_feature_frame(
        docs, "CASE WHEN lang = 'en' THEN 1 ELSE 0 END", "int"
    ).select(F.col("x").alias("s"), "y")
    g = f.groupBy("s").agg(
        F.sum("y").cast("bigint").alias("np"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("nn"),
    )
    w = W.orderBy(F.col("s").asc_nulls_last()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = g.select(
        "np", "nn", (F.sum("nn").over(w) - F.col("nn")).alias("nn_below")
    )
    num2 = F.sum(
        F.expr("CAST(np AS DECIMAL(38,0)) * (2 * nn_below + nn)")
    )
    auc = F.when(
        (F.sum("np") == 0) | (F.sum("nn") == 0), F.lit(None).cast("double")
    ).otherwise(
        num2.cast("double")
        / (
            F.lit(2.0)
            * F.sum("np").cast("double")
            * F.sum("nn").cast("double")
        )
    )
    return c.agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
        num2.cast("double").alias("auc_num2"),
        auc.alias("auc"),
    )


KN_D = "0.75"  # the standard Kneser-Ney discount; 3/4 is EXACT in binary
KN_TOP = 50


def _kn_pkn_expr(c2: str, c1: str, n1f: str, n1b: str, dd: str) -> str:
    """Interpolated-KN probability as ONE shared text: identical
    association order in both engines (the two algebraic forms of the
    formula differ in floating point)."""
    return (
        f"((GREATEST(CAST({c2} AS DOUBLE) - {KN_D}, 0.0)"
        f" + {KN_D} * CAST({n1f} AS DOUBLE)"
        f" * (CAST({n1b} AS DOUBLE) / CAST({dd} AS DOUBLE)))"
        f" / CAST({c1} AS DOUBLE))"
    )


@register(
    "q178_kneser_ney",
    oracle=f"""
    WITH bg AS (
        SELECT unnest({_BG2}) AS bigram FROM documents
    ),
    c AS (
        SELECT string_split(bigram, ' ')[1] AS w1,
               string_split(bigram, ' ')[2] AS w2,
               CAST(COUNT(*) AS BIGINT) AS c2
        FROM bg GROUP BY 1, 2
    ),
    s AS (
        SELECT w1, w2, c2,
               CAST(SUM(c2) OVER (PARTITION BY w1) AS BIGINT) AS c1,
               CAST(COUNT(*) OVER (PARTITION BY w1) AS BIGINT) AS n1f,
               CAST(COUNT(*) OVER (PARTITION BY w2) AS BIGINT) AS n1b,
               CAST(COUNT(*) OVER () AS BIGINT) AS dd
        FROM c
    )
    SELECT w1, w2, c2, n1f, n1b,
           {_kn_pkn_expr("c2", "c1", "n1f", "n1b", "dd")} AS p_kn
    FROM s
    ORDER BY c2 DESC, w1, w2
    LIMIT {KN_TOP}
    """,
    tags=("text", "ngram-lm", "kneser-ney", "smoothing"),
)
def q178_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram smoothing (Kneser & Ney 1995) —
    the canonical LM-smoothing algorithm, upgrading q146's raw-MLE
    bigram table: P_KN(w2|w1) = (max(c-d,0) + d * N1+(w1.) *
    Pcont(w2)) / c(w1) with Pcont(w2) = N1+(.w2)/|bigram types| and the
    standard discount d = 0.75 — EXACT in binary, and every other term
    is an integer count, so the single shared expression text evaluates
    bitwise identically in both engines (the two algebraic layouts of
    the formula differ in the last ulp; both sides use the same one).

    Scale shape: one corpus-sized bigram-count shuffle (q144's shape);
    the three continuation statistics are windows over the COUNT frame
    (vocabulary-squared bound, not corpus) sharing two partition
    exchanges (w1 carries c1+n1f in one frame); the |types| denominator
    is a COUNT() OVER () on the same frame; top-K is
    TakeOrderedAndProject with the (c2 DESC, w1, w2) tie-break."""
    from pyspark.sql import Window as W

    from ..functions.textfns import shingles_sql

    bg = doc_tokens(spark, sf_dir).select(
        F.explode(F.expr(shingles_sql("toks", 2, "spark"))).alias("bigram")
    )
    sp = F.split(F.col("bigram"), " ")
    from pyspark.storagelevel import StorageLevel

    c = (
        bg.select(sp.getItem(0).alias("w1"), sp.getItem(1).alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
        # bounded: vocabulary-squared count frame. BOTH the |types|
        # aggregate below and the window pass consume this frame; without
        # the persist the corpus explode+shuffle runs once per branch
        # (keys-only aggregates block exchange reuse — plan-verified)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    w1w = W.partitionBy("w1")
    w2w = W.partitionBy("w2")
    # |bigram types| as a broadcast 1-row aggregate, NOT COUNT() OVER ()
    # — an empty-partition window would drag the whole count frame into
    # one partition (the oracle's OVER () is fine: DuckDB runs on one
    # node anyway; values are identical)
    dd = c.agg(F.count(F.lit(1)).cast("bigint").alias("dd"))
    s = c.crossJoin(F.broadcast(dd)).select(
        "w1",
        "w2",
        "c2",
        F.sum("c2").over(w1w).cast("bigint").alias("c1"),
        F.count(F.lit(1)).over(w1w).cast("bigint").alias("n1f"),
        F.count(F.lit(1)).over(w2w).cast("bigint").alias("n1b"),
        "dd",
    )
    return (
        s.select(
            "w1",
            "w2",
            "c2",
            "n1f",
            "n1b",
            F.expr(_kn_pkn_expr("c2", "c1", "n1f", "n1b", "dd")).alias("p_kn"),
        )
        .orderBy(F.desc("c2"), "w1", "w2")
        .limit(KN_TOP)
    )


PMI_MIN_PAIR = 3  # hapax-bigram guard: lift over 1-2 occurrences is noise
PMI_TOP = 30

# Identical expression text in BOTH dialects: every operand is an integer
# exactly representable in double, and IEEE *, / are correctly rounded and
# deterministic, so the left-associated chain produces bitwise-equal
# doubles cross-engine. lift = P(w1 w2) / (P(w1) P(w2))
#                            = (cxy/nb) / ((cx/nu)(cy/nu)).
_PMI_LIFT = (
    "CAST(pair_count AS DOUBLE) * nu / w1_count / w2_count * nu / nb"
)


def _q182_oracle() -> str:
    toks2 = doc_shingles_sql("text", 2, "duckdb")
    return f"""
    WITH uni AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT UNNEST({_D_TOKS}) AS token FROM documents)
        GROUP BY token
    ),
    tot_u AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nu FROM uni),
    bc AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS pair_count
        FROM (SELECT UNNEST({toks2}) AS b FROM documents)
        GROUP BY b
    ),
    tot_b AS (SELECT CAST(SUM(pair_count) AS BIGINT) AS nb FROM bc),
    cand AS (
        SELECT string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2,
               pair_count
        FROM bc WHERE pair_count >= {PMI_MIN_PAIR}
    ),
    scored AS (
        SELECT c.w1, c.w2, c.pair_count,
               u1.cnt AS w1_count, u2.cnt AS w2_count,
               {_PMI_LIFT} AS lift
        FROM cand c
        JOIN uni u1 ON c.w1 = u1.token
        JOIN uni u2 ON c.w2 = u2.token
        CROSS JOIN tot_u CROSS JOIN tot_b
    )
    SELECT w1, w2, pair_count, w1_count, w2_count, lift,
           CAST(ROW_NUMBER() OVER (ORDER BY lift DESC, w1, w2) AS INT) AS rank
    FROM scored
    ORDER BY lift DESC, w1, w2
    LIMIT {PMI_TOP}
    """


@register(
    "q182_pmi_collocations",
    oracle=_q182_oracle(),
    tags=("text", "collocations", "pmi"),
)
def q182_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise-mutual-information lift — the
    phrase detector a tokenizer/curation pipeline runs before merging
    multiword units (word2vec's phrase pass, Mikolov et al. 2013):
    lift(w1,w2) = P(w1 w2) / (P(w1) P(w2)), top-{PMI_TOP} among bigrams
    seen >= {PMI_MIN_PAIR} times. No log() anywhere — log is monotone, so
    ranking by the raw lift ratio is ranking by PMI, and the ratio stays
    inside the deterministic IEEE *, / subset the cross-engine hash gate
    allows (transcendentals differ in the last ulp between libm
    implementations; ratios of exact integers do not).

    Scale shape: ONE corpus scan materializes the per-doc token array
    (persisted — the shared-frame rule), from which both the unigram and
    bigram counts explode into map-side-combinable shuffles; every later
    frame is vocabulary- or bigram-type-bounded. The two unigram joins
    are vocab-keyed equi-joins, the corpus totals ride broadcast 1-row
    frames (hinted, not AQE-dependent), and the top-k is
    TakeOrderedAndProject over the filtered candidate set."""
    from pyspark.sql import Window as W
    from pyspark.storagelevel import StorageLevel

    from ..functions.textfns import shingles_sql

    # corpus-sized (one row per doc, text dropped — NOT value-domain-
    # bounded); persisted so the unigram and bigram branches scan once
    tok_arrays = doc_tokens(spark, sf_dir).select("toks").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    uni = (
        tok_arrays.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)  # bounded: vocabulary
    )
    bc = (
        tok_arrays.select(
            F.explode(F.expr(shingles_sql("toks", 2, "spark"))).alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_count"))
        .persist(StorageLevel.MEMORY_AND_DISK)  # bounded: bigram types
    )
    tot_u = uni.agg(F.sum("cnt").cast("bigint").alias("nu"))
    tot_b = bc.agg(F.sum("pair_count").cast("bigint").alias("nb"))
    cand = bc.filter(F.col("pair_count") >= PMI_MIN_PAIR).select(
        F.split(F.col("b"), " ").getItem(0).alias("w1"),
        F.split(F.col("b"), " ").getItem(1).alias("w2"),
        "pair_count",
    )
    u1 = uni.select(F.col("token").alias("w1"), F.col("cnt").alias("w1_count"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("cnt").alias("w2_count"))
    scored = (
        cand.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot_u))
        .crossJoin(F.broadcast(tot_b))
        .withColumn("lift", F.expr(_PMI_LIFT))
    )
    top = scored.orderBy(F.col("lift").desc(), "w1", "w2").limit(PMI_TOP)
    return top.select(
        "w1",
        "w2",
        "pair_count",
        "w1_count",
        "w2_count",
        "lift",
        F.row_number()
        .over(W.orderBy(F.col("lift").desc(), "w1", "w2"))
        .cast("int")
        .alias("rank"),
    ).orderBy(F.col("lift").desc(), "w1", "w2")


SLM_DF_CAP = 64  # tokens in more than this many docs are pruned (stopwords)


def _q197_oracle(df_cap_sql: str = str(SLM_DF_CAP), with_nr: bool = False) -> str:
    nr = (
        "nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),\n    "
        if with_nr
        else ""
    )
    return f"""
    WITH {nr}tok AS (
        SELECT doc_id, unnest({_D_TOKS}) AS token FROM documents
    ),
    tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY doc_id, token
    ),
    keep AS (
        SELECT token FROM tf GROUP BY token
        HAVING COUNT(*) <= {df_cap_sql}
    ),
    post AS (
        SELECT t.doc_id, t.token, t.tf FROM tf t JOIN keep USING (token)
    ),
    n2 AS (
        SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2
        FROM post GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
        FROM post a JOIN post b
          ON a.token = b.token AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
        SELECT d.id_a, d.id_b,
               CAST(d.dot AS DOUBLE)
                 / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
                   AS cosine
        FROM dots d
        JOIN n2 na ON na.doc_id = d.id_a
        JOIN n2 nb ON nb.doc_id = d.id_b
    )
    SELECT doc_id, best_id, best_cosine, n_candidates FROM (
        SELECT id_a AS doc_id, id_b AS best_id, cosine AS best_cosine,
               CAST(COUNT(*) OVER (PARTITION BY id_a) AS BIGINT)
                   AS n_candidates,
               ROW_NUMBER() OVER (
                   PARTITION BY id_a ORDER BY cosine DESC, id_b
               ) AS rn
        FROM scored
    ) t WHERE rn = 1
    """


@register(
    "q197_sparse_best_match",
    oracle=_q197_oracle(),
    tags=("similarity", "retrieval", "sparse", "bounded-output"),
)
def q197_sparse_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse LEXICAL best match — the posting-list counterpart to q192's
    dense-embedding best match: per document, the other document with
    the highest term-frequency cosine over shared rare tokens, plus the
    candidate count. Weighting is exact-integer by design: tf vectors
    restricted to tokens with df <= {SLM_DF_CAP} (the stopword prune a
    tf-idf's idf would do, discretized — ln is in the transcendental
    class the cross-engine hash gate bans), so dot products and norms
    are INTEGER sums (order-insensitive with no decimal quantization at
    all) and the single double division + sqrt at the end is the same
    IEEE op sequence in both engines.

    Scale shape: candidates come from the posting-list self-join on
    token — the df cap bounds it by cap x |postings| (linear in the
    corpus, the prefix-filter discipline of q123 applied to cosine);
    the pair-grain dot is a map-side-combinable integer aggregate, the
    per-doc argmax another (max over a (cosine, -id) struct); nothing
    shuffles at candidate grain twice."""
    from pyspark.storagelevel import StorageLevel

    docs = _docs(spark, sf_dir)
    return _sparse_best_match(docs, lambda dfc: dfc.filter(
        F.col("df") <= SLM_DF_CAP
    ).select("token"))


def _sparse_best_match(docs: DataFrame, keep_fn) -> DataFrame:
    """Shared engine of q197/q203: tf posting lists → df-pruned tokens
    (``keep_fn`` maps the (token, df) frame to the kept tokens) →
    integer dot/norm posting self-join → map-side-combinable per-doc
    argmax."""
    from pyspark.storagelevel import StorageLevel

    toks = tokens_sql(norm_sql("text", "spark"), "spark")
    tf = (
        docs.select(
            "doc_id", F.explode(F.expr(toks)).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    # posting lists feed the df filter, both join sides, and the norms —
    # one corpus tokenize, persisted (the shared-frame rule)
    tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    keep = keep_fn(
        tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    )
    post = tf.join(keep, "token").persist(StorageLevel.MEMORY_AND_DISK)
    n2 = post.groupBy("doc_id").agg(
        F.sum(F.expr("tf * tf")).cast("bigint").alias("n2")
    )
    a = post.select(
        F.col("token"), F.col("doc_id").alias("id_a"), F.col("tf").alias("tf_a")
    )
    b = post.select(
        F.col("token"), F.col("doc_id").alias("id_b"), F.col("tf").alias("tf_b")
    )
    dots = (
        a.join(b, "token")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.expr("tf_a * tf_b")).cast("bigint").alias("dot"))
    )
    scored = (
        dots.join(
            n2.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("n2_a")),
            "id_a",
        )
        .join(
            n2.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("n2_b")),
            "id_b",
        )
        .withColumn(
            "cosine",
            F.expr(
                "CAST(dot AS DOUBLE)"
                " / sqrt(CAST(n2_a AS DOUBLE) * CAST(n2_b AS DOUBLE))"
            ),
        )
    )
    best = F.max(
        F.struct(F.col("cosine"), (-F.col("id_b")).alias("nb"))
    ).alias("m")
    return scored.groupBy("id_a").agg(
        best, F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    ).select(
        F.col("id_a").alias("doc_id"),
        (-F.col("m.nb")).alias("best_id"),
        F.col("m.cosine").alias("best_cosine"),
        "n_candidates",
    )


@register(
    "q203_adaptive_sparse_match",
    oracle=_q197_oracle(
        df_cap_sql=f"(SELECT {adaptive_df_cap_sql('n')} FROM nr)",
        with_nr=True,
    ),
    tags=("similarity", "retrieval", "sparse", "adaptive", "bounded-output"),
)
def q203_adaptive_sparse_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q197's sparse lexical best match with a DATA-ADAPTIVE document-
    frequency cap (VERDICT r08 item 7: SLM_DF_CAP is a compile-time
    constant a 100 TB corpus would want derived from corpus statistics):
    cap = sqrt(N) at each rung edge of an integer CASE ladder
    (functions/textfns.adaptive_df_cap_sql), so the worst per-term
    candidate volume df² stays <= N — linear total over a bounded
    vocabulary — while the absolute cap still RISES with corpus size
    (a frozen cap silently discards an ever-larger vocabulary share;
    sqrt-scaling admits more mid-frequency terms as evidence
    accumulates). The corpus count reaches the df filter as a broadcast
    1-row scalar inside one static dual-dialect plan (the q194/q199/q201
    discipline); at fixtures <= 4096 docs the ladder sits on cap=64 and
    this query EQUALS q197 row-for-row (pinned in tests)."""
    docs = _docs(spark, sf_dir)
    nr = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cap = F.expr(adaptive_df_cap_sql("n"))
    return _sparse_best_match(
        docs,
        lambda dfc: dfc.crossJoin(F.broadcast(nr))
        .filter(F.col("df") <= cap)
        .select("token"),
    )


PHRASE_TOP = 2  # the corpus's top-2 bigram phrases drive the phrase query


@register(
    "q217_phrase_search",
    oracle=f"""
    WITH bg AS (
        SELECT doc_id, unnest({doc_shingles_sql("text", 2, "duckdb")})
                   AS bigram
        FROM documents
    ),
    top AS (
        SELECT bigram FROM (
            SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram
            ORDER BY n DESC, bigram LIMIT {PHRASE_TOP}
        )
    )
    SELECT b.bigram AS phrase, b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM bg b JOIN top ON b.bigram = top.bigram
    GROUP BY b.bigram, b.doc_id
    """,
    tags=("text", "search", "phrase", "positional"),
)
def q217_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL phrase search — the missing leg of the q134-q136 search
    suite (boolean and ranked retrieval have no notion of adjacency):
    every (phrase, doc, hit-count) for the corpus's top-{PHRASE_TOP}
    bigram phrases, executed the way a positional-index engine does it —
    (doc, token, position) postings from the signature index's token
    arrays, restricted to the phrases' member tokens by a BROADCAST of
    the {PHRASE_TOP}-row phrase frame BEFORE any corpus-wide shuffle,
    then adjacency = one equi-join on (phrase, doc, pos) with the
    second term's postings shifted by -1. The oracle evaluates the
    DEFINITION instead (count of 2-shingles equal to the phrase) — two
    independent algorithms, one answer (the q135/q145 discipline).

    The phrases themselves are DATA-DERIVED (top-2 by count with a
    lexicographic tie-break — exact integers, deterministic in both
    engines), so the query is self-contained at every sf and never
    returns an empty vacuous match set. Scale shape: the phrase pick is
    a vocabulary-sized count + TakeOrderedAndProject; postings after
    the member-token restriction are bounded by the phrases' term
    frequencies, not the corpus; the adjacency join and the final
    rollup share the (phrase, doc) key family. At 100 TB the postings
    relation is the persisted positional index itself — this plan IS
    the probe side of that architecture."""
    toks = doc_tokens(spark, sf_dir).select("doc_id", "toks")
    bg = toks.select(
        F.explode(F.expr(shingles_sql("toks", 2, "spark"))).alias("bigram")
    )
    top = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(PHRASE_TOP)
        .select(
            "bigram",
            F.split("bigram", " ").getItem(0).alias("w1"),
            F.split("bigram", " ").getItem(1).alias("w2"),
        )
    )
    post = toks.select("doc_id", F.posexplode("toks").alias("pos", "token"))
    p1 = post.join(
        F.broadcast(top.select("bigram", F.col("w1").alias("token"))),
        "token",
    ).select("bigram", "doc_id", "pos")
    p2 = post.join(
        F.broadcast(top.select("bigram", F.col("w2").alias("token"))),
        "token",
    ).select("bigram", "doc_id", (F.col("pos") - 1).alias("pos"))
    return (
        p1.join(p2, ["bigram", "doc_id", "pos"])
        .groupBy("bigram", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        .select(F.col("bigram").alias("phrase"), "doc_id", "n_hits")
    )
