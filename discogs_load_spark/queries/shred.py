"""Shred/ETL operator queries (SURVEY §2.A A4-A12) re-expressed on the
TPC-H-ish fixtures so the DuckDB oracle can check them.

The reference shreds nested XML records into parent + child tables with a
hand-written FSM (release.rs:153-371, master.rs:135-285). The Spark duals are
pure column operations: projection+cast+default-fill for parents,
``explode``/``posexplode`` for child tables, window-ranked first-wins for
dedup. Structural mapping (FIXTURES.md §4): orders≈release (fact with
optional FK), lineitem≈release_label/_video (FK child), events carry the
duplicate-id semantics.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..session import load_tables, local_frame
from .artifacts import fixture_copy
from .registry import register


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    tables = load_tables(spark, sf_dir, list(names))
    return [tables[n] for n in names]


@register(
    "q30_shred_parent_project",
    oracle="""
    SELECT CAST(o_orderkey AS INT) AS id,
           COALESCE(o_orderstatus, '') AS status,
           COALESCE(o_orderpriority, '') AS priority,
           CAST(COALESCE(o_custkey, 0) AS INT) AS master_id,
           COALESCE(o_totalprice, 0.0) AS total
    FROM orders
    """,
    tags=("shred", "A4"),
    doc="Parent-record extraction: project + int-cast + default-fill "
    "(reference release.rs:153-323 semantics: absent → 0/''/[]).",
)
def q30_shred_parent_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").cast("int").alias("id"),
        F.coalesce(F.col("o_orderstatus"), F.lit("")).alias("status"),
        F.coalesce(F.col("o_orderpriority"), F.lit("")).alias("priority"),
        F.coalesce(F.col("o_custkey"), F.lit(0)).cast("int").alias("master_id"),
        F.coalesce(F.col("o_totalprice"), F.lit(0.0)).alias("total"),
    )


@register(
    "q31_shred_child_posexplode",
    oracle="""
    SELECT o_orderkey AS release_id,
           CAST(UNNEST(generate_series(1, len(string_split(o_orderpriority, '-')))) AS INT) - 1
               AS pos,
           UNNEST(string_split(o_orderpriority, '-')) AS token
    FROM orders WHERE o_orderkey <= 1000
    """,
    tags=("shred", "A5", "A6"),
    doc="Child-table shred via posexplode — the Spark dual of the FSM loop "
    "emitting one ReleaseLabel/ReleaseVideo row per nested element "
    "(reference release.rs:325-371).",
)
def q31_shred_child_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderkey") <= 1000)
        .select(
            F.col("o_orderkey").alias("release_id"),
            F.posexplode(F.split(F.col("o_orderpriority"), "-")).alias("pos", "token"),
        )
        .select("release_id", F.col("pos").cast("int").alias("pos"), "token")
    )


@register(
    "q32_array_roundtrip",
    oracle="""
    SELECT c_custkey,
           COALESCE(array_to_string(list_sort(list(DISTINCT o_orderstatus)), '|'), '')
               AS statuses,
           CAST(len(list(DISTINCT o_orderstatus)) AS INT) AS n_statuses,
           list_contains(list(DISTINCT o_orderstatus), 'F') AS has_finished
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
    tags=("array", "B7"),
    doc="Array-column surface (text[] in the reference schema, "
    "sql/tables/artist.sql:9-12): build, sort, size, membership. The array "
    "itself ships through the contract as a '|'-joined sorted string (the "
    "driver's canonicalizer can't hash list cells; values are delimiter-free "
    "status codes, so the join is lossless).",
)
def q32_array_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey")
        # bounded: o_orderstatus domain is {F, O, P} — <= 3 elements/group
        .agg(F.sort_array(F.collect_set("o_orderstatus")).alias("__statuses"))
        .select(
            "c_custkey",
            F.array_join("__statuses", "|").alias("statuses"),
            F.size("__statuses").cast("int").alias("n_statuses"),
            F.array_contains("__statuses", "F").alias("has_finished"),
        )
    )


@register(
    "q33_first_wins_dedup",
    oracle="""
    SELECT user_id, event_id, ts, event_type FROM (
        SELECT user_id, event_id, ts, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ) t WHERE rn = 1
    """,
    tags=("dedup", "A11"),
    doc="First-wins dedup: the reference keeps the first row per id within a "
    "batch (HashMap::entry().or_insert, release.rs:184-187). The engine makes "
    "'first' explicit — rank by (ts, event_id) — and global, not batch-scoped "
    "(documented deviation, SURVEY §4.2).",
)
def q33_first_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


@register(
    "q34_bridge_table",
    oracle="""
    SELECT l_partkey AS master_id, l_suppkey AS artist_id,
           COUNT(*) AS n_lines,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
    """,
    tags=("shred", "A10"),
    doc="Many-to-many bridge (master_artist analog, reference "
    "master.rs:190-261): distinct link pairs with link stats.",
)
def q34_bridge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return lineitem.groupBy(
        F.col("l_partkey").alias("master_id"), F.col("l_suppkey").alias("artist_id")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "q168_shred_master_defaults",
    oracle="""
    SELECT CAST(p_partkey AS INT) AS id,
           COALESCE(p_name, '') AS title,
           CAST(COALESCE(p_size, 0) AS INT) AS release_id,
           CAST(0 AS INT) AS year,
           '' AS notes,
           '' AS genres,
           '' AS styles,
           COALESCE(p_type, '') AS data_quality
    FROM part
    """,
    tags=("shred", "A9"),
    doc="Master-record extraction (reference master.rs:135-285): "
    "attribute-id parse, main_release text → release_id int cast, "
    "title/data_quality strings, and the Q1 quirk — year/notes/genres/"
    "styles exist in the schema (sql/tables/master.sql) but the parser "
    "never fills them, so every row carries the struct defaults "
    "(0/''/empty array). The engine reproduces that observable shape; "
    "genres/styles ship as the '|'-joined empty-array string.",
)
def q168_shred_master_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 on the fixtures, mirroring q30's A4 shape: ``part`` plays the
    masters dump (p_partkey = the id attribute, p_size = main_release,
    p_type = data_quality). The four always-default columns are the
    point — the reference parses year/notes/genres/styles into its
    Master struct but write_masters never binds them (master.rs:81-94;
    quirks.py Q1), so a faithful engine emits constants, not NULLs."""
    (part,) = _t(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").cast("int").alias("id"),
        F.coalesce(F.col("p_name"), F.lit("")).alias("title"),
        F.coalesce(F.col("p_size"), F.lit(0)).cast("int").alias("release_id"),
        F.lit(0).cast("int").alias("year"),
        F.lit("").alias("notes"),
        F.lit("").alias("genres"),
        F.lit("").alias("styles"),
        F.coalesce(F.col("p_type"), F.lit("")).alias("data_quality"),
    )


QUIRK_BATCH = 256  # reference loads in fixed-size batches (10k rows/batch)


@register(
    "q137_quirk_batch_scoped_dedup",
    oracle=f"""
    SELECT batch_id, user_id, event_id, ts, event_type FROM (
        SELECT CAST(FLOOR(event_id / {QUIRK_BATCH}) AS INT) AS batch_id,
               user_id, event_id, ts, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY CAST(FLOOR(event_id / {QUIRK_BATCH}) AS INT),
                                user_id
                   ORDER BY event_id
               ) AS rn
        FROM events
    ) t WHERE rn = 1
    """,
    tags=("dedup", "quirks", "A11"),
    doc="FAITHFUL-QUIRKS MODE for A5/A11: the reference's dedup scope is "
    "one ingest batch, not the dataset (release.rs:184-203 clears its "
    "HashMap per 10k-row batch), so the same id arriving in two batches "
    "loads TWICE — quirks.py Q7. This query reproduces that exact "
    "semantics under the oracle, proving the engine's global first-wins "
    "(q33) is a deliberate deviation, not a gap.",
)
def q137_quirk_batch_scoped_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-scoped first-wins dedup, the reference's ACTUAL semantics:
    batch id is derived from arrival order (event_id is the ingest
    sequence in the fixture, so batch = event_id div N is a pure
    projection — no global ordering shuffle needed), then first-wins is
    ranked WITHIN (batch, user). A user spanning batches survives once
    per batch — exactly the duplicate-load behavior quirks.py Q7
    documents (and the later PK creation would reject). Contrast with
    q33, the engine's clean global dedup over the same rows."""
    (events,) = _t(spark, sf_dir, "events")
    batch = F.floor(F.col("event_id") / QUIRK_BATCH).cast("int")
    w = W.partitionBy("batch_id", "user_id").orderBy("event_id")
    return (
        events.withColumn("batch_id", batch)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("batch_id", "user_id", "event_id", "ts", "event_type")
    )


@register(
    "q133_shred_multiarray_parent",
    oracle="""
    SELECT user_id AS id,
           COALESCE(array_to_string(
               COALESCE(list_sort(list(DISTINCT event_type)), []), '|'), '')
               AS types,
           COALESCE(array_to_string(
               COALESCE(list_sort(list(DISTINCT CAST(FLOOR(value) AS INT))
                                  FILTER (event_type = 'purchase')), []), '|'), '')
               AS purchase_buckets,
           COALESCE(array_to_string(
               COALESCE(list_sort(list(DISTINCT CAST(FLOOR(value) AS INT))
                                  FILTER (event_type = 'error')), []), '|'), '')
               AS error_buckets,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id
    """,
    tags=("shred", "A7", "A8", "array"),
    doc="Multi-array parent-record extraction: the artist/label record "
    "shape (reference artist.rs:102-267 collects urls/aliases/members; "
    "label.rs:97-249 sublabels/urls) — several independent array-collects "
    "per record with the reference's empty-array-not-NULL defaults "
    "(SURVEY §1.2: missing fields are ''/0/{}, never NULL). Contract "
    "columns ship as '|'-joined sorted strings (empty array → ''), keeping "
    "the empty-not-NULL semantics observable through the string form.",
)
def q133_shred_multiarray_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One record, several array-collects, absent → [] not NULL — the
    A7/A8 parent shape on the fixtures. Arrays are sorted for the
    order-insensitive hash, then '|'-joined for the driver contract
    (list cells are unhashable in its canonicalizer); the conditional
    collects exercise the 'array is empty when no child elements exist'
    default the reference bakes into its struct initializers."""
    (events,) = _t(spark, sf_dir, "events")
    empty_int = F.array().cast("array<int>")  # a real [], not NULL

    def bucket_set(evt: str):
        # bounded: floor(value) over the metric's fixed range — a few hundred
        # distinct ints max per group, independent of corpus size
        c = F.collect_set(
            F.when(F.col("event_type") == evt, F.floor("value").cast("int"))
        )
        joined = F.array_join(
            F.transform(
                F.coalesce(F.sort_array(c), empty_int), lambda x: x.cast("string")
            ),
            "|",
        )
        return joined

    return events.groupBy(F.col("user_id").alias("id")).agg(
        # bounded: event_type is a closed enum
        F.array_join(F.sort_array(F.collect_set("event_type")), "|").alias("types"),
        bucket_set("purchase").alias("purchase_buckets"),
        bucket_set("error").alias("error_buckets"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _q170_dump_path(docs: DataFrame, sf_dir: str) -> str:
    """The monolithic releases .xml.gz rendered from the documents
    fixture: landed once per fixture by ``artifacts.fixture_copy`` (keyed
    by the documents table's file identity, so a regenerated fixture can
    never serve a stale dump), and the path of the one gzip part inside
    the landed directory.

    Harness shim for the pre-shard surface: real dumps arrive as files; here
    the fixture IS the source of truth, so the XML must be derived from it
    deterministically. Records render executor-side and stream through the
    single-partition gzip text sink (the dump must be ONE monolithic gzip —
    the artifact the pre-sharder exists to split); the driver never holds
    the corpus, and a warm call starts no Spark job. The text rides in
    <title> wrapped in [ ] sentinels so surrounding-whitespace trim
    semantics in any XML reader can never change the recovered byte count."""
    spark = docs.sparkSession

    def esc(c):  # xml.sax.saxutils.escape: & first, then < and >
        c = F.replace(c, F.lit("&"), F.lit("&amp;"))
        c = F.replace(c, F.lit("<"), F.lit("&lt;"))
        return F.replace(c, F.lit(">"), F.lit("&gt;"))

    def write(tmp: str) -> None:
        rec = F.concat(
            F.lit('<release id="'),
            F.col("doc_id").cast("long").cast("string"),
            F.lit('" status="Accepted"><title>['),
            esc(F.col("text")),
            F.lit("]</title><country>"),
            esc(F.col("lang")),
            F.lit("</country></release>"),
        )
        body = docs.select(
            F.lit(1).alias("k0"),
            F.col("doc_id").cast("long").alias("k1"),
            rec.alias("line"),
        )
        edges = local_frame(
            spark,
            [
                (0, 0, '<?xml version="1.0" encoding="UTF-8"?>\n<releases>'),
                (2, 0, "</releases>"),
            ],
            "k0 int, k1 long, line string",
        )
        (
            edges.unionByName(body)
            .repartition(1)
            .sortWithinPartitions("k0", "k1")
            .select("line")
            .write.mode("overwrite")
            .option("compression", "gzip")
            .text(tmp)
        )

    out = fixture_copy("q170_releases", sf_dir, ("documents",), write)
    (part,) = glob.glob(os.path.join(out, "part-*.txt.gz"))
    return part


@register(
    "q170_preshard_ingest",
    oracle="""
    SELECT d.lang AS country,
           COUNT(*) AS n_releases,
           CAST(SUM(d.doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(octet_length(encode(d.text))) AS BIGINT) AS text_bytes
    FROM documents d
    GROUP BY d.lang
    """,
    tags=("shred", "A1", "A3", "preshard"),
)
def q170_preshard_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monolithic-gzip ingest THROUGH the record-aligned pre-sharder
    (sources/gzip_shard.py): documents → one monolithic releases .xml.gz →
    ``load_dumps(shard_min_bytes=0)`` forces the depth-tracked shard
    split → native XML parse over N shards → per-lang
    rollup the oracle recomputes straight from the parquet. Any shard
    boundary that cuts a record (or miscounts nesting / self-closing /
    quoted-'>' forms) either breaks the XML parse or shifts the counts and
    byte sums. The ≥2-shard assertion (via pipeline.LAST_PRESHARD) makes
    the sharded lineage load-bearing: a silent fallback to the single-task
    path fails the query rather than the intent."""
    from ..pipeline import LAST_PRESHARD, load_dumps

    (docs,) = _t(spark, sf_dir, "documents")
    gz = _q170_dump_path(docs, sf_dir)
    # shard target scaled to the input so EVERY fixture size splits into a
    # handful of record-aligned shards (fixed targets either don't split
    # sf0.001 or over-split sf0.1 into hundreds of tiny gzips)
    target = max(4 << 10, os.path.getsize(gz) * 3 // 8)
    rel = load_dumps(
        spark,
        [gz],
        shard_min_bytes=0,  # always exercise the pre-shard path
        shard_target_bytes=target,
    )["release"]
    if len(LAST_PRESHARD.get("releases", [])) < 2:
        raise RuntimeError("pre-shard did not split the monolithic dump")
    return rel.groupBy("country").agg(
        F.count(F.lit(1)).alias("n_releases"),
        F.sum("id").cast("bigint").alias("id_sum"),
        # title = '[' + text + ']': two sentinel bytes per record
        (F.sum(F.octet_length("title")) - 2 * F.count(F.lit(1)))
        .cast("bigint")
        .alias("text_bytes"),
    )


@register(
    "q193_copy_codec_roundtrip",
    oracle="""
    SELECT s_suppkey,
           concat(s_name, chr(9), 'x', chr(10), chr(92), chr(13), s_name)
               AS gnarly,
           concat_ws('|', s_name, '"q,u', chr(92), '') AS parts_joined,
           s_acctbal,
           s_nationkey,
           CASE WHEN s_suppkey % 3 = 0 THEN NULL ELSE s_name END
               AS maybe_null
    FROM supplier
    """,
    # python-seam: the COPY codec is Python BY DESIGN — it exists to feed
    # psycopg2's copy_expert per partition (write_copy), so the Arrow
    # batch stage here is the production shape, not an accidental UDF
    tags=("sink", "postgres", "copy", "roundtrip", "python-seam"),
)
def q193_copy_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible proof of the Postgres COPY codec (§2 A13-A15, the
    one component family with no oracle row before r08): every supplier
    row — widened with a deliberately hostile string (embedded tab,
    newline, carriage return, backslash), a text[] column whose elements
    carry quotes, commas, a bare backslash and an empty string, and a
    sometimes-NULL column — is ENCODED to a COPY text line
    (sinks/postgres.copy_encode_row, the bytes a server would ingest;
    reference db.rs:55-244 drives the same wire format) and DECODED back
    (copy_decode_row, the server's input functions re-implemented), all
    inside an Arrow-batched mapInPandas stage. The oracle recomputes the
    staged columns directly from the parquet, so a green row means
    decode∘encode == id THROUGH the real codec for every escape class
    the format defines — the q170 pre-sharder discipline applied to the
    sink side. The array ships as a '|'-join (driver canonicalizer
    can't hash list cells; elements are pipe-free by construction).

    Scale shape: one narrow scan, one mapInPandas over Arrow batches (the
    exact shape write_copy streams through psycopg2 per partition), no
    shuffle, no collect."""
    import pandas as pd

    from ..sinks.postgres import copy_decode_row, copy_encode_row

    (sup,) = _t(spark, sf_dir, "supplier")
    staged = sup.select(
        "s_suppkey",
        F.concat(
            F.col("s_name"),
            F.lit("\tx\n\\\r"),
            F.col("s_name"),
        ).alias("gnarly"),
        F.array(
            F.col("s_name"), F.lit('"q,u'), F.lit("\\"), F.lit("")
        ).alias("parts"),
        "s_acctbal",
        "s_nationkey",
        F.when(F.col("s_suppkey") % 3 == 0, F.lit(None)).otherwise(
            F.col("s_name")
        ).alias("maybe_null"),
    )
    schema = staged.schema

    def codec(batches):
        for pdf in batches:
            lines = [
                copy_encode_row(row, schema)
                for row in pdf.itertuples(index=False, name=None)
            ]
            decoded = [copy_decode_row(line, schema) for line in lines]
            yield pd.DataFrame(decoded, columns=list(pdf.columns))

    roundtripped = staged.mapInPandas(codec, schema)
    return roundtripped.select(
        "s_suppkey",
        "gnarly",
        F.array_join("parts", "|").alias("parts_joined"),
        "s_acctbal",
        "s_nationkey",
        "maybe_null",
    )
