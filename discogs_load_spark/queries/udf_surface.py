"""The declared Python-extension surface (SURVEY §2.C "UDF/UDAF/UDTF"):
one query per API family, each with an exact SQL oracle so even the Python
escape hatches stay inside the correctness gate.

- UDTF (``@udtf``, Spark 3.5+/4): table function expanding one document
  into sentence rows, consumed via SQL LATERAL join — the row-generating
  shape the reference's XML shred has (SURVEY A4-A6), expressed through
  the modern API instead of mapInPandas.
- UDAF (``pandas_udf`` GROUPED_AGG): Arrow-batched per-group aggregate.
- Scalar Pandas UDFs are exercised by the multimodal pipeline
  (operators/multimodal.py) and row-at-a-time Python UDFs are banned from
  the relational core outright (test_plans.py::test_no_python_udfs_...).

These are deliberately computations the built-ins could also express
(posexplode(split(...)); sort + [-2]) — that is what makes them
oracle-checkable. The docstrings say so; the point is the API surface and
its plan shape (ArrowEvalPython / BatchEvalPythonUDTF stages), not a
semantic gap. When semantics genuinely exceed the built-ins (codec decode,
stateful streaming), the same machinery is used for real in
operators/multimodal.py and q115's applyInPandasWithState
(queries/streaming.py).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf, udtf

from ..session import load_tables
from .registry import register

# Explicit DataType objects, NOT DDL strings: string returnTypes are parsed
# through the active SparkContext, which does not exist at import time.
_SENT_SCHEMA = T.StructType(
    [
        T.StructField("sent_idx", T.IntegerType()),
        T.StructField("sentence", T.StringType()),
    ]
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ["documents"])["documents"]


@udtf(returnType=_SENT_SCHEMA)
class SplitSentences:
    """doc text -> one row per '. '-delimited sentence fragment.

    Python UDTF: ``eval`` yields zero or more output rows per input row —
    the UDTF dual of the reference's one-XML-record-to-many-child-rows
    shred (release.rs:325-371). Deterministic: pure string split, stable
    enumeration order.
    """

    def eval(self, text: str):  # noqa: D102 — contract defined by Spark
        if text is None:
            return
        for i, s in enumerate(re.split(r"\. ", text)):
            if s:
                yield (i, s)


@register(
    "q93_udtf_sentences",
    oracle="""
    WITH sents AS (
        SELECT doc_id,
               CAST(generate_subscripts(parts, 1) - 1 AS INTEGER) AS sent_idx,
               unnest(parts) AS sentence
        FROM (SELECT doc_id, string_split(text, '. ') AS parts
              FROM documents WHERE doc_id < 50)
    )
    SELECT doc_id, sent_idx, sentence, length(sentence) AS n_chars
    FROM sents WHERE sentence <> ''
    """,
    tags=("udtf", "python-seam", "text"),
)
def q93_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence expansion through a registered Python UDTF consumed with a
    SQL LATERAL join. The same result is expressible as
    posexplode(split(text, '\\. ')) — chosen deliberately so DuckDB can
    referee the UDTF plumbing (argument passing, row expansion, ordering
    of yielded rows)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    docs.createOrReplaceTempView("q93_docs")
    spark.udtf.register("split_sentences", SplitSentences)
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence, length(s.sentence) AS n_chars
        FROM q93_docs d, LATERAL split_sentences(d.text) s
        """
    )


@pandas_udf(T.LongType())
def second_largest(v: pd.Series) -> int:
    """GROUPED_AGG pandas UDAF: the 2nd element of the sorted-desc multiset
    (well-defined under ties, unlike 'second distinct value'). Arrow ships
    each group's column to ONE Python worker call — the UDAF contract —
    so partial aggregation does not apply; see docstring of the query for
    why that is the scale trade-off of custom UDAFs."""
    if len(v) < 2:
        return None
    return int(v.sort_values(ascending=False).iloc[1])


@register(
    "q94_udaf_second_largest",
    oracle="""
    WITH ranked AS (
        SELECT lang, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY n_chars DESC
               ) AS rn
        FROM documents
    )
    SELECT lang, CAST(MAX(CASE WHEN rn = 2 THEN n_chars END) AS BIGINT)
               AS second_largest_chars
    FROM ranked GROUP BY lang
    ORDER BY lang
    """,
    tags=("udaf", "python-seam"),
)
def q94_udaf_second_largest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language second-largest document size via a pandas GROUPED_AGG
    UDAF. Scale note (why built-ins win when they can): a GROUPED_AGG UDAF
    gets the WHOLE group as one Arrow column — no map-side partial
    aggregation — so group size is bounded by executor memory, whereas the
    equivalent rank-2 window/aggregate composition partial-aggregates.
    Registered to prove the API and its oracle parity, documented as the
    slow path."""
    docs = _docs(spark, sf_dir)
    return (
        docs.groupBy("lang")
        .agg(second_largest(F.col("n_chars")).alias("second_largest_chars"))
        .orderBy("lang")
    )


_NORM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("norm_value", T.DoubleType()),
    ]
)


def _minmax_normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map kernel: per-user min-max scaling of event values.

    min/max are order-insensitive, and (x - min)/(max - min) is one IEEE
    double expression on identical inputs — so unlike a mean/std z-score
    (whose pandas SUM depends on Arrow batch row order) this Python seam
    stays bitwise deterministic and oracle-checkable. Degenerate groups
    (max == min) normalize to NULL, mirrored in the SQL dual.
    """
    lo, hi = pdf["value"].min(), pdf["value"].max()
    out = pdf[["event_id", "user_id", "value"]].copy()
    out["norm_value"] = (pdf["value"] - lo) / (hi - lo) if hi > lo else None
    return out


@register(
    "q105_grouped_map_normalize",
    oracle="""
    SELECT event_id, user_id, value,
           CASE WHEN mx > mn THEN (value - mn) / (mx - mn) END AS norm_value
    FROM (
        SELECT event_id, user_id, value,
               MIN(value) OVER (PARTITION BY user_id) AS mn,
               MAX(value) OVER (PARTITION BY user_id) AS mx
        FROM events
    )
    """,
    tags=("grouped-map", "python-seam"),
)
def q105_grouped_map_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user min-max normalization via ``applyInPandas`` (grouped map)
    — the third Python-extension API family after UDTF (q93) and
    GROUPED_AGG UDAF (q94): whole group in, whole group out, the shape
    feature-engineering kernels use. Same scale caveat as q94 (group must
    fit in memory; the window-function dual partial-aggregates and is the
    fast path) — registered to prove the API and its oracle parity."""
    events = load_tables(spark, sf_dir, ["events"])["events"]
    # Explicit hash repartition on the grouping key: AQE coalesces the
    # byte-small shuffle ahead of a grouped-map into ONE partition (its
    # advisory sizing is byte-based), which serializes the Python workers
    # — the stage cost here is per-row Python compute, not bytes. A
    # user-specified repartition is exempt from AQE coalescing and
    # already satisfies the groupBy's required distribution (no second
    # exchange). 4.6 s -> 1.8 s at sf0.1.
    n = spark.sparkContext.defaultParallelism
    return (
        events.select("event_id", "user_id", "value")
        .repartition(n, "user_id")
        .groupBy("user_id")
        .applyInPandas(_minmax_normalize, schema=_NORM_SCHEMA)
    )
