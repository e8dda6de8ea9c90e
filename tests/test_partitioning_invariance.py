"""Results must be bitwise identical under different parallelism — the
reproducibility claim behind every decimal-sum / fixed-association /
integer-scaled recipe in functions/: a 100 TB cluster re-runs the same
query with different partition counts, shuffle orders, and speculative
retries, and the registry's determinism contract says the values cannot
move. Pin it: run representative value-sensitive queries under two very
different ``spark.sql.shuffle.partitions`` settings and require the exact
same row multiset (floats compared by bit pattern, not tolerance)."""

from __future__ import annotations

import math
import struct
from collections import Counter

import pytest

from discogs_load_spark.queries import REGISTRY
from discogs_load_spark.session import scoped_conf

from .conftest import SF_SMALL

# one per determinism recipe: exact decimal sums (q01), iterative decimal
# k-means (q113), RANGE-frame decimal window (q163), integer-scaled
# pagerank (q130), minhash/LSH md5 blocking (q52), star-closure entity
# resolution (q165)
CASES = [
    "q01_pricing_summary",
    "q113_ann_ivf_learned",
    "q163_trailing_window_revenue",
    "q130_event_pagerank",
    "q52_jaccard_neardup",
    "q165_entity_clusters",
]


def _bits(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return struct.pack("<d", v).hex()
    return v


def _rows(df):
    return Counter(tuple(_bits(v) for v in r) for r in df.collect())


def _shuffle_partitions(spark, n: int):
    return scoped_conf(spark, {"spark.sql.shuffle.partitions": str(n)})


@pytest.mark.parametrize("name", CASES)
def test_values_invariant_to_shuffle_partition_count(name, spark):
    fn = REGISTRY[name].fn
    with _shuffle_partitions(spark, 3):
        few = _rows(fn(spark, SF_SMALL))
    with _shuffle_partitions(spark, 29):
        many = _rows(fn(spark, SF_SMALL))
    assert few == many, f"{name}: values moved with partition count"
