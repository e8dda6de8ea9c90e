"""Connected components: the one operator's two paths — the driver-side
union-find below ``CC_DRIVER_EDGE_CAP`` and the large-star/small-star
loop above it (forced here by a cap of 0) — must produce the IDENTICAL
(node, component=min-reachable-id) labeling, checked against a Python
union-find ground truth on adversarial graph shapes."""

from __future__ import annotations

import random
import uuid

import pytest

from discogs_load_spark.operators import dedup
from discogs_load_spark.operators.dedup import (
    connected_components,
    connected_components_star,
)


def _union_find_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _labels(df) -> dict[int, int]:
    return {r["node"]: r["component"] for r in df.collect()}


def _pairs_df(spark, edges, id_type="long"):
    return spark.createDataFrame(
        [(a, b) for a, b in edges], f"id_a {id_type}, id_b {id_type}"
    )


def _both_paths(monkeypatch, pairs) -> list[dict]:
    """Labels from the driver path, then from the star path (cap 0)."""
    driver = _labels(connected_components(pairs))
    with monkeypatch.context() as m:
        m.setattr(dedup, "CC_DRIVER_EDGE_CAP", 0)
        star = _labels(connected_components(pairs))
    return [driver, star]


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5])
def test_star_matches_union_find_on_random_graphs(spark, monkeypatch, seed):
    rng = random.Random(seed)
    n = 300
    # sparse ER graph + planted cliques + shuffled non-contiguous id space
    remap = {i: i * 17 + (i % 7) * 1000 for i in range(n)}
    edges = [
        (remap[rng.randrange(n)], remap[rng.randrange(n)]) for _ in range(250)
    ]
    for base in (0, 50, 120):
        ids = [remap[base + k] for k in range(5)]
        edges += [(ids[i], ids[i + 1]) for i in range(4)]
    edges = [(a, b) for a, b in edges if a != b]
    edges += edges[:20]  # duplicates must not matter
    want = _union_find_labels(edges)
    assert _both_paths(monkeypatch, _pairs_df(spark, edges)) == [want, want]


def test_star_converges_on_high_diameter_path(spark):
    n = 2000
    edges = [(i, i + 1) for i in range(n - 1)]
    got = _labels(connected_components_star(_pairs_df(spark, edges)))
    assert set(got.values()) == {0}
    assert len(got) == n


def test_high_diameter_path_closes_on_both_paths(spark, monkeypatch):
    edges = [(i, i + 1) for i in range(200)]
    want = {i: 0 for i in range(201)}
    assert _both_paths(monkeypatch, _pairs_df(spark, edges)) == [want, want]


def test_star_empty_and_single_edge(spark, monkeypatch):
    empty = _pairs_df(spark, [])
    assert _both_paths(monkeypatch, empty) == [{}, {}]
    one = _pairs_df(spark, [(7, 3)])
    assert _both_paths(monkeypatch, one) == [{7: 3, 3: 3}] * 2


def test_self_loop_only_nodes_label_themselves_in_both_variants(
    spark, monkeypatch
):
    # node 9's only pair is (9, 9): both paths must surface it as its own
    # component
    edges = [(1, 2), (9, 9), (2, 2)]
    want = {1: 1, 2: 1, 9: 9}
    assert _both_paths(monkeypatch, _pairs_df(spark, edges)) == [want, want]


def test_string_ids_label_by_lexicographic_min_on_both_paths(
    spark, monkeypatch
):
    edges = [("pear", "apple"), ("plum", "pear"), ("fig", "kiwi")]
    pairs = _pairs_df(spark, edges, "string")
    want = {
        "apple": "apple", "pear": "apple", "plum": "apple",
        "fig": "fig", "kiwi": "fig",
    }
    assert _both_paths(monkeypatch, pairs) == [want, want]
    types = {f.name: f.dataType.simpleString() for f in
             connected_components(pairs).schema.fields}
    assert types == {"node": "string", "component": "string"}


def test_driver_path_runs_at_most_three_jobs(spark):
    """A per-round loop pays several jobs per round; the driver close of a
    25-edge graph is one collect of the (shuffled) edge list."""
    from pyspark.sql import functions as F

    pairs = (
        spark.range(25)
        .repartition(4)
        .select(
            F.col("id").alias("id_a"), ((F.col("id") + 1) % 30).alias("id_b")
        )
    )
    sc = spark.sparkContext
    group = f"cc-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        got = _labels(connected_components(pairs))
    finally:
        sc.setJobGroup("", "")
    assert set(got.values()) == {0}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_kmeans_two_level_contract(spark):
    """Hierarchical assignment: every vector assigned exactly once, cluster
    ids bounded by k1*k2, and the result is partition-invariant (decimal
    means keep the Lloyd rounds deterministic)."""
    from discogs_load_spark.operators.clustering import kmeans_two_level
    from discogs_load_spark.session import load_tables

    from .conftest import SF_SMALL

    emb = load_tables(spark, SF_SMALL, ["embeddings"])["embeddings"]
    n = emb.count()
    out = kmeans_two_level(emb, "vec_id", "embedding", 64, 3, 4, 2)
    rows = {r["vec_id"]: r["cluster"] for r in out.collect()}
    assert len(rows) == n  # every vector exactly once
    assert all(0 <= c < 3 * 4 for c in rows.values())
    assert len(set(rows.values())) > 1  # actually partitions the space
    again = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_two_level(
            emb.repartition(7), "vec_id", "embedding", 64, 3, 4, 2
        ).collect()
    }
    assert rows == again


def test_sem_assignments_flat_at_driver_scales(spark):
    """The oracle checks the FLAT k=8 path; the two-level switch must not
    activate at any driver fixture scale (max 2000 embeddings)."""
    from discogs_load_spark.operators.clustering import kmeans
    from discogs_load_spark.queries.similarity import (
        DIM,
        SEM_ITER,
        SEM_TWO_LEVEL_MIN,
        sem_assignments,
        sem_k_value,
    )
    from discogs_load_spark.session import load_tables

    from .conftest import SF_SMALL

    assert SEM_TWO_LEVEL_MIN > 2000  # sf0.1 has 2000 embeddings
    assert sem_k_value(500) == sem_k_value(2000) == 8
    emb = load_tables(spark, SF_SMALL, ["embeddings"])["embeddings"]
    n = emb.count()
    got = {r["vec_id"]: r["cluster"] for r in sem_assignments(emb, n).collect()}
    want = {
        r["vec_id"]: r["cluster"]
        for r in kmeans(emb, "vec_id", "embedding", DIM, 8, SEM_ITER).collect()
    }
    assert got == want
