"""Round-14 index-lifecycle pins: the centroid refresh generation swap
(q228) and the two new LSM read-merges (q229 CDC, q230 embedding).

Three property families:

1. generation-swap SAFETY — a reader resolving the CURRENT pointer at
   any step boundary of the refresh cycle sees exactly one COMPLETE
   generation (the swap is an atomic os.replace; the superseded
   generation is deleted only after the swap);
2. artifact == in-plan referee for every new materialized frame
   (``SPARK_GRAFT_ARTIFACTS=0``; the CDC pair is pinned by
   tests/test_sig_index.py through q229);
3. the read-merge consumers read BOTH artifacts and re-derive nothing
   (no chunker stage, no Lloyd crossJoin), and their unions cover the
   corpus exactly once (seam invariants).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from discogs_load_spark.queries import emb_index as ei
from discogs_load_spark.queries.registry import REGISTRY
from discogs_load_spark.session import load_tables
from discogs_load_spark.sinks.files import read_pointer

from .conftest import SF_SMALL


def _complete_dir(d: str) -> bool:
    return os.path.isdir(d) and os.path.exists(os.path.join(d, "_SUCCESS"))


def test_centroid_refresh_generation_swap_safety(spark, tmp_path, monkeypatch):
    """At every step boundary of the refresh cycle, the CURRENT pointer
    resolves to exactly one generation whose directory is COMPLETE on
    disk — and at the one boundary where two complete generations
    coexist ('swapped', before cleanup) the pointer has already moved,
    so a new reader gets the new version while an in-flight reader's
    old directory is still intact."""
    monkeypatch.setattr(ei, "EMB_INDEX_DIR", str(tmp_path))

    seen: list[tuple[str, str, bool, int]] = []

    def probe(step: str) -> None:
        root = ei._centgen_root(SF_SMALL)
        cur = read_pointer(root)
        assert cur is not None and cur.startswith("g_"), (step, cur)
        cur_ok = _complete_dir(os.path.join(root, cur))
        n_gens = sum(
            1 for e in os.listdir(root)
            if e.startswith("g_") and not e.count(".tmp")
        )
        seen.append((step, cur, cur_ok, n_gens))
        # THE invariant: whatever the pointer names is complete, always
        assert cur_ok, (step, cur)

    out = ei.refresh_centroids(spark, SF_SMALL, _probe=probe)
    steps = [s[0] for s in seen]
    assert steps == ["seeded", "landed", "swapped", "cleaned"]
    by = {s[0]: s for s in seen}
    # seeded / landed: pointer still on the base generation
    assert by["seeded"][1] == by["landed"][1]
    # landed: both generations complete on disk, pointer not yet moved
    assert by["landed"][3] == 2
    # swapped: pointer moved to the new generation, old still readable
    assert by["swapped"][1] != by["landed"][1]
    assert by["swapped"][3] == 2
    # cleaned: superseded generation gone, exactly one left
    assert by["cleaned"][3] == 1
    assert by["cleaned"][1] == by["swapped"][1]

    # idempotent: a second call is a pure read (no new probe steps)
    again: list[str] = []
    out2 = ei.refresh_centroids(spark, SF_SMALL, _probe=again.append)
    assert again == []
    a = sorted((r.cluster, tuple(r.centroid)) for r in out.collect())
    b = sorted((r.cluster, tuple(r.centroid)) for r in out2.collect())
    assert a == b and len(a) >= 2


def test_refresh_artifacts_match_inplan_referee(spark, monkeypatch):
    """Every r14 materialized frame equals its in-plan referee bitwise
    (the sig_index discipline): refreshed centroids, base assignments,
    and the delta-assignment landing."""
    from discogs_load_spark.queries.similarity import complete_delta_labels

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "1")  # not vacuous
    cent = sorted(
        (r.cluster, tuple(r.centroid))
        for r in ei.refresh_centroids(spark, SF_SMALL).collect()
    )
    basea = sorted(
        (r.vec_id, r.cluster)
        for r in ei.base_assignments(spark, SF_SMALL).collect()
    )
    delta = sorted(
        (r.vec_id, r.cluster, r.via_exact)
        for r in ei.emb_delta_landing(spark, SF_SMALL).collect()
    )

    fulla = sorted(
        (r.vec_id, r.cluster)
        for r in ei.full_assignments(spark, SF_SMALL).collect()
    )
    redelta = sorted(
        (r.vec_id, r.old_cluster, r.new_cluster)
        for r in ei.reassignment_delta(spark, SF_SMALL).collect()
    )

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "0")
    assert cent == sorted(
        (r.cluster, tuple(r.centroid))
        for r in ei.refresh_centroids(spark, SF_SMALL).collect()
    )
    assert basea == sorted(
        (r.vec_id, r.cluster)
        for r in ei.base_assignments(spark, SF_SMALL).collect()
    )
    assert delta == sorted(
        (r.vec_id, r.cluster, r.via_exact)
        for r in complete_delta_labels(spark, SF_SMALL).collect()
    )
    assert fulla == sorted(
        (r.vec_id, r.cluster)
        for r in ei.full_assignments(spark, SF_SMALL).collect()
    )
    assert redelta == sorted(
        (r.vec_id, r.old_cluster, r.new_cluster)
        for r in ei.reassignment_delta(spark, SF_SMALL).collect()
    )
    assert len(cent) >= 2 and len(basea) > 0 and len(delta) > 0
    assert len(fulla) > 0 and len(redelta) > 0


def test_q228_emits_changed_assignments_only(spark):
    """The reassignment delta's contracts: one row per CHANGED vector
    (old != new on every row, vec_ids unique, all from the corpus), and
    the refreshed generation is what the store's pointer now serves."""
    from discogs_load_spark.plans import formatted_plan

    q = REGISTRY["q228_centroid_refresh"]
    # the registered form is the materialized-delta READ (the in-plan
    # argmax pair probed 111x sf1->sf10 and was replaced): one artifact
    # scan, no Lloyd/argmax crossJoin stage
    plan = formatted_plan(q.fn(spark, SF_SMALL))
    assert plan.count(ei.EMB_INDEX_DIR) >= 1, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    rows = q.fn(spark, SF_SMALL).collect()
    assert all(r.old_cluster != r.new_cluster for r in rows)
    ids = [r.vec_id for r in rows]
    assert len(ids) == len(set(ids))
    emb = load_tables(spark, SF_SMALL, ["embeddings"])["embeddings"]
    corpus = {r.vec_id for r in emb.select("vec_id").collect()}
    assert set(ids) <= corpus
    # the fixture's base-vs-full training inputs genuinely differ, so a
    # refresh that reports zero movement would mean one side short-read
    assert len(rows) > 0


def test_q229_merge_reads_both_artifacts_and_covers_corpus(spark):
    """The CDC read-merge's physical + seam contracts: (a) the plan
    reads the two materialized artifacts and re-derives nothing (no
    Arrow chunker stage — the q227 'no regexp_replace' discipline for
    the chunk family); (b) the delta landing prunes by partition like
    the streamed landing; (c) the merged dictionary covers the corpus
    chunk set exactly once, with the novelty split recomputed
    independently from the chunk frames."""
    from discogs_load_spark.plans import formatted_plan
    from discogs_load_spark.queries.dedup import (
        CDC_INDEX_DIR,
        NEW_MOD,
        NEW_REM,
        _cdc_chunk_frame,
        _docs,
        cdc_delta_landing,
    )
    from discogs_load_spark.queries.streaming import CDC_LANDED_PART_COL

    q = REGISTRY["q229_cdc_delta_merge_read"]
    plan = formatted_plan(q.fn(spark, SF_SMALL))
    assert plan.count(CDC_INDEX_DIR) >= 2, plan  # base + delta artifacts
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, plan

    pruned = cdc_delta_landing(spark, SF_SMALL).filter(
        F.col(CDC_LANDED_PART_COL) == "7"
    )
    pf = [
        ln
        for ln in formatted_plan(pruned).splitlines()
        if "PartitionFilters" in ln
    ]
    assert pf and any(
        CDC_LANDED_PART_COL in ln and "7" in ln for ln in pf
    )

    rows = q.fn(spark, SF_SMALL).collect()
    docs = _docs(spark, SF_SMALL)
    is_delta = (F.col("doc_id") % NEW_MOD) == NEW_REM
    base_set = {
        r.chunk_hash
        for r in _cdc_chunk_frame(docs.filter(~is_delta))
        .select("chunk_hash")
        .distinct()
        .collect()
    }
    delta_set = {
        r.chunk_hash
        for r in _cdc_chunk_frame(docs.filter(is_delta))
        .select("chunk_hash")
        .distinct()
        .collect()
    }
    assert sum(r.n_chunks for r in rows) == len(base_set | delta_set)
    assert sum(r.n_novel_delta for r in rows) == len(delta_set - base_set)
    assert sum(r.n_shared for r in rows) == len(delta_set & base_set)


def test_q230_merge_reads_both_artifacts_and_covers_corpus(spark):
    """The embedding read-merge's physical + seam contracts: (a) the
    plan reads the two materialized assignment artifacts with the
    embedding payload pruned at the scan and no Lloyd stage (a
    broadcast crossJoin in the plan would mean training re-ran in the
    consumer); (b) base ∪ delta labels every corpus vector exactly
    once, and n_delta counts exactly the delta snapshot."""
    from discogs_load_spark.plans import formatted_plan
    from discogs_load_spark.queries.dedup import NEW_MOD, NEW_REM

    q = REGISTRY["q230_emb_delta_merge_read"]
    plan = formatted_plan(q.fn(spark, SF_SMALL))
    assert plan.count(ei.EMB_INDEX_DIR) >= 2, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # column pruning reaches both scans: no embedding payload is read
    for ln in plan.splitlines():
        if "ReadSchema" in ln:
            assert "embedding:" not in ln, ln

    rows = q.fn(spark, SF_SMALL).collect()
    emb = load_tables(spark, SF_SMALL, ["embeddings"])["embeddings"]
    n_all = emb.count()
    n_delta = emb.filter((F.col("vec_id") % NEW_MOD) == NEW_REM).count()
    assert sum(r.n_members for r in rows) == n_all
    assert sum(r.n_delta for r in rows) == n_delta
    assert all(r.cluster >= 0 for r in rows)  # complete: no -1 bucket


def test_q231_patch_equals_direct_recompute_and_rederives_nothing(spark):
    """The refresh-apply consumer (q231): (a) the plan reads the two
    materialized artifacts (full old assignment + reassignment delta)
    with the embedding payload pruned at the scan and NO Lloyd stage —
    the whole point is that the consumer never re-runs an argmax;
    (b) patch sufficiency at the ROW level: old labels patched by the
    delta equal a fresh exact argmax against the refreshed centroids
    for every corpus vector; (c) conservation: memberships sum to the
    corpus, moved-in and moved-out both sum to the q228 delta size."""
    from discogs_load_spark.operators.clustering import assign_clusters
    from discogs_load_spark.plans import formatted_plan
    from discogs_load_spark.queries.similarity import DIM

    q = REGISTRY["q231_reassign_delta_apply"]
    plan = formatted_plan(q.fn(spark, SF_SMALL))
    assert plan.count(ei.EMB_INDEX_DIR) >= 2, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    for ln in plan.splitlines():
        if "ReadSchema" in ln:
            assert "embedding:" not in ln, ln

    # row-level patch sufficiency: patched == direct recompute
    patched = {
        (r.vec_id, r.new_cluster if r.new_cluster is not None else r.cluster)
        for r in ei.full_assignments(spark, SF_SMALL)
        .join(
            ei.reassignment_delta(spark, SF_SMALL).select(
                "vec_id", "new_cluster"
            ),
            "vec_id",
            "left",
        )
        .collect()
    }
    emb = load_tables(spark, SF_SMALL, ["embeddings"])["embeddings"]
    direct = {
        (r.vec_id, r.cluster)
        for r in assign_clusters(
            emb,
            ei.refresh_centroids(spark, SF_SMALL),
            "vec_id",
            "embedding",
            DIM,
        )
        .select("vec_id", "cluster")
        .collect()
    }
    assert patched == direct and len(patched) == emb.count()

    rows = q.fn(spark, SF_SMALL).collect()
    n_changed = REGISTRY["q228_centroid_refresh"].fn(spark, SF_SMALL).count()
    assert sum(r.n_members for r in rows) == emb.count()
    assert sum(r.n_in for r in rows) == n_changed
    assert sum(r.n_out for r in rows) == n_changed
    assert n_changed > 0  # the fixture genuinely moves vectors


def test_q232_monitor_is_linear_and_consistent(spark):
    """The drift monitor: (a) NO argmax/Lloyd stage in the plan — the
    labels come from the full_assignments artifact and the cosine is
    against exactly ONE broadcast centroid per vector (a crossJoin
    stage would mean the monitor re-runs the O(N x k) reassignment it
    exists to replace); (b) population counts tie out against the
    corpus and the delta split; (c) the per-cluster fit means are
    bounded cosines and NULL exactly when the population is empty."""
    from discogs_load_spark.plans import formatted_plan
    from discogs_load_spark.queries.dedup import NEW_MOD, NEW_REM

    q = REGISTRY["q232_centroid_drift_monitor"]
    plan = formatted_plan(q.fn(spark, SF_SMALL))
    assert plan.count(ei.EMB_INDEX_DIR) >= 2, plan  # labels + centroids
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan

    rows = q.fn(spark, SF_SMALL).collect()
    emb = load_tables(spark, SF_SMALL, ["embeddings"])["embeddings"]
    n_all = emb.count()
    n_delta = emb.filter((F.col("vec_id") % NEW_MOD) == NEW_REM).count()
    assert sum(r.n_base + r.n_delta for r in rows) == n_all
    assert sum(r.n_delta for r in rows) == n_delta
    for r in rows:
        assert (r.fit_base is None) == (r.n_base == 0)
        assert (r.fit_delta is None) == (r.n_delta == 0)
        for v in (r.fit_base, r.fit_delta):
            if v is not None:
                assert -1.0 <= v <= 1.0
