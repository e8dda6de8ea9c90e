"""Ingest artifact pins (queries/artifacts.py), led by the document
signature index (queries/sig_index.py).

The dedup family's r10 execution-path change: signatures, shingle sets,
and content hashes come from a materialized per-corpus parquet index
instead of per-query normalize→shingle→hash chains. These tests pin the
three properties that make that safe, for every artifact family:

1. the artifact path equals the in-plan referee BITWISE for every
   rewired query shape (``SPARK_GRAFT_ARTIFACTS=0`` is the referee
   switch);
2. the index is one row per document, with null signatures exactly for
   shingle-less docs (< k tokens) — the long-standing operator contract;
3. the cache key tracks fixture identity (size+mtime) and the index
   version string, so a regenerated fixture or changed semantics can
   never serve a stale index.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from discogs_load_spark.queries.registry import REGISTRY
from discogs_load_spark.queries import artifacts, sig_index as si

from .conftest import SF_SMALL

# one query per rewired operator shape, across the three artifact
# families. Signature index: exact-hash groupBy, raw signatures, Jaccard
# verify w/ sets, SimHash fold, OPH fold, prefix filter explode,
# asymmetric containment prefix + verify sets
PINNED = (
    "q50_exact_dedup",
    "q51_minhash_lsh_pairs",
    "q52_jaccard_neardup",
    "q64_simhash_hamming_pairs",
    "q175_oph_minhash_pairs",
    "q123_prefix_filter_jaccard",
    "q215_containment_prefix_exact",
    # v2 token-column consumers: stored-shingle reuse, token explode,
    # k-gram derivation from the stored token array
    "q142_boilerplate_ngrams",
    "q145_bm25_topk",
    "q146_lm_doc_score",
    # r13: the LSM read-merge (base index ∪ delta landing) — the switch
    # must flip BOTH artifact reads to their in-plan lineages
    "q227_index_delta_merge_read",
    # CDC chunk index, and its LSM read-merge with the delta landing
    "q202_cdc_chunk_dedup",
    "q229_cdc_delta_merge_read",
    # embedding artifacts: the enriched index's cluster, sign-bit prefix
    # and norm consumers, and the frozen-centroid consumers (r13: the
    # delta-assignment family's Lloyd training moved to
    # emb_index.frozen_centroids)
    "q154_semdedup",
    "q169_curation_pipeline",
    "q54_embedding_neardup",
    "q95_embedding_dedup_groups",
    "q192_best_embedding_match",
    "q199_adaptive_lsh_best_match",
    "q221_delta_cluster_assign_lsh",
    "q222_delta_assign_multiprobe",
    "q225_delta_assign_complete",
)


def _rows(spark, name):
    return sorted(map(tuple, REGISTRY[name].fn(spark, SF_SMALL).collect()))


@pytest.mark.parametrize("name", PINNED)
def test_index_path_equals_inplan_referee(spark, name, monkeypatch):
    # pin the switch ON for the artifact side: an ambient
    # SPARK_GRAFT_ARTIFACTS=0 would make both sides run the referee and
    # the equality vacuous (ADVICE r10)
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "1")
    spark.catalog.clearCache()
    via_index = _rows(spark, name)
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "0")
    spark.catalog.clearCache()
    assert _rows(spark, name) == via_index


def test_index_is_one_row_per_document_with_contract_nulls(spark):
    idx = si.doc_signature_index(spark, SF_SMALL)
    docs = si._docs(spark, SF_SMALL)
    assert idx.count() == docs.count()
    # null signature <=> empty shingle array (< k tokens); content_hash
    # is total (every doc is exact-dedup-able even when not MinHash-able)
    bad = idx.filter(
        (F.col("h0").isNull() != (F.size("sh") == 0))
        | F.col("content_hash").isNull()
    )
    assert bad.count() == 0
    # accessor contracts: signatures drop shingle-less docs, sets keep all
    n_sig = si.doc_signatures(spark, SF_SMALL).count()
    assert n_sig == idx.filter(F.size("sh") > 0).count()
    assert si.doc_shingle_sets(spark, SF_SMALL).count() == docs.count()


def test_stored_shingle_consumers_share_the_index_k():
    """q142/q147/q184 read the STORED shingle arrays as their n-grams —
    legal only while their k equals the index build's SHINGLE_K. A k
    change must fail here, not silently serve wrong-width n-grams."""
    from discogs_load_spark.queries.text import BOILERPLATE_K, DUPNGRAM_K

    assert BOILERPLATE_K == si.SHINGLE_K
    assert DUPNGRAM_K == si.SHINGLE_K


def test_fingerprint_tracks_fixture_identity_and_version(
    tmp_path, monkeypatch
):
    src = os.path.join(SF_SMALL, "documents.parquet")
    dst = tmp_path / "documents.parquet"
    (shutil.copytree if os.path.isdir(src) else shutil.copy2)(src, str(dst))
    fp1 = artifacts.fingerprint("doc_signature_index", str(tmp_path))
    assert artifacts.ARTIFACTS["doc_signature_index"].tag in fp1
    # a regenerated fixture (same path, new mtime) must change the key
    st = os.stat(dst)
    os.utime(dst, (st.st_atime, st.st_mtime + 7))
    fp2 = artifacts.fingerprint("doc_signature_index", str(tmp_path))
    assert fp1 != fp2
    # and so must every version constant the build branches on
    monkeypatch.setattr(si, "SHINGLE_K", si.SHINGLE_K + 1)
    fp3 = artifacts.fingerprint("doc_signature_index", str(tmp_path))
    assert fp3 != fp2
    monkeypatch.setattr(si, "DEFAULT_N_HASHES", si.DEFAULT_N_HASHES + 1)
    assert artifacts.fingerprint("doc_signature_index", str(tmp_path)) != fp3


def test_fingerprint_tracks_textfn_semantics(monkeypatch):
    """A changed normalize/tokenize/shingle SQL fragment must change the
    fingerprint WITHOUT anyone remembering to bump the version string
    (VERDICT r11 item 2: the under-folded fingerprint was the repo's one
    latent wrong-answer path — a semantics edit serving a stale cached
    index). Both layouts must rebuild: they share the build lineage."""
    from discogs_load_spark.functions import textfns

    def fps() -> tuple[str, str]:
        out = []
        for mode in ("0", "1"):
            monkeypatch.setenv("SPARK_GRAFT_SIG_HASHED", mode)
            out.append(artifacts.fingerprint("doc_signature_index", SF_SMALL))
        return tuple(out)

    fp_s, fp_h = fps()
    orig = textfns.norm_sql
    monkeypatch.setattr(
        textfns, "norm_sql", lambda col, d: f"upper({orig(col, d)})"
    )
    fp_s2, fp_h2 = fps()
    assert fp_s2 != fp_s
    assert fp_h2 != fp_h


def test_emb_version_tracks_clustering_constants(monkeypatch):
    """The emb-index fingerprint must fold every constant the build
    lineage branches on — SEM_K was the r10 miss; pin it (and the
    two-level cutoff) with a mutation, not a string inspection."""
    from discogs_load_spark.queries import similarity

    def fp() -> str:
        return artifacts.fingerprint("emb_enriched", SF_SMALL)

    v0 = fp()
    monkeypatch.setattr(similarity, "SEM_K", similarity.SEM_K + 1)
    v1 = fp()
    assert v1 != v0
    monkeypatch.setattr(
        similarity, "SEM_TWO_LEVEL_MIN", similarity.SEM_TWO_LEVEL_MIN + 1
    )
    assert fp() != v1


def test_prebuild_names_the_benchmarks_artifact_builders():
    """perfbench traces each artifact build by wrapping the accessor BY
    NAME in the module it maps it to (perfbench.metrics.ARTIFACT_BUILDERS)
    and calls them with ``rebuild=``; a rename or move here must fail
    this test, not only a traced benchmark run. The prebuild order must
    also build every upstream before the artifacts keyed on it."""
    import importlib
    import inspect

    from perfbench.metrics import ARTIFACT_BUILDERS

    order = list(artifacts.ARTIFACTS)
    assert sorted(order) == sorted(ARTIFACT_BUILDERS)
    for name, mod in ARTIFACT_BUILDERS.items():
        assert artifacts.ARTIFACTS[name].module == mod
        fn = getattr(importlib.import_module(f"discogs_load_spark.{mod}"), name)
        assert callable(fn)
        assert "rebuild" in inspect.signature(fn).parameters
        for up in artifacts.ARTIFACTS[name].upstream:
            assert order.index(up) < order.index(name), (up, name)


def test_index_build_is_one_map_side_pass(spark):
    """The build lineage (sig_frame) must be scan → project: no exchange,
    no join, no window — a signature row is a pure function of one
    document, so any wide operator here would be a 100 TB ingest bug."""
    from discogs_load_spark.plans import formatted_plan, join_kinds

    frame = si.sig_frame(si._docs(spark, SF_SMALL))
    plan = formatted_plan(frame)
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert join_kinds(frame) == []


def test_index_scan_replaces_normalize_chain_in_plan(spark):
    """With the index on, the signature source plan must read the index
    parquet and carry NO normalize/shingle stage (regexp_replace is the
    normalize marker) — the whole point of paying the chain at ingest.
    q51 itself consumes that source through lsh_candidate_pairs, which
    (r14) eagerly localCheckpoints the signatures before the band
    self-join, so ITS final plan shows the checkpoint (ExistingRDD), not
    the parquet scan — assert the source plan for the scan and the query
    plan for the absence of the chain."""
    from discogs_load_spark.plans import formatted_plan

    src = formatted_plan(si.doc_signatures(spark, SF_SMALL))
    assert si.SIG_INDEX_DIR in src
    assert "regexp_replace" not in src

    plan = formatted_plan(REGISTRY["q51_minhash_lsh_pairs"].fn(spark, SF_SMALL))
    assert "regexp_replace" not in plan
    assert "ExistingRDD" in plan


# --- embedding cluster-assignment index (queries/emb_index.py) -----------


def test_emb_index_fingerprint_tracks_fixture_and_params(tmp_path):
    src = os.path.join(SF_SMALL, "embeddings.parquet")
    dst = tmp_path / "embeddings.parquet"
    (shutil.copytree if os.path.isdir(src) else shutil.copy2)(src, str(dst))
    fp1 = artifacts.fingerprint("emb_enriched", str(tmp_path))
    assert artifacts.ARTIFACTS["emb_enriched"].tag in fp1
    st = os.stat(dst)
    os.utime(dst, (st.st_atime, st.st_mtime + 7))
    assert artifacts.fingerprint("emb_enriched", str(tmp_path)) != fp1


def test_emb_index_is_total_over_vectors(spark):
    from discogs_load_spark.queries.emb_index import emb_enriched
    from discogs_load_spark.session import load_tables

    idx = emb_enriched(spark, SF_SMALL)
    emb = load_tables(spark, SF_SMALL, ["embeddings"])["embeddings"]
    assert idx.count() == emb.count()
    assert idx.select("vec_id").distinct().count() == emb.count()
    # the stored sign string must be full-width (every consumer's bucket
    # is a prefix of it) and the norm strictly positive for real vectors
    from discogs_load_spark.functions.vectors import ADAPTIVE_LSH_MAX_PLANES

    bad = idx.filter(
        (F.length("bits") != ADAPTIVE_LSH_MAX_PLANES) | (F.col("nrm") <= 0)
    )
    assert bad.count() == 0


def test_frozen_centroid_fingerprint_tracks_constants(monkeypatch):
    """The frozen-centroid artifact's fingerprint must fold every
    constant the training lineage branches on — the same discipline as
    the enriched index (a changed constant without a version change
    serves a stale centroid table and silently drifts every
    delta-assignment answer)."""
    from discogs_load_spark.queries import similarity as sim
    from discogs_load_spark.queries import dedup as dd

    def fp() -> str:
        return artifacts.fingerprint("frozen_centroids", SF_SMALL)

    v0 = fp()
    monkeypatch.setattr(sim, "SEM_ITER", sim.SEM_ITER + 1)
    v1 = fp()
    assert v1 != v0
    monkeypatch.setattr(dd, "NEW_REM", (dd.NEW_REM + 1) % dd.NEW_MOD)
    assert fp() != v1


def test_frozen_centroids_artifact_equals_inplan_referee(spark, monkeypatch):
    """Artifact path (materialized parquet) vs SPARK_GRAFT_ARTIFACTS=0
    in-plan recompute: the centroid tables must be identical to the
    last bit (deterministic Lloyd + decimal-exact means + exact parquet
    double round-trip)."""
    from discogs_load_spark.queries.emb_index import frozen_centroids

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "1")
    via_artifact = sorted(
        (r.cluster, tuple(r.centroid))
        for r in frozen_centroids(spark, SF_SMALL).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "0")
    in_plan = sorted(
        (r.cluster, tuple(r.centroid))
        for r in frozen_centroids(spark, SF_SMALL).collect()
    )
    assert via_artifact == in_plan
    assert len(via_artifact) >= 2


def test_delta_landing_is_partitioned_and_merge_reads_both_artifacts(spark):
    """The LSM pair's physical contracts: (a) the delta artifact lands
    hash-prefix-partitioned and a bucket probe reaches the scan as a
    PARTITION filter (directory pruning — the q219 discipline applied
    to the delta generation); (b) q227's plan reads BOTH materialized
    artifacts and re-derives nothing from raw text (no normalize chain);
    (c) the union covers every document exactly once (sum of n_copies
    == |documents|, sum of n_delta == |new snapshot|)."""
    from discogs_load_spark.plans import formatted_plan
    from discogs_load_spark.queries.dedup import NEW_MOD, NEW_REM
    from discogs_load_spark.queries.sig_index import (
        SIG_DELTA_PART_COL,
        SIG_INDEX_DIR,
        sig_delta_landing,
    )
    from discogs_load_spark.session import load_tables

    delta = sig_delta_landing(spark, SF_SMALL)
    pruned = delta.filter(F.col(SIG_DELTA_PART_COL) == "7")
    plan = formatted_plan(pruned)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any(SIG_DELTA_PART_COL in ln and "7" in ln for ln in pf), (
        plan
    )

    q = REGISTRY["q227_index_delta_merge_read"]
    plan = formatted_plan(q.fn(spark, SF_SMALL))
    assert plan.count(SIG_INDEX_DIR) >= 2, plan  # base + delta artifacts
    assert "regexp_replace" not in plan

    rows = q.fn(spark, SF_SMALL).collect()
    docs = load_tables(spark, SF_SMALL, ["documents"])["documents"]
    assert sum(r.n_copies for r in rows) == docs.count()
    assert sum(r.n_delta for r in rows) == docs.filter(
        (F.col("doc_id") % NEW_MOD) == NEW_REM
    ).count()
