"""Materialized embedding cluster-assignment index — the embedding-side
sibling of the document signature index (queries/sig_index.py).

SemDeDup blocking (q154) and the curation pipeline (q169) both start by
k-means-clustering the embedding space (similarity.sem_assignments: flat
or two-level Lloyd, 2 unrolled rounds with broadcast centroids and
decimal-exact means), then do all real work inside cluster-keyed joins.
The assignment is a DETERMINISTIC pure function of the embeddings table
(seed centroids are fixed by vec_id order, means are exact decimals), so
at production scale it is an ingest artifact — SemDeDup's own recipe
clusters once and reuses the partition for every downstream screen —
not a per-query computation. This module materializes (vec_id, cluster)
once per embeddings fingerprint (the fixture's identity plus the
k-ladder, iteration count and plane width; declared with the other
artifacts in queries/artifacts.py), with ``SPARK_GRAFT_ARTIFACTS=0`` as
the in-plan referee switch, equality test-pinned
(tests/test_sig_index.py).

q99 (the registered k-means query) intentionally KEEPS computing its
assignments in-plan: it is the live Lloyd computation the oracle checks
round-for-round; this index is for the queries that CONSUME a finished
partition.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.clustering import assign_clusters, recompute_centroids
from ..session import load_tables
from ..sinks.files import land, read_pointer, swap_pointer
from ..sinks.files import sweep_generations, write_parquet
from . import artifacts

EMB_INDEX_DIR = os.environ.get(
    "SPARK_GRAFT_EMB_INDEX_DIR", "/tmp/spark_graft_emb_index"
)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ["embeddings"])["embeddings"]


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The base snapshot: every vector outside the held-out delta."""
    from .dedup import NEW_MOD, NEW_REM

    return _emb(spark, sf_dir).filter((F.col("vec_id") % NEW_MOD) != NEW_REM)


def _enriched_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The build lineage, in-plan: the embeddings table enriched with
    every per-vector derived column the similarity family consumes —
    the k-means cluster (SemDeDup blocking), the 16-hyperplane sign-bit
    string (every LSH consumer's bucket is a PREFIX of it: the plane
    family is nested by construction, functions/vectors.hyperplanes),
    and the L2 norm (the exact-cosine denominators). At production
    scale this IS the enriched embeddings table a pipeline writes at
    ingest; locally it doubles a small fixture."""
    from ..functions.vectors import (
        ADAPTIVE_LSH_MAX_PLANES,
        lsh_bucket_sql,
        norm2_sql,
    )
    from .similarity import DIM, sem_assignments

    emb = _emb(spark, sf_dir)
    # bounded: 1-row count-star scalar sizes the clustering to the corpus
    assigned = sem_assignments(emb, emb.count())
    bits = lsh_bucket_sql("embedding", ADAPTIVE_LSH_MAX_PLANES, DIM, "spark")
    return (
        emb.join(assigned, "vec_id")
        .select(
            "vec_id",
            "embedding",
            "cluster",
            F.expr(bits).alias("bits"),
            F.expr(f"sqrt({norm2_sql('embedding', DIM, 'spark')})").alias(
                "nrm"
            ),
        )
    )


def emb_enriched(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """(vec_id, embedding, cluster, bits, nrm) — the materialized
    enriched embeddings table; see the module docstring."""
    return artifacts.load("emb_enriched", spark, sf_dir, rebuild)


# --- frozen delta-training centroids (q220/q221/q222/q225) -----------------
#
# The streaming/incremental assignment family trains the SAME frozen
# centroid table on every invocation: base snapshot = the vec_id-modulo
# complement of the held-out delta (queries/dedup.NEW_MOD/NEW_REM),
# sem_assignments Lloyd rounds, centroids = per-cluster decimal-exact
# means (recompute_centroids). That is a deterministic pure function of
# the embeddings table — an ingest artifact, not per-query work (ADVICE
# r12: q221/q222 re-ran the full Lloyd training per invocation and leaked
# a persisted frame). Its fingerprint folds in the snapshot split as well
# as the clustering constants; equality with the in-plan referee is
# test-pinned in tests/test_sig_index.py.


def _centroid_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import sem_assignments

    base = _base(spark, sf_dir)
    # bounded: 1-row count-star scalar sizes the clustering to the corpus
    assigned = sem_assignments(base, base.count())
    return recompute_centroids(assigned, base, "vec_id", "embedding")


def frozen_centroids(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """(cluster, centroid) — the frozen base-snapshot centroid table the
    delta-assignment family scores against; see the block comment."""
    return artifacts.load("frozen_centroids", spark, sf_dir, rebuild)


# --- centroid GENERATIONS + refresh (q228, VERDICT r13 item 1) --------------
#
# The frozen base-snapshot centroids never retrain: as the corpus grows
# they drift unboundedly from the data — the one component of the 24/7
# embedding-index story that stayed permanently stale (the reference
# rebuilds its indexes after every load: main.rs:105-107 via
# sql/indexes.sql, so ITS access paths never drift). The refresh job
# retrains on the FULL corpus (base + accumulated delta) with the same
# Lloyd stack, lands the new centroid table as a NEW GENERATION of a
# pointer-swapped artifact, and q228 emits the reassignment delta
# (vectors whose nearest centroid changed, old -> new). Each generation
# directory is named by the md5 of its TRAINING-INPUT fingerprint (the
# frozen_centroids or refresh_centroids declaration's) and lives in a
# per-corpus store with the sinks.files generation lifecycle: land the
# generation, swap the CURRENT pointer (atomic os.replace — a reader
# resolving it sees exactly the old or exactly the new name), and only
# then sweep every other generation (tests/test_index_refresh.py pins
# the exactly-one-version invariant at every step boundary via the
# _probe hook).


def _full_centroid_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster, centroid) retrained on the FULL corpus — the refresh
    target: the same construction as _centroid_frame without the base
    filter, so the SQL dual is the same Lloyd CTE chain over the whole
    embeddings table."""
    from .similarity import sem_assignments

    emb = _emb(spark, sf_dir)
    # bounded: 1-row count-star scalar sizes the clustering to the corpus
    assigned = sem_assignments(emb, emb.count())
    return recompute_centroids(assigned, emb, "vec_id", "embedding")


def _centgen_root(sf_dir: str) -> str:
    """Per-corpus generation store: g_<trainkey> dirs + CURRENT pointer."""
    corpus = artifacts.copy_key(sf_dir, ("embeddings",))
    return os.path.join(EMB_INDEX_DIR, f"centgen_{corpus}")


def _generation(name: str, sf_dir: str) -> str:
    return "g_" + artifacts.key(name, sf_dir)[:12]


def refresh_centroids(
    spark: SparkSession, sf_dir: str, rebuild: bool = False, _probe=None
) -> DataFrame:
    """(cluster, centroid) — the CURRENT generation after running the
    refresh cycle: seed the store with the frozen base-snapshot
    generation if empty, retrain on the full corpus, land the new
    generation, swap the pointer, delete the superseded generation.
    Idempotent: when CURRENT already points at the full-corpus
    generation the call is a pure read. ``_probe(step)`` is a test hook
    invoked at the step boundaries ('seeded', 'landed', 'swapped',
    'cleaned') so the generation-swap safety test can assert the
    exactly-one-complete-version invariant mid-cycle; it is None in
    production paths. SPARK_GRAFT_ARTIFACTS=0 recomputes the refreshed
    table in-plan (referee mode, no store)."""
    if not artifacts.enabled():
        return _full_centroid_frame(spark, sf_dir)

    root = _centgen_root(sf_dir)
    if rebuild:
        # bench/probe prebuilds time the WHOLE cycle from an empty
        # store (seed train + full retrain + land + swap) — wipe so the
        # timed value is real work, not an idempotent pointer read
        shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    base_gen = _generation("frozen_centroids", sf_dir)
    full_gen = _generation("refresh_centroids", sf_dir)
    cur = read_pointer(root)
    if cur is None:
        # seed generation 0 = the frozen base-snapshot centroids — read
        # from the frozen_centroids artifact (identical frame, same
        # fingerprint) instead of re-running the base Lloyd training per
        # seed (r14 review finding: every rebuild was double-training)
        land(
            os.path.join(root, base_gen),
            lambda tmp: write_parquet(frozen_centroids(spark, sf_dir), tmp),
        )
        swap_pointer(root, base_gen)
        cur = base_gen
        if _probe is not None:
            _probe("seeded")
    if cur != full_gen:
        land(
            os.path.join(root, full_gen),
            lambda tmp: write_parquet(_full_centroid_frame(spark, sf_dir), tmp),
        )
        if _probe is not None:
            _probe("landed")  # new gen complete on disk; pointer still old
        swap_pointer(root, full_gen)
        if _probe is not None:
            _probe("swapped")  # pointer new; old gen still readable
    # the superseded generation goes only after the swap; on the
    # idempotent path this removes a straggler that a crash between the
    # swap and the sweep left behind
    sweep_generations(root)
    if _probe is not None and cur != full_gen:
        _probe("cleaned")
    return spark.read.parquet(os.path.join(root, full_gen))


# --- LSM read-merge artifacts for the embedding family (q230) ---------------
#
# The read path between compactions needs BOTH sides as artifacts (the
# q227 discipline — no re-derivation in the consumer's plan): the BASE
# side is the Lloyd-final assignment of the base snapshot (computed by
# the same training run that froze the centroids — at ingest they are
# one job's two outputs), the DELTA side is the accumulated
# delta-assignment landing (the q225 composition's per-vector labels —
# what q226's streamed maintainer lands batch by batch, here as the
# whole-delta artifact a compaction would produce).


def _base_assignments_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import sem_assignments

    base = _base(spark, sf_dir)
    # bounded: 1-row count-star scalar sizes the clustering
    return sem_assignments(base, base.count()).select("vec_id", "cluster")


def base_assignments(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """(vec_id, cluster) — the base snapshot's Lloyd-final assignment
    (sem_assignments over the base corpus: the SEM_ITER-th assignment,
    whose per-cluster means ARE the frozen centroids). Keyed on the
    frozen centroids' fingerprint."""
    return artifacts.load("base_assignments", spark, sf_dir, rebuild)


def _emb_delta_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import complete_delta_labels

    return complete_delta_labels(spark, sf_dir)


def emb_delta_landing(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """(vec_id, cluster, via_exact) — the delta snapshot's COMPLETE
    assignment labels (similarity.complete_delta_labels: q225's
    multiprobe cheap path + exact argmax for the bucket-miss residue)
    as a cached artifact: the accumulated landing a consumer merges
    with base_assignments between compactions (q230). Keyed on the
    frozen centroids' fingerprint."""
    return artifacts.load("emb_delta_landing", spark, sf_dir, rebuild)


# --- refresh-apply artifacts (q231) ------------------------------------------
#
# The refresh cycle's CONSUMER side holds two artifacts: the full-corpus
# assignment under the OLD (frozen) centroids — the cluster-keyed state
# every downstream table is organized by — and the reassignment delta
# the refresh emitted (q228's output, materialized). q231 proves the
# delta is SUFFICIENT: patching the old state with it reproduces the
# new-centroid state exactly, without re-running any argmax.


def _full_assignments_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import DIM

    return assign_clusters(
        _emb(spark, sf_dir),
        frozen_centroids(spark, sf_dir),
        "vec_id",
        "embedding",
        DIM,
    ).select("vec_id", "cluster")


def full_assignments(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """(vec_id, cluster) — EVERY corpus vector's exact argmax against
    the FROZEN (old) centroids: the consumer's cluster-keyed state
    before a refresh lands. Distinct from base_assignments (the base
    snapshot's Lloyd-final labels): this is the old index's answer for
    the whole corpus, base + delta alike."""
    return artifacts.load("full_assignments", spark, sf_dir, rebuild)


def _reassignment_delta_frame(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .similarity import DIM

    # the old side IS full_assignments (identical computation, same
    # fingerprint lineage) — read the artifact instead of re-running
    # the corpus-sized argmax per rebuild (r14 review finding: the
    # builds were paying it twice); referee mode recomputes in-plan
    olda = full_assignments(spark, sf_dir).select(
        "vec_id", F.col("cluster").alias("old_cluster")
    )
    newa = assign_clusters(
        _emb(spark, sf_dir),
        refresh_centroids(spark, sf_dir),
        "vec_id",
        "embedding",
        DIM,
    ).select("vec_id", F.col("cluster").alias("new_cluster"))
    return (
        olda.join(newa, "vec_id")
        .filter(F.col("old_cluster") != F.col("new_cluster"))
        .select("vec_id", "old_cluster", "new_cluster")
    )


def reassignment_delta(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """(vec_id, old_cluster, new_cluster) — q228's reassignment delta as
    the artifact the refresh job ships to consumers: every vector whose
    exact argmax moved between the frozen and the refreshed centroid
    generations. Keyed on both generations' training inputs."""
    return artifacts.load("reassignment_delta", spark, sf_dir, rebuild)
