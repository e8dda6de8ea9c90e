"""Physical-plan hygiene: the properties that decide whether these plans
survive a 100 TB scale-up. Asserted, not eyeballed, so a regression (a lost
pushdown, a join flipping to cartesian) fails CI.
"""

from __future__ import annotations

import pytest

from discogs_load_spark.plans import formatted_plan, join_kinds
from discogs_load_spark.queries import REGISTRY
from discogs_load_spark.session import scoped_conf

from .conftest import SF_SMALL

_NO_AUTO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}


@pytest.fixture(autouse=True)
def _clear_cache(spark):
    """Plan-shape assertions must see the PLANNED tree, not whatever a
    previously-run query left persisted: the CacheManager plan-matches
    cached frames into InMemoryTableScan nodes, which silently swallows
    the windows/joins/scans these tests assert on (observed: q196's
    pid-window vanished when its own earlier run's `ranked` cache
    matched; q02's ReadSchema widened when q198's persisted `part`
    matched)."""
    spark.catalog.clearCache()
    yield


def _plan(spark, name: str) -> str:
    return formatted_plan(REGISTRY[name].fn(spark, SF_SMALL))


def test_no_equi_range_join_is_not_nested_loop(spark):
    """range_join_bucketized's reason to exist: the minted bucket key must
    keep the no-equi-key range join out of BroadcastNestedLoop/Cartesian."""
    kinds = join_kinds(REGISTRY["q45_bucketized_range_join"].fn(spark, SF_SMALL))
    assert kinds, "expected at least one join"
    assert "BroadcastNestedLoopJoin" not in kinds
    assert "CartesianProduct" not in kinds


def test_point_lookup_pushes_filter(spark):
    plan = _plan(spark, "q03_point_lookup")
    assert "PushedFilters" in plan
    assert "EqualTo(o_orderkey,42)" in plan.replace(" ", "")


def test_scan_project_prunes_columns(spark):
    plan = _plan(spark, "q02_scan_project")
    # ReadSchema must carry only the 4 referenced columns
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "p_partkey" in read and "p_retailprice" in read
    assert "p_size" not in read and "p_type" not in read


def test_dim_joins_broadcast(spark):
    plan = _plan(spark, "q07_customers_per_region")
    assert plan.count("BroadcastHashJoin") >= 2  # appears in tree + detail
    assert "SortMergeJoin" not in plan


def test_global_topk_avoids_full_sort(spark):
    plan = _plan(spark, "q18_global_topk")
    assert "TakeOrderedAndProject" in plan


def test_lsh_joins_are_equi_joins(spark):
    """The whole point of LSH banding/bucketing: candidate generation is an
    equi-join on the band/bucket key, never a cartesian product."""
    for q in ("q51_minhash_lsh_pairs", "q54_embedding_neardup"):
        plan = _plan(spark, q)
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_semi_anti_stay_semi_anti(spark):
    assert "LeftSemi" in _plan(spark, "q10_semi_join")
    assert "LeftAnti" in _plan(spark, "q11_anti_join")


def test_no_python_udfs_in_relational_core(spark):
    """Everything outside the explicitly-Python multimodal path must stay
    JVM-side (whole-stage codegen; no BatchEvalPython / ArrowEvalPython /
    mapInPandas stages)."""
    for name, spec in REGISTRY.items():
        if {"multimodal", "rows-only", "python-seam"} & set(spec.tags):
            continue
        plan = _plan(spark, name)
        for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
            assert marker not in plan, f"{name} contains {marker}"


def test_shred_pipeline_single_scan_per_table(spark):
    """Each shredded child table derives from one scan + explode (no joins
    back to the parent)."""
    from discogs_load_spark.operators.shred import first_wins_records, shred
    from discogs_load_spark.sources.xml_source import read_dump
    from pathlib import Path

    fixtures = Path(__file__).parent / "fixtures"
    raw = read_dump(spark, str(fixtures / "releases.xml"), "releases")
    tables = shred(first_wins_records(raw, "releases"), "releases")
    plan = formatted_plan(tables["release_label"])
    assert "Join" not in plan
    assert "Generate" in plan  # the explode


def test_deep_join_plans_have_no_cartesian(spark):
    """The Q5/Q7/Q8 shapes join 5-7 tables with a cyclic/self-join graph —
    the classic way to accidentally produce a cartesian or nested-loop if a
    join condition gets lost in translation."""
    for q in (
        "q73_local_supplier_volume",
        "q74_volume_shipping",
        "q75_market_share",
        "q102_order_count_distribution",
        "q103_promo_revenue_share",
        "q104_sole_late_supplier",
    ):
        kinds = join_kinds(REGISTRY[q].fn(spark, SF_SMALL))
        assert kinds, q
        assert "CartesianProduct" not in kinds, q
        assert "BroadcastNestedLoopJoin" not in kinds, q


def test_deep_join_dims_broadcast(spark):
    """nation/region joins in the deep queries must be broadcast hash joins
    (hinted — O(10^2) rows at any SF)."""
    for q in ("q73_local_supplier_volume", "q74_volume_shipping"):
        plan = _plan(spark, q)
        assert "BroadcastHashJoin" in plan, q


def test_threshold_queries_avoid_fact_window(spark):
    """Q15/Q17/Q18/Q22 shapes: the per-key threshold must be an aggregate
    joined back (or a scalar-subquery broadcast), never a window over the
    full fact table (a window would shuffle the payload columns too)."""
    for q in (
        "q77_small_quantity_revenue",
        "q78_large_volume_customer",
        "q79_top_supplier",
        "q80_dormant_customers",
    ):
        plan = _plan(spark, q)
        assert "Window" not in plan, q


def test_balanced_sample_window_input_is_prefiltered(spark):
    """q85's exact per-class window must be fed by the salted local top-N,
    not the raw table: two Window nodes, with the local rank filter between
    the salted window and the exact one (bounded partition at any skew)."""
    plan = _plan(spark, "q85_balanced_sample")
    assert plan.count("Window (") >= 2, plan
    # the local rank filter feeds the exact window
    assert "Condition : (rn_local" in plan, plan
    # Spark 4 additionally pushes a partial top-k below each exchange
    assert "WindowGroupLimit" in plan, plan


def test_lsh_bucket_cap_in_plan(spark):
    """The candidate self-join must be fed capped buckets: the __rn cap
    filter sits upstream of the join."""
    from discogs_load_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from discogs_load_spark.plans import formatted_plan
    from discogs_load_spark.session import load_tables

    docs = load_tables(spark, SF_SMALL, ["documents"])["documents"]
    sigs = minhash_signatures(docs, "doc_id", "text")
    capped = formatted_plan(lsh_candidate_pairs(sigs, "doc_id", max_bucket_size=64))
    assert "__rn" in capped
    assert "WindowGroupLimit" in capped  # map-side partial cap below the exchange
    assert "CartesianProduct" not in capped and "BroadcastNestedLoopJoin" not in capped
    # the cap must reuse the existing (band, key) repartition — no new shuffle
    uncapped = formatted_plan(lsh_candidate_pairs(sigs, "doc_id", max_bucket_size=None))
    assert capped.count("Exchange (") == uncapped.count("Exchange (")


def test_chunking_is_map_side(spark):
    """q96: normalize→tokenize→window slices + posexplode must be a single
    map-side stage — NO exchange anywhere (at 100 TB this runs at parquet
    scan speed, per input split)."""
    plan = _plan(spark, "q96_doc_chunks")
    assert "Exchange" not in plan, plan


def test_kmeans_assignment_broadcasts_centroids(spark):
    """q99: every centroid join must be a broadcast (k rows fanned against
    N vectors map-side); a single SortMergeJoin/CartesianProduct here would
    shuffle the full vector table once per iteration."""
    kinds = join_kinds(REGISTRY["q99_kmeans_clusters"].fn(spark, SF_SMALL))
    assert "CartesianProduct" not in kinds
    assert "SortMergeJoin" not in kinds
    assert any("Broadcast" in k for k in kinds), kinds


def test_incremental_dedup_no_cross_product(spark):
    """q100: the bipartite band join and the status joins must all be
    equi-joins."""
    kinds = join_kinds(REGISTRY["q100_incremental_dedup"].fn(spark, SF_SMALL))
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds


def test_partitioned_lake_prunes_partitions(spark):
    """q111: the event_date predicate must prune at the DIRECTORY level
    (PartitionFilters on the scan), not filter rows after reading all 30
    days."""
    plan = _plan(spark, "q111_partitioned_lake")
    assert "PartitionFilters" in plan, plan
    compact = plan.replace(" ", "")
    assert "PartitionFilters:[]" not in compact, plan


def test_forecast_revenue_pushes_all_filters(spark):
    """q122 (TPC-H Q6 shape) is the canonical pushdown check: every
    predicate reaches the parquet scan and the ReadSchema carries only the
    4 referenced lineitem columns."""
    plan = _plan(spark, "q122_forecast_revenue")
    flat = plan.replace(" ", "")
    assert "PushedFilters" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"GreaterThan({col}" in flat or f"LessThan({col}" in flat or \
            f"GreaterThanOrEqual({col}" in flat or f"LessThanOrEqual({col}" in flat, col
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" in read
    for col in ("l_orderkey", "l_partkey", "l_returnflag", "l_tax"):
        assert col not in read, col


def test_prefix_filter_join_is_equi_join(spark):
    """q123's candidate generation must be an equi-join on prefix shingles
    — never all-pairs — exactly like the LSH paths it complements."""
    plan = _plan(spark, "q123_prefix_filter_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_match_never_broadcasts_catalog(spark):
    """q112: both sides of the blocked self-join scale with the catalog,
    so the plan must be a pure (brand, band) equi-join with NO broadcast
    hint — at scale-realistic sizes (broadcast threshold off, AQE's
    runtime re-pick removed from the picture) it must land as a shuffle
    join, never a BroadcastExchange of the catalog or a nested loop."""
    with scoped_conf(spark, _NO_AUTO_BROADCAST):
        plan = _plan(spark, "q112_fuzzy_name_match")
    assert "BroadcastExchange" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_vocab_topk_bounds_global_window(spark):
    """q124's global rank window must sit ABOVE the top-N cut: the plan
    takes TakeOrderedAndProject over the vocabulary first, so the
    single-partition window only ever sees VOCAB_TOP_N rows. Asserting
    the mere presence of TakeOrderedAndProject is not enough (a plan
    that windows the full vocabulary and limits afterwards also contains
    it) — assert the structural order: in explain("formatted") children
    print below parents, so the Window node must appear on an EARLIER
    line than the TakeOrderedAndProject feeding it."""
    import re

    plan = _plan(spark, "q124_vocab_topk")
    # keep only the tree section (detail blocks start with "(n) Operator"
    # at column 0 and would also match the operator names)
    lines = []
    for l in plan.splitlines():
        if re.match(r"^\(\d+\) ", l):
            break
        lines.append(l)
    win = [i for i, l in enumerate(lines) if "Window" in l]
    topk = [i for i, l in enumerate(lines) if "TakeOrderedAndProject" in l]
    assert win and topk, plan
    assert min(win) < min(topk), (
        "Window must consume TakeOrderedAndProject's output, not the "
        "full vocabulary:\n" + "\n".join(lines)
    )


def test_decontaminated_corpus_broadcasts_screen(spark):
    """q125's contamination screen must be a broadcast semi/anti pipeline
    over the train side — never a doc x doc comparison."""
    plan = _plan(spark, "q125_decontaminated_corpus")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_pagerank_returns_local_iteration_result(spark):
    """q130 (r14 form): the corpus-sized transition count collapses to a
    vocab²-bounded collected graph and the 10 integer rounds run
    driver-side, so the RETURNED frame must be join-free (a local
    relation + sort) — no join of any kind, no Python eval nodes. The
    value-level correctness (bitwise-identical to the unrolled-CTE
    oracle) is covered by the driver gate and the partitioning-
    invariance case."""
    from discogs_load_spark.plans import join_kinds
    from discogs_load_spark.queries import REGISTRY

    from .conftest import SF_SMALL as _SF

    df = REGISTRY["q130_event_pagerank"].fn(spark, _SF)
    assert join_kinds(df) == []
    assert "BatchEvalPython" not in formatted_plan(df)


def test_bucketed_join_query_is_exchange_free_on_join_keys(spark):
    """q132: the declared bucketed fact-fact join must not shuffle either
    side on the join key — the buckets ARE the shuffle, paid once at
    write time. (The aggregate after the join may still exchange on its
    own group key; only the join keys are asserted.)"""
    from discogs_load_spark.queries import REGISTRY

    from .conftest import SF_SMALL as _SF

    df = REGISTRY["q132_bucketed_join"].fn(spark, _SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(o_orderkey" not in plan
    assert "hashpartitioning(l_orderkey" not in plan
    assert "SortMergeJoin" in plan


def test_scd2_windows_share_one_exchange(spark):
    """q148: lag → change filter → version row_number → lead are all
    user_id-partitioned, so Catalyst must plan exactly ONE user-keyed
    exchange feeding both Window nodes — a second shuffle here would
    re-move the fact table per window at scale."""
    plan = _plan(spark, "q148_scd2_dimension")
    assert plan.count("Window (") == 2, plan
    assert plan.count("Exchange (") == 1, plan


def test_zorder_is_map_side_plus_tiny_rollup(spark):
    """q150: the Morton key is per-row integer math; the only exchange
    allowed is the 16-group rollup."""
    plan = _plan(spark, "q150_zorder_layout")
    assert plan.count("Exchange (") == 1, plan
    assert "Join" not in plan


def test_snapshot_diff_joins_on_key_only(spark):
    """q149: the CDC diff must be ONE full-outer equi-join on doc_id —
    no nested loop, and md5 comparison happens post-join on skinny
    columns."""
    plan = _plan(spark, "q149_snapshot_diff")
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_thresholds_avoid_fact_window(spark):
    """q145: df and corpus stats must be aggregates joined back
    (broadcast), never windows over the posting relation."""
    plan = _plan(spark, "q145_bm25_topk")
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_graph_joins_are_equi_joins(spark):
    """q152/q153: edge build and triangle closure must be equi-joins; the
    only nested-loop joins allowed are the 1-row mean-cut broadcasts."""
    for q in ("q152_basket_triangles", "q153_brand_jaccard"):
        kinds = join_kinds(REGISTRY[q].fn(spark, SF_SMALL))
        assert "CartesianProduct" not in kinds, q


def test_semdedup_pair_join_is_cluster_equi(spark):
    """q154: the in-cluster pair join must key on the cluster id (the
    broadcast nested loops are the k-row centroid fans inside k-means);
    an all-pairs comparison would defeat SemDeDup's reason to exist.
    With the auto-broadcast threshold pinned off (AQE may otherwise
    broadcast the fixture-sized side at runtime, which is fine live but
    nondeterministic to assert), the equi key must surface as a shuffle
    join."""
    with scoped_conf(spark, _NO_AUTO_BROADCAST):
        kinds = join_kinds(REGISTRY["q154_semdedup"].fn(spark, SF_SMALL))
    assert "CartesianProduct" not in kinds
    assert "SortMergeJoin" in kinds or "ShuffledHashJoin" in kinds, kinds


def test_priority_order_covers_registry_exactly(spark):
    """priority_order() is the driver-facing iteration order: it must be a
    permutation of REGISTRY (a dropped or duplicated name would silently
    lose a query from the contract), and every RECHECK entry — the one
    remaining manual knob — must name a real query (a typo would silently
    skip the re-verification it was added to force)."""
    from collections import Counter

    from discogs_load_spark.queries.registry import RECHECK, priority_order

    order = priority_order()
    assert Counter(order) == Counter(REGISTRY.keys()), (
        "not a permutation of REGISTRY"
    )
    missing = [n for n in RECHECK if n not in REGISTRY]
    assert not missing, f"RECHECK names not in REGISTRY: {missing}"


def test_nucleus_windows_share_one_partition(spark):
    """q160: prefix mass, cumulative count, and rank are three frames over
    the SAME w1 partition — the plan must show exactly two exchanges (the
    bigram count aggregate + one w1 repartition), never one per frame."""
    plan = _plan(spark, "q160_nucleus_vocab")
    assert plan.count("Window (") == 2, plan
    assert plan.count("Exchange (") == 2, plan


def test_entity_clusters_has_no_global_window(spark):
    """q165's name-id assignment must not funnel the whole name domain
    through one window partition (VERDICT r03 #5): ids come from
    monotonically_increasing_id, so the plan contains no Window node at
    all on the id-assignment path (the only windows the query could have
    would be a partition-less row_number)."""
    plan = _plan(spark, "q165_entity_clusters")
    assert "row_number" not in plan.lower()
    assert "Window" not in plan


def test_curation_pipeline_no_cartesian_and_broadcasts(spark):
    """q169 composes kmeans + pair join + closure + rollup: the pair join
    must stay a cluster-keyed equi-join (no cross product anywhere except
    the k-row centroid broadcast and the 1-row budget normalizer, which
    are broadcast nested loops over literal-sized frames)."""
    from discogs_load_spark.plans import join_kinds

    df = REGISTRY["q169_curation_pipeline"].fn(spark, SF_SMALL)
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_probe_sweep_fans_queries_not_corpus(spark):
    """q138's three probe legs each fan only QUERY rows to extra cells;
    the corpus side keeps its single home cell — so the plan must contain
    no cartesian product and at least one equi hash join per leg."""
    from discogs_load_spark.plans import join_kinds

    df = REGISTRY["q138_ann_ivf_multiprobe"].fn(spark, SF_SMALL)
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds


def test_funnel_scalar_crossjoins_are_hinted_broadcasts(spark):
    """q81 chains three 1-row aggregate crossJoins; the F.broadcast hints
    must pin BroadcastNestedLoopJoin in the plan itself (not leave the
    shape to AQE's runtime estimate) and no CartesianProduct may appear."""
    kinds = join_kinds(REGISTRY["q81_conversion_funnel"].fn(spark, SF_SMALL))
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" in kinds


def test_preshard_ingest_prunes_to_rollup_columns(spark):
    """q170: the post-parse rollup needs only (id, title, country) — the
    XML scan's ReadSchema must prune the other shredded columns (at dump
    scale that's the difference between parsing 3 fields and 10)."""
    plan = _plan(spark, "q170_preshard_ingest")
    assert "CartesianProduct" not in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read, "expected a ReadSchema line for the XML scan"
    assert "title" in read[0] and "country" in read[0]
    for col in ("notes", "genres", "styles", "data_quality"):
        assert col not in read[0], f"unpruned column {col} in XML scan"


def test_bpe_encode_folds_stay_literal_and_pruned(spark):
    """q172: the 8 merge applications are LITERAL folds (the trainer's
    1-row argmaxes are collected bounded scalars since r14), so the plan
    must contain NO join machinery for them at all — no CartesianProduct
    and no BroadcastNestedLoopJoin (the old 1-row-frame form) — and the
    signature-index scan (q172's corpus source since the v2 token column)
    must prune to (source, toks) — the corpus-sized work is one count
    shuffle, so an unpruned scan or a shuffled merge join would be the
    scale leak."""
    df = REGISTRY["q172_bpe_encode"].fn(spark, SF_SMALL)
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds  # merges are literals now
    plan = formatted_plan(df)
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read, "expected a ReadSchema line for the index scan"
    assert "source" in read[0] and "toks" in read[0]
    for col in ("content_hash", "sh", "doc_id", "h0"):
        assert f"{col}:" not in read[0], f"unpruned column {col} in index scan"


def test_countmin_point_query_broadcasts_grid(spark):
    """q180's grid is DEPTH*WIDTH = 256 rows; the top-k point-query join
    against it must be a broadcast, never a shuffle of the probe side."""
    plan = _plan(spark, "q180_countmin_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_phash_dedup_single_exchange_and_pruned_scan(spark):
    """q181 is render→decode→hash (all narrow Arrow stages) + one phash
    groupBy: the plan must not read the documents text column (only
    doc_id feeds the render) and must contain no join at all."""
    plan = _plan(spark, "q181_image_phash_dedup")
    kinds = join_kinds(REGISTRY["q181_image_phash_dedup"].fn(spark, SF_SMALL))
    assert not kinds, f"unexpected joins in a shuffle-free pipeline: {kinds}"
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read
    assert "text" not in read


def test_pmi_totals_are_hinted_broadcasts(spark):
    """q182's corpus totals are 1-row frames crossed onto the candidate
    set: they must be BroadcastNestedLoopJoin (hinted), and the unigram
    joins vocab-keyed equi-joins — no cartesian anywhere."""
    kinds = join_kinds(REGISTRY["q182_pmi_collocations"].fn(spark, SF_SMALL))
    assert "CartesianProduct" not in kinds
    assert kinds.count("BroadcastNestedLoopJoin") >= 2


def test_weighted_sample_pushes_window_group_limit(spark):
    """q183's rk <= k predicate must push a WindowGroupLimit below the
    per-source exchange so map tasks forward at most k rows per source."""
    plan = _plan(spark, "q183_weighted_priority_sample")
    assert "WindowGroupLimit" in plan


def test_bloom_probe_join_broadcasts_filter_grid(spark):
    """q184's filter grid is <= sources x 256 rows; the probe join must
    broadcast it, and nothing in the plan may go cartesian."""
    kinds = join_kinds(REGISTRY["q184_bloom_membership"].fn(spark, SF_SMALL))
    assert "CartesianProduct" not in kinds
    assert "BroadcastHashJoin" in kinds


def test_best_match_argmax_is_partial_aggregate(spark):
    """The r08 bounded-output duals (q191/q192/q195) exist so the full
    candidate set is never shuffled or returned: the argmax must compile
    to a HashAggregate pair with a map-side partial (partial_min/
    partial_max over the tie-break struct), NOT a Window over the
    candidates, and candidate generation must stay equi-join."""
    for q, fn_name, window_ok in (
        # q191's one Window is the top-2-ids group stat over part keyed
        # by (brand, name) — WindowGroupLimit'd (asserted below), so each
        # map task forwards <= 2 rows per group; the argmax itself is
        # domain-grain aggregates
        ("q191_best_fuzzy_match", "partial_min", True),
        ("q192_best_embedding_match", "partial_max", False),
        # q195's one Window is the mega-bucket cap inside
        # lsh_candidate_pairs (row_number over band buckets — bounded by
        # construction), not an argmax over the candidate set
        ("q195_minhash_best_match", "partial_max", True),
    ):
        plan = _plan(spark, q)
        assert fn_name in plan, q
        if not window_ok:
            assert "Window" not in plan, q
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q
    assert "WindowGroupLimit" in _plan(spark, "q191_best_fuzzy_match")


def test_sorted_neighborhood_rank_is_distributed(spark):
    """q196's global rank must never collapse to a single-partition
    window over ROW data (the classic row_number-over-everything trap):
    the row-grain rank window is keyed by partition id, and the only
    SinglePartition exchange in the plan is the bounded per-partition
    COUNTS frame (<= one row per shuffle partition — the offsets
    cumsum, same class as q186's distinct-value windows). The offsets
    join is a broadcast; neighbor pairing is an equi-join on rank — no
    range/theta join, no cartesian."""
    # the rank lineage is checkpointed inside _snb_pairs (r14 — its
    # probe/build consumers raced the lazy persist), so the shape is
    # pinned on the pre-checkpoint frame _snb_ranked exposes
    from discogs_load_spark.queries.dedup import _snb_ranked
    from discogs_load_spark.session import load_tables

    part = load_tables(spark, SF_SMALL, ["part"])["part"]
    ranked = _snb_ranked(part)
    rplan = formatted_plan(ranked)
    # the row-grain rank is pid-partitioned (parallel)...
    assert "row_number() windowspecdefinition(pid" in rplan
    # ...and no SinglePartition exchange carries row-grain columns —
    # only the bounded per-partition counts frame may funnel
    row_grain = [
        seg
        for seg in rplan.split("\n\n")
        if "SinglePartition" in seg
        and ("p_partkey" in seg or "p_name" in seg)
    ]
    assert not row_grain, row_grain
    rkinds = join_kinds(ranked)
    assert "CartesianProduct" not in rkinds
    assert "BroadcastNestedLoopJoin" not in rkinds
    assert "BroadcastHashJoin" in rkinds  # the offsets join
    # the query itself: neighbor pairing stays an equi-join on rank over
    # the checkpointed frame — no range/theta join, no cartesian
    df = REGISTRY["q196_sorted_neighborhood"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "ExistingRDD" in plan  # the checkpointed rank frame
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds


def test_linkage_score_scalar_crossjoins_are_broadcasts(spark):
    """q198's five u-statistic scalars reach the pair frame as COLLECTED
    exact-integer literals folded into the weight expressions (r14 — the
    previous 5-broadcast crossJoin chain cost a build job per scalar);
    the pair grain itself never shuffles — scoring is a projection with
    NO join carrying the stats at all."""
    df = REGISTRY["q198_linkage_score"].fn(spark, SF_SMALL)
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds  # no scalar crossjoins
    plan = formatted_plan(df)
    # the old shape broadcast 5 scalar frames (>= 5 BroadcastExchange);
    # folded literals leave only the pair blocking's offsets/probe
    # broadcasts. Catalyst constant-folds the literal weight arithmetic
    # at plan time — same IEEE ops, done once.
    assert plan.count("BroadcastExchange") <= 2, plan


def test_adaptive_lsh_prefix_key_reaches_the_join(spark):
    """q199's bucket key must be the substring-of-signs whose length the
    corpus-count ladder picks — visible in the plan as a substring over
    the CASE ladder — and candidates must stay an equi-join."""
    df = REGISTRY["q199_adaptive_lsh_best_match"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "substring" in plan
    assert "CASE WHEN (n_rows" in plan
    assert "partial_max" in plan
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds
    # BroadcastNestedLoopJoins are the hinted one-row n_rows scalar
    # reaching each branch (the q182 discipline); the candidate join
    # itself must be an equi hash join
    assert "BroadcastHashJoin" in kinds or "SortMergeJoin" in kinds


def test_sparse_best_match_posting_join_and_partial_argmax(spark):
    """q197's candidates must come from the token-keyed posting equi-join
    (never all-pairs) and the argmax must partially aggregate."""
    df = REGISTRY["q197_sparse_best_match"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "partial_max" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_copy_codec_is_one_arrow_stage_no_shuffle(spark):
    """q193 is a scan -> Arrow-batched mapInPandas -> project: the COPY
    codec path a partition streams through psycopg2 must not introduce a
    shuffle (one Exchange would mean the sink path repartitions data it
    should write in place)."""
    plan = _plan(spark, "q193_copy_codec_roundtrip")
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


def test_salted_join_autotune_salts_the_fact_side(spark):
    """q194's join must run on the composite (key, salt): the fact side
    carries the rand salt, the dim side the explode replication; no
    cartesian anywhere."""
    df = REGISTRY["q194_salted_join_autotune"].fn(spark, SF_SMALL)
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds
    plan = formatted_plan(df)
    assert "rand(42)" in plan  # the salt column reached the physical plan
    assert "explode" in plan.lower()  # dim replication, not a shuffle


def test_adaptive_ladder_scalars_are_broadcasts(spark):
    """The r09 adaptive family's corpus statistics (n_docs / n_keys /
    n_tokens) must reach their consumers as BROADCAST 1-row frames —
    never a shuffled cross join — and the candidate joins stay
    equi-joins (no cartesian, no nested loop) with the ladder CASE
    folded into the static plan."""
    # q210 is excluded: connected_components closes its pair graph on
    # the driver and returns a local frame, so its final plan can't show
    # the upstream ladder — its candidate stage IS q201's, asserted here.
    for q in (
        "q201_adaptive_band_neardup",
        "q203_adaptive_sparse_match",
        "q206_adaptive_snb_window",
        "q209_adaptive_cms_width",
    ):
        df = REGISTRY[q].fn(spark, SF_SMALL)
        kinds = join_kinds(df)
        assert "CartesianProduct" not in kinds, q
        plan = formatted_plan(df)
        assert "BroadcastExchange" in plan, q
        assert "CASE WHEN" in plan, q  # the ladder is in-plan, not Python


def test_cdc_chunking_stays_map_side_until_rollup(spark):
    """q202's only wide operators are the chunk-grain aggregate (plus
    the distinct-count expand): the chunk stage is either the parquet
    index scan (default) or in-plan map-side chunking — never a join,
    window, or cartesian before the groupBy."""
    df = REGISTRY["q202_cdc_chunk_dedup"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert join_kinds(df) == []
    assert "Window" not in plan


def test_cdc_chunk_build_is_map_side_both_impls(spark):
    """The chunk BUILD pipeline (what cdc_chunk_index materializes) must
    be shuffle-free: one scan → project → MapInPandas, the fan-out
    inside the UDF. And it must agree with the plain-Python CDC referee
    (tests/test_adaptive_ops.py) on every chunk's hash and token length
    — that equivalence is what lets the Arrow chunker stand in for the
    SQL form the oracles use."""
    from discogs_load_spark.queries.dedup import _cdc_chunk_frame, _docs

    from .test_adaptive_ops import _cdc_spans, _md5, _norm_tokens

    docs = _docs(spark, SF_SMALL)
    chunks = _cdc_chunk_frame(docs, with_len=True, carry=("source",))
    plan = formatted_plan(chunks)
    assert "MapInPandas" in plan
    assert "Exchange" not in plan and join_kinds(chunks) == []
    want = []
    # bounded: sf0.001 fixture, 500 docs, test-only
    for r in docs.select("doc_id", "source", "text").collect():
        toks = _norm_tokens(r.text)
        want += [
            (r.doc_id, r.source, _md5(" ".join(toks[s:e])), e - s)
            for s, e in _cdc_spans(toks)
        ]
    assert want
    assert sorted(map(tuple, chunks.collect())) == sorted(want)


def test_keeper_argmax_partially_aggregates(spark):
    """q204/q210's keeper argmax must be a plain aggregate over the
    (n_chars, -id) struct — partial_max visible map-side, and no Window
    over cluster members."""
    for q in ("q204_neardup_keepers", "q210_adaptive_merge_purge"):
        plan = formatted_plan(REGISTRY[q].fn(spark, SF_SMALL))
        assert "partial_max" in plan, q
        assert "Window" not in plan, q


def test_containment_prefix_join_is_equi_join(spark):
    """q215's asymmetric prefix blocking must reach the plan as plain
    equi-joins (prefix x posting on the shingle key, then the two set
    joins of the verifier) — never a cartesian or nested loop, and the
    sub side's prefix restriction rides window filters, not a
    broadcast of the corpus."""
    df = REGISTRY["q215_containment_prefix_exact"].fn(spark, SF_SMALL)
    kinds = join_kinds(df)
    assert kinds, "expected joins in the containment plan"
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds
