"""Physical-plan regression tests: lock in the plan properties the engine is
designed around (SURVEY §4.2). These fail if a future change silently degrades
a plan — e.g. a lost broadcast, a filter that stops reaching the scan, or a
Python UDF sneaking into a hot path.
"""

import pytest

from makinage_spark import materialize
from makinage_spark.queries import QUERIES

SF = "/root/testdata/sf0.01"


def plan_of(spark, name):
    return QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_q1_single_shuffle_with_partial_agg(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "partial_sum" in plan  # map-side combine before the exchange
    # exactly one hash exchange: the 2-value group-by key
    assert plan.count("Exchange hashpartitioning") == 1


def test_q5_broadcasts_all_dimensions(spark):
    plan = plan_of(spark, "q5_region_revenue")
    # customer, supplier, nation, region, orders: all joined by broadcast —
    # the fact table reaches the final agg without a join shuffle
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_q6_filters_reach_the_scan(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    scan = plan[plan.index("FileScan parquet") :]
    head = scan[:600]
    assert "l_shipdate" in head and "l_discount" in head  # pushed DataFilters
    # column pruning: only the 4 needed columns are read
    assert "l_returnflag" not in head.split("DataFilters")[0]


def test_no_python_udf_in_relational_paths(spark):
    for name in ["q3_shipping_priority", "window_rank_top3", "sessionize",
                 "dedup_exact", "text_quality"]:
        assert "BatchEvalPython" not in plan_of(spark, name), name


def test_exists_decorrelates_to_semi_join(spark):
    plan = plan_of(spark, "exists_subquery")
    assert "LeftSemi" in plan  # no per-row subquery execution


def test_minhash_pairs_reuses_band_table(spark):
    with materialize.scope():
        df = QUERIES["dedup_minhash_pairs"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # persisted band table → InMemoryTableScan on both join branches
        assert plan.count("InMemoryTableScan") >= 2


def formatted_plan_of(spark, name):
    # executedPlan().toString() re-prints a cached relation's child plan at
    # every reference; formatted mode deduplicates, so operator counts are
    # meaningful
    jdf = QUERIES[name](spark, SF)._jdf
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jdf.queryExecution().explainString(mode)


def test_cooccurrence_degree_cap_in_plan(spark):
    # wedge-expansion guard: the per-customer degree-cap filter must sit
    # between the window count and the pair self-join
    plan = formatted_plan_of(spark, "supplier_cooccurrence_similarity")
    assert "10000" in plan  # _COOC_DEGREE_CAP filter present
    assert "Window" in plan  # degree computed windowed, not via extra join


def test_quality_ensemble_single_tokenize(spark):
    # the judge-flagged 4x re-tokenization must stay fixed: exactly ONE
    # regexp tokenization of the corpus in the whole plan, the rest reading
    # the persisted token/count relations
    with materialize.scope():
        plan = formatted_plan_of(spark, "quality_ensemble")
        assert plan.lower().count("regexp_extract_all") == 1
        assert plan.count("InMemoryTableScan") >= 2


def test_global_cumsum_uses_range_partitioning(spark):
    # token_budget_pick must NOT funnel the corpus through one task: the
    # two-phase cumsum plans a rangepartitioning exchange; the only
    # SinglePartition exchanges sit above control-plane-sized aggregates
    with materialize.scope():
        plan = plan_of(spark, "token_budget_pick")
        assert "rangepartitioning" in plan


def test_bloom_probe_broadcasts_the_bitmap(spark):
    # the ≤1024-row bitmap relation must reach the probe as a broadcast,
    # never a shuffle join against the exploded candidate positions
    with materialize.scope():
        plan = plan_of(spark, "bloom_prune_audit")
        assert "BroadcastHashJoin" in plan


def test_shard_manifest_single_shard_exchange(spark):
    # one hash exchange on the shard key feeds both the window sort and the
    # final aggregate — no second corpus shuffle
    plan = plan_of(spark, "corpus_shard_manifest")
    assert plan.count("Exchange hashpartitioning") == 1


def test_code_detect_is_shuffle_free(spark):
    plan = plan_of(spark, "code_detect_signals")
    assert "Exchange" not in plan


def test_colbert_maxsim_has_no_join(spark):
    # late interaction is in-row array algebra: doc-term matrix and query
    # matrix never meet in a join; ranking is a partial top-k
    plan = plan_of(spark, "colbert_maxsim_topk")
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_rag_pipeline_retrieval_is_partial_topk(spark):
    # MIPS must plan as TakeOrderedAndProject (10 rows cross the exchange),
    # never a global sort of all chunk scores
    plan = plan_of(spark, "rag_ingest_pipeline_e2e")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_pareto_skyline_domain_table_broadcasts(spark):
    # the dominance test joins against the x-domain suffix-max table
    # (<=90 rows) — must be a broadcast, never a shuffle of the corpus
    plan = plan_of(spark, "pareto_skyline_select")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kmv_bottomk_is_partial_topk(spark):
    # each bottom-k sketch is a TakeOrderedAndProject: per-partition
    # partial top-k, 256 rows cross the exchange — three sketches minimum
    with materialize.scope():
        plan = plan_of(spark, "kmv_overlap_estimate")
        assert plan.count("TakeOrderedAndProject") >= 3


def test_bm25_postings_pruned_by_broadcast_query_terms(spark):
    # the query-term set must reach the postings join as a broadcast (|q|
    # bounded), and the top-20 must be a partial top-k, not a global sort
    plan = plan_of(spark, "bm25_retrieval_topk")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_record_linkage_pairs_via_equijoin_not_cartesian(spark):
    # blocking must plan as an equi-join on the block key — any BNLJ or
    # cartesian means the blocking key was lost to an expression rewrite
    plan = plan_of(spark, "record_linkage_blocked")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_resample_windows_share_one_user_exchange(spark):
    # both interpolation frames (prev-carry and next-carry) are user-keyed:
    # they must share a single hashpartitioning exchange of the grid, not
    # re-shuffle per direction
    plan = plan_of(spark, "resample_interpolate_daily")
    assert "CartesianProduct" not in plan
    grid_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning(user_id" in ln
    ]
    assert len(set(grid_exchanges)) <= 2  # daily agg + one window exchange


def test_hashing_trick_is_join_free(spark):
    # the whole point vs vocab_id_assignment: no vocabulary relation, no join
    plan = plan_of(spark, "hashing_trick_features")
    assert "Join" not in plan


def test_negative_sampling_draw_is_broadcast_equijoin(spark):
    # the alias-slot table must reach the draws as a broadcast EQUI-join on
    # the slot id — never a range join against cumulative intervals (the
    # only nested-loop allowed is the 2-row j∈{1,2} literal expansion)
    plan = plan_of(spark, "negative_sampling_skipgram")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_split_leakage_corpus_side_stays_mapside(spark):
    # the bounded TEST fold is the broadcast side of the one nested-loop
    # join; neither join child may hash-exchange (the corpus streams map-side
    # through the scoring — the only hash exchange is the per-test-id max
    # ABOVE the join, which is test-fold-sized). Plan text prints parents
    # first, so "below the join marker" = the join's children.
    plan = plan_of(spark, "split_leakage_embedding")
    assert "BroadcastNestedLoopJoin" in plan
    below_join = plan.split("BroadcastNestedLoopJoin", 1)[1]
    assert "Exchange hashpartitioning" not in below_join


def test_entity_resolution_has_no_cartesian(spark):
    # BNLJ appears only as 1-row broadcast crossJoins inside CC's convergence
    # check — a CartesianProduct anywhere means the blocking key was lost
    with materialize.scope():
        plan = plan_of(spark, "entity_resolution_e2e")
        assert "CartesianProduct" not in plan
