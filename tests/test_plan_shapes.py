"""Physical-plan assertions — the SURVEY §4 checklist as tests. A plan
that silently regresses to a shuffle join or a full-column scan would
still pass value checks; these pin the SHAPE that makes the queries
scale."""

from __future__ import annotations

import pytest

from ibf_typhoon_data_pipeline_spark import plans


def _plan(spark, name: str) -> str:
    df = plans.QUERIES[name].fn(spark, "/root/testdata/sf0.01")
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(spark, name: str) -> str:
    # executes the frame so AQE's runtime join-strategy decisions are
    # visible — the initial plan shows SortMergeJoin for un-hinted
    # joins that AQE converts to broadcast from actual map-output sizes
    df = plans.QUERIES[name].fn(spark, "/root/testdata/sf0.01")
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_pruning(spark):
    plan = _plan(spark, "q1_pricing_summary")
    # the shipdate filter must reach the parquet scan...
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # ...and the scan must not read columns the query never touches
    assert "l_comment" not in plan
    assert "l_partkey" not in plan


def test_dimension_joins_broadcast(spark):
    plan = _plan(spark, "j3_dim_rollup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_windfield_is_broadcast_grid_join_with_partial_agg(spark):
    plan = _plan(spark, "tc_windfield_holland")
    # track side broadcast against the centroid stream — never a shuffle
    # of the pair space; the grid-cell equi key makes it a HASH join
    # (probe per centroid) rather than a nested loop over |C|×|T|
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # K2 reduction partial-aggregates before the exchange
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_a9_dedup_is_partial_aggregate_not_window(spark):
    plan = _plan(spark, "a9_dedup_keep_last")
    # no window sort of full rows...
    assert "Window" not in plan
    # ...but a two-phase aggregate (max-of-struct compiles to
    # SortAggregate — partial before the exchange is what matters:
    # only one struct per key crosses the shuffle)
    assert plan.count("Aggregate(") >= 2


def test_prune_common_shingles_bounds_buckets(spark):
    from pyspark.sql import functions as F

    from ibf_typhoon_data_pipeline_spark.operators.dedup import (
        prune_common_shingles,
        shingle_table,
    )
    from ibf_typhoon_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    sh = shingle_table(docs, n=1)  # unigrams: guaranteed hot keys
    # the synthetic corpus has a tiny vocabulary — pick the cutoff from
    # the observed df distribution so the test exercises a real split
    max_df = int(
        sh.groupBy("shingle").count().agg(F.median("count")).first()[0]
    )
    pruned = prune_common_shingles(sh, max_df=max_df)
    worst = (
        pruned.groupBy("shingle").count().agg(F.max("count")).first()[0]
    )
    assert worst is not None and worst <= max_df
    # pruning only removes rows, never invents them
    assert 0 < pruned.count() < sh.count()


def test_salted_join_matches_unsalted(spark):
    from pyspark.sql import functions as F

    from ibf_typhoon_data_pipeline_spark.operators.skew import salted_join
    from ibf_typhoon_data_pipeline_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    o = load_table(spark, "/root/testdata/sf0.01", "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(o, "l_orderkey").agg(
        F.count("*"), F.round(F.sum(F.col("l_quantity") * F.col("o_totalprice")), 2)
    ).collect()
    salted = salted_join(li, o, "l_orderkey", n_salts=4).agg(
        F.count("*"), F.round(F.sum(F.col("l_quantity") * F.col("o_totalprice")), 2)
    ).collect()
    assert plain == salted


def test_similarity_pair_scoring_spreads_narrow_scan(spark):
    plan = _plan(spark, "sim_ivf_topk")
    # a single-file scan must be widened before the pair stage —
    # otherwise the whole pair space scores on ONE core (measured)
    assert "RoundRobinPartitioning" in plan
    # the cell join builds a broadcast side, keeping probe parallelism
    # decoupled from the (tiny) number of cells
    assert "BroadcastHashJoin" in plan


def test_semdedup_scaled_assignment_is_data_not_code(spark):
    """Round 11: the capacity-path SemDeDup must keep its three
    load-bearing shapes — (1) the k×dim centroid matrix enters the
    plan as ONE nested-array literal (data), never as unrolled
    per-cell score columns (which blow whole-stage codegen's 64 KB
    method limit past k=8); (2) the derived cell key sits behind a
    generator fence; (3) the probe keeps round-robin spread (no cell
    hashpartitioning)."""
    plan = _plan(spark, "dedup_semdedup_scaled")
    # ADVICE r11: "ZipWith" needle against a lowercased haystack was
    # inert — match lowercase
    assert "zip_with" in plan or "zipwith" in plan.lower() or "lambdafunction" in plan.lower()
    assert "RoundRobinPartitioning" in plan
    assert "hashpartitioning(__cell" not in plan
    assert plan.count("Generate explode") >= 1


def test_scaled_ivf_keeps_capacity_path_shapes(spark):
    """Round 12: the unclamped centroid-table IVF entries must keep
    the same three load-bearing shapes as the scaled SemDeDup — HOF
    assignment (data, not unrolled score columns), round-robin probe
    (no cell-key exchange), and a generator between the quantizer and
    the pair join (probe 1 = the explode fence; probe 2's ranked-cell
    explode IS the generator)."""
    for name in ("sim_ivf_scaled_topk", "sim_ivf_scaled_probe2"):
        plan = _plan(spark, name)
        assert (
            "zip_with" in plan or "zipwith" in plan.lower()
            or "lambdafunction" in plan.lower()
        ), name
        assert "RoundRobinPartitioning" in plan, name
        assert "hashpartitioning(__cell" not in plan, name
        assert plan.count("Generate explode") >= 1, name


def test_ivf_cell_key_is_fenced_and_probe_stays_round_robin(spark):
    """Round-10 regression pins for the ivf_topk defects the
    data-axis scaling tier caught (docs/SCALING.md round-10):

    1. The quantizer join key must sit behind a generator fence —
       without it, InferFiltersFromConstraints alias-substitutes the
       FULL n_cells-aggregate expression into an isnotnull filter
       below the round-robin exchange and re-runs it per row in the
       narrow single-task stage (20.5 s of a 24 s wall, measured).
    2. The broadcast probe must KEEP spread()'s round-robin
       partitioning — hashing by the few (often skewed) cell keys
       concentrates each cell's whole Σcell² pair fan-out in one
       task (measured 88 s vs 22 s at 10× data), and two same-key
       repartitions flip the join to a co-partitioned SMJ with hot
       single-key partitions (42 → 195 s).
    """
    plan = _plan(spark, "sim_ivf_topk")
    # (2) round-robin spread present; NO cell-key exchange
    assert "RoundRobinPartitioning" in plan
    assert "hashpartitioning(__cell" not in plan
    # (1) the fence generator survives into the physical plan...
    assert plan.count("Generate explode") >= 1
    # ...and no quantizer aggregate leaked below the round-robin
    # exchange: the segment between the scan and RoundRobinPartitioning
    # must not contain a slice-aggregate (the fence's whole point)
    below_rr = plan.split("RoundRobinPartitioning", 1)[-1]
    assert "aggregate(slice(" not in below_rr.split("FileScan", 1)[0]


def test_willoughby_blend_solve_stays_on_track_side(spark):
    plan = _plan(spark, "tc_windfield_willoughby_blend")
    # pair space via the grid-cell hash join under the bbox guard,
    # never a cartesian; the Newton solve runs only on the broadcast
    # (track) side, below the exchange
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.index("BroadcastExchange") < plan.index("pow(xi#")


PYTHON_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython", "PythonUDF")


def test_forecast_chain_runs_no_python(spark):
    # the chain evaluates in the JVM end to end: no Python worker is
    # started by a forecast cycle (the Holland prune radius used to be
    # the chain's one pandas UDF)
    from dataclasses import fields

    from ibf_typhoon_data_pipeline_spark.pipeline import run_forecast_pipeline

    executed = {
        name: _plan(spark, name)
        for name in (
            "tc_windfield_holland", "tc_windfield_vectors",
            "tc_muni_hazard", "pipeline_publish",
        )
    }
    res = run_forecast_pipeline(spark)
    for f in fields(res):
        df = getattr(res, f.name)
        executed[f.name] = df._jdf.queryExecution().executedPlan().toString()
    res.unpersist()
    for name, plan in executed.items():
        for node in PYTHON_EVAL_NODES:
            assert node not in plan, (name, node)
    # the cached layers' plans are printed in full, so the persisted
    # windfield really carries its extent
    assert "InMemoryRelation" in executed["windfield"]
    assert "aggregate(" in executed["windfield"]


def test_holland_extent_stays_on_track_side(spark):
    plan = _plan(spark, "tc_windfield_holland")
    # the bisection runs once per track point, below the exchange that
    # broadcasts the track side — never per pair...
    assert plan.count("aggregate(") == 1
    assert plan.index("BroadcastExchange") < plan.index("aggregate(")
    # ...and its lambda reads the track columns as attributes: no
    # window expression or rmw lookup inlined into it
    bisect = plan.split("aggregate(", 1)[1].split("\n", 1)[0]
    for col in ("rmw_km#", "b_s#", "pcen#", "t_lat#", "v_trans_ms#"):
        assert col in bisect, col
    assert "_we" not in bisect
    assert "CASE WHEN (pcen" not in bisect


def test_sessionize_reuses_one_sort_for_both_windows(spark):
    plan = _plan(spark, "events_sessionize")
    # lag-flag window and running-sum window share the (user_id, ts,
    # event_id) sort order: exactly one exchange on user_id and no
    # second sort of the same data
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_k4_muni_distance_join_is_broadcast_nested_loop(spark):
    plan = _plan(spark, "tc_muni_hazard")
    # the muni × track-point pair join broadcasts the track side — it
    # must never become a shuffled cartesian product
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_lm_logprob_frequency_join_is_broadcast(spark):
    # the vocab frequency table is Heaps-growing, so the join carries
    # no forced hint (r8) — the contract is that AQE still converts it
    # to a broadcast at this SF from the actual map-output size, and
    # nothing degenerates to a pair enumeration
    plan = _final_plan(spark, "text_lm_logprob")
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_stratified_sample_is_shuffle_free(spark):
    plan = _plan(spark, "corpus_sample_stratified")
    # per-row hash-threshold sampling: scan + filter + project, no
    # exchange anywhere
    assert "Exchange" not in plan


def test_decontaminate_is_inverted_index_equi_join(spark):
    plan = _plan(spark, "corpus_decontaminate")
    # train and test shingle tables meet on the shingle equi key —
    # never a nested-loop or cartesian pair enumeration
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_is_single_shuffle_union_window(spark):
    plan = _plan(spark, "j13_asof_attribution")
    # the as-of is a union + one per-user sort window — never a range
    # join enumerated as a nested loop or cartesian pair space
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # exactly two key shuffles: the click-side (user, ts) dedup and
    # the one union-wide sort under the carry-forward window
    assert plan.count("Exchange hashpartitioning(user_id") == 2
    assert plan.count("Window ") == 1


def test_range_join_is_bucketed_hash_join(spark):
    plan = _plan(spark, "j14_range_join_bucketed")
    # the band predicate rides as residual on a (user, bucket) hash
    # join — the time-axis grid decomposition
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pagerank_supersteps_are_equi_joins(spark):
    for name in ("graph_pagerank", "graph_personalized_pagerank"):
        plan = _plan(spark, name)
        # every superstep is rank⋈edges by key — never a pair
        # enumeration
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_bfs_sssp_edge_cache_is_dst_partitioned(spark):
    # r13 (VERDICT r12 item 1): the broadcast frontier probe preserves
    # the cached edge partitioning, so hash-partitioning the edge
    # cache on the DESTINATION key makes every superstep's candidate
    # groupBy(dst) — the loop's only fact-sized shuffle — exchange-
    # free (the min-agg plans in complete mode once the cache is
    # materialized; paired A/B 0.876/0.933 vs the unpartitioned r12
    # shape). This pins the mechanism: the edge InMemoryRelation must
    # carry a dst hash exchange, and the frontier probes must stay
    # broadcast joins (never a shuffle of the edge side per round).
    for name in ("graph_bfs_hops", "graph_sssp_weighted"):
        plan = _plan(spark, name)
        assert "Exchange hashpartitioning(dst" in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_zorder_key_is_shuffle_free_codegen(spark):
    plan = _plan(spark, "layout_zorder_key")
    # pure per-row integer bit math over the generated grid; the *(1)
    # markers are executedPlan's whole-stage-codegen stage tags
    assert "Exchange" not in plan
    assert "*(1)" in plan


def test_packing_running_sum_has_no_single_partition_window(spark):
    # VERDICT r3 #2: the corpus manifests must never execute the
    # global running sum as a no-partitionBy window (WindowExec moves
    # the whole corpus to ONE partition). global_running_sum splits
    # the md5 order into 256 prefix buckets: every Window is
    # partitioned by __pid, there is no SinglePartition exchange on
    # the fact path, and no range-sampling repartition either — the
    # window's own hash exchange is the only fact-table shuffle.
    for name in ("corpus_token_budget", "corpus_sequence_pack"):
        plan = _plan(spark, name)
        win_lines = [l for l in plan.splitlines() if "Window " in l]
        assert win_lines, f"{name}: expected a window operator"
        assert all("__pid" in l for l in win_lines), (
            f"{name}: window without bucket partition spec:\n"
            + "\n".join(win_lines)
        )
        assert "SinglePartition" not in plan, name
        assert "rangepartitioning" not in plan, name


def test_count_min_probe_is_broadcast(spark):
    plan = _plan(spark, "sketch_count_min")
    # the 4096-integer sketch broadcasts to the candidate probe; the
    # fact table is touched by partial-agg scans only
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_retention_firsts_frame_broadcasts(spark):
    plan = _plan(spark, "events_retention_cohorts")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_entries_take_ordered_not_global_sort(spark):
    # weighted sampling and both hybrid legs must compile to
    # TakeOrderedAndProject (per-partition top-k, k rows cross the
    # wire) — never a global Sort + Limit of the full frame
    for name in ("corpus_weighted_sample", "sim_hybrid_rrf_topk"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name


def test_fact_skyline_two_pass_no_single_partition(spark):
    # the fact-scale skyline must ride the bucketed two-pass running
    # max (VERDICT r4 item #7) — the strictly-cheaper dominance test
    # may never compile to a single-partition global window
    plan = _plan(spark, "o6_skyline_fact")
    assert "SinglePartition" not in plan


def test_vocab_coverage_take_ordered_no_global_window(spark):
    # vocab induction must be TakeOrderedAndProject over the
    # term-frequency frame (distinct terms scale with the corpus) —
    # never a single-partition row_number window (VERDICT r4 item #2)
    plan = _plan(spark, "text_vocab_coverage")
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan


def test_fuzzy_blocking_is_equi_join_with_residual(spark):
    plan = _plan(spark, "link_fuzzy_blocked")
    # the block key must drive a HASH join (levenshtein as residual),
    # never an all-pairs nested loop
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_cdc_merge_is_partial_agg_keep_last(spark):
    plan = _plan(spark, "cdc_merge_upsert")
    # both keep-lasts are max(struct) aggs, not windows over the fact
    assert "Window" not in plan
    assert plan.count("Aggregate(") >= 2


def test_scd2_pointintime_is_single_shuffle_carry(spark):
    plan = _plan(spark, "j15_scd2_pointintime")
    # union + carry window — no interval join, so no nested loop
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_rolling_window_is_partitioned_by_user(spark):
    df = plans.QUERIES["events_rolling_1h"].fn(
        spark, "/root/testdata/sf0.01"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    # the RANGE frame must be keyed on user_id — a global rolling
    # window would single-partition the fact table
    assert "hashpartitioning(user_id" in plan


def test_tfidf_df_join_broadcasts_vocab(spark):
    plan = _plan(spark, "text_tfidf_topk")
    # document frequencies are vocab-bounded — they must come back as
    # a broadcast, not a shuffle of the exploded token table
    assert "BroadcastHashJoin" in plan
    # the only window runs per doc (partitioned), never globally over
    # the token table
    assert "hashpartitioning(doc_id" in plan


def test_triangle_count_wedges_are_equi_joins(spark):
    plan = _plan(spark, "graph_triangle_count")
    # wedge formation and closure are equi-joins on node keys — a
    # nested-loop pair enumeration would be quadratic in the corpus
    assert "CartesianProduct" not in plan
    # the only nested-loop join is the final merge of the two
    # single-row count frames
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_q3_filters_push_and_top10_takeordered(spark):
    plan = _plan(spark, "q3_shipping_priority")
    # the three dimension/date filters must reach their parquet scans
    assert "(l_shipdate" in plan and "(o_orderdate" in plan
    assert "c_mktsegment" in plan and "BUILDING" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q5_join_tree_broadcasts_dimensions(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    # customer/supplier/nation/region all broadcast; no cartesian
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_basket_lift_is_takeordered_with_broadcast_counts(spark):
    plan = _plan(spark, "basket_pair_lift")
    # item totals and the 1-row order count broadcast onto the pair
    # aggregate; the top-20 never global-sorts the pair table
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pmi_pairs_shape(spark):
    plan = _plan(spark, "text_pmi_pairs")
    # pair generation is the doc_id inverted-index equi-join; term
    # totals broadcast; top-k is TakeOrdered
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # the only nested loop is the 1-row corpus-total broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_pq_assignment_is_expression_only(spark):
    plan = _plan(spark, "emb_product_quantize")
    # code assignment + reconstruction error are pure expressions over
    # the scan — any Exchange here means the codes shuffled for nothing
    assert "Exchange" not in plan


def test_pq_adc_broadcasts_query_tables(spark):
    plan = _plan(spark, "sim_pq_adc_topk")
    # the per-query lookup tables ride as a (tiny) broadcast against
    # the coded corpus; no cartesian pair enumeration
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_naive_bayes_model_joins_broadcast(spark):
    # the (lang × vocab) model table is Heaps-growing, so its join is
    # un-hinted (r8); AQE must still pick broadcast at this SF and the
    # class-dim crossJoins must stay broadcast nested loops, never a
    # cartesian pair enumeration
    plan = _final_plan(spark, "ml_naive_bayes")
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_passage_dedup_is_digest_anti_join(spark):
    plan = _plan(spark, "corpus_passage_dedup")
    # boilerplate removal is an anti join on the block digest —
    # never a pair enumeration
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bfs_supersteps_are_equi_joins(spark):
    plan = _plan(spark, "graph_bfs_hops")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_overlap_is_bucketed_equi_join(spark):
    plan = _plan(spark, "j17_interval_overlap")
    # pair space comes from the (supplier, week) hash join with the
    # exact overlap predicate as residual — no nested loop
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hyperloglog_is_two_agg_passes(spark):
    plan = _plan(spark, "sketch_hyperloglog")
    # register maxima partial-aggregate before the exchange; the only
    # nested loop is the 1-row exact-count broadcast
    assert "partial_max" in plan or "HashAggregate" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_bpe_apply_is_expression_only(spark):
    plan = _plan(spark, "corpus_bpe_tokenize")
    # the merge chain is string expressions over the token stream; the
    # only exchange is the per-doc count agg — no joins at all
    assert "Join" not in plan


def test_linreg_moments_partial_aggregate(spark):
    plan = _plan(spark, "ml_linreg_closed_form")
    # six integer moments reduce map-side before one single-row agg
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cuped_single_user_shuffle(spark):
    plan = _plan(spark, "events_cuped")
    # one user-keyed exchange feeds BOTH the global moment pass and
    # the variant rollup; the 1-row moments broadcast back
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_semdedup_pairs_join_on_cluster_key(spark):
    plan = _plan(spark, "dedup_semdedup")
    # the within-cluster pair join must be an equi join on the cell —
    # SemDeDup's whole scaling argument; never a cross join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_bucket_stats_broadcast(spark):
    plan = _plan(spark, "corpus_dsir_weights")
    # the 256-row lambda frame joins back to the token stream as a
    # broadcast — the corpus-sized side never shuffles on the bucket
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_prefix_filter_joins_are_equi(spark):
    plan = _plan(spark, "dedup_jaccard_prefix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chi2_totals_broadcast(spark):
    plan = _plan(spark, "text_chi2_terms")
    # 1-row totals cross-join broadcasts; top-20 is TakeOrdered, and
    # the contingency build is one partial-agg groupBy
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_mmr_candidate_frames_stay_bounded_joins(spark):
    plan = _plan(spark, "sim_mmr_rerank")
    # greedy steps are equi-joins on (query_id, doc_id[, selected]) —
    # only the one relevance pass may be a broadcast nested loop
    assert "CartesianProduct" not in plan


def test_q21_decorrelates_to_one_window_one_lineitem_scan(spark):
    plan = _plan(spark, "q21_late_sole_supplier")
    # EXISTS + NOT EXISTS must not become two extra self-joins of the
    # fact: lineitem is scanned ONCE and the sole-late-supplier test
    # is a single partitioned window over the per-(order, supplier)
    # flag frame
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan
    # supplier dimension broadcast, never a shuffle join
    assert "SortMergeJoin" not in plan or "s_suppkey" not in plan.split(
        "SortMergeJoin"
    )[1][:200]


def test_q11_scalar_total_broadcasts(spark):
    plan = _plan(spark, "q11_important_stock")
    # the one-row global total reaches the per-part frame via a
    # broadcast nested-loop (cross) join — no shuffle of pv
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q13_left_outer_keeps_zero_order_customers(spark):
    plan = _plan(spark, "q13_customer_distribution")
    # the priority exclusion must ride the join condition, keeping the
    # LEFT OUTER shape (a post-join filter would flip it to inner and
    # silently drop the c_count=0 bucket)
    assert "LeftOuter" in plan


def test_pareto_skyline_is_windows_not_self_join(spark):
    plan = _plan(spark, "o5_pareto_skyline")
    # dominance = two window passes over the dimension, never the
    # naive O(n^2) self-join of part against itself
    assert plan.count("part.parquet") == 1
    assert "Window" in plan


def test_cusum_windows_run_on_daily_frame(spark):
    plan = _plan(spark, "events_cusum_changepoint")
    # the raw events collapse to (type, day) via a partial agg BEFORE
    # any window: exactly one events scan feeding a two-phase
    # aggregate, and every window partitions by event_type
    assert plan.count("events.parquet") == 1
    assert plan.count("HashAggregate") >= 2
    assert "Window" in plan


def test_w5_ntile_has_no_single_partition_window(spark):
    # same scale rule as the corpus manifests: the fact-sized orders
    # ranking must never run ntile as a global no-partitionBy window.
    # w5 derives the global row number via global_running_sum (range
    # split + per-partition window + broadcast offsets) and applies
    # the integer ntile bucket formula — every Window partitions by
    # __pid and nothing exchanges to a single partition
    plan = _plan(spark, "w5_ntile_priority")
    win_lines = [l for l in plan.splitlines() if "Window " in l]
    assert win_lines, "expected a window operator"
    assert all("__pid" in l for l in win_lines), "\n".join(win_lines)
    assert "SinglePartition" not in plan.split("Window")[0]


def test_j11_tier1_probes_cells_not_full_cross(spark):
    # the nearest-neighbor tier must join on the 1-degree cell key
    # (equi-join on __cy/__cx), with the full customer x supplier
    # cross reserved for the provable-bound fallback slice; a plan
    # where the FIRST join is a keyless broadcast cross of the whole
    # customer frame would be the 15M-pair regression
    plan = _plan(spark, "j11_nearest_supplier")
    assert "__cy" in plan and "__cx" in plan
    join_lines = [l for l in plan.splitlines() if "BroadcastHashJoin" in l]
    assert any("__cy" in l and "__cx" in l for l in join_lines), join_lines
    # both the tier and the fallback aggregate via min(struct) partial
    # aggs — never a row_number window over the pair set
    assert "Window" not in plan


@pytest.mark.parametrize("name", [
    "tc_windfield_holland",
    "tc_windfield_equirect",
    "tc_windfield_willoughby",
    "tc_windfield_vectors",
    "tc_windfield_willoughby_blend",
    "tc_windfield_asymmetric",
    "tc_hindcast_triggers",
    "tc_wind_arrival_time",
    "tc_wind_duration",
    "tc_ike_energy",
])
def test_windfield_rides_grid_prune(spark, name):
    # every Column-expression windfield entry takes its pairs from
    # operators/windfield.grid_prune_pairs: a grid-cell HASH join, never
    # the plain 5.5-degree bbox theta-join (BroadcastNestedLoopJoin over
    # every track x centroid pair — the asymmetric entry's first cut
    # measured 95 s vs 0.6 s at sf0.1, the blend 12.3 s vs 2.1 s at
    # sf0.01), and a generator fence so the threshold filter can't
    # alias-substitute the profile into the join condition
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan


def test_kcore_rounds_reuse_cached_survivors(spark):
    # peeling references each survivor set twice (src + dst
    # membership): both must hit the SAME InMemoryRelation, and the
    # membership tests stay semi-joins (no row duplication)
    plan = _plan(spark, "graph_kcore")
    assert "InMemoryTableScan" in plan
    assert "LeftSemi" in plan


def test_kfold_cv_is_two_passes_not_k_refits(spark):
    # train moments are global-minus-fold and the 5-row moment frame
    # is persisted: both its consumers (global total + per-fold train
    # arithmetic) must read the SAME InMemoryRelation, leaving the
    # scoring join as the only other fact scan. (executedPlan prints
    # the cached subtree inside the InMemoryRelation, so the raw
    # substring count includes one phantom scan.)
    plan = _plan(spark, "ml_kfold_cv")
    assert plan.count("InMemoryTableScan") >= 2
    assert plan.count("orders.parquet") <= 3


def test_migration_thresholds_broadcast(spark):
    plan = _plan(spark, "orders_segment_migration")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the matrix itself must come from a full outer join so churned /
    # new customers keep their 'none' bucket
    assert "FullOuter" in plan


def test_lateral_topk_decorrelates_no_cartesian(spark):
    plan = _plan(spark, "j18_lateral_topk")
    # the correlated LATERAL subquery must decorrelate to a join +
    # per-key limit, never execute per outer row via nested loops over
    # the full customer table per nation
    assert "CartesianProduct" not in plan
    # per-nation top-2 compiles to a window/rank or partitioned limit —
    # either way the customer side is scanned ONCE
    assert plan.count("FileScan") <= 2


def test_rain_rolling_window_partitions_by_cell(spark):
    plan = _plan(spark, "tc_rain_rolling_24h")
    # the 24h rolling sum must run per cell, never as a global-order
    # window (the packing-entry scale-killer shape)
    assert "Window" in plan
    import re

    for m in re.finditer(r"Window \[[^\]]*\]", plan):
        frag = m.group(0)
        assert "cell_id" in frag or "adm3_pcode" in frag, frag


def test_multi_distinct_uses_expand(spark):
    plan = _plan(spark, "a23_multi_distinct")
    # two COUNT(DISTINCT x), COUNT(DISTINCT y) in one agg must compile
    # to the Expand operator (row replication per distinct group), not
    # two separate scans joined back
    assert "Expand" in plan
    assert plan.count("FileScan") == 1


def test_link_prediction_is_inverted_index_join(spark):
    plan = _plan(spark, "graph_link_prediction")
    # candidates come from the equi-join on the shared customer —
    # never a supplier-supplier cross join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_centroid_join_is_broadcast(spark):
    plan = _plan(spark, "ml_kmeans_lloyd")
    # the k x dim centroid frame must arrive broadcast at the
    # assignment join every round — a shuffle there would co-partition
    # the whole exploded vector frame per iteration
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_superstep_shape(spark):
    plan = _plan(spark, "graph_pagerank")
    # session-7 rewrite: integer node ids + no per-superstep join-back
    # on a symmetrized graph. The string labels appear only in the
    # final projection, so no join in the plan should hash strings —
    # and with the join-back gone, the only joins left are the edge
    # build + 4 superstep rank joins (no per-superstep LEFT join onto
    # the node set).
    assert "CartesianProduct" not in plan
    # the identity join-back was a left outer join per superstep
    assert plan.count("LeftOuter") == 0, plan[:2000]
    from ibf_typhoon_data_pipeline_spark.operators.cache import (
        release_caches,
    )

    release_caches()


def test_bfs_frontier_is_broadcast(spark):
    plan = _plan(spark, "graph_bfs_hops")
    # delta frontiers broadcast against the persisted edge list —
    # at least one BroadcastHashJoin per superstep
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]
    from ibf_typhoon_data_pipeline_spark.operators.cache import (
        release_caches,
    )

    release_caches()


def test_compaction_plan_window_is_partitioned(spark):
    plan = _plan(spark, "layout_compaction_plan")
    import re

    # the running-size window must partition by lang — compaction
    # planning never needs a global order over the file manifest
    assert "Window" in plan
    for m in re.finditer(r"Window \[[^\]]*\]", plan):
        assert "lang" in m.group(0), m.group(0)


def test_exactsubstr_windows_partition_by_doc(spark):
    plan = _plan(spark, "corpus_exactsubstr_ranges")
    import re

    # the interval-merge windows run per doc; the candidate pass is
    # an equi-join on the block hash, never a cross join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for m in re.finditer(r"Window \[[^\]]*\]", plan):
        assert "doc_id" in m.group(0), m.group(0)


def test_binary_hamming_query_side_broadcast(spark):
    plan = _plan(spark, "sim_binary_hamming_topk")
    # the sampled query fingerprints must broadcast; the corpus side
    # is scanned once and never shuffled for the candidate join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_item_cf_counts_broadcast_no_cartesian(spark):
    plan = _plan(spark, "orders_item_cf_topk")
    # item-frequency joins must broadcast (bounded dims) and the pair
    # generation must stay an equi-join on the basket key
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_classical_decompose_windows_run_on_hourly_frame(spark):
    plan = _plan(spark, "events_classical_decompose")
    # the RANGE trend window runs AFTER the hourly groupBy
    # (span-bounded frame): in the parent-first plan text, every
    # Window's child chain must hit a HashAggregate BEFORE reaching
    # the fact scan — a Window directly over the FileScan would be a
    # fact-sized single-partition sort
    assert "Window" in plan
    for seg in plan.split("Window")[1:]:
        scan = seg.find("FileScan")
        if scan >= 0:
            assert "HashAggregate" in seg[:scan], (
                "trend window must run on the aggregated hourly frame"
            )


def test_clustering_depth_overlap_join_is_manifest_sized(spark):
    plan = _plan(spark, "layout_clustering_depth")
    # the overlap self-join runs on the broadcast manifest (file-count
    # metadata), never a fact-table nested loop
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # both manifests partial-aggregate before any join
    assert plan.count("HashAggregate") >= 4


def test_min_recursion_edge_builds_have_no_redundant_shuffle(spark):
    """BFS/SSSP edge lists carry NO distinct (round 7: min-recursions
    are edge-multiplicity-immune — SSSP weights are pure pair
    functions — so the distinct shrank the cache ~2% for a full
    shuffle) and EXACTLY ONE hash exchange, on the DESTINATION key
    (r13: the broadcast frontier probe preserves the cached edge
    partitioning, so hash(dst) makes every superstep's candidate
    groupBy(dst) exchange-free — one edge-sized exchange at cache
    build replaces one candidate exchange per superstep; paired A/B
    0.876/0.933 vs the r12 unpartitioned shape). Guard: the persisted
    edge frame's OWN plan (scan → broadcast join → explode →
    repartition(dst), nothing else) contains exactly one hash
    exchange and it hashes dst — a reintroduced distinct (second
    exchange) or a dropped/mis-keyed repartition fails here.

    Rewritten for ADVICE r7: the old version grepped the final plan's
    text split at 'InMemoryRelation' for 'ShuffleExchange' — a token
    Spark never prints (shuffles print as 'Exchange
    hashpartitioning(...)'), so the assertion was vacuous; and the
    naive split bleeds into NEIGHBORING cached builds (the dist
    caches legitimately contain the `nodes` distinct exchange), so
    the corrected token over-matched. Inspecting each tracked edge
    frame directly has neither problem."""
    import re

    from ibf_typhoon_data_pipeline_spark.operators import cache
    from ibf_typhoon_data_pipeline_spark.operators.cache import (
        release_caches,
    )

    for name in ("graph_bfs_hops", "graph_sssp_weighted"):
        release_caches()
        plans.QUERIES[name].fn(spark, "/root/testdata/sf0.01")
        # the edge frames are the tracked persists carrying a `dst`
        # column (the dist frames carry node/hop|dist instead)
        edge_frames = [c for c in cache._CACHED if "dst" in c.columns]
        assert edge_frames, (
            f"{name}: expected the persisted edge build among the "
            f"tracked caches; update the matcher"
        )
        for ef in edge_frames:
            txt = ef._jdf.queryExecution().executedPlan().toString()
            # matcher sanity: this really is the symmetrizing build —
            # r12 replaced the 2-arm union (which re-evaluated the
            # pair join once per arm) with one explode generator
            assert "Generate explode" in txt, (name, txt[:800])
            hashes = re.findall(r"Exchange hashpartitioning\((\w+)", txt)
            assert len(hashes) == 1 and hashes[0].startswith("dst"), (
                name,
                hashes,
                txt[:800],
            )
        release_caches()


def test_hash_exchange_guard_is_not_vacuous(spark):
    """Negative self-test for the guard above (ADVICE r7): a persisted
    frame built WITH a repartition must show the exact token the guard
    bans in its own plan text — proving the assertion is live, not
    vacuous like the old 'ShuffleExchange' spelling."""
    from pyspark.sql import functions as F

    from ibf_typhoon_data_pipeline_spark.operators.cache import (
        persist_tracked,
        release_caches,
    )
    from ibf_typhoon_data_pipeline_spark.sources.tables import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        F.col("o_custkey").alias("src"), F.col("o_orderkey").alias("dst")
    )
    bad_edges = persist_tracked(
        orders.unionAll(orders).repartition(8, "src")
    )
    txt = bad_edges._jdf.queryExecution().executedPlan().toString()
    assert "Union" in txt, txt[:2000]
    assert "Exchange hashpartitioning" in txt, txt[:2000]
    release_caches()
