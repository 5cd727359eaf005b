"""Plan-shape assertions: the physical plans the engine's scale story relies
on (SURVEY §4) must not silently regress.

These parse .explain output — the same artifacts a human would check — for:
pushed filters, pruned read schemas, broadcast joins, TakeOrderedAndProject,
partial aggregation, and whole-stage codegen presence.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pumle_spark import workload

# override to re-assert the same invariants at another scale, e.g.
#   SPARK_GRAFT_PLAN_SF=/root/repo/.bench/sf1 pytest tests/test_plans.py
import os

SF = os.environ.get("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.001")


def plan_of(q, spark):
    return workload.queries()[q](spark, SF)._jdf.queryExecution().executedPlan().toString()


def codegen_plan_of(q, spark):
    df = workload.queries()[q](spark, SF)
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")


def test_q1_pushes_filter_and_prunes_columns(spark):
    plan = plan_of("q1_pricing_summary", spark)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # 7-column projection reaches the scan; unused columns absent
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]
    # the whole scan→filter→partial-agg pipeline fuses into codegen stages
    assert "WholeStageCodegen subtrees" in codegen_plan_of("q1_pricing_summary", spark)


def test_q1_partial_aggregation(spark):
    plan = plan_of("q1_pricing_summary", spark)
    # partial (map-side) + final hash aggregate around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(l_returnflag" in plan


def test_q3_broadcasts_dims_and_takeordered(spark):
    plan = plan_of("q3_top_revenue_orders", spark)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_q6_all_predicates_pushed(spark):
    plan = plan_of("q6_forecast_revenue", spark)
    # Spark truncates the filter list in toString — assert on the visible
    # prefix: every filter column registered as pushed-down
    pushed = plan.split("PushedFilters: [")[1]
    for frag in ("IsNotNull(l_shipdate)", "IsNotNull(l_discount)", "IsNotNull(l_quantity)"):
        assert frag in pushed, f"{frag} not pushed: {pushed[:200]}"
    assert "GreaterThanOrEqual(l_shipda" in pushed


def test_wells_range_join_broadcasts_small_side(spark):
    plan = plan_of("wells_range_join", spark)
    assert "BroadcastHashJoin" in plan  # equi keys drive the probe
    assert "SortMergeJoin" not in plan


def test_semi_and_anti_join_operators(spark):
    assert "LeftSemi" in plan_of("join_semi_active_customers", spark)
    assert "LeftAnti" in plan_of("join_anti_inactive_customers", spark)


def test_golden_write_partition_pruning(spark, tmp_path):
    """A sim_hash predicate on partitioned golden prunes partitions at scan."""
    from pumle_spark.ingest import ingest_golden, read_golden, write_golden
    from tests.fixtures import CASE, make_bronze

    sims = make_bronze(tmp_path / "b", n_sims=3, n_t=2, seed=41)
    g = ingest_golden(
        spark,
        str(tmp_path / f"b/states_{CASE}_*.json"),
        str(tmp_path / f"b/grdecl_{CASE}_*.json"),
        str(tmp_path / f"b/g_{CASE}.json"),
    )
    write_golden(g, str(tmp_path / "golden"))
    h = next(iter(sims))
    filtered = read_golden(spark, str(tmp_path / "golden")).filter(F.col("sim_hash") == h)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert f"sim_hash#" in plan
    assert "PartitionFilters: [isnotnull(sim_hash" in plan


def test_salted_join_equals_plain_join(spark):
    from pumle_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(k, i) for k in ("hot", "a", "b") for i in range({"hot": 50, "a": 3, "b": 2}[k])],
        "k string, li int",
    )
    right = spark.createDataFrame(
        [("hot", 100), ("hot", 200), ("a", 300), ("c", 400)], "k string, ri int"
    )
    plain = left.join(right, "k").select("k", "li", "ri")
    salted = salted_join(left, right, "k", hot_keys=["hot"], n_salts=4).select("k", "li", "ri")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    plain_l = left.join(right, "k", "left").select("k", "li", "ri")
    salted_l = salted_join(left, right, "k", ["hot"], 4, how="left").select("k", "li", "ri")
    assert sorted(map(tuple, plain_l.collect()), key=str) == sorted(
        map(tuple, salted_l.collect()), key=str
    )


def test_q2_broadcasts_dims_and_heap_topk(spark):
    """q2: the only shuffle is the partsupp derivation; every dim join is a
    broadcast and the top-100 is a heap, not a global sort."""
    plan = plan_of("q2_min_cost_supplier", spark)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_heavy_hitters_single_shuffle_heap_topk(spark):
    plan = plan_of("heavy_hitters_lineitem_parts", spark)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan  # single-row total joins via broadcast


def test_trap_pointers_are_equijoin_no_cartesian(spark):
    """Watershed neighbor search must stay an equi-join over exploded
    offsets — a cartesian/range-join formulation would explode at scale."""
    from pumle_spark.operators.terrain import steepest_ascent_pointers
    from pumle_spark.workload.terrain import _surface

    ptr = steepest_ascent_pointers(_surface(spark, SF))
    plan = ptr._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_all_pairs_cosine_has_no_hof_in_pair_loop(spark):
    """The flattened dot product must stay codegen arithmetic — a reintroduced
    zip_with/aggregate fold in the pair loop costs 2x (PERF.md)."""
    plan = plan_of("dedup_embedding_cosine", spark)
    pair_stage = plan.split("BroadcastNestedLoopJoin")[0]
    assert "aggregate(" not in pair_stage and "zip_with" not in pair_stage


def test_pq_codebook_is_broadcast_and_agg_partial(spark):
    plan = plan_of("ann_pq_codes", spark)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "partial_min" in plan or "HashAggregate" in plan
    assert "SortMergeJoin" not in plan  # codebook must never shuffle the corpus


def test_adc_scoring_joins_are_broadcast(spark):
    plan = plan_of("ann_pq_adc_topk", spark)
    # LUT and query sides broadcast; the corpus side is never sort-merge-joined
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_decontaminate_eval_side_broadcast(spark):
    plan = plan_of("text_decontaminate_overlap", spark)
    assert "BroadcastHashJoin" in plan


def test_salted_brand_revenue_no_cartesian(spark):
    plan = plan_of("skew_salted_brand_revenue", spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_frame_window_specifies_range(spark):
    plan = plan_of("window_range_frame_trailing_spend", spark)
    assert "RangeFrame" in plan and "-2592000" in plan


def test_grouping_sets_single_expand_pass(spark):
    plan = plan_of("agg_grouping_sets_revenue", spark)
    assert "Expand" in plan              # one Expand+Aggregate evaluates all sets
    assert plan.count("FileScan") == 1   # never one scan per grouping set


def test_interval_overlap_banded_equijoin_and_heap_topk(spark):
    plan = plan_of("interval_overlap_sessions", spark)
    # the band prefilter must be a hash equi-join (bucket key), never a
    # time-range nested loop — and the bounded emit a heap top-k
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_triangle_census_all_equijoins(spark):
    df = workload.queries()["graph_triangle_census"](spark, SF)
    df.collect()  # AQE-final plan, where exchange reuse is resolved
    plan = df._jdf.queryExecution().executedPlan().toString()
    # wedge build + closure probe are equi-joins — never an unbounded
    # nested loop (the BNLJ instances in the tree are single-row
    # threshold/census scalars, replicated textually per reference)
    assert "CartesianProduct" not in plan
    # the edge subtree (pair self-join → count → threshold) is referenced
    # by degrees, census, wedges, and closure: its shuffles must be
    # deduplicated, not re-executed per reference
    assert "ReusedExchange" in plan


def test_outlier_mad_broadcasts_stats_back(spark):
    plan = plan_of("outlier_mad_brand_quantity", spark)
    # the 25-row med/mad tables must come back as broadcast joins: the
    # fact table never sort-merges against its own statistics
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_incremental_merge_partial_aggregates_before_union(spark):
    plan = plan_of("incremental_rollup_merge", spark)
    # both the state and delta sides partial-aggregate before the merge
    # groupBy: the union carries |months×flags| partials, not facts
    assert plan.count("HashAggregate") >= 4
    assert "CartesianProduct" not in plan


def test_scd2_single_exchange_for_all_windows(spark):
    plan = plan_of("scd2_user_state_intervals", spark)
    # lag flag, version cumsum, run rollup, interval lead: all share the
    # user_id hash partitioning — exactly one shuffle of the fact rows
    # (+1 if the final window re-partitions on (user, version) hashing)
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "CartesianProduct" not in plan


def test_prefix_filter_no_cartesian_all_equijoins(spark):
    """The prefix-filtered similarity join must stay keyed end-to-end: the
    candidate join on the prefix shingle and the verify joins are all
    hash/sort-merge equijoins — never a cartesian/BNLJ fallback."""
    plan = plan_of("dedup_prefix_filter_jaccard", spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fk_audit_uses_anti_joins(spark):
    """Each FK edge compiles to a LEFT ANTI existence join (null-skipping),
    one per relationship, with no cartesian fallback anywhere."""
    from pumle_spark.workload.pipeline import _FK_EDGES

    plan = plan_of("validate_fk_orphans", spark)
    assert plan.count("LeftAnti") >= len(_FK_EDGES)
    assert "CartesianProduct" not in plan


def test_unigram_scoring_partial_aggregates(spark):
    """Both the vocabulary build and the per-doc scoring must partial-
    aggregate before their exchanges (map-side combine on token counts and
    on the per-doc integer fold)."""
    plan = plan_of("text_unigram_logprob", spark)
    assert plan.count("HashAggregate") >= 4  # partial+final for both groupBys
    assert "Exchange hashpartitioning(w" in plan
    assert "Exchange hashpartitioning(doc_id" in plan


def test_bfs_reuses_edge_exchange_across_supersteps(spark):
    """The unrolled BFS plan must share the edge-list shuffle between
    supersteps via ReuseExchange (or AQE's equivalent) rather than
    rescanning and reshuffling the edge union per level."""
    plan = plan_of("graph_bfs_reach", spark)
    assert "CartesianProduct" not in plan
    # ReuseExchange appears in the final adaptive plan as reused exchange
    # subtrees; before AQE finalization the marker may be absent, so accept
    # either the explicit node or multiple identical exchanges pending reuse
    assert ("ReusedExchange" in plan) or (plan.count("Exchange hashpartitioning(src") >= 1)


# --------------------------------------------------------------------------
# wave-3 plan invariants
# --------------------------------------------------------------------------


def test_bloom_semireduction_prunes_before_real_join(spark):
    """The probe side must pass a broadcast LEFT-SEMI bucket filter before
    the real equi-join — the semi-join-reduction shape itself."""
    plan = plan_of("join_bloom_semireduction", spark)
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "xxhash64" in plan  # engine-private hash never reaches the oracle


def test_correlated_scalar_decorrelates_to_broadcast_joins(spark):
    """Catalyst must decorrelate every scalar subquery into an aggregate +
    broadcast join (never a per-row re-execution or a nested loop).
    Spark 4 does NOT merge the identical correlated subtrees — each
    occurrence gets its own aggregate scan (5 here), which is exactly why
    the pytest twin also pins the hand-decorrelated single-scan groupBy
    form a performance-sensitive user would write."""
    plan = plan_of("subquery_correlated_scalar", spark)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skyline_window_runs_on_distinct_prices_only(spark):
    """The global-order window must consume the per-price aggregate, never
    raw part rows: a partial/final HashAggregate pair sits below the
    single-partition exchange feeding the window."""
    plan = plan_of("skyline_parts_2d", spark)
    assert "Window" in plan
    w_idx = plan.index("Window")
    assert "HashAggregate" in plan[w_idx:], "window input is not the collapsed relation"
    assert "Exchange SinglePartition" in plan


def test_weighted_median_collapses_before_window(spark):
    """The cumulative window input must be the distinct-(flag, qm) rollup:
    partial aggregation happens below the window's exchange."""
    plan = plan_of("weighted_median_quantity", spark)
    w_idx = plan.index("Window")
    below = plan[w_idx:]
    assert "HashAggregate" in below
    assert "partial_sum" in below or "partial_count" in below


def test_gini_broadcasts_nation_dim(spark):
    plan = plan_of("orders_gini_concentration", spark)
    assert "BroadcastHashJoin" in plan


def test_incremental_delta_never_joins_existing_to_existing(spark):
    """The near-dup probe joins delta fingerprints against the existing
    index; both sides of every SortMergeJoin/ShuffledHashJoin must carry
    the split filter. Since the r11 rework materializes the normalized
    corpus once (the md5('split|…') bucket is computed in that checkpoint
    job), the final plan filters on the materialized bucket column — one
    branch < 90, one >= 90 — instead of re-deriving the hash per side."""
    plan = plan_of("dedup_incremental_delta", spark)
    import re

    assert len(re.findall(r"bucket#\d+L? < 90", plan)) >= 1  # existing side
    assert len(re.findall(r"bucket#\d+L? >= 90", plan)) >= 1  # delta side


def test_winnow_fingerprint_single_exchange(spark):
    """The round-5 winnow rewrite: the fingerprint summary is computed
    per-row (let-binding array form), so the ONLY exchange in the plan is
    the deliberate round-robin repartition that right-sizes the CPU-bound
    hash map — no per-doc window shuffle, no distinct shuffle, no Window
    operator at all."""
    plan = plan_of("text_fingerprint_winnow", spark)
    assert plan.count("Exchange") == 1, plan[:500]
    assert "RoundRobinPartitioning" in plan
    assert "Window" not in plan
    assert "HashAggregate" not in plan  # summary is a projection, not an agg


def test_shingles_have_no_window_or_distinct_shuffle(spark):
    """shingles() per-row form: minhash signatures see exactly two
    exchanges (the signature groupBy and the band-bucket join side), and
    no Window operator from shingle construction."""
    plan = plan_of("dedup_minhash_lsh", spark)
    assert "Window" not in plan


# --------------------------------------------------------------------------
# round-6 additions: the plan shapes their docstrings promise
# --------------------------------------------------------------------------


def test_dsir_bucket_lm_broadcasts_to_token_stream(spark):
    """The 1024-bucket LM must reach the token stream as a broadcast hash
    join — a sort-merge there would shuffle the full token explosion."""
    plan = plan_of("curation_dsir_weights", spark)
    assert "BroadcastHashJoin [b" in plan
    # per-doc scoring joins the bucket weights, never doc x doc
    assert "CartesianProduct" not in plan


def test_token_fertility_is_one_rollup_no_joins(spark):
    plan = plan_of("text_token_fertility", spark)
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    # partial + final aggregate around the single (source, lang) exchange
    assert "Exchange hashpartitioning(source" in plan
    assert plan.count("HashAggregate") >= 2


def test_ndcg_and_rbo_prune_postings_before_scoring(spark):
    """The BM25 candidate table must be built from a broadcast of the
    constant query-term set (inverted-index probe), not a corpus-wide
    shuffle join against it."""
    for q in ("retrieval_ndcg_eval", "retrieval_rbo_overlap"):
        plan = plan_of(q, spark)
        assert "BroadcastHashJoin [term" in plan, q
        assert "CartesianProduct" not in plan, q


def test_sign_hamming_broadcasts_query_side(spark):
    """The strided query set rides a broadcast; the corpus side streams
    (the adjudicated exact-kNN kernel shape)."""
    plan = plan_of("embedding_sign_hamming_agreement", spark)
    assert "BroadcastNestedLoopJoin" in plan
    # both rankings come off the same scored relation: no second corpus scan
    assert plan.count("Scan parquet") <= 2


def test_dim_psi_is_mapwork_plus_dim_rollup(spark):
    plan = plan_of("drift_embedding_dim_psi", spark)
    assert "Generate posexplode" in plan or "Generate explode" in plan
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan


def test_lsh_tuning_reuses_checkpointed_signature_and_truth(spark):
    """The quadratic truth subtree and the signature build are pinned with
    localCheckpoint so the three config branches reuse them instead of
    recomputing the all-pairs join per config."""
    from pumle_spark.workload.dedup import dedup_lsh_tuning_report

    plan = dedup_lsh_tuning_report(spark, SF)._jdf.queryExecution().executedPlan().toString()
    # checkpointed RDD scans appear in place of three repeated shingle joins
    assert "Scan ExistingRDD" in plan


# --------------------------------------------------------------------------
# round-7 additions: the plan shapes their docstrings promise
# --------------------------------------------------------------------------


def test_unimax_is_one_rollup_plus_dim_windows(spark):
    """One token rollup per language whose shuffle serves both the
    capped-set scalars and the final allocation (AQE reuses the exchange);
    everything after rides |langs| rows."""
    df = workload.queries()["mix_unimax_epochs"](spark, SF)
    df.collect()  # AQE-final plan, where exchange reuse is resolved
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "ReusedExchange" in plan  # the |langs| rollup's shuffle, read twice


def test_weighted_aes_broadcasts_the_lnu_table(spark):
    """The 256-row -ln(u) literal table must reach the corpus as a
    broadcast hash join; the race is a per-source window, never global."""
    plan = plan_of("sample_weighted_aes", spark)
    assert "BroadcastHashJoin [idx" in plan
    assert "CartesianProduct" not in plan
    # the top-k window partitions by source (no unpartitioned pull)
    assert "hashpartitioning(source" in plan


def test_bloom_tuning_broadcasts_sketch_words(spark):
    """Probes join the per-config word table as a broadcast (the
    runtime-filter shape this grid exists to tune); the config/hash
    fan-out is a constant Generate, not a join."""
    plan = plan_of("sketch_bloom_tuning", spark)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan


def test_page_hinkley_is_join_free(spark):
    """A rollup plus calendar-bounded windows: no join operator of any
    kind may appear in the detector's plan."""
    plan = plan_of("drift_page_hinkley", spark)
    for op in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
               "CartesianProduct", "ShuffledHashJoin"):
        assert op not in plan
    assert plan.count("Window") >= 2  # the prefix walks


def test_hyperball_supersteps_are_keyed_joins_over_checkpoints(spark):
    """Each superstep joins the checkpointed edge list against the register
    table on the node id — no pair explosion, no quadratic shapes; the
    checkpoint truncates lineage so superstep 1 is not recomputed."""
    from pumle_spark.workload.graph import graph_hyperball_reach

    plan = (
        graph_hyperball_reach(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # checkpointed edges / supersteps


def test_dp_noisy_marginals_noise_lookup_is_hash_join(spark):
    """The (eps, idx) key is derived on the cells side first, so the noise
    table lookup must stay a broadcast HASH join — a key expression mixing
    both sides would silently degrade to a nested loop."""
    plan = plan_of("privacy_dp_noisy_marginals", spark)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hilbert_fold_is_constant_size_single_scan(spark):
    """The xy2d walk must be ONE aggregate() fold (constant expression
    size), not an unrolled CASE tree; one orders scan + the single-row
    bounds broadcast."""
    plan = plan_of("layout_hilbert_orders", spark)
    assert "CartesianProduct" not in plan
    # two narrow scans: the single-row bounds aggregate + the keyed pass
    assert plan.count("Scan parquet") == 2
    # the fold survives as ONE lambdafunction expression (sequence
    # constant-folded), never an unrolled CASE tree per level
    assert "lambdafunction(named_struct(x, CASE WHEN" in plan


def test_curve_locality_cuts_share_the_bounds_broadcast(spark):
    """Both curve cuts bucketize against ONE broadcast of the single-row
    bounds (AQE reuses the exchange); no cartesian shapes."""
    df = workload.queries()["layout_curve_locality"](spark, SF)
    df.collect()  # AQE-final plan, where exchange reuse is resolved
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "ReusedExchange" in plan  # the bounds broadcast, read by both cuts


# ---------------------------------------------------------------------------
# round-8 plan locks
# ---------------------------------------------------------------------------


def test_exact_substring_reuses_gram_exchange(spark):
    """The duplicate-gram filter and the mark-back join hash on the SAME
    32-byte fingerprint — the probe must reuse the groupBy's exchange, not
    re-shuffle the gram stream, and islands window per doc_id only."""
    plan = plan_of("dedup_exact_substring", spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # one gram-stream shuffle feeds both the aggregate and the join probe
    assert "ReusedExchange" in plan or plan.count("Exchange hashpartitioning(h#") <= 2
    # island merge is per-document state
    assert "Window" in plan and "partitionBy" not in plan.lower().replace(
        "window [", ""
    ) or "doc_id" in plan.split("Window")[1][:200]


def test_kneser_ney_shares_one_bigram_rollup(spark):
    """c1/N1+ come from ONE groupBy(prev) over c2 (not two), the
    continuation table is keyed on tok, and the type-count denominator is
    a single-row broadcast — no nested-loop wider than that scalar."""
    plan = plan_of("text_kneser_ney_logprob", spark)
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row n_types scalar
    assert "CartesianProduct" not in plan
    # top-25 report cut: global TakeOrdered, never a full sort
    assert "TakeOrderedAndProject" in plan


def test_fdr_bh_windows_only_touch_hypothesis_rows(spark):
    """The BH step-up windows must sit above the |hypotheses|-row relation
    (post-aggregation), and the phi p-value table joins as a broadcast
    HASH join on the quantized key — never a nested loop against data."""
    plan = plan_of("abtest_fdr_bh", spark)
    assert "BroadcastHashJoin" in plan  # phi lookup
    # the only nested-loop inputs are the two single-row arm-count scalars
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in plan


def test_mann_whitney_never_ranks_rows(spark):
    """The rank-sum must come from the value-frequency histogram: no
    per-row global sort/rank — the only Window runs over the ~50-row
    distinct-quantity rollup AFTER the groupBy, and the returnflag
    predicate reaches the parquet scan."""
    plan = plan_of("stats_mann_whitney", spark)
    assert "PushedFilters" in plan and "In(l_returnflag" in plan
    # window input is the aggregated histogram, not the scan
    win_seg = plan.split("Window")[-1]
    assert "HashAggregate" in win_seg  # aggregate below the window
    assert "TakeOrderedAndProject" not in plan.split("Window")[0]


def test_randomized_response_is_map_plus_dim_rollup(spark):
    """The mechanism is per-row hash arithmetic: one customer scan, one
    broadcast nation join, one partial-aggregated groupBy — no other
    shuffle, no nested loop, no window."""
    plan = plan_of("privacy_randomized_response", spark)
    assert "BroadcastHashJoin" in plan
    for op in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct", "Window"):
        assert op not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # the nation rollup


def test_group_kfold_assignment_is_shuffle_free_map(spark):
    """Fold assignment must be pure map work — the ONLY exchanges are the
    5-fold audit rollup (and its single-row total); no join against a fold
    table, no window."""
    plan = plan_of("split_group_kfold", spark)
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    # md5-mod fold expression evaluated in the scan's project, pre-shuffle
    assert "pmod(cast(conv(substring(md5" in plan.replace(" ", "").lower() or "conv(substring(md5" in plan


def test_bloom_skipping_word_tables_broadcast(spark):
    """The probe side joins the per-file word table and zone table as
    BROADCASTS (file-count-sized), and the corpus contributes only the
    DISTINCT (f, pk, sk) exchange — the audit never shuffles probes
    against data."""
    plan = plan_of("layout_bloom_skipping", spark)
    assert "BroadcastHashJoin" in plan  # words lookup on (f, w_idx)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_adc_rerank_fetches_candidates_not_corpus(spark):
    """The refine stage joins the candidate set back to the embedding
    table on vec_id via hash joins; the full-vector fold appears ABOVE
    those joins, and the final cut is per-query row_number (partitioned
    window), never a global sort."""
    plan = plan_of("ann_adc_rerank", spark)
    assert "CartesianProduct" not in plan
    # both exact-side fetches are equi-joins on the id
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" not in plan  # per-query windows, no global top-k


def test_quality_funnel_is_one_rollup_plus_source_windows(spark):
    """First-fail staging is a CASE projection over the shared flag frame;
    one (source, stage) groupBy; the share windows partition by source.
    No join of any kind."""
    plan = plan_of("curation_quality_funnel", spark)
    for op in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan
    assert "Window" in plan


def test_cdc_chunking_reuses_the_doc_partitioning(spark):
    """Boundary LAGs, the chunk-id prefix sum, and the (doc, chunk) rollup
    all key on doc_id — ONE exchange hash-partitioned on doc_id must serve
    the window chain (no re-shuffle between the two windows), and the
    frequency probe joins on the chunk hash."""
    plan = plan_of("dedup_cdc_chunking", spark)
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(doc_id#") <= 1
    # the checkpointed chunk table feeds both consumers
    assert "Scan ExistingRDD" in plan
    assert "Exchange hashpartitioning(h#" in plan


def test_dp_quantile_windows_touch_only_the_histogram(spark):
    """The value histogram aggregates BEFORE any window; the Gumbel table
    joins as a broadcast hash join keyed on the candidate-side digit."""
    plan = plan_of("privacy_dp_quantile", spark)
    assert "BroadcastHashJoin" in plan  # gumbel lookup
    assert "SortMergeJoin" not in plan
    win_seg = plan.split("Window")[-1]
    assert "HashAggregate" in win_seg


def test_permutation_expansion_collapses_map_side(spark):
    """The 65-replicate explode multiplies the per-customer rollup and must
    partially aggregate into B+1 groups BEFORE the shuffle (the bootstrap
    contract): a partial_ aggregate sits above Generate, below Exchange."""
    plan = plan_of("stats_permutation_test", spark)
    gen_idx = plan.index("Generate explode")
    # a partial aggregate appears above the explode in the same stage
    above = plan[:gen_idx]
    assert "partial_" in above or "HashAggregate" in above
    assert "CartesianProduct" not in plan


def test_minhash_neighbors_quadratic_work_stays_in_buckets(spark):
    """The adjacency is checkpointed once for four consumers; the bucket
    self-join keys on (band, band_key); verify joins back to the adjacency
    on node ids. No cartesian shapes anywhere."""
    plan = plan_of("graph_minhash_neighbors", spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan  # the pinned adjacency


def test_cms_heavy_change_sketch_is_one_conditional_pass(spark):
    """Both period sketches are columns of ONE (row, col) groupBy (CMS
    linearity); the dictionary probe joins the broadcast cell table; the
    top-k report is the windowless ranked_topk above the estimate
    aggregate."""
    plan = plan_of("sketch_cms_heavy_change", spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # exactly ONE cell-grid shuffle carries both periods' counts (CMS
    # linearity); the exact-audit rollup is a separate keyed aggregate by
    # design, so partial_sum(CASE WHEN period...) appears in both
    # three keyed shuffles total: the cell grid (grouping expression over
    # (row_i, col_j)), the per-part estimate rollup, the exact audit rollup
    assert plan.count("Exchange hashpartitioning(_groupingexpression") == 1
    assert plan.count("Exchange hashpartitioning") == 3


def test_wasserstein_reuses_the_ks_two_level_prefix(spark):
    """The heavy cumulative and the in-bucket LEAD partition by bucket;
    the only unpartitioned window walks the domain-bounded bucket table;
    totals broadcast. No sort-merge joins."""
    plan = plan_of("drift_wasserstein_1d", spark)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # partitioned windows exist (the bucket-keyed heavy pass)
    assert "windowspecdefinition(bkt" in plan


def test_dedup_cascade_quadratic_work_is_bucketed_and_survivor_filtered(spark):
    """Stage-2 candidates are LSH bucket pairs filtered to stage-1
    survivors BEFORE shingle verification; the base/stage tables are
    checkpointed once for their multiple consumers."""
    plan = plan_of("curation_dedup_cascade", spark)
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # pinned base/s1/shingles


def test_bpe_train_corpus_scanned_once_then_vocab_rounds(spark):
    """The corpus parquet is scanned exactly ONCE (the word-frequency
    collapse); all merge rounds run off checkpointed vocab-sized state,
    each merge rule / corpus total is a 1-row broadcast, and the argmax is
    a TakeOrdered, never a full sort of the pair table."""
    plan = plan_of("text_bpe_train_merges", spark)
    # the corpus scan lives INSIDE the round-0 word-table checkpoint's
    # lineage: the assembled plan reads only checkpointed vocab state
    assert plan.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in plan  # per-round word-table checkpoints
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # one report branch per merge round: the checkpointed 1-row argmax
    # crossed with that round's corpus-total scalar — nothing wider
    from pumle_spark.workload.text import _BPE_MERGES

    assert plan.count("BroadcastNestedLoopJoin") == _BPE_MERGES


def test_repeated_ngrams_windows_ride_the_gram_hash(spark):
    """Both aggregation levels and the ownership argmax key on the gram
    fingerprint: the windows are h-PARTITIONED (never a global order), the
    report cut is a TakeOrdered, and no join back to the corpus exists —
    the span text rides min(t) through the rollups."""
    plan = plan_of("text_repeated_ngrams", spark)
    assert "windowspecdefinition(h#" in plan
    assert "TakeOrderedAndProject" in plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
               "CartesianProduct"):
        assert op not in plan
    assert plan.count("Scan parquet") == 1


def test_bpe_fertility_applies_merges_to_vocab_not_corpus(spark):
    """The merge chain and the per-source accounting both ride checkpointed
    vocab-sized state: the assembled plan reads NO parquet (the one corpus
    pass lives inside the (source, word) checkpoint), and the fertility
    join is keyed on the word — no cartesian shapes."""
    plan = plan_of("text_bpe_encode_fertility", spark)
    assert plan.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_subword_compare_rides_broadcast_vocab_and_checkpoints(spark):
    """Both encoders run off checkpointed vocab-sized state (no parquet in
    the assembled plan); every greedy step probes the piece inventory as a
    BROADCAST hash join — a vocab shuffle or nested loop would poison all 8
    rounds."""
    plan = plan_of("text_subword_greedy_vs_merge", spark)
    assert plan.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the prefix-candidate vocab probes


def test_unigram_lm_train_viterbi_is_one_projection_no_joins(spark):
    """The whole E-step Viterbi lattice is a per-row engine-side fold over
    checkpointed vocab-sized state (corpus scan lives inside the word-table
    checkpoint; the model is a broadcast map column, so NO join appears in
    the segmentation path); the only nested-loop shapes are the per-round
    1-row report crossJoins."""
    plan = plan_of("text_unigram_lm_train", spark)
    assert plan.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan  # no per-piece probe: map column
    from pumle_spark.workload.text import _ULM_ROUNDS

    assert plan.count("BroadcastNestedLoopJoin") == _ULM_ROUNDS


def test_unigram_lm_pieces_final_inventory_plan(spark):
    """The shipped-inventory report reads only checkpointed state; one
    1-row total broadcast (the final score denominator) and one
    vocab-bounded rank window."""
    plan = plan_of("text_unigram_lm_pieces", spark)
    assert plan.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_doremi_rounds_run_off_checkpointed_source_state(spark):
    """The token-stream LM joins live inside the excess-loss checkpoint;
    every EG round is arithmetic over |sources|-sized checkpointed state
    with single-row broadcast scalars — the assembled plan reads no
    parquet and contains no join at all."""
    plan = plan_of("mix_doremi_weights", spark)
    assert plan.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in plan
    for op in ("CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
               "BroadcastNestedLoopJoin"):
        assert op not in plan


def test_jl_distortion_is_linear_keyed_join_and_codegen_sums(spark):
    """The pair sample must be the keyed consecutive-id equi-join (linear),
    the projection pure literal arithmetic (no per-row hashing, no
    higher-order-function in the projection path), and the only nested
    loop the single-row histogram total."""
    plan = plan_of("embedding_jl_distortion", spark)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row total
    assert "md5" not in plan  # signs are literals, never per-row hashes


_WINDOWLESS_TOPK_QUERIES = (
    # round 10: every rank report whose input grows with the data was
    # converted to the shared windowless ranked_topk (operators/topk.py) or
    # a plain orderBy+limit; an unpartitioned WindowExec reappearing in any
    # of these plans is a scale regression (whole relation -> ONE task).
    "text_bpe_pair_stats",
    "text_unigram_lm_pieces",
    "text_keyword_textrank",
    "events_session_paths",
    "pattern_decline_streaks",
    "graph_pagerank_trade",
    "graph_sssp_bounded",
    "graph_lpa_communities",
    "graph_ppr_seeded",
    "sample_sequential_poisson",
    "sketch_cms_heavy_change",
)


@pytest.mark.parametrize("name", _WINDOWLESS_TOPK_QUERIES)
def test_growing_rank_reports_have_no_unpartitioned_window(spark, name):
    """Lock for the round-10 windowless top-k conversions: the executed
    plan must contain a TakeOrderedAndProject (the two-phase prune) and no
    unpartitioned Window node. Uses plan_lint's own detector so the suite
    and the lint can never disagree on what counts."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    from plan_lint import _unpartitioned_windows

    plan = plan_of(name, spark)
    assert _unpartitioned_windows(plan) == 0, name
    assert "TakeOrderedAndProject" in plan, name
