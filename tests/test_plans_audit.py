"""Physical-plan audits (SURVEY.md §4): the optimizations the MapReduce
reference hand-codes must actually appear in our executed plans —
predicate pushdown, column pruning, broadcast joins, partial aggregation,
whole-stage codegen, top-k as TakeOrdered.

Each registry pin reads its query's final executed plan from the registry
pass (the ``registry_pass`` fixture, sf0.001); only the bloom-filter and
skew-join pins, which plan no registry name, build their own queries."""

from __future__ import annotations

import re

from cbde_mapreduce_spark.plans import REGISTRY
from tests.registry_pass import final_plan as _final


def test_q1_pushdown_pruning_partial_agg(registry_pass):
    plan = registry_pass["q1_pricing_summary"].plan
    # filter reaches the parquet scan
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: ReadSchema carries only referenced columns
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_orderkey" not in read_schema and "l_suppkey" not in read_schema
    # the combiner: partial_ aggregate functions before the shuffle
    assert "partial_sum" in plan or "partial_" in plan
    # whole-stage codegen spans render as "*(n)" operator prefixes
    assert "*(" in plan


def test_q5_broadcasts_small_dims(registry_pass):
    plan = registry_pass["q5_local_supplier"].plan
    # every join in the star resolves to broadcast-hash at this scale;
    # the probe chain stays shuffle-free on the fact side
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_top50_is_take_ordered(registry_pass):
    plan = registry_pass["top50_parts_ranked"].plan
    assert "TakeOrderedAndProject" in plan


def test_filter_project_never_shuffles(registry_pass):
    plan = registry_pass["filter_project_orders"].plan
    assert "Exchange" not in plan, "pure filter/project must be shuffle-free"


def test_semi_join_prunes_right_payload(registry_pass):
    plan = registry_pass["semi_join_active_customers"].plan
    assert "LeftSemi" in plan
    # only the join key (+ pushed filter column) is read from orders
    orders_scans = [
        seg.split("\n")[0]
        for seg in plan.split("FileScan parquet ")[1:]
        if "orders.parquet" in seg.split("\n")[0] or "o_custkey" in seg.split("\n")[0]
    ]
    assert orders_scans
    assert all("o_orderpriority" not in line for line in orders_scans)


def test_wordcount_partial_aggregates(registry_pass):
    plan = registry_pass["wordcount_documents"].plan
    assert "partial_count" in plan, "map-side combine missing"


def test_exact_dedup_groups_on_hash_not_text(registry_pass):
    plan = registry_pass["dedup_exact_keep_first"].plan
    assert "md5" in plan


def test_asof_join_is_join_free_single_window_shuffle(registry_pass):
    """The as-of algorithm is union+window: no join operator anywhere, and
    the window runs off one hash partitioning on the entity key — never a
    row-multiplying range join."""
    plan = registry_pass["asof_join_purchase_click"].plan
    assert "Join" not in plan, "asof must not plan any join"
    assert "Window" in plan
    assert "hashpartitioning(user_id" in plan


def test_salted_agg_is_two_phase(registry_pass):
    """Salted aggregation: phase-1 groups on (keys, salt), phase-2 merges —
    visible as two aggregate levels over distinct groupings."""
    plan = registry_pass["salted_agg_event_types"].plan
    assert "__salt" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final for each phase


def test_q7_star_broadcasts_dims_fact_shuffles_on_keys(registry_pass):
    """Q7's six-table star: dimensions resolve to broadcast-hash joins; no
    sort-merge join anywhere at this scale; the nation-pair predicate must
    not force a cartesian."""
    plan = registry_pass["q7_nation_volume"].plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "partial_sum" in plan


def test_q13_left_join_then_two_level_agg(registry_pass):
    """Q13: the zero-order customers survive (LeftOuter) and both aggregation
    levels combine map-side."""
    plan = registry_pass["q13_order_distribution"].plan
    assert "LeftOuter" in plan
    assert "partial_count" in plan


def test_q15_max_subquery_stays_distributed(registry_pass):
    """Q15's max-revenue selection is a window over the aggregate — the plan
    must contain the Window operator, not a collected literal."""
    plan = registry_pass["q15_top_supplier"].plan
    assert "Window" in plan
    assert "partial_sum" in plan


def test_q17_correlated_avg_decorrelates_to_aggregate_join(registry_pass):
    """Catalyst must rewrite the correlated scalar subquery into an
    aggregate + join — no per-row subquery execution."""
    plan = registry_pass["q17_small_quantity_revenue"].plan
    # decisive check: in the final (AQE) plan, lineitem is scanned a bounded
    # number of times (once per side of the aggregate-join), not per row
    final = _final(plan)
    assert "Join" in final and "avg" in final
    assert 1 <= final.count("FileScan parquet") <= 2


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_oracle):
    """Selective dimension filters inject a runtime bloom filter on the fact
    side of a shuffle join (the semi-join pushdown a 100 TB star schema
    needs). Thresholds are tuned down because the fixture is tiny; at
    cluster scale the defaults (10 MB creation side) trigger on their own."""
    from pyspark.sql import functions as F

    from cbde_mapreduce_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_oracle, "lineitem")
        o = load_table(spark, sf_oracle, "orders").filter(
            F.col("o_totalprice") > 450000
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan or "BloomFilter" in plan
        assert "might_contain" in plan  # the fact-side application
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_decontaminate_broadcasts_benchmark_ngrams(registry_pass):
    """The benchmark n-gram set is broadcast; corpus bodies never shuffle."""
    plan = registry_pass["decontaminate_docs"].plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_domain_mix_broadcasts_rate_table(registry_pass):
    plan = registry_pass["domain_mix_sample"].plan
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan  # map-side combine on the per-source counts


def test_repetition_ratio_partial_aggs_no_join(registry_pass):
    plan = registry_pass["repetition_ratio_docs"].plan
    assert "Join" not in plan
    assert "partial_" in plan


def test_pack_sequences_no_single_partition_stage(registry_pass):
    """Sequence packing must use the distributed prefix sum end-to-end."""
    plan = registry_pass["pack_sequences_chunked"].plan
    assert "SinglePartition" not in plan, plan


def test_salted_join_widens_key_and_hides_salt(spark, sf_smoke, registry_pass):
    """The salted join must actually join on (key, salt) — fanning hot keys
    over n_salts partitions — while the salt never reaches the output."""
    plan = registry_pass["salted_join_order_priority"].plan
    assert "__salt" in plan
    assert "__salt" not in REGISTRY["salted_join_order_priority"].fn(spark, sf_smoke).columns


def test_binned_range_join_is_equi_not_nested_loop(registry_pass):
    """The bin-bucketing rewrite must plan as a hash/sort-merge EQUI join on
    bin — never the BroadcastNestedLoopJoin a raw range predicate forces."""
    plan = registry_pass["binned_range_join_orders"].plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_token_entropy_partial_aggregates(registry_pass):
    """Both aggregation levels (token counts, per-doc sums) must partial-
    aggregate map-side before their shuffles."""
    plan = registry_pass["token_entropy_docs"].plan
    assert "partial_count" in plan or "partial_" in plan
    assert "*(" in plan  # stays inside whole-stage codegen


def test_triangle_count_no_cartesian(registry_pass):
    """Wedge closure is two equi joins on edge endpoints; the n² supplier
    cross product must never materialize."""
    plan = registry_pass["triangle_count_cosupplier"].plan
    assert "CartesianProduct" not in plan


def test_scd2_two_windows_one_exchange(registry_pass):
    """Both window passes partition on o_custkey — the second must reuse the
    first's shuffle+sort, leaving exactly one exchange in the plan."""
    # AQE plan strings append the pre-adaptive "Initial Plan" copy — count
    # exchanges in the final plan section only.
    plan = _final(registry_pass["scd2_customer_status"].plan)
    assert plan.count("Exchange") == 1, plan


def test_global_rank_no_single_partition(registry_pass):
    """The distributed global rank must never collapse to one partition —
    no SinglePartition exchange, unlike the naive global window."""
    plan = registry_pass["global_rank_prefix_orders"].plan
    assert "SinglePartition" not in plan, plan


def test_lateral_decorrelates_to_window_group_limit(registry_pass):
    """The correlated LATERAL (ORDER BY + LIMIT) subquery must decorrelate
    to a rank-over-partition with partial WindowGroupLimit pushdown — never
    a per-outer-row rescan (BroadcastNestedLoopJoin/CartesianProduct)."""
    plan = registry_pass["lateral_top_customers_per_nation"].plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan  # rank-limit pushed below the shuffle
    assert "row_number()" in plan


def test_window_dedup_rank_limit_pushdown(registry_pass):
    """Keep-first-per-bucket dedup compiles to WindowGroupLimit with a
    PARTIAL phase before the shuffle — per-partition top-1 pre-pruning, so
    the exchange moves at most one row per (key, bucket) per partition."""
    plan = registry_pass["window_dedup_events"].plan
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_corpus_prep_pipeline_fused(registry_pass):
    """The composed corpus-prep pipeline (quality gate -> dedup -> split ->
    accounting) must stay ONE plan: the quality filter reaches the parquet
    scan, the dedup's keep-first compiles to WindowGroupLimit, and no join
    or per-stage materialization appears anywhere."""
    plan = registry_pass["corpus_prep_pipeline"].plan
    assert "n_chars" in plan.split("DataFilters: [")[1][:120]  # gate at the scan
    assert "WindowGroupLimit" in plan  # dedup keep-first pre-pruned
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_maxsim_sharded_broadcasts_only_role_table(registry_pass):
    """The sharded MaxSim path must never broadcast or collect the vector
    set: the only broadcast is the tiny (block, shard, role) routing table,
    and per-block scoring runs as grouped Arrow kernels."""
    plan = registry_pass["maxsim_label_sharded"].plan
    assert "FlatMapGroupsInPandas" in plan  # block kernels, not a pair join
    for section in plan.split("BroadcastExchange")[1:]:
        # inspect what feeds each broadcast: its subtree up to the next blank
        head = section[:400]
        assert "embedding" not in head, "vector set reached a broadcast"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_point_in_time_join_is_hash_join_not_bnlj(registry_pass):
    """The SCD2 interval lookup must ride the custkey equi key (hash join
    with the interval predicate as residual) — a pure-interval plan would
    fall back to BroadcastNestedLoopJoin and explode at scale."""
    plan = registry_pass["point_in_time_status_join"].plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_ohlc_single_exchange_shared_by_window_and_agg(registry_pass):
    """OHLC: window partitioning == groupBy keys, so the aggregate must NOT
    re-shuffle — one exchange, one sort, no single-partition stage."""
    plan = _final(registry_pass["ohlc_bars_events"].plan)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan
    assert "partial_max" in plan  # map-side combine on the bar aggregate


def test_sweep_line_single_scan_partitioned_by_day(registry_pass):
    """Peak concurrency: exploded ±1 marks keep ONE events scan; the sweep
    window is partitioned by day — never a global single-partition sort."""
    plan = _final(registry_pass["concurrent_sessions_peak"].plan)
    assert plan.count("FileScan") == 1, "marks must not re-scan events"
    assert "SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_rolling_corr_one_shuffle_one_sort(registry_pass):
    """lag, row_number and the framed corr share one (user_id) partitioning
    and one (ts, event_id) sort."""
    plan = _final(registry_pass["rolling_corr_value"].plan)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_winsorize_window_feeds_agg_without_reshuffle(registry_pass):
    """Percentile edges come from whole-partition frames on the SAME key the
    final groupBy uses — one shuffle total."""
    plan = _final(registry_pass["winsorize_order_value"].plan)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_knn_broadcasts_the_pair_join(registry_pass):
    """The eval-set scored self-join broadcasts one side (BNLJ), never a
    sort-merge cartesian."""
    plan = _final(registry_pass["knn_label_accuracy"].plan)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunking_is_shuffle_free(registry_pass):
    """Sliding-window chunking is embarrassingly parallel: no Exchange at
    all before downstream consumers aggregate."""
    plan = _final(registry_pass["chunk_overlap_docs"].plan)
    assert "Exchange" not in plan


def test_zipf_global_sort_is_take_ordered_spine(registry_pass):
    """Only the 100-row rank spine is globally ordered (TakeOrdered), never
    the vocabulary."""
    plan = _final(registry_pass["zipf_tail_index"].plan)
    assert "TakeOrderedAndProject" in plan


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join is the runtime complement to operators/skew.py salting:
    a hot key that would pin one reducer gets its partition SPLIT at
    runtime (SortMergeJoin(skew=true) reading an 'AQEShuffleRead skewed').
    Thresholds are lowered to make the toy-scale hot key cross the same
    code path a 100 TB hot key crosses at defaults."""
    from pyspark.sql import functions as F

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8KB",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(300000).select(
            F.when(F.col("id") % 3 == 0, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("rv")
        )
        j = left.join(right, "k")
        assert j.count() == 300000  # every left row matches exactly once
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_attribution_single_user_shuffle_no_pair_join(registry_pass):
    plan = _final(registry_pass["attribution_last_touch"].plan)  # AQE prints the plan twice
    # carry-forward shape: no join anywhere (the naive plan is purchases x clicks)
    assert "Join" not in plan
    # exactly one width-changing exchange for the user window + final 5-key agg
    assert plan.count("Exchange hashpartitioning") <= 2


def test_substring_dup_windows_partition_by_doc(registry_pass):
    plan = registry_pass["substring_dup_spans"].plan
    # interval-merge windows must partition by doc_id, never a global sort
    assert "Window [" in plan or "RunningWindowFunction" in plan or "Window" in plan
    assert "SinglePartition" not in plan.split("TakeOrdered")[0]


def test_rrf_windows_run_after_limit(registry_pass):
    plan = registry_pass["hybrid_rrf_retrieval"].plan
    # the global row_number windows are fed by TakeOrdered limits (<=L rows),
    # so their single-partition exchange moves bounded data
    assert "TakeOrderedAndProject" in plan


def test_item_item_cf_broadcasts_popularity(registry_pass):
    plan = registry_pass["item_item_cf_topk"].plan
    # popularity dims join broadcast
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # basket-major shape (round 10): pairs come from a codegen explode over
    # each customer's sorted distinct item array — NO basket self-join, so
    # no sort-merge join may appear anywhere in the plan
    assert "SortMergeJoin" not in plan
    assert "Generate explode" in plan
    # the pair stream enters the count through the explicit pair-key
    # exchange with NO map-side partial aggregate in between (the r8
    # memory-shape fix): in the printed tree the exchange sits above the
    # explode, and the segment between them must not build a hash map
    assert "Exchange hashpartitioning(pk" in plan
    between = plan.split("Exchange hashpartitioning(pk", 1)[1].split(
        "Generate explode", 1
    )[0]
    assert "HashAggregate" not in between and "partial_count" not in between
    # top-k is TakeOrdered, never a global sort
    assert "TakeOrderedAndProject" in plan


def test_woe_binning_no_global_window_on_facts(registry_pass):
    plan = registry_pass["woe_iv_binning_orders"].plan
    # decile assignment must come from broadcast edges, not ntile on a
    # single-partition sort of the fact table ("percentile(" in the edges
    # aggregate must not trip the check, hence the word boundary)
    import re

    assert not re.search(r"\bntile\(", plan.lower())
    # the only single-partition segment is the 10-row bin-table window/agg
    pre = plan.split("Window")[0] if "Window" in plan else plan
    assert "SinglePartition" not in pre.split("BroadcastExchange")[0]


def test_ols_is_one_partial_aggregation_pass(registry_pass):
    plan = registry_pass["ols_normal_equations"].plan
    assert "partial_" in plan  # map-side combine of the raw moments
    assert "Join" not in plan  # closed-form solve: no join anywhere


def test_sparse_cosine_no_cartesian(registry_pass):
    plan = registry_pass["sparse_cosine_topk_docs"].plan
    # pair candidates come from the term-keyed postings join, never a
    # cross product of the document set
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    # scale guards must be IN the plan, not prose: the df-cap filter on the
    # postings (head terms never reach the pair join), and the per-doc
    # top-m prefix filter — which Spark executes as a partial
    # WindowGroupLimit pushed below the doc_id exchange.
    assert re.search(r"\(df#\d+ <= \d", plan), "df-cap filter missing"
    assert "WindowGroupLimit" in plan and "row_number(), 50" in plan


def test_bitmask_single_fact_exchange(registry_pass):
    plan = _final(registry_pass["activity_bitmask_users"].plan)
    # bit_or rides one user_id shuffle; the day-zero scalar broadcasts
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "partial_bit_or" in plan or "bit_or" in plan


def test_burstiness_window_and_moments_share_exchange(registry_pass):
    plan = _final(registry_pass["interevent_burstiness"].plan)
    # lag window and per-user moments both key on user_id: one fact
    # exchange (plus the final small-agg exchange at most)
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Join" not in plan


def test_jl_sign_matrix_broadcasts(registry_pass):
    plan = registry_pass["jl_projection_distortion"].plan
    # the 1024-row sign matrix must broadcast; the matmul is a groupBy,
    # not a per-row Python kernel
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_business_days_is_pure_arithmetic_scan(registry_pass):
    plan = registry_pass["business_days_to_ship"].plan
    # no Python, no window: one broadcast join + combinable histogram agg
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan


def test_rle_single_user_exchange(registry_pass):
    plan = _final(registry_pass["rle_event_runs"].plan)
    # break flag, run ids, and both roll-ups all partition by user_id
    assert plan.count("Exchange hashpartitioning") <= 1


def test_clv_single_customer_shuffle(registry_pass):
    plan = _final(registry_pass["expected_clv_curve"].plan)
    # one customer-key exchange feeds rate + lifetable; later relations
    # are calendar-bounded (the single-partition windows sit on those)
    assert plan.count("Exchange hashpartitioning(o_custkey") <= 1


#: Plan-tree nodes that pass their child's rows through to a join.
_STAGE_NODES = (
    "BroadcastQueryStage",
    "ShuffleQueryStage",
    "BroadcastExchange",
    "Exchange",
    "AQEShuffleRead",
    "ReusedExchange",
)


def _join_inputs(tree: str, join: str) -> list[str]:
    """The operator feeding each side of every ``join`` node of a plan tree,
    looked up through query stages and (reused) exchanges."""
    lines = tree.split("\n")
    col = [len(line) - len(line.lstrip(" :+-")) for line in lines]

    def children(i: int) -> list[int]:
        end = next((j for j in range(i + 1, len(lines)) if col[j] <= col[i]), len(lines))
        return [j for j in range(i + 1, end) if col[j] == col[i] + 3]

    def feed(i: int) -> str:
        node = re.sub(r"^\*\(\d+\) ", "", lines[i][col[i] :])
        if node.startswith("ReusedExchange"):
            pid = re.search(r"\[plan_id=\d+\]", node).group()
            return feed(next(j for j, s in enumerate(lines) if pid in s and s is not lines[i]))
        return feed(children(i)[0]) if node.startswith(_STAGE_NODES) else node

    return [feed(c) for i, line in enumerate(lines) if join in line for c in children(i)]


def test_divergence_grid_is_vocab_joined_not_cartesian_docs(registry_pass):
    plan = registry_pass["source_divergence_matrix"].plan
    # the only cross product is sources x vocab (bounded dims); doc bodies
    # never pair up: every nested-loop cross join reads two aggregates
    assert "CartesianProduct" not in plan
    inputs = _join_inputs(_final(plan), "BroadcastNestedLoopJoin")
    assert inputs and all(node.startswith("HashAggregate") for node in inputs), inputs
    assert "BroadcastHashJoin" in plan


def test_seasonality_two_aggregations_no_window(registry_pass):
    plan = registry_pass["monthly_seasonality_index"].plan
    assert "Window" not in plan
    assert "partial_sum" in plan


def test_perplexity_model_broadcasts(registry_pass):
    plan = _final(registry_pass["markov_perplexity_users"].plan)
    # the 5x5 model joins broadcast; scoring adds no extra fact shuffle
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning(user_id") <= 2


def test_new_vs_returning_reuses_key_partitioning(registry_pass):
    plan = _final(registry_pass["new_vs_returning_revenue"].plan)
    # first-order groupBy and the classification join share o_custkey
    assert plan.count("Exchange hashpartitioning(o_custkey") <= 2


def test_ntile_percentile_no_single_partition_window(registry_pass):
    """ntile/percent_rank/cume_dist ride the distributed prefix-sum rank
    (range partition + per-partition window + broadcast offsets) — the
    round-1 single-partition global window must be gone for good."""
    plan = registry_pass["ntile_percentile_orders"].plan
    assert "SinglePartition" not in plan
    assert not re.search(r"\bntile\(", plan.lower())
    assert "percent_rank" not in plan.lower() and "cume_dist" not in plan.lower()


def test_contrastive_ring_no_single_partition_window(registry_pass):
    """The hash-ring rank rides the distributed prefix-sum path and the
    ring size is an inlined driver scalar — no global window, and the
    successor tap plans as an equi join, not a nested loop."""
    plan = registry_pass["contrastive_negatives_ring"].plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    # the K successor taps are a hash equi-join on the computed modular
    # rank (the only nested-loop is the broadcast of the K+4 slot rows)
    assert "BroadcastHashJoin" in plan and "%" in plan
