"""Physical-plan regression tests (SURVEY §4, the 100 TB posture):
pushdown reached the scan, dimensions broadcast, top-k avoided a global
sort, and no operator silently degraded to a cartesian product. These
lock in the plan shapes .explain() showed during development — a
correct-but-shuffling regression fails here before it fails at scale.
"""

from __future__ import annotations

import pytest

from mkpipe_extractor_clickhouse_spark.registry import all_specs

SPECS = all_specs()


def plan_of(name: str, spark, sf_dir: str) -> str:
    df = SPECS[name].builder(spark, sf_dir)
    jvm = spark._jvm
    qe = df._jdf.queryExecution()
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of("q1_pricing_summary", spark, sf_dir)
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]
    # column pruning: join keys not referenced by Q1 must not be read
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_partkey" not in read_schema
    assert "l_orderkey" not in read_schema
    # exactly two exchanges in the tree (partial→final agg + final sort)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 2


def test_star_join_all_broadcast(spark, sf_dir):
    plan = plan_of("j11_multiway_star", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dim_join_broadcast(spark, sf_dir):
    plan = plan_of("j2_broadcast_dims", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_no_global_sort(spark, sf_dir):
    plan = plan_of("o3_topk", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_s2_filter_pushdown(spark, sf_dir):
    plan = plan_of("s2_query_pushdown", spark, sf_dir)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "o_totalprice" in pushed and "o_orderstatus" in pushed


def test_asof_join_no_pair_blowup(spark, sf_dir):
    """The as-of join must be window-based: no join node at all in the
    physical plan, just exchanges + window."""
    plan = plan_of("j10_asof_join", spark, sf_dir)
    assert "Window" in plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"):
        assert bad not in plan


def test_similarity_broadcast_only(spark, sf_dir):
    """Top-k cosine must never shuffle the corpus: whichever path the
    warm/cold dispatch picks (r10 — packed kernel when the layout is
    warm, declarative fold cold), the plan ends in one
    TakeOrderedAndProject over ≤ k rows per task and contains no
    sort-merge join. The COLD fold path must additionally broadcast
    the 1-row query vector."""
    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.operators.llm_similarity import (
        TOP_K,
        cosine_to_query,
    )

    plan = plan_of("l3_topk_cosine", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    # warm → packed mapInArrow shards; cold → broadcast fold. Either
    # way the corpus side never exchanges before the local cut.
    assert "MapInArrow" in plan or "BroadcastExchange" in plan
    fold = (
        cosine_to_query(spark, sf_dir)
        .select("vec_id", F.round("cosine", 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )
    fplan = fold._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastExchange" in fplan
    assert "TakeOrderedAndProject" in fplan
    assert "SortMergeJoin" not in fplan


def test_embedding_neardup_bucketed(spark, sf_dir):
    """l2d must generate candidates through centroid-bucket equi-joins:
    no nested-loop/cartesian pair blowup anywhere in the plan."""
    plan = plan_of("l2d_embedding_neardup", spark, sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_watermark_filter_pushdown(spark, sf_dir):
    plan = plan_of("p3_watermark_datetime", spark, sf_dir)
    assert "PushedFilters" in plan
    # The ts column is reconstructed from raw nanos, so the pushed
    # filter lands on the raw long column via the catalog's conversion —
    # verify *some* predicate pushed and no full-scan-then-filter-only plan.
    assert "Filter" in plan


def test_q5_one_fact_shuffle_dims_broadcast(spark, sf_dir):
    """Q5's six-table star: every dimension rides a broadcast; the only
    SortMergeJoin (if any) is the lineitem⋈orders fact join."""
    plan = plan_of("q5_local_supplier_volume", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_q6_full_pushdown_three_column_scan(spark, sf_dir):
    """Q6 must push the date/discount/quantity predicates into the scan
    and read only the three referenced columns."""
    plan = plan_of("q6_forecast_revenue", spark, sf_dir)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    for absent in ("l_orderkey", "l_partkey", "l_returnflag", "l_tax"):
        assert absent not in read_schema


def test_q18_no_locked_join_strategy(spark, sf_dir):
    """Q18 keeps AQE free: the HAVING-filtered key set must not force a
    nested-loop or cartesian plan."""
    plan = plan_of("q18_large_volume_customer", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_curation_pipeline_no_blowup(spark, sf_dir):
    """The composed curation pipeline must keep every stage in its
    operator's declared shape: semi/anti joins on doc_id, the PPJoin
    candidate join on prefix tokens — never a cartesian/nested-loop."""
    plan = plan_of("l22_curation_pipeline", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q4_exists_compiles_to_semi_join(spark, sf_dir):
    plan = plan_of("q4_order_priority_check", spark, sf_dir)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # the quarter filter reaches the orders scan
    assert "PushedFilters" in plan


def test_q16_not_in_compiles_to_broadcast_anti(spark, sf_dir):
    plan = plan_of("q16_supplier_part_counts", spark, sf_dir)
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q22_threshold_broadcast_no_nested_loop(spark, sf_dir):
    plan = plan_of("q22_dormant_accounts", spark, sf_dir)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # The single-row threshold joins as one BroadcastNestedLoopJoin with
    # a 1-row build side — O(n), the correct scalar-subquery plan. Lock
    # that it stays the ONLY nested-loop in the plan (tree section lists
    # each node once as "<name> <jointype> <buildside> (<id>)").
    assert plan.count("BroadcastNestedLoopJoin Inner BuildRight") == 1


def test_z2_salted_join_distributes_on_salt(spark, sf_dir):
    """With broadcast off (the regime salting exists for), the join must
    be a shuffled join keyed on (l_orderkey, _salt) — the hot-key rows
    spread across n_salts reducers instead of one."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of("z2_salted_join", spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    assert "_salt" in plan


def test_q19_disjunct_splits_quantity_pushdown(spark, sf_dir):
    # Catalyst must extract the single-sided implications of the OR:
    # l_quantity's 1..30 envelope pushes to the lineitem scan and the
    # part side broadcasts — no disjunct may force a nested loop.
    plan = plan_of("q19_discounted_revenue", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_quantity" in l for l in pushed)


def test_q2_correlated_min_stays_windowed(spark, sf_dir):
    # The decorrelated form must not re-scan lineitem for the scalar
    # MIN: exactly one parquet scan of lineitem, supplier/nation/region
    # broadcast, window partitioned by part (no global exchange to 1).
    plan = plan_of("q2_min_cost_supplier", spark, sf_dir)
    assert plan.count("lineitem.parquet") == 1
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan.split("Window")[0].rsplit("Exchange", 1)[-1]


def test_q21_double_exists_one_agg_no_blowup(spark, sf_dir):
    # The EXISTS ∧ NOT-EXISTS rewrite must stay an aggregate-join: no
    # nested-loop/cartesian pair expansion over lineitem×lineitem.
    plan = plan_of("q21_waiting_suppliers", spark, sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q15_scalar_max_broadcast(spark, sf_dir):
    # The = MAX(total_revenue) subquery must arrive as a broadcast onto
    # the checkpointed aggregate, never a single-partition window.
    plan = plan_of("q15_top_supplier", spark, sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_q17_avg_computed_on_brand_slice(spark, sf_dir):
    # The per-part AVG must aggregate the semi-joined brand slice, not
    # all of lineitem: both lineitem branches carry the pushed-down
    # semi-join, visible as exactly two scans with no third for the CTE.
    plan = plan_of("q17_small_quantity_revenue", spark, sf_dir)
    assert plan.count("lineitem.parquet") == 2
    assert "CartesianProduct" not in plan


def test_l24_eval_grams_broadcast_corpus_never_shuffled_on_gram(spark, sf_dir):
    # Decontamination must broadcast the eval gram set; the training
    # corpus must not hash-exchange on the gram column.
    plan = plan_of("l24_decontaminate", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "gram" not in line


def test_l25_single_source_window_no_extra_exchange(spark, sf_dir):
    # Packing is one prefix-sum window per source: exactly one exchange
    # (hashpartitioning on source), no global sort.
    plan = plan_of("l25_pack_sequences", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "Window" in plan


def test_l27_mixture_pure_map_no_exchange(spark, sf_dir):
    # Hash-gated sampling is a scan + filter: no exchange at all.
    plan = plan_of("l27_mixture_sample", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree


def test_ch_summap_two_level_agg_no_join(spark, sf_dir):
    # sumMap is two hash aggregations (per-(user,key) partials, then
    # per-user reassembly) — never a join, never a per-row map agg.
    plan = plan_of("ch_summap", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 2
    for bad in ("Join", "CartesianProduct"):
        assert bad not in plan


def test_l28_no_pair_blowup(spark, sf_dir):
    # The per-doc bigram frequency table joins back to row metrics on
    # doc_id (equi, co-partitioned) — no nested-loop shapes.
    plan = plan_of("l28_gopher_repetition", spark, sf_dir)
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan


def test_l29_linear_no_pairwise(spark, sf_dir):
    # Duplicated-span detection must stay linear: gram-keyed aggregation
    # + semi-join + per-doc window — no pairwise doc comparison shapes.
    plan = plan_of("l29_dup_span_detect", spark, sf_dir)
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan
    assert "Window" in plan


def test_semdedup_equi_join_on_cluster(spark, sf_dir):
    """l32's pair generation must be an equi-join on the cluster id —
    never a nested-loop/cartesian all-pairs plan."""
    plan = plan_of("l32_semdedup", spark, sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_global_shuffle_no_global_sort(spark, sf_dir):
    """l33 orders within hash-partitioned shards only: one hash
    exchange for the window, no rangepartitioning (global sort)."""
    plan = plan_of("l33_global_shuffle", spark, sf_dir)
    assert "rangepartitioning" not in plan.lower()
    assert plan.count("Exchange") <= 2  # window hash exchange (+AQE read)


def test_delta_sum_single_key_shuffle(spark, sf_dir):
    """ch_delta_sum: per-key ordered fold — hash exchange on user_id,
    no global sort."""
    plan = plan_of("ch_delta_sum", spark, sf_dir)
    assert "rangepartitioning" not in plan.lower()


def test_max_intersections_sweep_partitioned_by_day(spark, sf_dir):
    """ch_max_intersections: the sweep window partitions by day —
    no single-partition global-order window (which Spark plans as an
    empty partitionBy, i.e. Exchange SinglePartition)."""
    plan = plan_of("ch_max_intersections", spark, sf_dir)
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_dict_get_no_join_node(spark, sf_dir):
    """ch_dict_get resolves the dictionary as a map-literal expression:
    the plan must contain no join operator at all."""
    plan = plan_of("ch_dict_get", spark, sf_dir)
    for bad in ("Join", "CartesianProduct"):
        assert bad not in plan


def test_limit_by_single_key_exchange(spark, sf_dir):
    """ch_limit_by: row_number over the BY key — exactly one hash
    exchange, no global sort, no SinglePartition window."""
    plan = plan_of("ch_limit_by", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 1
    assert "rangepartitioning" not in plan.lower()
    assert "SinglePartition" not in plan


def test_sample_key_filter_before_exchange(spark, sf_dir):
    """ch_sample_key: the hash-sample filter runs map-side in the scan
    stage — only sampled rows reach the single aggregate exchange."""
    plan = plan_of("ch_sample_key", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 1
    assert "Join" not in plan
    # Filter sits below the Exchange in the tree (higher node number
    # = deeper): the sample never shuffles unsampled rows.
    filter_line = min(
        i for i, l in enumerate(tree.splitlines()) if "Filter" in l
    )
    exchange_line = min(
        i for i, l in enumerate(tree.splitlines()) if "Exchange" in l
    )
    assert filter_line > exchange_line


def test_topk_weighted_two_stage(spark, sf_dir):
    """ch_topk_weighted: partial-agg → (type,user) exchange → window
    on type — two exchanges, never a sort of the raw events."""
    plan = plan_of("ch_topk_weighted", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 2
    assert "rangepartitioning" not in plan.lower()


def test_moving_sum_array_single_shuffle(spark, sf_dir):
    """ch_moving_sum_array: the moving-sum window and the per-user
    collect share the user_id hash partitioning — ONE exchange total."""
    plan = plan_of("ch_moving_sum_array", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 1


def test_with_fill_spine_not_cartesian(spark, sf_dir):
    """ch_with_fill_interpolate: the day spine joins the daily series
    by equi-key; the only permitted single-partition stage is the
    spine-sized interpolation window."""
    plan = plan_of("ch_with_fill_interpolate", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_unigram_no_pairwise(spark, sf_dir):
    """l35: token→vocabulary equi-join plus re-aggregation — the only
    nested-loop shape allowed is the 1-row corpus-total broadcast."""
    plan = plan_of("l35_unigram_logprob", spark, sf_dir)
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            break
    else:
        line = ""
    # the BNLJ is the scalar 1-row total; a real pairwise BNLJ would
    # join two fact-sized relations — locked by requiring the join
    # keys' equi-join (SortMerge or BroadcastHash) to exist.
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_source_overlap_no_self_join(spark, sf_dir):
    """l37: pair generation is an array expression over each shingle's
    capped source set — the plan has NO join on the shingle column
    (only the two tiny broadcast size lookups), no nested loops."""
    plan = plan_of("l37_source_overlap", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    # every join in the plan must be a broadcast of the size lookup
    joins = [l for l in plan.splitlines() if "Join" in l and "+-" in l]
    assert all("BroadcastHashJoin" in l for l in joins)


def test_moving_median_partitioned_window(spark, sf_dir):
    """w9: the median frame is a partitioned bounded-rows window over
    the pre-aggregated daily series — no SinglePartition stage, no
    join, no global sort."""
    plan = plan_of("w9_moving_median", spark, sf_dir)
    assert "SinglePartition" not in plan
    assert "Join" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_returning_users_no_self_join(spark, sf_dir):
    """ch_returning_users: the day-over-day intersection is a per-user
    lag, never a day×day self-join or bitmap materialization."""
    plan = plan_of("ch_returning_users", spark, sf_dir)
    assert "Join" not in plan
    assert "Window" in plan


def test_incremental_neardup_no_nested_loop(spark, sf_dir):
    """x7: candidate generation is an equi-join of prefix relations on
    token — no cartesian/nested-loop pairing shapes anywhere. x7 is
    ppjoin_pairs with a probe, so at the fixture's 31-token vocabulary
    it runs the mask tier (the map-side bit_count) and ranks no prefix
    through a window."""
    plan = plan_of("x7_incremental_neardup", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    df = SPECS["x7_incremental_neardup"].builder(spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "bit_count" in optimized
    assert "Window" not in optimized


def test_lateral_topn_decorrelated(spark, sf_dir):
    """sq5: the correlated LATERAL LIMIT subquery must decorrelate to a
    window-group-limit plan — never a per-outer-row nested loop."""
    plan = plan_of("sq5_lateral_topn", spark, sf_dir)
    assert "WindowGroupLimit" in plan or "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_collapsing_final_single_exchange(spark, sf_dir):
    """ch_collapsing_final: changelog netting is one partial→final hash
    aggregation — exactly one exchange, no join, no window."""
    plan = plan_of("ch_collapsing_final", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "Join" not in tree
    assert "Window" not in tree


def test_scd2_single_shuffle_no_join(spark, sf_dir):
    """x10_scd2_dimension: the changelog→dimension build is one window
    over the key partition — a single exchange, never a self-join."""
    plan = plan_of("x10_scd2_dimension", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "Window" in tree
    assert "Join" not in tree


def test_pii_redact_map_only(spark, sf_dir):
    """l41_pii_redact: redaction is a map-only stage — no exchange at
    all, no UDF (pure JVM regexp expressions fused into the scan)."""
    plan = plan_of("l41_pii_redact", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree
    assert "BatchEvalPython" not in tree
    assert "ArrowEvalPython" not in tree


def test_uniq_merge_two_level_agg(spark, sf_dir):
    """ch_uniq_merge_rollup: daily sketch states then a state-union
    rollup — two aggregation levels, no fact-table rescan (single scan
    node) and no join."""
    plan = plan_of("ch_uniq_merge_rollup", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "Join" not in tree


def _lineitem_branch(name, spark, sf_dir):
    """(plan lines, index of the lineitem scan, index of the nearest
    join above it).  Simple mode prints root→leaves with the streamed
    side first, so the lines between the nearest join and the lineitem
    scan are exactly the operators applied to the fact branch."""
    df = SPECS[name].builder(spark, sf_dir)
    jvm = spark._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    lines = plan.splitlines()
    li_scan = next(
        i for i, l in enumerate(lines) if "FileScan" in l and "lineitem" in l
    )
    join_above = max(
        i for i, l in enumerate(lines[:li_scan]) if "Join" in l
    )
    return lines, li_scan, join_above


def test_semijoin_reduced_fact_never_shuffles(spark, sf_dir):
    """j11 round-5 rewrite lock (scale-up bench: 4.15→1.28 s at 60 M
    rows): the dimension chain reduces first (region∩date cuts orders
    to ~2%) and the reduced order-key set BROADCASTS into the lineitem
    scan — the fact table reaches a BroadcastHashJoin with no Exchange
    and no Sort anywhere on its branch."""
    lines, li_scan, join_above = _lineitem_branch(
        "j11_multiway_star", spark, sf_dir
    )
    assert "BroadcastHashJoin" in lines[join_above], (
        f"fact join is not a broadcast join: {lines[join_above].strip()}"
    )
    branch = lines[join_above + 1 : li_scan]
    assert not any("Exchange" in l or "Sort" in l for l in branch), (
        "the lineitem branch shuffles or sorts before its join"
    )


def test_q3_fact_join_shuffled_hash_no_sort(spark, sf_dir):
    """q3 round-5 rewrite lock (broadcast → SHJ, 2.31→1.56 s at 60 M
    rows interleaved min-of-5): the qualifying-orders set is ~1/5 of
    all orders — too large to broadcast-build cheaply — so the fact
    join is a ShuffledHashJoin with no Sort on either side, and the
    fact branch carries ONLY (l_orderkey, quantized addend) into its
    exchange."""
    lines, li_scan, join_above = _lineitem_branch(
        "q3_shipping_priority", spark, sf_dir
    )
    assert "ShuffledHashJoin" in lines[join_above], (
        f"fact join is not a shuffled hash join: {lines[join_above].strip()}"
    )
    branch = lines[join_above + 1 : li_scan]
    assert not any("Sort" in l for l in branch), (
        "SHJ must not sort the fact side"
    )
    # the quantized-addend Project sits BELOW the exchange, so the
    # shuffle moves only (l_orderkey, q) — not raw price/discount
    exch = [i for i, l in enumerate(branch) if "Exchange" in l]
    proj = [i for i, l in enumerate(branch) if "Project" in l and " AS q#" in l]
    assert len(exch) == 1, f"fact branch must shuffle exactly once: {branch}"
    assert proj and proj[0] > exch[0], (
        "the addend projection must be computed before (below) the exchange"
    )


def test_q10_fact_join_shuffled_hash_aggregates_before_names(spark, sf_dir):
    """q10 round-5 rewrite lock (3.02→2.20 s at 60 M rows): the one
    unavoidable fact-fact exchange is a ShuffledHashJoin (no sort on
    either 15 M-row side), and revenue aggregates per o_custkey BELOW
    the broadcast name joins so the big aggregation carries no
    strings."""
    lines, li_scan, join_above = _lineitem_branch(
        "q10_returned_items", spark, sf_dir
    )
    assert "ShuffledHashJoin" in lines[join_above]
    assert not any("Sort" in l for l in lines[join_above + 1 : li_scan])
    # the per-custkey aggregate sits between the broadcast (name) joins
    # and the shuffled fact join: broadcast join line < agg line < SHJ
    bcast = min(
        i for i, l in enumerate(lines) if "BroadcastHashJoin" in l
    )
    agg = [
        i
        for i, l in enumerate(lines)
        if "HashAggregate" in l and "o_custkey" in l
    ]
    assert agg and bcast < agg[0] < join_above, (
        "q10: per-custkey aggregate is not between the name broadcasts"
        " and the fact join"
    )


def test_bucketed_join_has_no_exchange_or_sort(spark, sf_dir):
    """x38 lock: both sides bucketed by the join key → the
    SortMergeJoin compiles with ZERO Exchange below it — bucket i zips
    with bucket i straight off storage ("Bucketed: true", all buckets
    selected). A per-bucket in-task Sort remains: Spark's reader does
    not consume sortBy metadata (multiple files per bucket can't
    guarantee order — SPARK-19256), and that sort is memory-local over
    one bucket's rows, not a shuffle. The only exchanges in the plan
    belong to the 5-group final aggregate."""
    # disable auto-broadcast: at test SF the orders side is tiny and
    # would broadcast, hiding the co-located shape this lock pins (at
    # scale both sides are fact-sized — the bucketed SMJ is the plan)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = SPECS["x38_bucketed_colocated_join"].builder(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    lines = plan.splitlines()
    smj = next(i for i, l in enumerate(lines) if "SortMergeJoin" in l)
    below = lines[smj:]
    assert not any("Exchange" in l for l in below), (
        "bucketed join still shuffles"
    )
    assert plan.count("Bucketed: true") == 2
    assert "SelectedBucketsCount: 16 out of 16" in plan


def test_rrf_hybrid_bounded_before_fusion(spark, sf_dir):
    """l97: both retriever sides must cut to top-N via
    TakeOrderedAndProject BEFORE any single-partition window ranks
    them — the fusion stage is constant-size at any corpus scale —
    and the BM25 side's dimension joins broadcast."""
    plan = plan_of("l97_rrf_hybrid", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # SortMergeJoin appears ONLY as the full-outer fusion of the two
    # ≤N-row rank lists (full outer cannot broadcast) — both inputs
    # sit above a TakeOrderedAndProject cut, so the exchange is
    # constant-size; the corpus-sized joins all broadcast.
    assert plan.count("SortMergeJoin") <= 2


def test_inbatch_negatives_window_bounded(spark, sf_dir):
    """l99: the per-batch negative pick is a rank-limited window
    (WindowGroupLimit pushes the k-cut below the exchange) and the
    anchor join broadcasts the tiny negatives relation — no
    anchor×corpus product anywhere."""
    plan = plan_of("l99_inbatch_negatives", spark, sf_dir)
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_modularity_label_broadcast(spark, sf_dir):
    """g9: endpoint-label attachment must broadcast the label table
    into the edge relation (never shuffle the edges twice), and no
    join degrades to a product."""
    plan = plan_of("g9_modularity", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_resample_filter_pushed_single_agg(spark, sf_dir):
    """ch_resample_combinator: the [start,end) range filter evaluates
    scan-side (no post-shuffle Filter over the aggregate) and the
    bucketed aggregate is ONE exchange on (event_type, bucket)."""
    plan = plan_of("ch_resample_combinator", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 1
    assert "CartesianProduct" not in plan


def test_padding_waste_shared_window_exchange(spark, sf_dir):
    """l100: both batching windows partition on source, so the two
    row_number sorts share ONE source-hash exchange; the per-source
    joins at the end are over the ~25-row source relation and must
    broadcast, never sort-merge the corpus."""
    plan = plan_of("l100_padding_waste", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    # one exchange for the shared window partitioning + at most the
    # tiny per-source aggregate exchanges; the corpus shuffles once
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in tree
    assert "CartesianProduct" not in plan


def test_rater_agreement_single_row_agg(spark, sf_dir):
    """dq11: a global 2x2 confusion count is a partial-agg plan — the
    only exchange is the single-row final aggregate."""
    plan = plan_of("dq11_rater_agreement", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 1


def test_variant_extraction_no_udf(spark, sf_dir):
    """f24: variant parse/extract stays JVM-side — no Python eval node
    in the plan; one hash aggregate on event_type."""
    plan = plan_of("f24_variant_json", spark, sf_dir)
    assert "PythonUDF" not in plan
    assert "BatchEvalPython" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 1


def test_pipe_syntax_same_plan_as_nested(spark, sf_dir):
    """sq8: pipe operators are authoring sugar — the plan must show
    the pushed event_type filter and a single aggregate exchange,
    exactly like the nested ANSI form."""
    plan = plan_of("sq8_pipe_syntax", spark, sf_dir)
    assert "PushedFilters" in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 1


def test_lsh_bucket_join_factored_by_signature(spark, sf_dir):
    """l2b mega-bucket guard: the band-bucket self-join must run over
    UNIQUE signatures (a HashAggregate/distinct sits below both join
    inputs), so duplicate-heavy corpora collapse before the quadratic
    stage; the member expansion joins stay plain hash joins with no
    cartesian product."""
    plan = plan_of("l2b_minhash_lsh", spark, sf_dir)
    assert "CartesianProduct" not in plan
    # the distinct over signatures appears below the band explode —
    # at least one aggregate keyed on sig precedes the self-join
    tree = plan.split("\n\n")[0]
    assert "HashAggregate" in tree


def test_pagerank_broadcasts_contribs_no_product(spark, sf_dir):
    """g10: every round broadcasts the per-node contrib relation into
    the edge list (one row per node — always the small side) and no
    join degrades to a product; the final rank is one window."""
    plan = plan_of("g10_pagerank", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_random_walks_equijoin_per_step(spark, sf_dir):
    """g11: each walk step must be an equi-join keyed on the current
    node (hash join with the rank-choice as residual condition) —
    never a per-row sampler or a nested-loop product."""
    plan = plan_of("g11_random_walks", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bpe_fertility_dictionary_broadcast(spark, sf_dir):
    """l102: applying the trained vocab is a DICTIONARY join — the
    word->token-count relation must broadcast into the corpus word
    counts, never sort-merge or product them."""
    plan = plan_of("l102_bpe_fertility", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lsh_param_tuning_no_allpairs(spark, sf_dir):
    """l103: the empirical histogram comes from LSH CANDIDATE pairs
    (band equi-join) — no all-pairs product may appear anywhere in the
    tuning pipeline."""
    plan = plan_of("l103_lsh_param_tuning", spark, sf_dir)
    assert "CartesianProduct" not in plan


def test_contamination_report_broadcasts_eval_grams(spark, sf_dir):
    """l104: the eval-source gram dictionary broadcasts; the corpus
    gram relation is probed map-side, never shuffled on gram."""
    plan = plan_of("l104_contamination_report", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_quality_classifier_joinless(spark, sf_dir):
    """l105: the model lives IN the expression (hashing trick + inline
    weight formula) — the scoring pipeline must contain no join at
    all, just the two aggregation exchanges plus the output sort."""
    plan = plan_of("l105_quality_classifier", spark, sf_dir)
    for op in ("Join", "CartesianProduct", "BroadcastNestedLoop"):
        assert op not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 3


def test_softdedup_single_fingerprint_shuffle_key(spark, sf_dir):
    """l106: multiplicity attaches via an equi join on the 16-byte
    fingerprint — no product, no text-keyed shuffle."""
    plan = plan_of("l106_softdedup_weights", spark, sf_dir)
    assert "CartesianProduct" not in plan


def test_lateral_join_decorrelates(spark, sf_dir):
    """sq10: the LATERAL per-customer top-2 must decorrelate to a
    rank-limited window (WindowGroupLimit below the exchange) joined
    back hash-wise — never a per-outer-row re-execution or a product."""
    plan = plan_of("sq10_lateral_join", spark, sf_dir)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_power_iteration_no_corpus_shuffle(spark, sf_dir):
    """l107: the returned relation is a driver-built d-row literal —
    the corpus work happened in bounded per-round jobs (map-local dot
    products + d-group aggregates), so the final plan must be a plain
    local scan with no join or corpus exchange."""
    plan = plan_of("l107_power_iteration", spark, sf_dir)
    for op in ("Join", "CartesianProduct"):
        assert op not in plan


def test_ann_recall_curve_single_scored_relation(spark, sf_dir):
    """l108: the sweep points cut a shared scored relation — no
    product joins; the per-point joins are 1-row broadcasts."""
    plan = plan_of("l108_ann_recall_curve", spark, sf_dir)
    assert "CartesianProduct" not in plan


def test_doremi_single_corpus_aggregation(spark, sf_dir):
    """l109: the corpus-sized loss aggregation sits behind a
    materialization boundary, so every unrolled update round reads the
    tens-of-rows domain relation — the parquet scan executes once,
    regardless of round count. r10: the boundary is an eager
    localCheckpoint (ephemeral_cache — freed by GC, unlike the
    CacheManager-pinned .cache() it replaced), which truncates the
    lineage entirely: the contract marker is 'Scan ExistingRDD' with
    ZERO parquet scans left in the plan."""
    plan = plan_of("l109_doremi_mixture", spark, sf_dir)
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan


def test_transitivity_audit_capped_fanout(spark, sf_dir):
    """l111: the wedge join must read the degree-CAPPED adjacency
    (WindowGroupLimit pushes the per-center cut below the exchange) —
    the uncapped wedge set is quadratic in hub degree and OOMs on the
    sf0.1 near-clique; no product joins anywhere."""
    plan = plan_of("l111_dedup_transitivity_audit", spark, sf_dir)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_headline_builders_do_not_pin(spark, sf_dir, monkeypatch):
    """bench.py's headline steady pass times re-execution of a built
    DataFrame (the round-over-round comparable protocol). That is only
    honest while no headline builder materializes work at BUILD time:
    an eager localCheckpoint (ephemeral_cache) would run its subtree
    during construction and the steady timing would silently exclude
    it. The llm_suite section rebuilds inside the timed region instead
    (r12 measurement fix) precisely because l2/l2b pin; the headline
    set must stay pin-free or bench.py's headline pass must move to
    the same one-shot protocol."""
    from mkpipe_extractor_clickhouse_spark.registry import bench_specs
    from mkpipe_extractor_clickhouse_spark.operators import _cache

    calls: list[str] = []
    real = _cache.ephemeral_cache.__wrapped__ if hasattr(
        _cache.ephemeral_cache, "__wrapped__") else _cache.ephemeral_cache

    def spy(df):
        calls.append("pin")
        return real(df)

    # every operator module imported the symbol by name, so patch it
    # everywhere it was re-exported
    import mkpipe_extractor_clickhouse_spark.operators as ops_pkg
    import pkgutil, importlib, sys as _sys
    patched = []
    for mod_name in list(_sys.modules):
        if mod_name.startswith("mkpipe_extractor_clickhouse_spark"):
            mod = _sys.modules[mod_name]
            if getattr(mod, "ephemeral_cache", None) is real:
                monkeypatch.setattr(mod, "ephemeral_cache", spy)
                patched.append(mod_name)
    assert patched, "ephemeral_cache not found to patch"

    for name, spec in bench_specs().items():
        calls.clear()
        spec.builder(spark, sf_dir)
        assert not calls, (
            f"headline builder {name} pins at build time - move "
            "bench.py's headline pass to the one-shot protocol"
        )


def test_operators_pin_only_through_ephemeral_cache():
    """One pin primitive: no operator module calls ``localCheckpoint(``
    itself — every pin goes through ``_cache.ephemeral_cache``, which
    checkpoints eagerly (the lazy form emits "non-existent accumulator"
    ERROR noise) and honors the SPARK_GRAFT_NO_PIN A/B arm. A source
    scan of call sites, so prose that names the method does not count."""
    import ast
    from pathlib import Path

    import mkpipe_extractor_clickhouse_spark.operators as ops_pkg

    offenders = []
    for path in sorted(Path(ops_pkg.__file__).parent.glob("*.py")):
        if path.name == "_cache.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"
            ):
                offenders.append(f"{path.name}:{node.lineno}")
    assert not offenders, f"raw localCheckpoint calls: {offenders}"


def test_operators_build_word_ngrams_in_one_place():
    """One word n-gram relation: no operator module but ``_ngrams.py``
    builds a word 3-gram by hand, i.e. pairs an ``element_at(…, i + 2)``
    with a ``sequence(1, size(…) - 2)`` in one top-level definition,
    as Column calls or inside a Spark SQL string. Strings passed as a
    query's ``oracle=`` are DuckDB's side and do not count."""
    import ast
    import re
    from pathlib import Path

    import mkpipe_extractor_clickhouse_spark.operators as ops_pkg

    sql_elem = re.compile(r"element_at\(\s*[^,()]+,\s*\w+\s*\+\s*2\s*\)")
    sql_seq = re.compile(r"sequence\(\s*1\s*,\s*size\([^()]*\)\s*-\s*2\s*\)")

    def is_int(node, v):
        return isinstance(node, ast.Constant) and node.value == v

    def call_name(node):
        f = node.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)

    def hits(tree, oracle_ids):
        elem, seq = [], []
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and len(node.args) >= 2:
                name, arg = call_name(node), node.args[1]
                if (
                    name == "element_at"
                    and isinstance(arg, ast.BinOp)
                    and isinstance(arg.op, ast.Add)
                    and is_int(arg.right, 2)
                ):
                    elem.append(node.lineno)
                if (
                    name == "sequence"
                    and isinstance(arg, ast.BinOp)
                    and isinstance(arg.op, ast.Sub)
                    and isinstance(arg.left, ast.Call)
                    and call_name(arg.left) == "size"
                    and is_int(arg.right, 2)
                ):
                    seq.append(node.lineno)
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in oracle_ids
            ):
                if sql_elem.search(node.value):
                    elem.append(node.lineno)
                if sql_seq.search(node.value):
                    seq.append(node.lineno)
        return elem, seq

    offenders = []
    for path in sorted(Path(ops_pkg.__file__).parent.glob("*.py")):
        if path.name == "_ngrams.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        oracle_ids = {
            id(c)
            for node in ast.walk(tree)
            if isinstance(node, ast.keyword) and node.arg == "oracle"
            for c in ast.walk(node.value)
        }
        for top in tree.body:
            elem, seq = hits(top, oracle_ids)
            if elem and seq:
                offenders.append(f"{path.name}:{min(elem + seq)}")
    assert not offenders, (
        f"hand-built word n-grams (use _ngrams.word_ngrams): {offenders}"
    )


# (module, enclosing function) → why its monotonically_increasing_id
# may stay unpinned.
_UNPINNED_MONO_ID_OK = {
    ("skew.py", "salted_agg"): (
        "the salt only shards a partial aggregate: any value per row "
        "gives the same totals"
    ),
    ("skew.py", "salted_join"): (
        "the dim side is replicated across every salt, so a fact row "
        "joins the same dim rows whatever salt it draws"
    ),
}


def test_operators_pin_every_mono_id():
    """No unpinned ``monotonically_increasing_id``: the id is minted
    from partition index and arrival order, so two re-evaluations of
    one subtree can mint different ids. Every call in an operator
    module must sit inside ``ephemeral_cache(..., required=True)``,
    which makes the mapping a fact, or be on the allowlist above with
    its reason. A source scan of call sites, SQL strings included."""
    import ast
    from pathlib import Path

    import mkpipe_extractor_clickhouse_spark.operators as ops_pkg

    def is_required_pin(node) -> bool:
        return (
            isinstance(node, ast.Call)
            and getattr(node.func, "id", getattr(node.func, "attr", None))
            == "ephemeral_cache"
            and any(
                k.arg == "required"
                and isinstance(k.value, ast.Constant)
                and k.value.value is True
                for k in node.keywords
            )
        )

    def mints_mono_id(node) -> bool:
        if isinstance(node, ast.Call):
            name = getattr(node.func, "id", getattr(node.func, "attr", None))
            if name == "monotonically_increasing_id":
                return True
        return (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "monotonically_increasing_id(" in node.value
        )

    offenders, used = [], set()
    for path in sorted(Path(ops_pkg.__file__).parent.glob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        for node in ast.walk(tree):
            if not mints_mono_id(node):
                continue
            chain, up = [], node
            while up in parent:
                up = parent[up]
                chain.append(up)
            if any(is_required_pin(a) for a in chain):
                continue
            func = next(
                (a.name for a in chain if isinstance(a, ast.FunctionDef)), None
            )
            if (path.name, func) in _UNPINNED_MONO_ID_OK:
                used.add((path.name, func))
                continue
            offenders.append(f"{path.name}:{node.lineno} in {func}")
    assert not offenders, f"unpinned monotonically_increasing_id: {offenders}"
    assert used == set(_UNPINNED_MONO_ID_OK), "stale allowlist entries"


def test_one_tick_path():
    """One tick path: exactly one class in the package defines
    ``run_once`` (the one runner, for every destination), and
    ``Observation(`` is constructed only in ``sources/extract.py`` (the
    one extractor tail, which sets up the observed watermark).  A
    source scan of definitions and call sites, so prose does not count."""
    import ast
    from pathlib import Path

    import mkpipe_extractor_clickhouse_spark as pkg

    root = Path(pkg.__file__).parent
    runners, observations = [], []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ClassDef) and any(
                isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
                and f.name == "run_once"
                for f in node.body
            ):
                runners.append(f"{rel}::{node.name}")
            if isinstance(node, ast.Call) and (
                getattr(node.func, "id", None) == "Observation"
                or getattr(node.func, "attr", None) == "Observation"
            ):
                observations.append(f"{rel}:{node.lineno}")
    assert runners == ["sources/extract.py::IncrementalRunner"], runners
    assert observations and all(
        o.startswith("sources/extract.py:") for o in observations
    ), observations
