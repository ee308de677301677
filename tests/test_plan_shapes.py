"""Plan-shape pins — the scale properties the engine is designed around.

These tests fail if a refactor silently degrades the physical plan even
though results stay correct: lost predicate pushdown, widened scans,
broadcast joins regressing to shuffle joins, or Python sneaking into a
JVM-only path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from floatchat_datapipeline_spark.catalog import load_table
from floatchat_datapipeline_spark.plans.checks import (
    has_node,
    plan_string,
    pushed_filters,
    scan_read_schema,
)
from floatchat_datapipeline_spark.queries import registry


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 1000)
        .select("o_orderkey")
    )
    pf = pushed_filters(df)
    assert "GreaterThan(o_totalprice" in pf, pf


def test_column_pruning(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    cols = scan_read_schema(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_argo_pipeline_prunes_unused_lineitem_columns(spark, sf_dir):
    """The argo view derives 10 columns from 6 lineitem columns — the
    scan must not read the other 10 (comment, prices, flags...)."""
    from floatchat_datapipeline_spark.plans.argo_views import argo_raw_df

    cols = set(scan_read_schema(argo_raw_df(spark, sf_dir)))
    assert cols == {
        "l_orderkey",
        "l_suppkey",
        "l_partkey",
        "l_linenumber",
        "l_quantity",
        "l_shipdate",
    }, cols


def test_dim_join_broadcasts(spark, sf_dir):
    q = registry()["region_revenue"].spark
    df = q(spark, sf_dir)
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the fact side must not be sort-merge joined against a 5-row dim
    assert "SortMergeJoin" not in plan, plan


def test_cleaning_chain_is_jvm_only(spark, sf_dir):
    """F1-F7 + A1 must stay inside codegen — no Python evaluation nodes."""
    q = registry()["argo_float_metadata"].spark
    plan = plan_string(q(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # map-side partial agg before the shuffle (AQE hides codegen ids in
    # pre-execution plans, so partial-agg structure is the codegen proxy)
    assert plan.count("HashAggregate") >= 2


def test_topk_uses_take_ordered(spark, sf_dir):
    """ORDER BY score LIMIT k must plan as TakeOrderedAndProject, not a
    global sort."""
    q = registry()["cosine_topk"].spark
    plan = plan_string(q(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_exact_dedup_partial_aggregates(spark, sf_dir):
    """The hash-groupBy dedup must have a map-side partial aggregate
    before its shuffle (HashAggregate appears above AND below Exchange)."""
    q = registry()["doc_exact_dedup"].spark
    plan = plan_string(q(spark, sf_dir), mode="simple")
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange" in plan


def test_fuzzy_theta_join_broadcasts(spark, sf_dir):
    """J2's mutual-containment predicate defeats hash joins; the plan must
    be a broadcast nested loop (dim-sized build side), never a cartesian
    shuffle."""
    q = registry()["argo_fuzzy_match"].spark
    plan = plan_string(q(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_chunking_has_zero_shuffles(spark, sf_dir):
    """L8 chunking is map-only by design: any Exchange means the scale
    argument (one scan, no shuffle) silently broke."""
    q = registry()["doc_chunks"].spark
    plan = plan_string(q(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """L6: the holdout shingle set must broadcast (train side never
    shuffles for the probe); the train side contributes only hash
    aggregations for the per-doc count."""
    q = registry()["doc_decontaminate"].spark
    plan = plan_string(q(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_rolling_window_single_shuffle(spark, sf_dir):
    """TS5: one Exchange (hashpartitioning by user) feeding the range
    frame — a second shuffle would mean the frame re-partitioned."""
    q = registry()["events_rolling"].spark
    plan = plan_string(q(spark, sf_dir))
    # formatted mode lists each Exchange's spec on an Arguments: line
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert "Window" in plan, plan


def test_quantize_is_jvm_expression_only(spark, sf_dir):
    """V9 runs as pure column expressions — no Python boundary."""
    q = registry()["emb_quantize"].spark
    plan = plan_string(q(spark, sf_dir))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan


def test_sole_return_suppliers_is_expand_free(spark, sf_dir):
    """J8: the two-level aggregation must keep the twin distinct-counts
    out of Catalyst's Expand rewrite (3× row blow-up + an extra
    full-width shuffle). An `Expand` node appearing here means someone
    reverted to countDistinct over the raw lineitem."""
    q = registry()["sole_return_suppliers"].spark
    plan = plan_string(q(spark, sf_dir))
    assert "Expand" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # supplier dim never shuffles


def test_part_small_qty_probe_side_never_shuffles(spark, sf_dir):
    """J7: the probe lineitem slice reaches the final aggregate through
    broadcasts only — the sole Exchanges allowed are the dim-sized
    per-part avg's own shuffle and the final single-partition gather."""
    q = registry()["part_small_qty_revenue"].spark
    plan = plan_string(q(spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    # the brand predicate must reach the part scan, not evaluate post-join
    assert "EqualTo(p_brand,Brand#23)" in plan, plan


def test_large_volume_having_side_broadcasts(spark, sf_dir):
    """A14: the qualifying-orders aggregate (few rows) must be the
    broadcast build side — orders, locally small but globally the fact
    table, must stay on the probe side."""
    q = registry()["large_volume_customers"].spark
    plan = plan_string(q(spark, sf_dir))
    # formatted mode prints each node twice (tree + details): count tree
    # entries only, "BroadcastExchange (<id>)"
    assert plan.count("BroadcastExchange (") == 2, plan
    # the having-side aggregate feeds a broadcast, not an SMJ
    assert "SortMergeJoin" not in plan, plan


def test_nation_flows_single_fact_shuffle(spark, sf_dir):
    """J10: both nation role resolutions and their attachment to the
    fact ride broadcasts (4 BroadcastHashJoins); the only permissible
    hash exchanges are the lineitem ⋈ orders fact-fact join (which
    AQE broadcasts at tiny SF) and the pair aggregation."""
    import re

    q = registry()["nation_trade_flows"].spark
    plan = plan_string(q(spark, sf_dir))
    # tree entries look like "BroadcastHashJoin Inner BuildRight (26)"
    n_bhj = len(re.findall(r"BroadcastHashJoin .*\(\d+\)", plan))
    assert n_bhj >= 4, plan
    assert plan.count("Arguments: hashpartitioning") <= 3, plan


def test_brand_promo_dim_prefilters_before_broadcast(spark, sf_dir):
    """F12: the brand IN-list must reach the part scan (the broadcast
    relation carries candidate parts only), and the fact side must not
    shuffle."""
    q = registry()["brand_promo_revenue"].spark
    plan = plan_string(q(spark, sf_dir))
    assert "In(p_brand, [Brand#12,Brand#23,Brand#34])" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Arguments: hashpartitioning") == 0, plan


def test_hybrid_rrf_legs_end_in_takeordered(spark, sf_dir):
    """V11: both retrieval legs must cut to top-depth via per-partition
    heaps (TakeOrderedAndProject) — a global Sort before the limit would
    be the 100 TB scale-killer this query's shape exists to avoid."""
    q = registry()["doc_hybrid_rrf"].spark
    plan = plan_string(q(spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") >= 3, plan  # 2 legs + fuse
    assert "CartesianProduct" not in plan, plan


def test_late_order_priority_semi_join_pushdowns(spark, sf_dir):
    """J12 (Q4): the EXISTS must compile to a LeftSemi join, with the
    date range pushed into the orders scan and the returnflag filter
    pushed into the lineitem scan — at 100 TB both pushdowns are the
    difference between reading a month and reading the table."""
    q = registry()["late_order_priority"].spark
    df = q(spark, sf_dir)
    plan = plan_string(df)
    assert "LeftSemi" in plan, plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan
    assert "EqualTo(l_returnflag,R)" in plan, plan


def test_min_cost_supplier_dims_broadcast(spark, sf_dir):
    """J11 (Q2): part and region-gated supplier dims must broadcast onto
    the fact; the only hash exchange is the catalog-sized pair groupBy
    that feeds the per-part window."""
    import re

    q = registry()["min_cost_part_supplier"].spark
    plan = plan_string(q(spark, sf_dir))
    n_bhj = len(re.findall(r"BroadcastHashJoin .*\(\d+\)", plan))
    assert n_bhj >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_important_part_values_single_fact_shuffle(spark, sf_dir):
    """A16 (Q11): the nation gate broadcasts, the per-part aggregation is
    the ONE fact shuffle, and the scalar total rides a 1-row broadcast
    back — a second fact-table pass would double the dominant cost."""
    q = registry()["important_part_values"].spark
    plan = plan_string(q(spark, sf_dir))
    # post-checkpoint plan: both branches read the materialized RDD —
    # no parquet scan, no agg exchange survives into this plan
    assert plan.count("Arguments: hashpartitioning") == 0, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_supplier_part_diversity_no_expand(spark, sf_dir):
    """A18 (Q16): the grouped distinct count must run on the pre-deduped
    pair set — Catalyst's Expand plan (3x row multiplication) must not
    appear, and the complainer exclusion must be a broadcast anti join."""
    q = registry()["supplier_part_diversity"].spark
    plan = plan_string(q(spark, sf_dir))
    assert "Expand" not in plan, plan
    assert "LeftAnti" in plan, plan


def test_doc_winnow_is_shuffle_free_scan_stage(spark, sf_dir):
    """L15: winnowing is array-domain map-only work — zero hash shuffles
    (the single round-robin exchange is plans/scale.rebalance fanning the
    one-file small-SF input across cores, a no-op on a real multi-split
    table) and zero Python nodes."""
    q = registry()["doc_winnow"].spark
    plan = plan_string(q(spark, sf_dir))
    assert "Arguments: hashpartitioning" not in plan, plan
    assert plan.count("Exchange") <= 2, plan  # the one rebalance, tree+detail
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_session_paths_single_window_shuffle(spark, sf_dir):
    """TS6: one hashpartitioning on user_id feeds both the window and the
    session groupBy (same key — no second repartition); the final
    per-path count is tiny and the top-k is a TakeOrdered heap."""
    q = registry()["events_top_paths"].spark
    plan = plan_string(q(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Arguments: hashpartitioning") <= 2, plan


def test_scd2_single_shuffle_shared_sort(spark, sf_dir):
    """K11: both windows and the interval assembly must ride ONE hash
    exchange and ONE sort — a second exchange or re-sort between the
    change-detection window and the lead() window would double the cost
    of full-lineage dimension maintenance."""
    q = registry()["events_scd2"].spark
    plan = plan_string(q(spark, sf_dir))
    assert plan.count("Exchange (") == 1, plan
    assert plan.count("Sort (") == 1, plan
    assert plan.count("Window (") == 2, plan


def test_gapfill_linterp_two_growing_window_passes(spark, sf_dir):
    """TS9: exactly TWO Window nodes (asc carry-back, desc carry-forward)
    over in-partition sorts — and crucially NO unboundedfollowing frame:
    WindowExec evaluates that shrinking frame by re-aggregating to the
    partition end per row, O(n²) per key (measured 16× slower than the
    LOCF twin at sf0.1). Both directions must be growing running
    frames sharing one hash exchange on the key."""
    q = registry()["events_gapfill_interp"].spark
    plan = plan_string(q(spark, sf_dir))
    assert plan.count("Window (") == 2, plan
    assert "unboundedfollowing" not in plan.lower(), plan


def test_peak_concurrency_single_exchange(spark, sf_dir):
    """Interval sweep: union + running sum + rollup must share ONE hash
    exchange (the event_type partitioning) — a second would mean the
    window and the groupBy partitioned differently."""
    q = registry()["events_peak_concurrency"].spark
    plan = plan_string(q(spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert "Window" in plan, plan


def test_interval_union_windows_share_one_exchange(spark, sf_dir):
    """Gaps-and-islands: the running-max and island-number windows sort
    by the same (user_id · s_us, event_id) key, so Catalyst must plan one
    user_id exchange for the windows; only the island rollup may add a
    second."""
    q = registry()["events_interval_union"].spark
    plan = plan_string(q(spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning") <= 2, plan
    # both running frames are growing — the O(n²) shrinking frame is banned
    assert "unboundedfollowing" not in plan.lower(), plan


def test_pagerank_iteration_joins_broadcast_ranks(spark, sf_dir):
    """The per-iteration edges ⋈ ranks join must broadcast the rank
    vector (tiny) into the edge scan — a SortMergeJoin would shuffle the
    edge list ten times. The left joins against inflow are node-sized on
    both sides and may plan either way."""
    from floatchat_datapipeline_spark.operators.graph import (
        coactivity_edges,
        pagerank_fixed_point,
    )

    ev = load_table(spark, sf_dir, "events")
    df = pagerank_fixed_point(coactivity_edges(ev), iters=2)
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan, plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Z3: both sides scan `Bucketed: true` and the sort-merge join runs
    with NO exchange on either side — the only hash exchange in the plan
    is the 5-group priority rollup. (The write-time shuffle happened once
    in ensure_bucketed_order_tables; this pins that every subsequent join
    gets co-location for free.)"""
    q = registry()["bucketed_order_revenue"].spark
    plan = plan_string(q(spark, sf_dir))
    assert plan.count("Bucketed: true") == 2, plan
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Arguments: hashpartitioning") == 1, plan


def test_ivm_merge_reaggregates_partial_states(spark, sf_dir):
    """K12: the maintenance plan merges the checkpointed base view with
    the delta rollup — the base side must enter as a materialized
    (checkpointed) relation, not as a second scan of the events parquet."""
    q = registry()["events_hourly_ivm"].spark
    plan = plan_string(q(spark, sf_dir))
    # formatted mode lists each node in the tree AND in the detail
    # section, so ONE parquet scan (the delta) appears exactly twice
    assert plan.lower().count("scan parquet") <= 2, plan
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan


def test_hive_partition_pruning_reaches_scan(spark, sf_dir, tmp_path):
    """A partitionBy(event_type) layout must prune at PLANNING time: the
    scan's PartitionFilters carries the partition predicate (directory
    pruning — non-matching partitions are never listed into the scan),
    while a data-column predicate lands in PushedFilters instead."""
    import os

    from floatchat_datapipeline_spark.sinks.upsert import _swap_write

    path = os.path.join(str(tmp_path), "events_parted")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    _swap_write(ev, path, partition_by=("event_type",))

    df = (
        spark.read.parquet(path)
        .filter(F.col("event_type") == "click")
        .filter(F.col("value") > 10)
        .select("event_id")
    )
    plan = plan_string(df)
    pf = next(
        (
            line
            for line in plan.splitlines()
            if line.strip().startswith("PartitionFilters:")
        ),
        "",
    )
    assert "event_type" in pf, plan
    assert "GreaterThan(value" in pushed_filters(df), plan
    # pruning is real: the filtered scan reads exactly the one partition
    n_click = ev.filter(F.col("event_type") == "click").count()
    assert df.count() <= n_click


# -- encode once: queries score the vectors gold stores -----------------------

_SEARCH_TEXTS = (
    "warm tropical surface water",
    "deep cold salinity profile measurements",
    "Argo float recorded profiles near latitude",
)


def _search_wheres() -> tuple:
    return (None, F.col("temperature_max") >= 20, F.col("lat_min") <= 0)


def test_engine_semantic_search_runs_no_encoder_and_no_join(spark, sf_dir):
    """The engine's semantic query scans materialized gold and scores its
    stored vectors: no Python eval node (the corpus was encoded when gold
    was built) and no summaries/floats join, with or without a pre-filter."""
    from floatchat_datapipeline_spark.api import FloatChatEngine

    engine = FloatChatEngine(spark, sf_dir)
    for where in (None, F.col("temperature_max") >= 20):
        plan = plan_string(engine.semantic_search(_SEARCH_TEXTS[0], where=where))
        assert "EvalPython" not in plan, plan
        assert "Join" not in plan, plan
        assert "TakeOrderedAndProject" in plan, plan


def test_semantic_search_scores_a_stored_vector_column(spark, sf_dir):
    """A corpus with an `embedding` column is ranked on those vectors: the
    plan has no Python eval node at all."""
    from floatchat_datapipeline_spark.embeddings.search import semantic_search

    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_string(semantic_search(emb, "a query", k=5, id_col="vec_id"))
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_stored_vectors_rank_exactly_as_encoding_the_text(spark, sf_dir):
    """Same texts, same pre-filters: scoring gold's stored vectors and
    encoding its documents return identical (float_id, score) top-k. Only
    the text-only corpus is encoded per query."""
    from floatchat_datapipeline_spark.api import FloatChatEngine
    from floatchat_datapipeline_spark.embeddings.search import semantic_search

    gold = FloatChatEngine(spark, sf_dir).gold
    text_only = gold.drop("embedding")
    for text in _SEARCH_TEXTS:
        for where in _search_wheres():
            got = [
                tuple(r)
                for r in semantic_search(
                    gold, text, k=5, where=where,
                    text_col="document", id_col="float_id",
                ).collect()
            ]
            encoded = semantic_search(
                text_only, text, k=5, where=where,
                text_col="document", id_col="float_id",
            )
            assert "ArrowEvalPython" in plan_string(encoded)
            want = [tuple(r) for r in encoded.collect()]
            assert got and got == want, (text, where)


def test_null_vector_row_is_excluded_not_reencoded(spark, sf_dir):
    """A row whose stored vector is null drops out of the ranking (the
    rest keeps its order) and the query still runs no encoder."""
    from floatchat_datapipeline_spark.api import FloatChatEngine
    from floatchat_datapipeline_spark.embeddings.search import semantic_search

    gold = FloatChatEngine(spark, sf_dir).gold
    text = _SEARCH_TEXTS[0]

    def top(df, k):
        return semantic_search(
            df, text, k=k, text_col="document", id_col="float_id"
        )

    full = [tuple(r) for r in top(gold, 6).collect()]
    best = full[0][0]
    holed = gold.withColumn(
        "embedding",
        F.when(F.col("float_id") == best, F.lit(None)).otherwise(
            F.col("embedding")
        ),
    )
    q = top(holed, 5)
    assert [tuple(r) for r in q.collect()] == full[1:]
    assert "EvalPython" not in plan_string(q)
