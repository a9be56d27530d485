"""Physical-plan regression tests (SURVEY.md §4).

Correctness tests prove the right ROWS come back; these prove the right
PLAN produces them — the properties that decide whether a query survives
a 100× scale-up: filters reaching the parquet scan, small dims broadcast,
top-k never full-sorting, aggregates combining map-side, and no
accidental cartesian products. A refactor that silently trades one of
these away fails here even though every value still matches.
"""

from __future__ import annotations

import re

import pytest

from micmac_li3ds_spark import registry
from tests.conftest import SF_DIR


def plan(spark, name: str) -> str:
    df = registry.registry()[name].fn(spark, SF_DIR)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    p = plan(spark, "q_filter_simple")
    assert "PushedFilters: [" in p
    # the shipdate predicate must be pushed, not just evaluated post-scan
    assert "l_shipdate" in p.split("PushedFilters")[1].split("]")[0]


def test_scan_prunes_columns(spark):
    p = plan(spark, "q_pricing_summary")
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    # 7 of 11 lineitem columns are needed; text must not appear
    assert "l_comment" not in read_schema
    assert "l_partkey" not in read_schema


def test_small_dim_is_broadcast(spark):
    p = plan(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in p


def test_large_join_is_not_broadcast_nested_loop(spark):
    p = plan(spark, "q_join_sortmerge")
    assert "SortMergeJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_topk_avoids_full_sort(spark):
    p = plan(spark, "q_topk_global")
    assert "TakeOrderedAndProject" in p


def test_aggregate_has_partial_phase(spark):
    p = plan(spark, "q_pricing_summary")
    # two-phase hash aggregate: partial (map-side combine) before the
    # exchange, final after — the thing that keeps 100 TB aggs cheap
    assert p.count("HashAggregate") >= 2
    assert "partial_" in p.lower() or "Functions [partial" in p


def test_scd2_windows_share_one_exchange(spark):
    p = plan(spark, "q_etl_scd2")
    # both window passes partition by user_id: exactly one hash exchange
    # on user_id — and since r18 no trailing presentation sort either,
    # so the window exchange is the plan's ONLY exchange
    assert 1 <= p.count("hashpartitioning(user_id") <= 1
    assert "rangepartitioning" not in p


def test_correlated_subquery_decorrelates(spark):
    p = plan(spark, "q_subquery_corr_agg")
    assert "Join" in p  # agg + join, not per-row re-execution
    assert "CartesianProduct" not in p


@pytest.mark.parametrize(
    "name",
    [
        "q_llm_near_dedup",
        "q_llm_containment",
        "q_llm_embed_dedup",
        "q_llm_knn",
        "q_llm_decontaminate",
        "q_shipping_priority",
        "q_local_supplier_volume",
        "q_large_volume_customer",
        # round-6: segment blocking / posting lists / sweep line must
        # never degrade to a cartesian or the scale story is fiction
        "q_join_fuzzy",
        "q_llm_substring_dup",
        "q_concurrent_sessions",
        "q_graph_pagerank_fix",
        "q_min_cost_supplier",
        "q_product_profit",
        "q_supplier_part_count",
        "q_excess_volume_supplier",
        "q_event_attribution",
    ],
)
def test_no_cartesian_product_in_scale_paths(spark, name):
    p = plan(spark, name)
    assert "CartesianProduct" not in p


def test_whole_stage_codegen_covers_hot_path(spark):
    # under AQE the pre-execution plan is a placeholder with no codegen
    # subtrees yet, so probe with AQE off — codegen fusing is decided by
    # the same planner either way
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = registry.registry()["q_pricing_summary"].fn(spark, SF_DIR)
        p = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
    assert "WholeStageCodegen subtrees" in p
    assert not p.startswith("Found 0")


def test_disjunctive_predicate_prunes_both_scans(spark):
    """Q19 shape: Catalyst must extract the single-side conjuncts of the
    OR-of-ANDs below the join — both parquet scans get pushed filters
    even though no single predicate is universally true."""
    p = plan(spark, "q_disjunctive_revenue")
    pushed = [seg.split("]")[0] for seg in p.split("PushedFilters: [")[1:]]
    assert any("p_brand" in s or "p_size" in s for s in pushed)
    assert any("l_quantity" in s for s in pushed)
    assert "CartesianProduct" not in p


def test_cluster_assign_broadcasts_centroids(spark):
    """k=8 centroids must broadcast — the corpus side never shuffles for
    scoring."""
    p = plan(spark, "q_llm_cluster_assign")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_waiting_supplier_exists_pair_decorrelates(spark):
    """Q21 shape: EXISTS / NOT EXISTS must become semi/anti joins, never
    per-row subquery re-execution or a cartesian."""
    p = plan(spark, "q_waiting_supplier")
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_small_qty_revenue_decorrelates_scalar_avg(spark):
    """Q17 shape: the correlated per-part average becomes an aggregate
    joined on p_partkey."""
    p = plan(spark, "q_small_qty_revenue")
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2


@pytest.mark.parametrize(
    "name",
    [
        "q_llm_tfidf",
        "q_order_count_distribution",
        "q_idle_customer_balance",
        "q_top_supplier",
        "q_market_share",
    ],
)
def test_new_composites_have_no_cartesian(spark, name):
    p = plan(spark, name)
    assert "CartesianProduct" not in p


def test_bucketed_tables_join_without_exchange(spark):
    """The 100 TB co-location strategy (SCALE.md §3): two tables bucketed
    and sorted on the join key must sort-merge join with ZERO shuffle
    exchanges — bucket layout replaces both Exchange nodes."""
    import os

    from micmac_li3ds_spark.tables import load

    scratch = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".scratch")
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            (
                load(spark, SF_DIR, name)
                .write.bucketBy(8, key)
                .sortBy(key)
                .option("path", os.path.join(scratch, f"bt_{name}"))
                .mode("overwrite")
                .saveAsTable(f"bt_{name}")
            )
        j = spark.table("bt_orders").join(
            spark.table("bt_lineitem"),
            spark.table("bt_orders").o_orderkey
            == spark.table("bt_lineitem").l_orderkey,
        )
        p = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in p
        assert "Exchange" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql("DROP TABLE IF EXISTS bt_orders")
        spark.sql("DROP TABLE IF EXISTS bt_lineitem")


def test_sessionize_shares_one_user_exchange(spark):
    """lag window, cumsum window, and final aggregate all partition by
    user_id — at most one hash exchange end-to-end."""
    p = plan(spark, "q_etl_sessionize")
    assert 1 <= p.count("hashpartitioning(user_id") <= 1


def test_partitioned_layout_prunes_partitions(spark):
    """Deploy-time layout story (SCALE.md §1): a filter on the partition
    key of a partitionBy() layout must become PartitionFilters on the
    scan — zero I/O for pruned directories — not a post-scan filter."""
    import os
    import shutil

    from micmac_li3ds_spark.tables import load

    scratch = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".scratch")
    out = os.path.join(scratch, "orders_prune_probe")
    shutil.rmtree(out, ignore_errors=True)
    load(spark, SF_DIR, "orders").write.partitionBy("o_orderstatus").parquet(out)
    df = spark.read.parquet(out).filter("o_orderstatus = 'F'")
    p = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    seg = p.split("PartitionFilters: [")[1].split("]")[0]
    assert "o_orderstatus" in seg
    # and the data filter did NOT degrade to a pushed row-group filter
    assert df.count() == load(spark, SF_DIR, "orders").filter(
        "o_orderstatus = 'F'"
    ).count()


def test_observe_metrics_piggyback_on_action(spark):
    """df.observe(): audit metrics (row counts, exact-cents totals)
    computed DURING the action — production pipelines get their
    row-count reconciliation without a second scan of the input."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from micmac_li3ds_spark.tables import load

    obs = Observation("audit")
    li = load(spark, SF_DIR, "lineitem")
    out = (
        li.observe(
            obs,
            F.count(F.lit(1)).alias("rows_in"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "cents_in"
            ),
        )
        .filter(F.col("l_quantity") < 10.0)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out.collect()
    m = obs.get
    assert m["rows_in"] == li.count()
    assert m["cents_in"] == li.agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
    ).first()[0]


def test_cbo_stats_inform_plan(spark):
    """SCALE.md's deploy posture prescribes ANALYZE TABLE + CBO for join
    reordering on the warehouse tables; this is the local evidence that
    the loop closes: computed column statistics must surface in the
    catalog AND give the cost-based optimizer a row-count estimate for a
    filtered plan (rowCount is only defined when CBO is on and column
    stats exist — a missing ANALYZE or a disabled CBO both fail here)."""
    import os

    from micmac_li3ds_spark.tables import load

    scratch = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".scratch")
    saved = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        (
            load(spark, SF_DIR, "nation")
            .write.option("path", os.path.join(scratch, "cbo_nation"))
            .mode("overwrite")
            .saveAsTable("cbo_nation")
        )
        spark.sql("ANALYZE TABLE cbo_nation COMPUTE STATISTICS FOR ALL COLUMNS")
        cat_stats = [
            r
            for r in spark.sql("DESCRIBE EXTENDED cbo_nation").collect()
            if r.col_name == "Statistics"
        ]
        assert cat_stats and "rows" in cat_stats[0].data_type

        df = spark.table("cbo_nation").filter("n_regionkey = 0")
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        assert stats.rowCount().isDefined()
        # the filter's CBO estimate must be selective: fewer rows than
        # the full table, more than zero (uniform n_regionkey histogram)
        est = int(str(stats.rowCount().get()))
        n = spark.table("cbo_nation").count()
        assert 0 < est < n
    finally:
        spark.conf.set("spark.sql.cbo.enabled", saved)
        spark.sql("DROP TABLE IF EXISTS cbo_nation")


def test_chunk_split_is_shuffle_free(spark):
    # chunking is map-only fan-out: explode+substring must fuse into the
    # scan stage with no exchange anywhere — the property that makes it
    # embarrassingly parallel at 100 TB
    p = plan(spark, "q_llm_chunk_split")
    assert "Exchange" not in p


def test_gap_fill_rides_one_user_exchange(spark):
    # grid build, grid join, fill window, and final aggregate all key on
    # user_id; no calendar cross join may appear, and the whole plan must
    # reuse user_id partitioning rather than re-exchanging per stage
    p = plan(spark, "q_ts_gap_fill")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert 1 <= p.count("hashpartitioning(user_id") <= 2


def test_mixture_sample_single_window_exchange(spark):
    # budget enforcement is one running-sum window on lang + one
    # bounded-cardinality aggregate — at most those two hash exchanges
    p = plan(spark, "q_llm_mixture_sample")
    assert "CartesianProduct" not in p
    assert 1 <= p.count("hashpartitioning(lang") <= 2


def test_resample_ohlc_single_exchange(spark):
    # both row_number passes and the OHLC aggregate key on
    # (user_id, bucket_s): the whole resample must ride one hash
    # exchange — re-partitioning between the window and the agg would
    # double the shuffle volume at 100 TB for nothing
    p = plan(spark, "q_ts_resample_ohlc")
    assert "CartesianProduct" not in p
    assert p.count("hashpartitioning(user_id") == 1


def test_cdc_apply_single_exchange(spark):
    # last-writer-wins compaction: row_number + per-key audit windows +
    # final filter all partition by user_id — one exchange total
    p = plan(spark, "q_etl_cdc_apply")
    assert p.count("hashpartitioning(user_id") == 1


def test_funnel_windowed_single_exchange(spark):
    # the three chained step windows and the per-user collapse share the
    # user_id partition; the plan must not re-exchange per step and must
    # never self-join the event table
    p = plan(spark, "q_event_funnel_windowed")
    assert "Join" not in p
    assert p.count("hashpartitioning(user_id") == 1


def test_posting_lists_single_term_exchange(spark):
    # df window, head-of-list row_number, and the string_agg all key on
    # term — index construction is one exchange on term (plus the final
    # single-partition collect the driver adds, which is not hash)
    p = plan(spark, "q_llm_posting_lists")
    assert p.count("hashpartitioning(term") == 1


def test_cumulative_distinct_two_exchanges(spark):
    # first-seen flags need (user_id, event_type); the running sum needs
    # user_id — exactly two window exchanges, nothing else
    p = plan(spark, "q_win_cumulative_distinct")
    assert p.count("hashpartitioning(") == 2


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """At 100 TB the win on a selective fact⋈filtered-dim join is NOT
    the join algorithm — it's the runtime bloom filter Spark builds
    from the filtered side and pushes into the big side's scan, so
    non-matching rows die before the shuffle. The thresholds default to
    cluster scale (10 GB application side); lowering them locally
    proves the injection fires on our join shapes and stays wired in
    this Spark build."""
    from pyspark.sql import functions as F

    from micmac_li3ds_spark.tables import load

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load(spark, SF_DIR, "lineitem")
        df = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        p = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "might_contain" in p.lower() or "bloomfilter" in p.lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bitmap_distinct_avoids_expand_and_combines_partials(spark):
    # the bitmap rewrite must NOT fall back to the Expand-based distinct
    # aggregate (whose shuffle carries every (group, key) pair), and the
    # bitmap build must have a partial phase that combines map-side
    p = plan(spark, "q_agg_bitmap_distinct")
    assert "Expand" not in p
    assert "bitmap_construct_agg" in p
    assert "partial_bitmap_construct_agg" in p.lower() or "ObjectHashAggregate" in p


def test_pagerank_step_no_cartesian(spark):
    # a superstep is joins+aggs on vertex keys; any nested-loop shape
    # here would be quadratic in vertices at scale
    p = plan(spark, "q_graph_pagerank_step")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_anomaly_zscore_single_exchange(spark):
    # one trailing-frame window pass per user: one hash exchange
    p = plan(spark, "q_win_anomaly_zscore")
    assert p.count("hashpartitioning(user_id") == 1


def test_pq_encode_is_map_only(spark):
    # r19: the codebook is a compile-time literal, so encoding is one
    # projection — no broadcast join, no posexplode fan-out, no
    # aggregate (the shape that makes PQ encoding embarrassingly
    # parallel at 100 TB). The only exchange allowed is _spread's
    # round-robin scan-parallelism guard (no-op on a chunked lake).
    p = plan(spark, "q_llm_pq_encode")
    # at most the one round-robin spread exchange (tree node + detail
    # block each print the operator name once)
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 1
    assert "hashpartitioning" not in p and "rangepartitioning" not in p
    assert "Join" not in p and "CartesianProduct" not in p
    assert "Generate" not in p  # no posexplode fan-out either
    assert "HashAggregate" not in p and "SortAggregate" not in p


def test_knn_pq_is_lut_join_plus_topk(spark):
    # ADC serving shape: LUT broadcast join, top-k as
    # TakeOrderedAndProject — the corpus never full-sorts
    p = plan(spark, "q_llm_knn_pq")
    assert "BroadcastExchange" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_knn_pq_refine_exact_pass_is_shortlist_bounded(spark):
    # two-stage retrieval: the exact cosine pass must ride a broadcast
    # of the 50-row shortlist (never a corpus-wide join) and finish as
    # TakeOrderedAndProject
    p = plan(spark, "q_llm_knn_pq_refine")
    assert "BroadcastExchange" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p

    # the query vector rides the shortlist rows: outside the shortlist's
    # TakeOrderedAndProject, embeddings is scanned once, by the exact
    # pass itself, not a second time for its own query-vector broadcast
    df = registry.registry()["q_llm_knn_pq_refine"].fn(spark, SF_DIR)

    def exact_pass_scans(n, top=True):
        if n.nodeName() == "TakeOrderedAndProject" and not top:
            return 0
        own = n.nodeName().startswith("Scan parquet") and (
            "embeddings.parquet" in n.toString()
        )
        kids = n.children()
        return own + sum(
            exact_pass_scans(kids.apply(i), False) for i in range(kids.size())
        )

    root = df._jdf.queryExecution().executedPlan().initialPlan()
    assert exact_pass_scans(root) == 1


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        ("q_win_streaks", 1),          # both windows + island agg share user_id
        ("q_event_attribution", 1),    # one conditional running-MAX window
        ("q_ts_ewma", 1),              # bounded-frame fold, one user_id exchange
        ("q_min_cost_supplier", 2),    # supply agg + window min (NOT the
                                       # 5-exchange agg+self-join spelling)
        ("q_concurrent_sessions", 2),  # delta collapse, then collapsed rows
                                       # only into the series window
        ("q_agg_mad", 2),              # two ordered passes, broadcast medians
        ("q_llm_substring_dup", 3),    # span df agg + join probe side + doc agg
        ("q_join_spatial_grid", 1),    # broadcast cell join + box_id agg only
    ],
)
def test_round6_exchange_budgets(spark, name, max_exchanges):
    """Pin the shuffle budget of the round-6 operators: an innocent
    refactor that loses exchange reuse (e.g. rewriting the window min
    back into an aggregate + equality self-join) multiplies cluster
    traffic at 100 TB — fail here, not in production."""
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = registry.registry()[name].fn(spark, SF_DIR)
        p = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
    assert p.count("Exchange hashpartitioning") <= max_exchanges
    assert "Exchange SinglePartition" not in p


def test_rfm_has_no_global_window(spark):
    """Round-7 scale rewrite pin: q_event_rfm must never regress to the
    three global ntile windows (a single-partition WindowExec per score
    serializes the whole customer base — the round-6 verdict's one
    perf-weak finding). The rewrite scores map-side against broadcast
    order-statistic cutpoints; the only WindowExec allowed is the
    (pid, metric)-PARTITIONED partial cumsum inside the cutpoint
    selection, and nothing in the plan may run on a single partition."""
    df = registry.registry()["q_event_rfm"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan()

    def walk(n):
        yield n
        for i in range(n.children().size()):
            yield from walk(n.children().apply(i))

    # unwrap AdaptiveSparkPlan → inspect the initial physical plan
    nodes = []
    for n in walk(plan):
        if n.nodeName() == "AdaptiveSparkPlan":
            nodes.extend(walk(n.initialPlan()))
        else:
            nodes.append(n)
    windows = [n for n in nodes if n.nodeName() == "Window"]
    assert windows, "cutpoint cumsum window disappeared — plan changed?"
    for w in windows:
        assert not w.partitionSpec().isEmpty(), (
            "global (unpartitioned) WindowExec found in q_event_rfm"
        )
    # (global aggregates to 1-row cut/count tables legitimately use
    # SinglePartition exchanges over partial-agg output — those carry
    # bytes, not the customer base, so they are not pinned away here)
    assert "ntile" not in plan.toString()


@pytest.mark.parametrize(
    "name,max_hash_exchanges",
    [
        ("q_graph_triangles", 20),     # grp/e/deg branches pre-AQE; the
                                       # o1/o2 wedge self-join reuses one
                                       # exchange at runtime (AQE)
        ("q_agg_equidepth_hist", 7),   # histogram agg + cumsum machinery;
                                       # offsets/pos/cuts are broadcast
        ("q_llm_bm25", 6),             # dl + tfq aggs + df broadcast join
        ("q_llm_cross_dedup", 5),      # ONE band groupBy + verify joins —
                                       # the near-dedup shape
        # mining batch: hash budget = per-key agg + scaffold joins; the
        # 3 printed range exchanges of the prefix scan dedupe to ONE at
        # runtime (ReusedExchange, verified on the final adaptive plan)
        ("q_abc_pareto", 6),
        ("q_agg_gini", 4),
        ("q_skyline", 5),
        ("q_event_transitions", 3),    # user window + matrix agg
        ("q_event_cohort_ltv", 3),     # first-touch agg + join + rollup
        ("q_ts_interpolate", 2),       # hourly agg + span agg
        ("q_agg_corr", 0),             # pure map-side moments, 1-row merge
        ("q_ts_rollup_multires", 1),   # one expand-then-partial-agg shuffle
        ("q_profile_entropy", 3),      # (nation,segment) agg + totals +
                                       # final per-nation agg
    ],
)
def test_round7_exchange_budgets(spark, name, max_hash_exchanges):
    """Pin the shuffle budgets of the round-7 operators (the round-6
    budget test's charter): a refactor that silently loses a broadcast
    or adds an avoidable wide stage fails here, not at 100 TB. All
    BroadcastNestedLoopJoins in these plans are 1-row/KB-sized
    broadcast singletons (cut tables, corpus constants) — a
    CartesianProduct anywhere is an instant failure."""
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = registry.registry()[name].fn(spark, SF_DIR)
        p = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
    assert p.count("Exchange hashpartitioning") <= max_hash_exchanges
    assert "CartesianProduct" not in p


def test_aqe_skew_join_mitigation_activates(spark):
    """Runtime skew evidence (SCALE.md §3): beyond the manual salting
    operator (q_join_skew_salted), the deployment's AQE must actually
    SPLIT a skewed partition at runtime — the automatic half of the
    skew story. Canonical skewed-join shape (both sides hot on one
    key) with test-scaled thresholds; assert the FINAL adaptive plan
    rewrote the join with skew=true and skewed shuffle reads. If a
    Spark upgrade ever changes the AQE skew contract, this fails
    loudly instead of the 100-TB claim silently rotting."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    from pyspark.sql import functions as F

    try:
        for k, v in [
            ("spark.sql.shuffle.partitions", "100"),
            ("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1"),
            (
                "spark.sql.adaptive.skewJoin."
                "skewedPartitionThresholdInBytes",
                "100",
            ),
            ("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100"),
            ("spark.sql.autoBroadcastJoinThreshold", "-1"),
        ]:
            spark.conf.set(k, v)
        left = spark.range(0, 1000).select(
            F.when(F.col("id") < 250, 249).otherwise(F.col("id")).alias("k1"),
            F.col("id").alias("v1"),
        )
        right = spark.range(0, 1000).select(
            F.when(F.col("id") < 250, 249).otherwise(F.col("id")).alias("k2"),
            F.col("id").alias("v2"),
        )
        j = left.join(right, F.col("k1") == F.col("k2"))
        n = len(j.collect())
        assert n == 250 * 250 + 750  # hot clique + diagonal
        p = j._jdf.queryExecution().executedPlan().toString()
        # the marker Spark stamps on a join whose partitions were
        # skew-split at runtime (read rendering varies with coalesce
        # settings: "skewed" vs "coalesced and skewed")
        assert "skew=true" in p
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize(
    "name,max_hash_exchanges",
    [
        ("q_etl_merge_upsert", 2),   # ONE full-outer SMJ on the table key
                                     # (one exchange per side); a regression
                                     # to scan+diff+apply multi-join fails
        ("q_ts_anomaly", 2),         # bucket-grid agg + per-type window;
                                     # the z-test is pure row-local algebra
        ("q_agg_sketch_rollup", 4),  # monthly-partial agg + type merge +
                                     # exact-attest agg; exact side joins
                                     # by broadcast (25 types)
        ("q_win_moving_median", 1),  # ONE customer-partitioned window,
                                     # frame-bounded percentile state
        ("q_etl_asof_snapshot", 1),  # horizon-filtered CDC replay: one
                                     # per-key exchange, filter at the scan
        ("q_llm_knn_recall", 2),     # exact + IVF shortlists (both
                                     # broadcast-query map-side scans)
        ("q_ts_downsample_lttb", 2), # hourly grid agg + per-series
                                     # applyInPandas regroup
        ("q_llm_winnowing", 1),      # per-row array algebra; the one
                                     # exchange is the corpus spread
        ("q_llm_winnow_matches", 4), # winnow spread + distinct + df cap
                                     # + pair agg, all on fp/pair keys
        ("q_ts_seasonal_profile", 4),# grid agg + hod agg + tiny totals
                                     # + broadcast factor join
    ],
)
def test_round8_exchange_budgets(spark, name, max_hash_exchanges):
    """Round-8 operators' shuffle budgets (same charter as the round-6/7
    pins): MERGE must stay exactly one co-locatable full-outer join."""
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = registry.registry()[name].fn(spark, SF_DIR)
        p = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
    assert p.count("Exchange hashpartitioning") <= max_hash_exchanges
    assert "Exchange SinglePartition" not in p
    assert "CartesianProduct" not in p


@pytest.mark.parametrize(
    "name,max_hash_exchanges",
    [
        ("q_llm_lsh_recall", 6),  # r19 (was 9): shingle spread + posting
                                  # df agg/join + pair groupBy + band
                                  # groupBy + candidate distinct +
                                  # truth∩cand join — the stats joins and
                                  # the n_found crossJoin are gone
        ("q_llm_semantic_dedup", 4),  # cluster groupBy + verify joins +
                                      # keeper join (CC rounds ride eager
                                      # localCheckpoints, not this plan)
        ("q_agg_heavy_hitters", 2),   # MG candidate distinct + exact
                                      # count agg; candidates + the 1-row
                                      # N total both broadcast
        ("q_graph_kcore", 3),         # final-core degree joins + agg
                                      # (peels ride eager localCheckpoints)
    ],
)
def test_round9_exchange_budgets(spark, name, max_hash_exchanges):
    """Round-9 operators' shuffle budgets (round-6/7/8 charter). Unlike
    the round-8 pin this one tolerates Exchange SinglePartition — the
    recall gauge merges 1-row scalar aggregates, which carry bytes, not
    the corpus — but caps them, and allows at most one 1-row-broadcast
    BroadcastNestedLoopJoin.

    r19: exchanges are counted by DISTINCT plan_id, not by printed
    occurrence — a scoped-cached subtree (q_llm_lsh_recall's posting /
    pairs caches) is ONE physical plan whose InMemoryRelation re-prints
    under every consumer; naive string counting charged the same
    exchange up to 4× while execution materializes it once. For
    cache-free plans the two counts are identical."""
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = registry.registry()[name].fn(spark, SF_DIR)
        p = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)

    def distinct_exchanges(pattern: str) -> int:
        return len(set(re.findall(pattern + r"[^\n]*?\[plan_id=(\d+)\]", p)))

    assert distinct_exchanges("Exchange hashpartitioning") <= max_hash_exchanges
    assert distinct_exchanges("Exchange SinglePartition") <= 2
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1


def test_bucketed_join_has_no_join_exchange(spark):
    """The whole point of q_layout_bucketed_join: with both sides
    bucketed (and sorted) on the join key at the same bucket count,
    the orders⋈lineitem SMJ plan carries NO exchange and NO sort on
    either join input — the only remaining shuffle is the final tiny
    per-priority aggregate. Also pins that the scans actually read
    bucketed layout (SelectedBucketsCount in the file scan)."""
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    saved_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # at the test corpus' size the planner would broadcast the join
    # away entirely; force the SMJ path the operator exists to test
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = registry.registry()["q_layout_bucketed_join"].fn(spark, SF_DIR)
        p = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved_bc)
    assert "SortMergeJoin" in p
    assert "SelectedBucketsCount" in p
    # exactly ONE hash exchange: the groupBy(o_orderpriority) above the
    # join; zero on the join inputs (that's what bucketing buys)
    assert p.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in p


def test_partition_pruning_reaches_scan(spark):
    """q_layout_partition_pruning's year predicate must be a
    PLANNING-time PartitionFilter on the partitioned scan — not a
    post-scan Filter over all years' files."""
    df = registry.registry()["q_layout_partition_pruning"].fn(spark, SF_DIR)
    p = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m, "no PartitionFilters on the partitioned scan"
    assert "1995" in m.group(1)
    # and the pruning column never appears as a row-level pushed filter
    # (it must be resolved from directory names, not data pages)
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert pushed is None or "yr" not in pushed.group(1)


def test_cluster_assign_mapside_argmin(spark):
    """r9 verdict item 2: the nearest-centroid argmin must be a map-side
    aggregate, not a per-vector window. All k scored rows of a vector
    sit in one partition after the broadcast join, so the partial
    aggregate collapses them k→1 BEFORE the exchange — the shuffle
    carries n assignment rows, not n·k scored rows. Pins: zero
    WindowExec, a partial_min phase (the map-side k× collapse), exactly
    one hash exchange (the final aggregate's), and — the round-10
    packed-ordering-key refinement — zero SortAggregate: min over the
    packed BIGINT key keeps the aggregate in HashAggregate inside one
    whole-stage-codegen span, where min_by over struct(dist, cid) fell
    back to SortAggregate (no codegen + two per-partition sorts,
    measured 10× slower end-to-end)."""
    p = plan(spark, "q_llm_cluster_assign")
    assert "Window" not in p, "argmin regressed to a per-vector window"
    assert "partial_min(" in p, "no map-side partial min phase"
    assert "SortAggregate" not in p, "argmin fell out of HashAggregate"
    assert "HashAggregate" in p
    # formatted explain spells the exchange as an Arguments: line
    assert p.count("hashpartitioning(") == 1
    assert "SinglePartition" not in p


def test_kmeans_pair_mapside_argmin(spark):
    """r10 verdict items 2/3 (+ r11 item 4): the LAST two consumers of
    the retired Window.partitionBy(vec_id) row_number argmin —
    q_llm_kmeans_step and the chained-iteration q_llm_kmeans_fix —
    route through nearest_centroid_assign. Since round 12 the two
    deliberately differ in how the member vector reaches the mean
    stage (SCALE.md §20): kmeans_step uses the MEASURED winner,
    assign-then-rejoin (narrow LONG-keyed argmin + a shuffle-hash
    join back to the embeddings on the unique vec_id), while the
    fixpoint keeps the vector as an extra grouping column until its
    ledgered r14 migration. Pins the shared invariants for both —
    zero Window, a map-side partial_min phase, zero SortAggregate —
    plus the rejoin shape for kmeans_step: a ShuffledHashJoin, never
    a broadcast of the n-row assignment (the local corpus is tiny
    enough that AQE would broadcast, which at 100 TB it could not)."""
    for name in ("q_llm_kmeans_step", "q_llm_kmeans_fix"):
        p = plan(spark, name)
        assert "Window" not in p, f"{name}: argmin regressed to a window"
        assert "partial_min(" in p, f"{name}: no map-side partial min"
        assert "SortAggregate" not in p, (
            f"{name}: argmin fell out of HashAggregate"
        )
    p = plan(spark, "q_llm_kmeans_step")
    assert "ShuffledHashJoin" in p, "kmeans_step: rejoin lost its SHJ"


def test_semantic_dedup_has_no_window(spark):
    """q_llm_semantic_dedup shares nearest_centroid_assign with
    q_llm_cluster_assign (one definition — the plan pin above covers the
    assignment stage for both); this guards the rest of the query
    against a WindowExec creeping back anywhere in the final plan."""
    p = plan(spark, "q_llm_semantic_dedup")
    assert "Window" not in p


def test_registry_wide_plan_invariants(spark):
    """ONE sweep over every registered query's physical plan, two
    standing invariants from the round-10 plan hunt (single pass — the
    243 plan builds are the cost, the string checks are free):

    1. No SortAggregate outside the bitmap allowlist: min/min_by over a
       STRUCT silently falls out of HashAggregate into SortAggregate
       (immutable aggregation-buffer type — no whole-stage codegen, two
       per-partition sorts; measured 10× on the argmin paths it caught
       twice). The bitmap aggregates are inherent (BINARY bitmap
       buffer, documented in their docstrings).
    2. No CartesianProduct anywhere, empty allowlist (round-10 sweep:
       0/243 — every cross-shaped operator is broadcast-of-tiny or a
       keyed join). A quadratic pair expansion fails at plan time.
    3. (r12) BroadcastNestedLoopJoin only in the PINNED set below —
       every member is a deliberate broadcast-of-tiny shape (a query
       vector, a centroid set, a scalar threshold row, or the §2
       cross-theta contract row, each O(tiny)·n probe work). A BNLJ
       appearing in any OTHER query is the classic silent quadratic:
       a crossJoin whose "small" side stopped being small, or an
       inequality join Catalyst could not convert — rewrite it or
       justify membership here. Subset check, not equality: a member
       leaving the set (rewritten to a keyed join) must not fail.
    4. (r13) No un-vectorized row-at-a-time Python UDF ANYWHERE —
       the `BatchEvalPython` node (pickle per row, no Arrow batching,
       ~10-100× the built-in cost) has an EMPTY allowlist: even the
       §2.10 Python-UDF contract row is Arrow-optimized
       (useArrow=True → ArrowEvalPython), and every other Python
       seam is a pandas UDF / mapInPandas / applyInPandas Arrow
       node. The distinct `BatchEvalPythonUDTF` node is pinned to
       the one UDTF contract row (Python UDTFs have no row-batching
       alternative in this Spark build; the row documents the cost).
       A stray `@udf` without useArrow in any hot path now fails at
       plan time instead of shipping 100× slow.
    """
    sort_allow = {"q_agg_bitmap_distinct", "q_agg_bitmap_rollup"}
    udtf_allow = {"q_udtf_python"}
    bnlj_allow = {
        "q_abc_pareto", "q_agg_equidepth_hist", "q_agg_gini",
        "q_agg_heavy_hitters", "q_agg_winsorize", "q_etl_dq_summary",
        "q_event_rfm", "q_graph_triangles", "q_important_parts",
        "q_join_cross_theta", "q_join_fuzzy", "q_layout_zorder",
        "q_llm_bm25", "q_llm_cluster_assign", "q_llm_hard_negatives",
        "q_llm_kmeans_fix", "q_llm_kmeans_step", "q_llm_knn",
        "q_llm_knn_batch", "q_llm_knn_ivf", "q_llm_knn_per_label",
        "q_llm_knn_pq_refine", "q_llm_knn_recall", "q_llm_lsh_recall",
        "q_llm_tfidf", "q_skyline",
    }
    sort_offenders, cart_offenders, bnlj_offenders = [], [], []
    py_offenders = []
    for name, q in registry.registry().items():
        p = q.fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        if "SortAggregate" in p and name not in sort_allow:
            sort_offenders.append(name)
        if "CartesianProduct" in p:
            cart_offenders.append(name)
        if "BroadcastNestedLoopJoin" in p and name not in bnlj_allow:
            bnlj_offenders.append(name)
        # \b: "BatchEvalPythonUDTF" must NOT count as "BatchEvalPython"
        if re.search(r"BatchEvalPython\b", p) or (
            "BatchEvalPythonUDTF" in p and name not in udtf_allow
        ):
            py_offenders.append(name)
    assert not sort_offenders, (
        f"SortAggregate crept into {sort_offenders} — pack the ordering "
        "into an atomic key (see nearest_centroid_assign) or extend the "
        "allowlist with a docstring justifying why it is inherent"
    )
    assert not cart_offenders, (
        f"CartesianProduct planned in {cart_offenders} — broadcast the "
        "tiny side explicitly or rewrite the pairing as a keyed join"
    )
    assert not bnlj_offenders, (
        f"BroadcastNestedLoopJoin crept into {bnlj_offenders} — if the "
        "broadcast side is provably tiny add it to bnlj_allow with the "
        "shape named; otherwise rewrite as a keyed/broadcast-hash join"
    )
    assert not py_offenders, (
        f"row-at-a-time Python eval planned in {py_offenders} — use a "
        "pandas UDF / mapInPandas, or at minimum @udf(useArrow=True); "
        "BatchEvalPython has no allowlist"
    )


# --------------------------------------------------------- r19 pin tests
# The two load-bearing r18 wins that relied on optimizer implementation
# details nobody pinned (r18 verdict "What's wrong" items 1): the curate
# pushdown barrier and the fuzzy-join codegen-safe fan-out. Both would
# silently revert under a Spark upgrade (or a careless refactor) with
# every value test still green — these fail loudly instead.


def _tree_nodes(p: str) -> list[tuple[int, str, int]]:
    """Parse the formatted plan's tree section into (depth, name, id)
    rows, ordered root-first. Depth = column where the node name starts
    (the '+-'/':-' connectors indent by 3 per level)."""
    nodes = []
    for line in p.splitlines():
        m = re.match(r"^([\s:+\-*]*?)([A-Za-z][A-Za-z0-9 ]*?)\s*\((\d+)\)\s*$", line)
        if m:
            nodes.append((len(m.group(1)), m.group(2).strip(), int(m.group(3))))
        if line.startswith("== Physical Plan =="):
            nodes = []
        if line.strip().startswith("(1) "):
            break
    return nodes


def _detail_blocks(p: str) -> dict[int, str]:
    """Map node id -> its details block in a formatted plan."""
    blocks: dict[int, str] = {}
    cur = None
    for line in p.splitlines():
        m = re.match(r"^\((\d+)\) [A-Za-z]", line)
        if m:
            cur = int(m.group(1))
            blocks[cur] = line
        elif cur is not None:
            blocks[cur] += "\n" + line
    return blocks


@pytest.mark.parametrize("name", ["q_llm_curate_pipeline", "q_llm_corpus_filter"])
def test_curate_metric_compute_stays_above_spread_exchange(spark, name):
    """r18's biggest curate win (6.47→3.43 s) depends on Catalyst NOT
    substituting the corpus-filter metric flags into the keep-filter and
    pushing them below _spread's round-robin exchange — today guaranteed
    only by the nondeterministic pushdown barrier in q_llm_corpus_filter
    (an optimizer-version-dependent behavior). Pin the plan shape it
    buys: (a) no Filter condition inlines the raw metric expressions,
    and (b) walking up from the documents scan that feeds the metric
    flags, an Exchange appears BEFORE the node that computes them (the
    shingling-grade metrics run at full cluster width, never inside the
    single-row-group scan stage)."""
    p = plan(spark, name)
    blocks = _detail_blocks(p)
    metric_sig = "0.35"  # the uniq threshold appears only in the metric exprs
    for nid, block in blocks.items():
        if block.startswith(f"({nid}) Filter") and metric_sig in block:
            pytest.fail(
                f"node ({nid}): metric expressions substituted into a "
                "Filter condition — the pushdown barrier regressed"
            )
    nodes = _tree_nodes(p)
    assert nodes, "could not parse plan tree"
    # ancestors of each node, via depth-ordered walk
    by_pos = list(enumerate(nodes))
    metric_ids = {
        nid for nid, b in blocks.items() if metric_sig in b
    }
    assert metric_ids, "metric expressions not found in any node"
    checked = False
    for i, (depth, nm, nid) in by_pos:
        if nm.startswith("Scan parquet"):
            # walk ancestors root-ward: nearest preceding shallower rows
            exchange_seen = False
            d = depth
            for j in range(i - 1, -1, -1):
                pd, pn, pid = nodes[j]
                if pd < d:
                    d = pd
                    if "Exchange" in pn:
                        exchange_seen = True
                    if pid in metric_ids:
                        checked = True
                        assert exchange_seen, (
                            f"metric-computing node ({pid}) sits below "
                            f"the first Exchange above scan ({nid}) — "
                            "the metric compute was pushed into the "
                            "scan stage (single-threaded on a "
                            "one-row-group corpus)"
                        )
                        break
    assert checked, "no documents scan found under a metric-computing node"


def test_fuzzy_join_fanout_explodes_constant_triples(spark):
    """r18's q_join_fuzzy codegen fix (4.17→1.56 s): the PassJoin
    fan-out must explode an array of CONSTANT (ΔL, k, shift) triples —
    inlining the per-combination segment arithmetic into the explode
    literal emitted >64 KB of generated Java for the Generate node,
    janino refused it, and the stage silently ran interpreted. Pin it:
    every explode argument in the plan is a pure literal (no attribute
    references, no function calls), and the probe side carries all 75
    three-element combinations."""
    p = plan(spark, "q_join_fuzzy")
    args = re.findall(r"explode\((\[.*?\])\), \[", p)
    assert args, "no Generate/explode nodes found in q_join_fuzzy plan"
    for a in args:
        assert "#" not in a and not re.search(r"[A-Za-z]", a), (
            "explode argument is not a constant literal array — the "
            f"fan-out arithmetic leaked back into the Generate node: {a[:200]}"
        )
    # probe side: (2τ+1)·(τ+1)·(2τ+1) = 75 triples at τ=2
    sizes = sorted(a.count("],") + 1 for a in args)
    assert sizes == [3, 75], f"expected index=3 / probe=75 triples, got {sizes}"
