"""Plan-shape regression tests: the SCALING.md claims as assertions.

These lock in the shuffle/scan discipline — a future edit that silently
reintroduces a duplicate subtree or an extra exchange fails here, not in a
benchmark three rounds later.
"""

import contextlib
import io
import re

import pytest

from stock_market_etl_pipeline_spark import registry

from conftest import SF_DIR


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def count_nodes(plan: str, name: str) -> int:
    return len(re.findall(rf"^\(\d+\) {re.escape(name)}\s*$", plan, re.M))


@pytest.fixture(scope="module")
def qs():
    return registry.queries()


def test_plans_md_covers_every_registered_query(qs):
    """PLANS.md is the committed plan-audit evidence; a query registered
    without regenerating it (python tools/plan_audit.py) would ship with
    no audited plan shape. This makes CLAUDE.md rule 4 executable."""
    from pathlib import Path

    text = Path(__file__).resolve().parent.parent.joinpath(
        "PLANS.md"
    ).read_text()
    missing = [n for n in qs if f"| {n} |" not in text]
    assert not missing, f"regenerate PLANS.md (tools/plan_audit.py): {missing}"


def test_enrich_pipeline_single_scan_single_exchange(spark, qs):
    plan = plan_of(qs["enriched_features"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Exchange") == 1
    # pruned scan: only the six needed lineitem columns are read
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 6


def test_predictions_single_scan(spark, qs):
    plan = plan_of(qs["predictions"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    # one data exchange + one trivial final-orderBy exchange at most
    assert count_nodes(plan, "Exchange") <= 2
    # unused enrichment windows (percentile, weekofyear) must be pruned
    assert "percentile" not in plan
    assert "weekofyear" not in plan


def test_token_cooccurrence_capped_vocab_no_window(spark, qs):
    """The pair phase must be gated by the top-V vocabulary via
    TakeOrderedAndProject (never a full-vocab row_number window), pairs
    generated without a self-join on the token table, and the df/n_docs
    sides joined back by broadcast."""
    plan = plan_of(qs["token_cooccurrence"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert count_nodes(plan, "Window") == 0
    assert "SortMergeJoin" not in plan
    assert count_nodes(plan, "BroadcastHashJoin") >= 2  # vocab gate + df sides


def test_approx_quartile_path_has_no_whole_partition_percentile(spark, qs):
    """enriched_volume_approx_quartiles (the 100 TB quartile config) must
    plan the quartiles as a MERGEABLE grouped aggregate + broadcast
    join-back: no exact-percentile window buffering whole symbol
    partitions, partial aggregation below the exchange, broadcast (not
    shuffle) join-back."""
    plan = plan_of(qs["enriched_volume_approx_quartiles"](spark, SF_DIR))
    assert "percentile_approx" in plan
    assert "percentile(" not in plan      # no exact whole-partition buffer
    assert count_nodes(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    # mergeable: partial approx-percentile below the exchange
    assert plan.count("ObjectHashAggregate") >= 2


def test_dimension_joins_broadcast_not_shuffle(spark, qs):
    plan = plan_of(qs["revenue_by_nation"](spark, SF_DIR))
    assert count_nodes(plan, "BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    # grouped aggregate still does map-side partial aggregation
    assert plan.count("HashAggregate") >= 2


def test_big_join_is_not_broadcast(spark, qs):
    plan = plan_of(qs["priority_revenue"](spark, SF_DIR))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_topk_plans_take_ordered(spark, qs):
    plan = plan_of(qs["top_revenue_orders"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_near_pairs_lsh_no_all_pairs_join(spark, qs):
    """The registered embedding near-pairs scale path must never plan a
    broadcast-nested-loop / cartesian over the corpus — candidates come
    from an equi-join on (band, bucket)."""
    for q in ("embedding_near_pairs_lsh", "embedding_near_pairs_lsh_hi"):
        plan = plan_of(qs[q](spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in plan, q
        assert "CartesianProduct" not in plan, q


def test_ngram_jaccard_registered_with_doc_freq_cap(spark, qs):
    """The registered Jaccard query must run the stop-shingle cap — r12
    shape: the cap is size(__ids) <= N on the shingle-bucket aggregate
    (no per-row __df window; a Window node here means the old sort-heavy
    cap crept back)."""
    plan = plan_of(qs["dedup_ngram_jaccard"](spark, SF_DIR))
    assert re.search(r"size\(__ids#\d+, \w+\) <= \d+", plan), "df cap missing"
    assert count_nodes(plan, "Window") == 0


def test_corpus_prep_shares_one_shingle_materialization(spark, qs):
    """corpus_prep materializes the shingle BUCKET table ONCE
    (localCheckpoint → Scan ExistingRDD) shared by the sizes/intersection
    branches, fuses quality+fingerprint into ONE corpus scan, and pays no
    window sort — never the r2 shape that re-exploded the corpus per
    branch (5 parquet scans / 11 shuffles) nor the r11 shape (2 scans,
    window cap, sizes subtree twice, 8 shuffles)."""
    plan = plan_of(qs["corpus_prep"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert "Scan ExistingRDD" in plan
    assert count_nodes(plan, "Exchange") <= 5
    assert count_nodes(plan, "Window") == 0


def test_token_frequencies_no_global_window(spark, qs):
    """Top-100 vocabulary must plan as TakeOrderedAndProject (per-partition
    top-k), never an unpartitioned row_number/sum window that funnels the
    full distinct-token table through one partition."""
    plan = plan_of(qs["token_frequencies"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert count_nodes(plan, "Window") == 0
    assert "WindowGroupLimit" not in plan


def test_dim_broadcasts_are_explicit_not_size_estimated(spark, qs):
    """Disable auto-broadcast: the dimension joins must STILL broadcast,
    because they carry explicit broadcast() hints — at 100 TB, size
    estimation over compressed scans is unreliable and a silent SMJ
    demotion of a dim join is a multi-TB shuffle."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(qs["revenue_by_nation"](spark, SF_DIR))
        assert count_nodes(plan, "BroadcastHashJoin") == 3
        assert "SortMergeJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_band_join_no_nested_loop(spark, qs):
    """The band self-join must plan as bucketized equi-shapes, never the
    O(n²) nested-loop the naive |a-b|<=w condition produces."""
    plan = plan_of(qs["part_price_band_pairs"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_overview_dim_joins_broadcast(spark, qs):
    """The overview dim (one row per symbol) must always broadcast — the
    fact side never shuffles on the dim key."""
    for q in ("overview_enrich", "sector_volume_summary"):
        plan = plan_of(qs[q](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, q
        assert "SortMergeJoin" not in plan, q


def test_unpivot_single_scan_no_join(spark, qs):
    """UNPIVOT is a per-row Expand — one scan, no shuffle beyond the final
    ordering, never a join or window."""
    plan = plan_of(qs["unpivot_ohlc"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Exchange") <= 1
    assert "Join" not in plan
    assert count_nodes(plan, "Window") == 0


def test_asof_joins_are_union_window_not_range_join(spark, qs):
    """Both as-of directions must plan as union + ordered window (ONE
    linear pass per partition key) — never a physical join, whose non-equi
    range condition would be a nested-loop at scale."""
    for q in ("asof_last_order_value", "asof_next_order_value"):
        plan = plan_of(qs[q](spark, SF_DIR))
        assert "Join" not in plan, q
        assert count_nodes(plan, "Union") >= 1, q
        assert count_nodes(plan, "Window") >= 1, q
        assert count_nodes(plan, "Exchange") <= 3, q


def test_event_funnel_pushes_stage_filters_into_scans(spark, qs):
    """Each funnel stage reads only its event_type (predicate reaches the
    parquet scan) and the per-user min-timestamp tables join broadcast —
    the events fact is never shuffled on the join key."""
    plan = plan_of(qs["event_funnel"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert count_nodes(plan, "Scan parquet") <= 6
    assert "EqualTo(event_type," in plan  # pushdown proof


def test_retention_cohorts_shuffle_budget(spark, qs):
    """Cohort triangle: two pushed-down scans of events, everything else
    rides the user_id partitioning (≤4 exchanges incl. final agg)."""
    plan = plan_of(qs["user_retention_cohorts"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 2
    assert count_nodes(plan, "Exchange") <= 4


def test_signals_max_date_branch_is_cheap(spark, qs):
    plan = plan_of(qs["trading_signals"](spark, SF_DIR))
    # two scans: the ticks pipeline + the single-column max-date probe
    assert count_nodes(plan, "Scan parquet") == 2
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert any(len(s.split(",")) == 1 for s in schemas), (
        "max-date branch should scan exactly one column"
    )


def test_cross_sectional_deciles_two_exchanges_no_global_window(spark, qs):
    """Lag window partitions by symbol, ntile by date — two keyed
    exchanges, and NEVER an unpartitioned window (the single-partition
    funnel the r2 token_frequencies verdict flagged)."""
    plan = plan_of(qs["cross_sectional_deciles"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Exchange") <= 3
    assert "SinglePartition" not in plan


def test_part_cooccurrence_equijoin_not_nested_loop(spark, qs):
    """The basket self-join must be an equi-join on l_orderkey (the
    part_a < part_b predicate rides as a post-join filter) — never a
    nested loop over the corpus."""
    plan = plan_of(qs["part_cooccurrence"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # hash equi-join on orderkey; at test sf the side fits the broadcast
    # threshold (size-based choice — SMJ at scale), either hash form is fine
    assert re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan)


def test_revenue_grouping_sets_one_scan_expand(spark, qs):
    """GROUPING SETS must plan as ONE fact scan + Expand + single
    aggregate — not a union of three subqueries — with both dims
    broadcast."""
    plan = plan_of(qs["revenue_grouping_sets"](spark, SF_DIR))
    assert count_nodes(plan, "Expand") == 1
    assert "Union" not in plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    orders_scans = [s for s in schemas if "o_totalprice" in s]
    assert len(orders_scans) == 1
    assert count_nodes(plan, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_order_ship_lag_copartitioned_join(spark, qs):
    """Fact-to-fact join shuffles BOTH sides on the same orderkey; scans
    are pruned to the joined/aggregated columns only."""
    plan = plan_of(qs["order_ship_lag"](spark, SF_DIR))
    assert re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert all(len(s.split(",")) <= 3 for s in schemas)


def test_doc_repetition_stats_no_udf_two_level_agg(spark, qs):
    """Bigram stats stay JVM-side (higher-order functions, no
    Python/Pandas UDF) and aggregate in two hash-agg levels."""
    plan = plan_of(qs["doc_repetition_stats"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 3  # partial+final × two levels


def test_quarterly_pivot_single_aggregate_no_expand(spark, qs):
    """Explicit-values pivot compiles to conditional aggregates — one
    scan, one keyed exchange, no Expand node, no distinct-values
    pre-scan."""
    plan = plan_of(qs["quarterly_close_pivot"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert "Expand" not in plan
    assert count_nodes(plan, "Exchange") <= 2


def test_winsorized_returns_broadcast_joinback(spark, qs):
    """Per-symbol percentile bounds join back via broadcast — the fact
    rows never reshuffle for the join."""
    plan = plan_of(qs["winsorized_returns"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_errors_in_sessions_equijoin_with_residual_range(spark, qs):
    """The point-in-interval join must bind on the user_id equi-key with
    the BETWEEN as residual — never a nested loop over sessions×errors."""
    plan = plan_of(qs["errors_in_sessions"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan)
    # pushed-down error-type scan on the probe side
    assert "EqualTo(event_type,error)" in plan


def test_market_share_window_rides_post_aggregate(spark, qs):
    """The per-year share window must consume the AGGREGATED
    (#years × #nations) table — the Window node sits above a final
    HashAggregate, never over the raw fact."""
    plan = plan_of(qs["market_share_by_year"](spark, SF_DIR))
    assert count_nodes(plan, "Window") == 1
    win_pos = plan.index("Window")
    assert "HashAggregate" in plan[win_pos:], (
        "window should be fed by the aggregate, not the fact scan"
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rfm_thresholds_are_scalar_aggregate_not_window(spark, qs):
    """RFM quartile thresholds come from a 1-row scalar aggregate
    cross-joined back — never a global percentile window over all
    customers."""
    plan = plan_of(qs["rfm_segments"](spark, SF_DIR))
    assert count_nodes(plan, "Window") == 0


def test_dedup_incremental_anti_join_on_digest(spark, qs):
    """Steady-state dedup: the admit decision is a LeftAnti hash join on
    the fingerprint digest — no sort-merge of raw text, no nested loop."""
    plan = plan_of(qs["dedup_incremental"](spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_source_temperature_mix_broadcast_only(spark, qs):
    """Rates and kept-counts are tiny tables: every join must broadcast
    (the localCheckpoint'd 5-row rates table is the build side), and the
    docs scan shuffles once at most (the kept groupBy)."""
    plan = plan_of(qs["source_temperature_mix"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert count_nodes(plan, "BroadcastHashJoin") >= 1
    assert count_nodes(plan, "Exchange") <= 2


def test_boilerplate_coverage_broadcast_vocab_no_second_gram_shuffle(spark, qs):
    """The boilerplate vocabulary joins back to the gram table as a
    broadcast semi-join; the checkpointed gram explode is the only gram
    materialization (no repeated explode subtrees in the plan)."""
    plan = plan_of(qs["boilerplate_ngram_coverage"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert count_nodes(plan, "Generate") == 0  # explode hidden behind checkpoint
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_sketch_rollup_partial_aggregates_before_exchange(spark, qs):
    """Level-1 sketch build partial-aggregates map-side so the shuffle
    carries sketches, not raw keys."""
    plan = plan_of(qs["sketch_distinct_rollup_merge"](spark, SF_DIR))
    assert "hll_union_agg" in plan or "hll_sketch_agg" in plan
    assert count_nodes(plan, "Exchange") <= 3


def test_global_doc_ids_no_data_sized_single_partition_sort(spark, qs):
    """The only SinglePartition exchange allowed is the prefix-sum over
    per-partition COUNTS (cluster-sized); the data-sized window must be
    partitioned by _pid."""
    plan = plan_of(qs["global_doc_ids"](spark, SF_DIR))
    # exactly one SinglePartition exchange — the prefix-sum over the
    # per-partition counts, which lives on the BROADCAST (offsets) branch
    assert plan.count("SinglePartition") == 1
    assert "BroadcastExchange" in plan  # offsets broadcast back to the data
    # phase 1 (range exchange + pid window) is materialized ONCE behind a
    # localCheckpoint (load-bearing: two exchanges would sample their own
    # range boundaries — see operators/enumerate.py), so the query plan
    # consumes an ExistingRDD rather than showing rangepartitioning
    assert "ExistingRDD" in plan
    assert "rangepartitioning" not in plan.lower()


def test_macd_single_scan_single_exchange(spark, qs):
    """Both convolution layers (n12/n26, then the signal's 9-lag window)
    must share ONE HashPartitioning(symbol) exchange over one scan — no
    join, no second shuffle, no float aggregate."""
    plan = plan_of(qs["macd_12_26"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Exchange") == 1
    assert count_nodes(plan, "Window") == 2


def test_transition_matrix_aggregates_before_window(spark, qs):
    """The normalizing row-sum window must run over the counted pair
    aggregate (<=|types|^2 rows), never over the fact table: exactly one
    Window node, downstream of a HashAggregate pair."""
    plan = plan_of(qs["event_transition_matrix"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Window") == 2  # lead() + row-sum
    # map-side partial aggregate exists (combiner before the pair shuffle)
    assert count_nodes(plan, "HashAggregate") >= 2


def test_q17_small_quantity_one_fact_shuffle_and_broadcast_dim(spark, qs):
    """The per-part average joins back on the SAME key the aggregate
    shuffled on, and the part dim must broadcast — no sort-merge join."""
    plan = plan_of(qs["small_quantity_order_revenue"](spark, SF_DIR))
    assert count_nodes(plan, "BroadcastHashJoin") >= 1
    assert "ReadSchema" in plan


def test_large_volume_customers_filters_before_joins(spark, qs):
    """The >300 HAVING filter must apply to the per-order aggregate BEFORE
    any join (the sliver then broadcasts); the lineitem scan reads only
    the two needed columns."""
    plan = plan_of(qs["large_volume_customers"](spark, SF_DIR))
    m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert any(s.count(",") == 1 and "l_orderkey" in s for s in m), m


def test_q6_scan_only_with_pushed_date_band(spark, qs):
    """forecast_revenue_change must be a pure scan-filter-aggregate: no
    join, no Window, and the date band pushed into the parquet scan
    (Catalyst rewrites the date-cast comparison to timestamp bounds)."""
    plan = plan_of(qs["forecast_revenue_change"](spark, SF_DIR))
    assert count_nodes(plan, "Window") == 0
    assert "Join" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate", plan)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 4


@pytest.mark.parametrize("name", ["rolling_beta_20", "rolling_corr_20"])
def test_rolling_regression_broadcasts_composite(spark, qs, name):
    """The per-date composite must broadcast back (no sort-merge join),
    and all window sums ride one HashPartitioning(symbol) — no
    self-join of the fact table."""
    plan = plan_of(qs[name](spark, SF_DIR))
    assert count_nodes(plan, "BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert count_nodes(plan, "Window") == 1


def test_rolling_active_users_distinct_before_explode(spark, qs):
    """The 30x coverage explode must fan out the DEDUPLICATED user-day
    table, not raw events: a HashAggregate (the distinct) sits below the
    Generate node."""
    plan = plan_of(qs["rolling_active_users"](spark, SF_DIR))
    gen = plan.find("Generate")
    agg = plan.find("HashAggregate")
    assert gen != -1 and agg != -1
    # formatted plans list children before parents top-down per subtree;
    # assert the distinct aggregate exists at all and the explode input
    # is the aggregate output by checking the Generate's input column
    assert "user_id" in plan


def test_vocabulary_growth_window_runs_over_bucket_table(spark, qs):
    """The only unpartitioned running-sum window must consume the
    bucket-level aggregate (bounded rows), downstream of two
    HashAggregates (occurrence + first-seen)."""
    plan = plan_of(qs["vocabulary_growth"](spark, SF_DIR))
    assert count_nodes(plan, "Window") == 1
    assert count_nodes(plan, "HashAggregate") >= 4  # partial+final x2 paths


def test_q19_disjunction_pushed_to_part_scan(spark, qs):
    """The brand/size disjunction must reach the part parquet scan as a
    pushed Or-filter (dim rows outside every box never ship), the part
    side broadcasts, and the scalar aggregate leaves one exchange."""
    plan = plan_of(qs["disjunctive_band_revenue"](spark, SF_DIR))
    assert re.search(r"PushedFilters: \[[^\]]*Or\([^\]]*EqualTo\(p_brand,Brand#3", plan)
    assert count_nodes(plan, "BroadcastHashJoin") == 1
    assert count_nodes(plan, "Exchange") == 1
    assert count_nodes(plan, "Window") == 0


def test_q9_widget_filter_pushed_to_part_scan(spark, qs):
    """The p_name LIKE filter must prune the part dim at ITS scan
    (StringContains pushed), not post-join; no window anywhere."""
    plan = plan_of(qs["product_profit_by_nation_year"](spark, SF_DIR))
    assert re.search(r"PushedFilters: \[[^\]]*StringContains\(p_name,widget", plan)
    assert count_nodes(plan, "Window") == 0
    assert count_nodes(plan, "SortMergeJoin") == 0


def test_q11_single_fact_scan_via_checkpoint(spark, qs):
    """The per-part rollup is checkpoint-shared by the global total and
    the probe: exactly ONE parquet scan (the part-name dim joins from
    the broadcast side of the checkpointed rollup), and the 1-row total
    arrives via a broadcast nested-loop cross join."""
    plan = plan_of(qs["important_parts_value"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1  # part dim only
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 1
    assert count_nodes(plan, "SortMergeJoin") == 0


def test_q15_single_banded_scan_via_checkpoint(spark, qs):
    """The quarter rollup is checkpoint-shared by MAX and probe: the
    banded lineitem scan must NOT appear twice (only the supplier dim
    scan remains), and the equality filter joins the 1-row max by
    broadcast."""
    plan = plan_of(qs["top_supplier_revenue"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1  # supplier dim only
    assert count_nodes(plan, "SortMergeJoin") == 0


def test_q2_single_pass_argmin(spark, qs):
    """min_cost_supplier_per_part must be ONE fact scan + ONE shuffle:
    the struct-argmin replaces the classic min + equality join-back
    (which would scan the fact twice); all dim joins broadcast."""
    plan = plan_of(qs["min_cost_supplier_per_part"](spark, SF_DIR))
    scans = re.findall(r"Location: [^\n]*?(\w+)\.parquet", plan)
    assert scans.count("lineitem") == 1, scans
    assert count_nodes(plan, "SortMergeJoin") == 0
    assert count_nodes(plan, "Window") == 0


def test_q21_one_fact_shuffle_then_rollup_windows(spark, qs):
    """sole_last_supplier_orders: the fact shuffles once into the
    (order, supplier) rollup; both windows ride ONE orderkey
    partitioning over that rollup (2 Window nodes, no extra exchange
    between them), and no sort-merge join anywhere."""
    plan = plan_of(qs["sole_last_supplier_orders"](spark, SF_DIR))
    assert count_nodes(plan, "Window") == 2
    assert count_nodes(plan, "Exchange") == 3
    assert count_nodes(plan, "SortMergeJoin") == 0


def test_q7_nation_pair_single_exchange_all_dims_broadcast(spark, qs):
    """nation_pair_trade at verify scale: every join broadcasts (orders
    and customer are small here; at SF100 the orderkey join would
    shuffle) and the group-by leaves a single exchange; the asymmetric-
    pair filter must run before the aggregate (no Window)."""
    plan = plan_of(qs["nation_pair_trade"](spark, SF_DIR))
    assert count_nodes(plan, "Exchange") == 1
    assert count_nodes(plan, "Window") == 0
    assert count_nodes(plan, "BroadcastHashJoin") >= 4


def test_q20_single_exchange_no_fact_checkpoint(spark, qs):
    """dominant_part_suppliers: ONE lineitem scan and ONE hash exchange
    (repartition on l_partkey) serve both the (part, supplier) rollup
    and the per-part totals window — the r12 rewrite of the old
    EAGER-checkpointed rollup, which materialized a FACT-sized table
    (~0.9x lineitem) before its two consumers (SCALING.md round-12)."""
    plan = plan_of(qs["dominant_part_suppliers"](spark, SF_DIR))
    scans = re.findall(r"Location: [^\n]*?(\w+)\.parquet", plan)
    assert scans.count("lineitem") == 1, scans
    assert scans.count("supplier") == 1, scans
    assert count_nodes(plan, "SortMergeJoin") == 0
    assert count_nodes(plan, "Exchange") == 1, "rollup+window must share it"
    assert count_nodes(plan, "Window") == 1


def test_clv_cohort_one_custkey_shuffle(spark, qs):
    """The cohort MIN and its join-back ride the same custkey
    partitioning; orders is the only fact and the cohort side must not
    introduce a sort-merge with extra exchanges beyond the two
    custkey/group aggregates."""
    plan = plan_of(qs["clv_cohort_revenue"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") <= 2  # orders twice max (agg + probe)
    assert "CartesianProduct" not in plan
    assert count_nodes(plan, "Window") == 0


def test_linear_trend_single_scan_single_exchange(spark, qs):
    """row_number and the moment groupBy must share ONE
    HashPartitioning(symbol) over one scan; outputs close via exact
    integer div, so no wide decimal may cast to double (rule 13)."""
    plan = plan_of(qs["linear_trend_forecast"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Exchange") == 1


def test_ppo_single_scan_single_exchange(spark, qs):
    plan = plan_of(qs["ppo_12_26"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Exchange") == 1
    assert count_nodes(plan, "Window") == 1


def test_spearman_single_exchange_window_stack(spark, qs):
    """The lag window, both rank windows, both tie-count windows, and
    the moment aggregate all hash on symbol — one data-sized exchange."""
    plan = plan_of(qs["spearman_volume_move"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Exchange") == 1


def test_bootstrap_ci_no_replicate_shuffle_blowup(spark, qs):
    """The B-fold fan-out must collapse map-side: the replicate range is
    broadcast (never shuffled against orders) and the only data-sized
    exchange carries the <= B partial-aggregate groups."""
    plan = plan_of(qs["bootstrap_order_value_ci"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") <= 3
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # no sort-merge join anywhere: replicates broadcast, never co-shuffled
    assert count_nodes(plan, "SortMergeJoin") == 0


def test_bm25_no_fullcorpus_window_no_smj(spark, qs):
    """bm25_topk: postings and corpus stats are checkpoint-materialized
    (no repeated corpus scans in the final plan); df/idf/query/stats
    sides all broadcast (no SortMergeJoin); per-query top-k is the
    salted TWO-window phase pair, each with WindowGroupLimit pushdown,
    so no partition holds a whole query's candidate list."""
    plan = plan_of(qs["bm25_topk"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 0  # reads checkpoints
    assert "SortMergeJoin" not in plan
    assert count_nodes(plan, "Window") == 2
    assert "WindowGroupLimit" in plan


def test_tfidf_single_corpus_scan_capped_join(spark, qs):
    """tfidf_doc_vectors: the tf table is materialized once (df rollup
    and weight join share it — one live parquet scan for n_docs), and
    the per-doc top-5 window carries WindowGroupLimit."""
    plan = plan_of(qs["tfidf_doc_vectors"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Window") == 1
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_heikin_ashi_one_exchange_one_window(spark, qs):
    """The unrolled recursion must stay a single window spine: one
    lineitem scan, one symbol exchange, one Window node (all 20 lag
    terms share the frame)."""
    plan = plan_of(qs["heikin_ashi"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Exchange") == 1
    assert count_nodes(plan, "Window") == 1


def test_open_order_backlog_single_pass_deltas(spark, qs):
    """Both sweep-line deltas come from ONE orders⋈lineitem pass via a
    struct explode — a union formulation re-scanned both tables
    (plan audit caught 4 scans)."""
    plan = plan_of(qs["open_order_backlog"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 2
    assert count_nodes(plan, "Generate") == 1
    assert count_nodes(plan, "BroadcastHashJoin") == 1


def test_session_overlap_no_nested_loop(spark, qs):
    """The interval self-join must run via the hour-bucket equi-join —
    a BroadcastNestedLoopJoin here means the inequality predicates
    reached the join planner raw (quadratic at scale)."""
    plan = plan_of(qs["session_overlap_counts"](spark, SF_DIR))
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert "CartesianProduct" not in plan


def test_gap_fill_interpolated_no_unbounded_following(spark, qs):
    """No UnboundedFollowing frame (per-row rescan, O(rows²) per
    partition — measured 69.6 s vs 3.7 s at sf0.1), and since the r12
    join-free rewrite a single ASC window (lead anchors) with no join:
    gap rows are GENERATED from their previous real row carrying both
    interpolation anchors, not joined back against a calendar."""
    plan = plan_of(qs["gap_fill_interpolated"](spark, SF_DIR))
    assert "unboundedfollowing" not in plan.lower()
    assert count_nodes(plan, "Window") == 1  # single asc spine
    assert count_nodes(plan, "Exchange") == 1
    assert "Join" not in plan


def test_gap_fill_forward_join_free(spark, qs):
    """r12 rewrite: forward fill IS the generation — one scan, one
    exchange, one window, no calendar join (was 2 scans / 2 Exchange /
    2 Window / 1 BroadcastHashJoin)."""
    plan = plan_of(qs["gap_fill_forward"](spark, SF_DIR))
    assert count_nodes(plan, "Window") == 1
    assert count_nodes(plan, "Exchange") == 1
    assert count_nodes(plan, "Scan parquet") == 1
    assert "Join" not in plan


def test_asof_plans_carry_one_window_function(spark, qs):
    """The matched right row travels as one struct, so each as-of plan
    evaluates ONE last(struct, ignorenulls) — not one window function
    per value column, which could mix columns from different rows."""
    for q in ("asof_last_order_value", "asof_next_order_value"):
        plan = plan_of(qs[q](spark, SF_DIR))
        assert count_nodes(plan, "Window") == 1, q
        assert plan.count("windowspecdefinition(") == 1, q


def test_asof_next_no_unbounded_following(spark, qs):
    plan = plan_of(qs["asof_next_order_value"](spark, SF_DIR))
    assert "unboundedfollowing" not in plan.lower()


def test_bootstrap_staged_conv_single_evaluation(spark, qs):
    """The md5 and the two hex conversions must appear exactly once
    each in the projection chain (staged columns) — re-inlining them
    into the explode's struct array (GenerateExec: no subexpression
    elimination) measured 5x slower."""
    plan = plan_of(qs["bootstrap_order_value_ci"](spark, SF_DIR))
    assert plan.lower().count("md5(") <= 2  # weight path + point path
    assert plan.lower().count("conv(") <= 2


def test_session_overlap_no_pair_materialization(spark, qs):
    """The boundary-rank rewrite must keep the pair join OUT of the
    plan: no Generate (the old hour-bucket explode), no join between
    two session-sized sides (the only joins left are the broadcast
    hourly-cumsum lookup and the start/end metric zip)."""
    plan = plan_of(qs["session_overlap_counts"](spark, SF_DIR))
    assert count_nodes(plan, "Generate") == 0
    assert "CartesianProduct" not in plan
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 0


def test_theil_sen_shallow_numpy_kernel_plan(spark, qs):
    """Shallow histories route to the vectorized numpy kernel (the
    documented Python slot): one symbol exchange into
    FlatMapGroupsInPandas, no pair join, no window over pair rows."""
    plan = plan_of(qs["theil_sen_trend"](spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in plan
    assert count_nodes(plan, "SortMergeJoin") == 0
    assert count_nodes(plan, "Window") == 0


def test_theil_sen_deep_two_phase_no_pair_sort(spark, monkeypatch):
    """Deep histories fall back to the streaming two-phase bucket
    histogram: phase 1 must aggregate the pair stream straight into
    the histogram — a Sort feeding a Window over the raw pair join
    (the 36-second first cut) shows up as a Window whose input is the
    SortMergeJoin; in the two-phase plan every Window runs over an
    aggregate output."""
    import stock_market_etl_pipeline_spark.registry_fin5 as fin5

    monkeypatch.setattr(fin5, "_TS_ARRAY_MAX_DAYS", 0)
    plan = plan_of(fin5.q_theil_sen_trend(spark, SF_DIR))
    assert "FlatMapGroupsInPandas" not in plan
    # the histogram aggregate exists
    assert count_nodes(plan, "HashAggregate") >= 2
    # windows in this plan are over bucket rollups, which arrive via
    # exchanges from aggregates — the raw pair join feeds ONLY
    # aggregates, never a Window directly. Structural proxy: the plan
    # has at most 2 Window nodes (cumsum + within-bucket rank).
    assert count_nodes(plan, "Window") <= 2


def test_bm25_decontamination_no_smj_no_window(spark, qs):
    """bm25_decontamination: postings/stats/scored are checkpoint-
    materialized; idf/query/stats/best sides broadcast (no
    SortMergeJoin on the scoring path); the decision tier needs NO
    window at all (best-per-query is a tiny aggregate, the threshold a
    cross-multiplied filter) — only the exact-screen scan and the
    left/anti joins against the needle hits remain."""
    plan = plan_of(qs["bm25_decontamination"](spark, SF_DIR))
    assert count_nodes(plan, "Window") == 0
    assert "CartesianProduct" not in plan
    # exact-containment screen reads documents once per union branch
    assert count_nodes(plan, "Scan parquet") <= 2


def test_ar1_one_exchange_lag_plus_agg(spark, qs):
    """The lag window and the groupBy(symbol) must share ticks()'s one
    HashPartitioning(symbol) exchange: one scan, one exchange."""
    plan = plan_of(qs["ar1_mean_reversion"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Exchange") == 1
    assert count_nodes(plan, "Window") == 1


def test_parkinson_gk_one_exchange(spark, qs):
    """groupBy(symbol, year, month) is a refinement of ticks()'s
    HashPartitioning(symbol) — no second exchange, no window."""
    plan = plan_of(qs["parkinson_gk_volatility"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Exchange") == 1
    assert count_nodes(plan, "Window") == 0


def test_amihud_one_exchange(spark, qs):
    plan = plan_of(qs["amihud_illiquidity"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Exchange") == 1
    assert count_nodes(plan, "Window") == 1


def test_zipf_single_scan_no_vocab_window(spark, qs):
    """Top-N selection must be TakeOrderedAndProject, never a
    row_number window over the full vocabulary (token_frequencies
    lesson); the whole fit is one corpus scan."""
    plan = plan_of(qs["zipf_slope"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Window") == 0
    assert "TakeOrderedAndProject" in plan


def test_vocab_coverage_one_materialized_corpus_pass(spark, qs):
    """The count table is localCheckpoint-shared: the final plan reads
    the materialized aggregate, not the corpus twice."""
    plan = plan_of(qs["vocab_coverage"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 0  # corpus read at cp time
    assert count_nodes(plan, "Window") == 0


def test_kl_divergence_pair_phase_off_corpus(spark, qs):
    """The a x b self-join must run over the checkpointed dense matrix:
    zero parquet scans in the final plan (probe: the naive tree
    re-scanned the corpus 12x through the pair join)."""
    plan = plan_of(qs["kl_source_divergence"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 0
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_markov_3step_off_corpus_matrix_power(spark, qs):
    """Both matrix-multiply joins must run over the checkpointed
    transition matrix — zero parquet scans in the final plan (T appears
    three times in T^3; without the checkpoint the corpus subtree
    triplicates)."""
    plan = plan_of(qs["markov_3step_distribution"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 0
    assert "BroadcastNestedLoopJoin" not in plan


def test_exp_ks_single_exchange_window_stack(spark, qs):
    """Lag, rank, per-type totals, and the final groupBy all share one
    HashPartitioning(event_type) exchange."""
    plan = plan_of(qs["exp_gap_fit_ks"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Exchange") == 1


def test_embedding_drift_pair_join_off_corpus(spark, qs):
    """The consecutive-batch join runs over the checkpointed centroid
    table: zero parquet scans, no nested-loop join."""
    plan = plan_of(qs["embedding_batch_drift"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 0
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_median_bucket_probe_no_fact_row_shuffle(spark, qs):
    """r10 bucket-then-probe plan (VERDICT r9 #4): the only fact-wide
    exchange is the partially-aggregated (nation, bucket) groupBy —
    raw fact ROWS are never shuffled or window-sorted whole-nation.
    Two fact subtrees (bucket sums + target-bucket probe), dims and
    the 25-row target table all broadcast, no sort-merge join."""
    plan = plan_of(qs["weighted_median_price_by_nation"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 6
    # groupBy(nation,__b) + bucket-table window + candidate window
    assert count_nodes(plan, "Exchange") == 3
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) == 5
    assert count_nodes(plan, "SortMergeJoin") == 0


def test_runs_test_month_chunked_single_scan(spark, qs):
    """r10 month-chunked segment-monoid plan (VERDICT r9 #4): every
    window buffers at most one (symbol, month) group — no whole-symbol
    window buffers — and the month-border information (first/last
    closes) rides the SAME per-month groupBy as the run counts, so the
    whole query is ONE scan and ONE ticks exchange with no join at
    all: in-month windows → per-month aggregate → month-table windows
    → per-symbol merge, every stage reusing the symbol partitioning."""
    plan = plan_of(qs["runs_test_updown"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Exchange") == 1
    assert count_nodes(plan, "SortMergeJoin") == 0
    assert len(re.findall(r"Join", plan)) == 0
    # window specs: in-month close lag + in-month prev-signed-sign,
    # month-border close lag, per-symbol border merge
    assert count_nodes(plan, "Window") == 4


def test_trigram_entropy_single_pass_window_totals(spark, qs):
    """Per-lang totals ride a window over the profile, not a
    groupBy+join-back (which re-planned the corpus subtree twice)."""
    plan = plan_of(qs["char_trigram_entropy"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Window") == 1


def test_segment_migration_self_join_off_checkpoint(spark, qs):
    """Both sides of the consecutive-year self-join read the
    materialized segment table: zero parquet scans in the final plan."""
    plan = plan_of(qs["customer_segment_migration"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 0
    assert "BroadcastNestedLoopJoin" not in plan


def test_hill_estimator_runs_off_materialized_head(spark, qs):
    plan = plan_of(qs["hill_tail_index"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 0


def test_burstiness_no_window_toap_head(spark, qs):
    plan = plan_of(qs["token_burstiness"](spark, SF_DIR))
    assert count_nodes(plan, "Window") == 0
    assert "TakeOrderedAndProject" in plan


def test_cusum_single_scan_shared_type_partitioning(spark, qs):
    plan = plan_of(qs["cusum_changepoint_daily"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert "BroadcastNestedLoopJoin" not in plan


def test_conditional_entropy_off_checkpointed_pairs(spark, qs):
    """All entropy arithmetic runs over the checkpointed pair table:
    zero parquet scans in the final plan."""
    plan = plan_of(qs["transition_conditional_entropy"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 0


def test_r11_single_exchange_family(spark, qs):
    """The round-11 per-symbol statistics all promise ONE scan and ONE
    data exchange (the symbol/(symbol,month) partitioning serves every
    window and the final aggregate)."""
    for name in (
        "twap_monthly",
        "ulcer_index",
        "wilcoxon_signed_rank_close",
        "roll_effective_spread",
    ):
        plan = plan_of(qs[name](spark, SF_DIR))
        assert count_nodes(plan, "Scan parquet") == 1, name
        assert count_nodes(plan, "Exchange") == 1, name


def test_updown_run_lengths_two_exchanges(spark, qs):
    """Symbol exchange for lag+islands, then the (direction, run_len)
    rollup exchange — and nothing else."""
    plan = plan_of(qs["updown_run_lengths"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "Exchange") == 2


def test_embedding_norm_stats_no_explode(spark, qs):
    """The norm fold must stay a per-row array aggregate — a Generate
    (explode) node would shuffle |dim|x the rows."""
    plan = plan_of(qs["embedding_norm_stats"](spark, SF_DIR))
    assert count_nodes(plan, "Scan parquet") == 1
    assert "Generate" not in plan


def test_asof_queries_skip_right_side_preaggregation(spark, qs):
    """r12: the asof feeds go into the union RAW with a right_order
    tie-break — the only Exchanges left are the ticks aggregation and the
    union window shuffle (the old plans carried a third for the orders
    pre-aggregate), and the only HashAggregates are the ticks pair."""
    for q in ("asof_last_order_value", "asof_next_order_value"):
        plan = plan_of(qs[q](spark, SF_DIR))
        assert count_nodes(plan, "Exchange") <= 2, q
        assert count_nodes(plan, "HashAggregate") <= 2, q


def test_enrich_quartiles_single_percentile_buffer(spark, qs):
    """r12: the per-symbol volume quartiles are ONE percentile window
    function over an array of percentages — three separate calls would
    each buffer and sort the partition's volumes independently."""
    plan = plan_of(qs["enriched_categories"](spark, SF_DIR))
    assert plan.count("percentile(") == 1


def test_cosine_topk_single_corpus_exchange_and_no_per_pair_norms(spark, qs):
    """r12: the query side broadcasts straight from the scan (no spread
    exchange in the broadcast-build branch) and norms are per-row columns,
    so the pair projection folds only the dot product."""
    plan = plan_of(qs["embedding_cosine_topk"](spark, SF_DIR))
    # one round-robin spread of the corpus + the final top-k shuffle
    assert count_nodes(plan, "Exchange") <= 2


def test_bootstrap_ci_explicit_width_fanout(spark, qs):
    """r13: the replicate hash work (17 md5 + 34 conv per order row,
    multiplied ABOVE the exchange by the group cross join) must fan out
    at an EXPLICIT width. An implicit repartition(col) is AQE-coalesced
    by shuffle bytes (~2.4 MB -> 1 partition, measured), which is blind
    to the compute multiplier and re-serializes the stage; the explicit
    numPartitions form is exempt from coalescing. Measured 6.41 ->
    1.54 s at sf0.1 (OPTIMIZATION_r13.md)."""
    plan = plan_of(qs["bootstrap_order_value_ci"](spark, SF_DIR))
    # the explicit-width repartition survives into the physical plan as
    # a non-coalescible shuffle origin (REPARTITION_BY_NUM)
    m = re.search(
        r"hashpartitioning\(o_orderkey#\d+L?, \d+\), REPARTITION_BY_NUM",
        plan,
    )
    assert m, plan[:2000]


def test_ivf_assignments_single_corpus_scan(spark, qs):
    """r13: IVF consumers take (vec_id, v, cluster) straight from the
    KMeans transform output (vector_to_array is the exact round-trip of
    the array_to_vector the model was fed) — the old corpus re-scan +
    assignment join doubled the parquet scans and paid an extra join."""
    plan = plan_of(qs["ann_ivf_full_probe"](spark, SF_DIR))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def test_semantic_dedup_pair_phase_shape(spark):
    """r13: the within-cluster pair phase emits unique pairs by
    construction (each vec_id lives in exactly one KMeans cluster), so
    bucket_pairs runs distinct-free — a distinct would re-aggregate the
    pair stream through an extra Exchange + HashAggregate pair — and the
    pair filter folds only the dot product: norms are per-row columns of
    the checkpointed emb table, not per-pair re-folds."""
    import stock_market_etl_pipeline_spark.operators.graph as graph
    from stock_market_etl_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )
    from stock_market_etl_pipeline_spark.sources.tables import load_table

    captured = {}
    orig = graph.connected_components

    def spy(edges, **kw):
        captured["edges"] = edges
        return orig(edges, **kw)

    graph.connected_components = spy
    try:
        semantic_dedup(
            load_table(spark, SF_DIR, "embeddings"),
            n_clusters=16,
            threshold=0.35,
        )
    finally:
        graph.connected_components = orig
    plan = plan_of(captured["edges"])
    assert count_nodes(plan, "HashAggregate") == 0
    assert plan.count("lambdafunction") <= 3


def executed_plan_of_last_write(spark) -> str:
    """The ``(N) Name`` lines of the final (post-AQE) physical plan of the
    session's last write, read from the SQL status store. Its formatted
    description lists the final and the initial plan; only the node ids
    drawn in the final plan's tree are kept, so count_nodes counts each
    executed operator once."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    desc = next(
        d
        for d in (
            execs.apply(i).physicalPlanDescription()
            for i in reversed(range(execs.size()))
        )
        if "InsertIntoHadoopFsRelationCommand" in d
    )
    final = desc.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    ids = set(re.findall(r"\((\d+)\)", final))
    return "\n".join(
        line
        for line in re.findall(r"^\(\d+\) .*$", desc, re.M)
        if line[1:line.index(")")] in ids
    )


def test_run_pipeline_is_one_write_without_caches(spark, tmp_path):
    """The quality gate, the corrupt-record count and the loaded counts
    ride on the sink write as observed metrics: a run is the SELECT 1
    probe plus the write's jobs (the one exchange's map stage and the
    write itself) — it was 13 jobs when the corrupt count, the gate and
    the summary each ran an action over two caches — and it leaves
    nothing persisted.

    The write shuffles once: clean_quotes hash-partitions by symbol
    before its keep-last dedup, so that Exchange and its Sort serve every
    window above it, and enrich's quartile window and observe_suite's lag
    window share enrich's (symbol ORDER BY date) spec and collapse into
    one Window node. Three Windows remain: dedup, lag, and the rest. With
    the dedup clustered on (symbol, date) and an unordered quartile
    window the write ran 4 jobs, 2 Exchanges and 5 Windows."""
    from stock_market_etl_pipeline_spark.pipeline import run_pipeline
    from stock_market_etl_pipeline_spark.schema import RAW_QUOTE_SCHEMA

    from conftest import make_raw_rows

    inp = str(tmp_path / "landing")
    rows = make_raw_rows("AAA", 20) + make_raw_rows("BBB", 10, base=300.0)
    spark.createDataFrame(rows, RAW_QUOTE_SCHEMA).write.json(inp)
    with open(f"{inp}/part-bad.json", "w") as f:
        f.write("not json\n")

    sc = spark.sparkContext
    persisted = set(sc._jsc.getPersistentRDDs().keySet())
    group = "plan-shape-run-pipeline"
    sc.setJobGroup(group, group)
    try:
        result = run_pipeline(spark, inp, str(tmp_path / "sink"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (result.records_loaded, result.corrupt_records) == (30, 1)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3
    # each job names its stage: the probe, then the write's two
    tracker = sc._jsc.sc().statusTracker()
    stage_of = {
        job: tag
        for tag in ("pipeline.health_check", "pipeline.write")
        for job in tracker.getJobIdsForTag(tag)
    }
    assert [
        stage_of.get(job)
        for job in sorted(sc.statusTracker().getJobIdsForGroup(group))
    ] == ["pipeline.health_check", "pipeline.write", "pipeline.write"]
    # earlier tests' RDDs may be cleaned meanwhile; none may be added
    assert not set(sc._jsc.getPersistentRDDs().keySet()) - persisted
    plan = executed_plan_of_last_write(spark)
    assert count_nodes(plan, "Exchange") == 1, plan
    assert count_nodes(plan, "Window") == 3, plan


def test_observe_suite_window_collapses_into_enrich(spark):
    """observe_suite's lag(date) window adds no Window node over an
    enriched frame: it, ma_5/ma_20/volatility and the quartile window
    all share one (symbol ORDER BY date) spec. Only the lag layer, which
    the rolling stddev reads, stays a Window of its own."""
    from pyspark.sql import Observation

    from stock_market_etl_pipeline_spark.operators.enrich import enrich
    from stock_market_etl_pipeline_spark.plans.quality import (
        observe_suite,
        stock_quality_checks,
    )
    from stock_market_etl_pipeline_spark.sources.ticks import ticks

    enriched = enrich(ticks(spark, SF_DIR))
    observed = observe_suite(
        enriched, Observation("plan-shape-observe"), stock_quality_checks()
    )
    assert count_nodes(plan_of(enriched), "Window") == 2
    assert count_nodes(plan_of(observed), "Window") == 2
