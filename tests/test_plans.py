"""Physical-plan regression tests: the properties that matter at 100 TB,
pinned at sf0.001 (plan SHAPE is scale-invariant for these checks —
except join strategy, which AQE may flip at tiny sizes; those assertions
test the forced-broadcast sides only).

A failure here means a scale regression the oracle tests can't see:
a filter no longer reaching the scan, a fact table being broadcast, an
extra shuffle.
"""

from __future__ import annotations

from data_integration_system_spark.plans.analyze import (
    broadcast_join_count,
    formatted_plan,
    is_broadcast,
    pushed_filters,
    scan_read_schemas,
    shuffle_count,
)
from data_integration_system_spark.registry import get_queries

SF = "/root/testdata/sf0.001"


def test_flagship_filters_reach_scans(spark):
    df = get_queries()["multiway_star_join"](spark, SF)
    assert any("ASIA" in f for f in pushed_filters(df, "region"))
    assert any("o_orderdate" in f for f in pushed_filters(df, "orders"))


def test_flagship_column_pruning(spark):
    df = get_queries()["multiway_star_join"](spark, SF)
    schemas = scan_read_schemas(df)
    # lineitem has 16 columns; the query needs exactly 3
    assert sorted(schemas["lineitem"]) == ["l_discount", "l_extendedprice", "l_orderkey"]
    assert sorted(schemas["orders"]) == ["o_custkey", "o_orderdate", "o_orderkey"]


def test_flagship_fact_never_broadcast(spark):
    df = get_queries()["multiway_star_join"](spark, SF)
    # the 100 TB table must stay distributed; dims must broadcast
    assert not is_broadcast(df, "lineitem")
    assert broadcast_join_count(df) == 4
    assert is_broadcast(df, "nation")
    assert is_broadcast(df, "region")


def test_flagship_single_agg_shuffle(spark):
    df = get_queries()["multiway_star_join"](spark, SF)
    # one shuffle for the groupBy + one range partition for the final
    # orderBy; anything more is a regression
    assert shuffle_count(df) <= 2


def test_scan_project_prunes_columns(spark):
    df = get_queries()["scan_project"](spark, SF)
    schemas = scan_read_schemas(df)
    assert sorted(schemas["documents"]) == ["doc_id", "lang", "n_chars", "source"]


def test_filter_scope_pushdown(spark):
    df = get_queries()["filter_scope"](spark, SF)
    pf = " ".join(pushed_filters(df, "events"))
    assert "event_type" in pf and "user_id" in pf and "value" in pf


def test_broadcast_dim_join_no_fact_shuffle(spark):
    df = get_queries()["join_broadcast_dim"](spark, SF)
    # orders joins two broadcast dims -> the only shuffle is the final agg
    assert not is_broadcast(df, "orders")
    assert broadcast_join_count(df) == 2
    assert shuffle_count(df) <= 1


def test_keep_latest_single_shuffle(spark):
    df = get_queries()["dedup_keep_latest"](spark, SF)
    assert shuffle_count(df) == 1  # one hash partition on user_id


def test_ivf_assignment_shuffle_free(spark):
    # centroid assignment must be an inline argmax over the broadcast
    # centroid array — the corpus itself is never shuffled for it.
    # Remaining exchanges: 2x centroid aggs (computed for each consumer),
    # the small query-probe window, and the final top-k window.
    df = get_queries()["similarity_ivf_topk"](spark, SF)
    assert shuffle_count(df) <= 6


def test_q4_semi_join_filters_reach_both_scans(spark):
    # the EXISTS decorrelation must not lose pushdown: date filter at the
    # orders scan, quantity filter at the lineitem scan, lineitem never
    # broadcast as a whole (only its join key side may be)
    df = get_queries()["priority_counts_with_lineitem"](spark, SF)
    assert any("o_orderdate" in f for f in pushed_filters(df, "orders"))
    assert any("l_quantity" in f for f in pushed_filters(df, "lineitem"))
    # semi join materializes no lineitem payload columns
    assert scan_read_schemas(df)["lineitem"] == ["l_orderkey", "l_quantity"]


def test_multimodal_decode_no_shuffle(spark):
    # binary payloads must flow scan -> mapInPandas with NO Exchange:
    # a repartition here caps decode parallelism and shuffles every blob
    df = get_queries()["multimodal_decode_meta"](spark, SF)
    assert shuffle_count(df) == 0
    df2 = get_queries()["multimodal_resize_meta"](spark, SF)
    assert shuffle_count(df2) == 0


def test_returned_item_report_plan(spark):
    """Q10 shape: the returns filter reaches the lineitem scan, customer
    broadcasts, lineitem never does, and TakeOrdered caps the result."""
    df = get_queries()["returned_item_report"](spark, SF)
    assert any("l_returnflag" in f for f in pushed_filters(df, "lineitem"))
    assert is_broadcast(df, "customer")
    assert not is_broadcast(df, "lineitem")
    assert "TakeOrderedAndProject" in df._jdf.queryExecution().executedPlan().toString()


def test_segment_top_orders_plan(spark):
    """Q3 shape: all three filters reach their scans."""
    df = get_queries()["segment_top_orders"](spark, SF)
    assert any("c_mktsegment" in f for f in pushed_filters(df, "customer"))
    assert any("o_orderdate" in f for f in pushed_filters(df, "orders"))
    assert any("l_shipdate" in f for f in pushed_filters(df, "lineitem"))
    # (no broadcast assertion on lineitem: at sf0.001 AQE legitimately
    # broadcasts the date-filtered fact; the filters reaching the scans
    # are the scale-invariant property)


def test_top_revenue_supplier_plan(spark):
    """Q15 shape: the ship-date window reaches the lineitem scan and only
    3 lineitem columns are read."""
    df = get_queries()["top_revenue_supplier"](spark, SF)
    assert any("l_shipdate" in f for f in pushed_filters(df, "lineitem"))
    # the revenue relation feeds both the max and the final join, so the
    # lineitem scan appears twice — column pruning must hold on each
    schemas = scan_read_schemas(df)
    assert sorted(set(schemas["lineitem"])) == [
        "l_discount", "l_extendedprice", "l_shipdate", "l_suppkey"
    ]


def test_token_top_vocab_plan(spark):
    """Vocab head: top-k via TakeOrderedAndProject (no global sort) and a
    single count shuffle."""
    df = get_queries()["token_top_vocab"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_quality_filter_gopher_zero_shuffle(spark):
    """The quality pass must ride the scan: no exchange anywhere."""
    df = get_queries()["quality_filter_gopher"](spark, SF)
    assert shuffle_count(df) == 0


def test_decontaminate_filter_broadcast_scrub(spark):
    """The contaminated-id set must broadcast into the corpus anti-join —
    the corpus side is never reshuffled for the scrub."""
    df = get_queries()["decontaminate_filter"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_pricing_summary_plan(spark):
    """Q1 shape: the date filter reaches the scan, only the 7 needed
    lineitem columns are read, and the whole report is ONE aggregation
    shuffle (map-side partials collapse each partition to <= 6 rows)
    plus the final tiny sort."""
    df = get_queries()["pricing_summary"](spark, SF)
    assert any("l_shipdate" in f for f in pushed_filters(df, "lineitem"))
    schemas = scan_read_schemas(df)
    assert sorted(schemas["lineitem"]) == [
        "l_discount", "l_extendedprice", "l_linestatus", "l_quantity",
        "l_returnflag", "l_shipdate", "l_tax",
    ]
    assert shuffle_count(df) <= 2  # one agg exchange + final orderBy


def test_forecast_revenue_all_filters_pushed(spark):
    """Q6 shape: every predicate (date range, discount band, quantity
    cap) must reach the parquet scan — this query's entire 100 TB cost
    model is scan-side filtering."""
    df = get_queries()["forecast_revenue"](spark, SF)
    pf = " ".join(pushed_filters(df, "lineitem"))
    assert "l_shipdate" in pf and "l_discount" in pf and "l_quantity" in pf
    # single-row global agg: the only exchange is the partial->final
    # SinglePartition merge (rows crossing = #partitions, not data size)
    assert shuffle_count(df) <= 1


def test_disjunctive_discount_revenue_plan(spark):
    """Q19 shape: the brand disjunction is factored onto the part scan
    (OR-of-conjuncts pushdown) and part broadcasts — the fact side is
    never shuffled."""
    df = get_queries()["disjunctive_discount_revenue"](spark, SF)
    pf = " ".join(pushed_filters(df, "part"))
    assert "Brand#1" in pf and "Brand#3" in pf  # factored disjunction pushed
    assert is_broadcast(df, "part")
    assert not is_broadcast(df, "lineitem")
    assert shuffle_count(df) <= 1  # only the global-agg partial merge


def test_lone_returned_supplier_plan(spark):
    """Q21 shape: the two correlated EXISTS collapse into one per-order
    aggregate co-keyed with the returned-lines join; supplier broadcasts;
    TakeOrdered caps the result."""
    df = get_queries()["lone_returned_supplier_orders"](spark, SF)
    # the returns flag folds into the per-supplier aggregate, so the scan
    # reads exactly the three columns the grain needs (set(): the fact
    # feeds two branches, so the relation scans twice)
    assert sorted(set(scan_read_schemas(df)["lineitem"])) == [
        "l_orderkey", "l_returnflag", "l_suppkey"
    ]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # (no broadcast-side assertions: the lone set is empty at sf0.001, so
    # AQE legitimately flips the build side; the pushed returns filter and
    # the capped sort are the scale-invariant properties)


def test_volume_shipping_plan(spark):
    """Q7 shape: the date window reaches the fact scan and the nation
    dims broadcast into supplier/customer before any fact join."""
    df = get_queries()["volume_shipping"](spark, SF)
    assert any("l_shipdate" in f for f in pushed_filters(df, "lineitem"))
    assert is_broadcast(df, "nation")
    # (no fact-side assertion: AQE broadcasts the date-filtered fact at
    # sf0.001; the pushed date window + broadcast dims are what scale)


def test_lone_returned_supplier_no_expand(spark):
    """The two-level aggregation must not regress to multi-distinct
    Expand (2x fact replication before the shuffle)."""
    df = get_queries()["lone_returned_supplier_orders"](spark, SF)
    assert "Expand" not in df._jdf.queryExecution().executedPlan().toString()


def test_cheapest_supplier_is_aggregation_not_window(spark):
    """Q2 shape: the per-part winner must come from a struct-min
    aggregate (map-side combinable), never a per-part window sort."""
    df = get_queries()["cheapest_supplier_per_part"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert any("p_type" in f or "p_size" in f for f in pushed_filters(df, "part"))


def test_part_value_concentration_two_aggregates(spark):
    """Q11 shape: one fact shuffle to the part grain; the global total
    re-aggregates that tiny relation and broadcasts back."""
    df = get_queries()["part_value_concentration"](spark, SF)
    # the part-grain relation is checkpointed (the fact aggregates ONCE
    # and its scan no longer appears in this plan); remaining exchanges:
    # tiny global agg + final sort
    assert shuffle_count(df) <= 2


def test_rare_token_score_column_pruning(spark):
    """The rarity join must read only (doc_id, text) — rarity is a
    text-only signal, the metadata columns never load."""
    df = get_queries()["rare_token_score"](spark, SF)
    assert sorted(set(scan_read_schemas(df)["documents"])) == ["doc_id", "text"]


def test_tfidf_no_expand_and_pruned(spark):
    """Integer TF-IDF: tf/df are plain aggregates (no multi-distinct
    Expand) over a (doc_id, text)-pruned scan."""
    df = get_queries()["tfidf_top_terms"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert sorted(set(scan_read_schemas(df)["documents"])) == ["doc_id", "text"]


def test_shipmode_priority_counts_plan(spark):
    """Q12 shape: the ship-year window reaches the lineitem scan; neither
    fact side broadcasts payload-wide; single agg after the join."""
    df = get_queries()["shipmode_priority_counts"](spark, SF)
    assert any("l_shipdate" in f for f in pushed_filters(df, "lineitem"))
    assert not is_broadcast(df, "lineitem")
    # orders carries only the 3 needed columns into the join
    assert sorted(scan_read_schemas(df)["orders"]) == [
        "o_orderdate", "o_orderkey", "o_orderpriority",
    ]


def test_excess_stock_suppliers_plan(spark):
    """Q20 shape: date window pushed to the fact scan, part family and
    region dims broadcast, fact never broadcast."""
    df = get_queries()["excess_stock_suppliers"](spark, SF)
    assert any("l_shipdate" in f for f in pushed_filters(df, "lineitem"))
    assert any("p_name" in f for f in pushed_filters(df, "part"))
    assert is_broadcast(df, "part")
    assert not is_broadcast(df, "lineitem")
    # the HAVING aggregate reads only the 3 fact columns it needs
    assert sorted(scan_read_schemas(df)["lineitem"]) == [
        "l_partkey", "l_quantity", "l_shipdate", "l_suppkey",
    ]


def test_shipping_priority_plan(spark):
    """Q3 shape: every filter reaches its own scan; the segment dim
    broadcasts; top-10 is a TakeOrdered, not a global sort."""
    df = get_queries()["shipping_priority"](spark, SF)
    assert any("c_mktsegment" in f for f in pushed_filters(df, "customer"))
    assert any("o_orderdate" in f for f in pushed_filters(df, "orders"))
    assert any("l_shipdate" in f for f in pushed_filters(df, "lineitem"))
    assert is_broadcast(df, "customer")
    # NOTE: at sf0.001 the post-filter lineitem side is tiny and the
    # size-based planner may legitimately broadcast it — a scale-variant
    # decision we do NOT pin (the unfiltered-fact queries pin it instead).
    assert "TakeOrderedAndProject" in df._jdf.queryExecution().executedPlan().toString()


def test_order_priority_check_plan(spark):
    """Q4 shape: quarter filter at the orders scan; the EXISTS stays a
    semi join reading only lineitem's key + date columns."""
    df = get_queries()["order_priority_check"](spark, SF)
    assert any("o_orderdate" in f for f in pushed_filters(df, "orders"))
    assert scan_read_schemas(df)["lineitem"] == ["l_orderkey", "l_shipdate"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_local_supplier_volume_plan(spark):
    """Q5 shape: date window at the orders scan, region filter at the
    region scan, all dims broadcast, the fact shuffles for its orderkey
    join + final agg only."""
    df = get_queries()["local_supplier_volume"](spark, SF)
    assert any("o_orderdate" in f for f in pushed_filters(df, "orders"))
    assert any("ASIA" in f for f in pushed_filters(df, "region"))
    assert is_broadcast(df, "customer")
    assert is_broadcast(df, "region")
    assert not is_broadcast(df, "lineitem")
    # supplier reaches the fact join THROUGH its own broadcast join with
    # nation⋈region, then that subtree broadcasts; the fact side streams
    # through every join.  (Exact count is scale-variant: at sf0.001 the
    # date-filtered orders side may broadcast too.)
    assert broadcast_join_count(df) >= 3


def test_dup_rate_by_source_reduced_grain_join(spark):
    """The dup-rate report must aggregate the corpus ONCE to the
    (ch, source) grain and feed both the per-hash counts and the
    join-back from that reduced relation.  Both consumers share the SAME
    aggregation exchange, so at execution AQE reuses it (ReusedExchange)
    and the documents scan runs once — the corpus-grain relation is
    never joined."""
    df = get_queries()["dup_rate_by_source"](spark, SF)
    df.collect()  # exchange reuse only materializes in the executed plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    # reads only the two needed columns
    assert sorted(set(scan_read_schemas(df)["documents"])) == ["source", "text"]


def test_monthly_revenue_growth_windows_after_agg(spark):
    """The cumulative/lag windows must run over the month grain, not the
    fact: one agg shuffle, then single-partition windows over |months|
    rows; the scan reads only the two needed columns."""
    df = get_queries()["monthly_revenue_growth"](spark, SF)
    assert sorted(scan_read_schemas(df)["orders"]) == [
        "o_orderdate", "o_totalprice",
    ]
    plan = formatted_plan(df)
    # Window nodes sit ABOVE the HashAggregate pair in the plan text
    # (post-agg), never between scan and aggregate
    agg_pos = plan.index("HashAggregate")
    assert "Window" in plan and plan.index("Window") < agg_pos


def test_customer_spend_percentile_agg_before_window(spark):
    """percent_rank runs on the customer grain: the fact aggregates
    first, and only (o_custkey, o_totalprice) are ever read."""
    df = get_queries()["customer_spend_percentile"](spark, SF)
    assert sorted(scan_read_schemas(df)["orders"]) == [
        "o_custkey", "o_totalprice",
    ]


def test_doc_length_histogram_zero_prejoin_shuffle(spark):
    """The bin key is computed in the scan: one agg shuffle for ≤13
    groups plus the tiny total broadcast — and only n_chars is read."""
    df = get_queries()["doc_length_histogram"](spark, SF)
    assert sorted(set(scan_read_schemas(df)["documents"])) == ["n_chars"]
    assert shuffle_count(df) <= 3  # bin agg + total agg + final sort


def test_salted_rollup_two_phase(spark):
    """The salted rollup must show BOTH aggregation phases — a (key,
    salt) exchange then a key-only exchange — and the salt column must
    never reach the output."""
    df = get_queries()["salted_event_type_rollup"](spark, SF)
    assert "_salt" not in df.columns
    # phase-1 partials + phase-2 combine + final sort
    assert shuffle_count(df) == 3
    assert sorted(set(scan_read_schemas(df)["events"])) == ["event_type", "value"]


def test_weekly_retention_reduced_before_join(spark):
    """Retention must reduce to DISTINCT (user, week) BEFORE the
    self-join: the checkpointed grain means NO parquet scan appears in
    the final plan (the fact aggregates once however many join sides
    consume it), and the grain's own plan reads only (ts, user_id)."""
    df = get_queries()["weekly_retention"](spark, SF)
    # the fact scan lives below the checkpoint — the join plan sees only
    # the materialized grain
    assert "events.parquet" not in formatted_plan(df)
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table

    grain = (
        table(spark, SF, "events")
        .select("user_id", F.date_trunc("week", "ts").alias("week"))
        .distinct()
    )
    assert sorted(set(scan_read_schemas(grain)["events"])) == ["ts", "user_id"]


def test_grouping_sets_bounded_expand(spark):
    """GROUPING SETS must expand ×3 (the declared sets, not CUBE's 2^n)
    and aggregate in ONE shuffle over a 3-column pruned scan."""
    df = get_queries()["lang_source_grouping_sets"](spark, SF)
    assert sorted(set(scan_read_schemas(df)["documents"])) == [
        "lang", "n_chars", "source",
    ]
    plan = formatted_plan(df)
    assert "Expand" in plan
    assert shuffle_count(df) <= 2  # agg exchange + final sort


def test_rolling_7day_window_over_day_grain(spark):
    """The range frame must run over the day grain, not the fact: the
    Window sits above the HashAggregate pair and the scan reads only
    (ts, value)."""
    df = get_queries()["rolling_7day_event_volume"](spark, SF)
    assert sorted(set(scan_read_schemas(df)["events"])) == ["ts", "value"]
    plan = formatted_plan(df)
    assert "Window" in plan and plan.index("Window") < plan.index("HashAggregate")


def test_customer_rfm_windows_over_customer_grain(spark):
    """All three ntile windows run on the post-agg customer grain and
    the scan reads only the three needed columns."""
    df = get_queries()["customer_rfm_scores"](spark, SF)
    assert sorted(scan_read_schemas(df)["orders"]) == [
        "o_custkey", "o_orderdate", "o_totalprice",
    ]
    plan = formatted_plan(df)
    assert plan.index("Window") < plan.index("HashAggregate")


def test_order_gap_percentiles_broadcasts_dim(spark):
    """The customer dim broadcasts into the gap relation; the fact scan
    reads only the lag-window inputs."""
    df = get_queries()["order_gap_percentiles"](spark, SF)
    assert is_broadcast(df, "customer")
    assert sorted(scan_read_schemas(df)["orders"]) == [
        "o_custkey", "o_orderdate", "o_orderkey",
    ]


def test_supplier_share_windows_share_one_sort(spark):
    """Both nation-partitioned windows (share denominator, rank) must
    share a single exchange on the supplier grain: one fact agg shuffle
    + one window shuffle, dims broadcast."""
    df = get_queries()["supplier_share_of_nation"](spark, SF)
    assert is_broadcast(df, "supplier")
    assert is_broadcast(df, "nation")
    assert not is_broadcast(df, "lineitem")
    assert shuffle_count(df) <= 2
    assert sorted(scan_read_schemas(df)["lineitem"]) == [
        "l_discount", "l_extendedprice", "l_suppkey",
    ]


def test_discount_band_pivot_single_agg(spark):
    """Explicit pivot values skip the distinct-values job: the fact is
    shuffled once as (flag, band) partials, the pivotfirst fold and the
    final sort move only the reduced grain — 3 exchanges total, and a
    3-column scan."""
    df = get_queries()["discount_band_pivot"](spark, SF)
    assert shuffle_count(df) <= 3
    assert sorted(scan_read_schemas(df)["lineitem"]) == [
        "l_discount", "l_quantity", "l_returnflag",
    ]


def test_cross_source_matrix_scans_corpus_once(spark):
    """The DISTINCT (source, hash) grain is checkpointed: the self-join
    plan contains NO documents scan (the corpus reduced once), and the
    grain itself reads only (source, text)."""
    df = get_queries()["cross_source_duplicate_matrix"](spark, SF)
    assert "documents.parquet" not in formatted_plan(df)
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.functions.hashing import normalize_ws

    grain = (
        table(spark, SF, "documents")
        .select(
            "source",
            F.sha2(F.substring(normalize_ws(F.col("text")), 1, 24), 256).alias(
                "content_key"
            ),
        )
        .distinct()
    )
    assert sorted(set(scan_read_schemas(grain)["documents"])) == ["source", "text"]


def test_source_quality_report_single_pass(spark):
    """One source-keyed aggregation over in-scan array math: no joins,
    bounded shuffles (partial-distinct expand + final sort), 4-column
    scan."""
    df = get_queries()["source_quality_report"](spark, SF)
    assert broadcast_join_count(df) == 0
    assert shuffle_count(df) <= 3
    assert sorted(set(scan_read_schemas(df)["documents"])) == [
        "n_chars", "source", "text",
    ]


def test_lang_confusion_matrix_zero_join(spark):
    """The confusion rollup adds one tiny aggregation over the
    zero-shuffle predictor pass — no joins anywhere."""
    df = get_queries()["lang_confusion_matrix"](spark, SF)
    assert broadcast_join_count(df) == 0
    # doc_id is pruned away — the rollup only needs (lang, text)
    assert sorted(set(scan_read_schemas(df)["documents"])) == ["lang", "text"]


def test_order_date_gap_fill_spine_shape(spark):
    """The spine explodes from a 1-row bounds aggregate (broadcast, not
    a shuffle) and the fill window runs on the day grain; the fact scan
    reads only (o_orderdate, o_totalprice)."""
    df = get_queries()["order_date_gap_fill"](spark, SF)
    assert sorted(set(scan_read_schemas(df)["orders"])) == [
        "o_orderdate", "o_totalprice",
    ]
    plan = formatted_plan(df)
    assert "Generate" in plan  # the exploded sequence spine
    assert plan.index("Window") < plan.index("HashAggregate")


def test_percentile_approx_check_one_shuffle(spark):
    """Both the exact and the sketch median ride ONE segment-keyed
    aggregation; the customer dim broadcasts."""
    df = get_queries()["percentile_approx_check"](spark, SF)
    assert is_broadcast(df, "customer")
    assert shuffle_count(df) <= 2  # agg exchange + final sort


def test_event_value_mad_broadcast_back(spark):
    """Pass two must consume the per-type medians as a BROADCAST into the
    fact, and the fact scan reads only (event_type, value)."""
    df = get_queries()["event_value_mad"](spark, SF)
    assert broadcast_join_count(df) == 1
    assert sorted(set(scan_read_schemas(df)["events"])) == ["event_type", "value"]


def test_gini_two_chained_aggs_no_join(spark):
    """Gini is two chained aggregations, zero joins, 2-column scan."""
    df = get_queries()["event_type_gini_per_user"](spark, SF)
    assert broadcast_join_count(df) == 0
    assert sorted(scan_read_schemas(df)["events"]) == ["event_type", "user_id"]
    assert shuffle_count(df) <= 3  # (user,type) agg + user agg + final sort


def test_pareto_windows_over_customer_grain(spark):
    """All pareto windows run over the (segment, customer) grain — the
    Window nodes sit above the fact aggregation — and the customer dim
    broadcasts into the fact before it."""
    df = get_queries()["pareto_revenue_share"](spark, SF)
    assert is_broadcast(df, "customer")
    # node numbers increase bottom-up: the fact aggregation must sit
    # BELOW (smaller number than) every Window node
    import re

    plan = formatted_plan(df)
    aggs = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    wins = [int(m) for m in re.findall(r"\((\d+)\) Window", plan)]
    assert wins and min(aggs) < min(wins)
    assert sorted(scan_read_schemas(df)["orders"]) == ["o_custkey", "o_totalprice"]


def test_bigram_lift_vocab_broadcasts(spark):
    """The unigram vocabulary and the bigram total must broadcast into
    the bigram-count relation (3 broadcasts, no vocab shuffle join), and
    top-k is TakeOrdered, not a global sort."""
    df = get_queries()["bigram_lift_top"](spark, SF)
    assert broadcast_join_count(df) == 2  # the two vocab lookups
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the 1-row bigram total rides a broadcast nested-loop cross join
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_new_vs_returning_grain_before_rekey(spark):
    """The fact must reduce to the (user, day) grain BEFORE the user_id
    re-key for the first-day window: partial aggregate below the first
    exchange, 2-column scan, ≤4 exchanges total (grain, re-key, day
    rollup, final sort)."""
    df = get_queries()["new_vs_returning_users"](spark, SF)
    assert sorted(set(scan_read_schemas(df)["events"])) == ["ts", "user_id"]
    assert shuffle_count(df) <= 4
    import re

    plan = formatted_plan(df)
    first_exchange = min(int(m) for m in re.findall(r"\((\d+)\) Exchange", plan))
    first_agg = min(int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan))
    assert first_agg < first_exchange  # partials reduce before any shuffle


def test_discount_band_unpivot_expand_on_report(spark):
    """The unpivot Expand sits ABOVE the pivot aggregation (reshape cost
    bounded by the report, not the fact)."""
    df = get_queries()["discount_band_unpivot"](spark, SF)
    import re

    plan = formatted_plan(df)
    expands = [int(m) for m in re.findall(r"\((\d+)\) Expand", plan)]
    aggs = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    assert expands and max(aggs) < max(expands)


def test_purchase_streak_one_wide_shuffle(spark):
    """The islands pipeline must be one user-keyed shuffle end-to-end:
    the running-sum window, the island rollup, and the user rollup all
    share the user_id clustering (≤2 exchanges incl. the final sort);
    the scan reads exactly the 4 needed columns."""
    df = get_queries()["purchase_streak_islands"](spark, SF)
    assert shuffle_count(df) <= 2
    assert sorted(set(scan_read_schemas(df)["events"])) == [
        "event_id", "event_type", "ts", "user_id",
    ]


def test_fulfillment_lag_reuses_join_partitioning(spark):
    """order_fulfillment_lag's per-order max must aggregate on the
    orderkey partitioning the join already produced — exchanges are the
    join's co-keyed pair plus at most the tiny rollup/sort, and the
    scans read only the needed columns."""
    df = get_queries()["order_fulfillment_lag"](spark, SF)
    assert shuffle_count(df) <= 4  # join pair + priority rollup + sort
    schemas = scan_read_schemas(df)
    assert sorted(set(schemas["lineitem"])) == ["l_orderkey", "l_shipdate"]
    assert sorted(set(schemas["orders"])) == [
        "o_orderdate", "o_orderkey", "o_orderpriority",
    ]


def test_daily_trend_two_stacked_aggs(spark):
    """event_type_daily_trend is two map-side-combined aggregations on
    narrowing grains plus the presentation sort — no window, no join,
    and the events scan reads only (event_type, ts)."""
    from data_integration_system_spark.plans.analyze import (
        sortmerge_join_count,
    )

    df = get_queries()["event_type_daily_trend"](spark, SF)
    assert shuffle_count(df) <= 3  # (type,day) agg + type agg + sort
    assert sortmerge_join_count(df) == 0
    assert broadcast_join_count(df) == 0
    assert sorted(set(scan_read_schemas(df)["events"])) == ["event_type", "ts"]


def test_concentration_one_fact_aggregation(spark):
    """nation_supplier_concentration: the fact is aggregated to the
    supplier grain ONCE; dims attach as broadcasts; totals+shares ride
    one nation-keyed window.  Exchanges: fact agg + window + rollup +
    presentation sort <= 4, and the lineitem scan reads only the three
    needed columns."""
    df = get_queries()["nation_supplier_concentration"](spark, SF)
    assert shuffle_count(df) <= 4
    assert broadcast_join_count(df) == 2  # supplier + nation dims
    assert sorted(set(scan_read_schemas(df)["lineitem"])) == [
        "l_discount", "l_extendedprice", "l_suppkey",
    ]


def test_mp4_frame_sample_blobs_never_shuffle(spark):
    """The MP4 synthesize->sample chain is two ADJACENT Arrow stages:
    the plan's only exchanges are the narrow doc_id spread BEFORE
    synthesis (parallelize_scan: 8 bytes/row) and the presentation
    sort AFTER sampling — no exchange ever carries a payload blob
    (at 100 TB the mdat bytes are the whole cost)."""
    df = get_queries()["multimodal_mp4_frame_sample"](spark, SF)
    assert shuffle_count(df) <= 2
    plan = formatted_plan(df)
    # the two MapInPandas stages are adjacent: no Exchange between them
    import re

    ops = [
        line.split(") ")[1].split(" ")[0].rstrip()
        for line in plan.splitlines()
        if re.match(r"^\(\d+\) ", line)
    ]
    first_map = ops.index("MapInPandas")
    last_map = len(ops) - 1 - ops[::-1].index("MapInPandas")
    assert "Exchange" not in ops[first_map:last_map + 1], ops
    # the source scan reads ONLY doc_id — payload synthesis is local
    assert scan_read_schemas(df)["documents"] == ["doc_id"]


def test_token_count_exact_reads_text_once(spark):
    """The tokenize pass reads (doc_id, text); the budget join-back
    reads (doc_id, source) — text must appear in exactly ONE scan
    (re-tokenizing or shipping text through the join would scale
    shuffle bytes with the corpus, not with the narrow count grain)."""
    df = get_queries()["token_count_exact"](spark, SF)
    schemas = [
        tuple(cols) for rel, cols in scan_read_schemas(df).items()
        if rel == "documents"
    ]
    # scan_read_schemas concatenates duplicate scans of one relation:
    # fall back to the formatted plan when both scans share the name
    plan = formatted_plan(df)
    assert plan.count("ReadSchema") >= 1
    text_scans = [
        line for line in plan.splitlines()
        if "ReadSchema" in line and "text" in line
    ]
    assert len(text_scans) == 1, text_scans


def test_local_rows_df_is_local_table_scan(spark):
    """The write-task-tax canary (SCALE.md r13): literal row-sets must
    plan as an Arrow LocalTableScan, never a pickled-Python-RDD scan —
    a write whose lineage re-evaluates a Python RDD spawns a fresh
    Python worker per write (~5.6 s measured for a single-row append
    vs 0.2 s through the local scan).  If this plan shape regresses,
    every status append / index-meta write regresses 28x with it."""
    from data_integration_system_spark.operators._common import local_rows_df

    df = local_rows_df(
        spark,
        [("a", 1, [1.0, 2.0]), ("b", None, [])],
        "s string, n long, v array<double>",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    rows = {(r.s, r.n, tuple(r.v)) for r in df.collect()}
    assert rows == {("a", 1, (1.0, 2.0)), ("b", None, ())}


def test_no_empty_python_rdd_frames():
    """Empty frames are built with local_rows_df: an empty
    ``createDataFrame([], ...)`` is a Python RDD whose empty partitions
    each start a Python task in every plan that reads the frame.  The
    call may be split across lines."""
    import re
    from pathlib import Path

    import data_integration_system_spark

    pkg = Path(data_integration_system_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        text = path.read_text()
        for m in re.finditer(r"createDataFrame\(\s*\[\s*\]", text):
            i = text.count("\n", 0, m.start()) + 1
            line = text.splitlines()[i - 1].strip()
            if not line.startswith("#"):
                offenders.append(f"{path.relative_to(pkg)}:{i}: {line}")
    assert not offenders, offenders


def test_local_rows_df_concurrent_threads_keep_conf(spark):
    """The r14 ADVICE race: local_rows_df's Arrow-conf set/restore is
    session-global — concurrent callers (multiple streaming queries'
    foreachBatch status writes) must not interleave a restore into
    another thread's conversion.  Serialized under a module lock: every
    thread's plan stays a LocalTableScan (strict mode raises otherwise)
    and the conf lands back at its pre-call value."""
    from concurrent.futures import ThreadPoolExecutor

    from data_integration_system_spark.operators._common import local_rows_df

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)

    def one(i: int) -> int:
        df = local_rows_df(spark, [(i, f"s{i}")], "n long, s string")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
        return df.collect()[0].n

    with ThreadPoolExecutor(max_workers=16) as pool:
        assert list(pool.map(one, range(64))) == list(range(64))
    assert spark.conf.get(key) == before


def test_local_rows_df_past_local_relation_threshold_stays_jvm(spark):
    """Past the Arrow local-relation threshold (forced here by zeroing
    it) the frame is an Arrow-batch RDD scan instead of a LocalRelation
    — still JVM-only: the rows round-trip and the lineage holds no
    PythonRDD, so a write over it spawns no Python worker."""
    from data_integration_system_spark.operators._common import local_rows_df

    key = "spark.sql.execution.arrow.localRelationThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "0")
        df = local_rows_df(spark, [(1, "a"), (2, None)], "n long, s string")
        lineage = df._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in lineage, lineage
        assert sorted((r.n, r.s) for r in df.collect()) == [(1, "a"), (2, None)]
    finally:
        spark.conf.set(key, prev)
