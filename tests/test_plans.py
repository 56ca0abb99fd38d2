"""Plan-quality regression tests — lock in the physical-plan
properties that make queries survive a 100× scale-up (build brief:
pushdown, pruning, broadcast, no Python in relational hot paths,
bounded shuffles). A change that silently degrades a plan fails here.
"""

from __future__ import annotations

import pytest

from team_02_spark.plans import (
    explain_str,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
    shuffle_count,
    uses_python_udf,
    wholestage_codegen_spans,
)
from team_02_spark.queries import QUERIES
from tests.conftest import SF_SMOKE


def _q(spark, name):
    return QUERIES[name].fn(spark, SF_SMOKE)


def test_filter_pushdown_reaches_scan(spark):
    df = _q(spark, "q_filter_compound")
    pushed = " ".join(pushed_filters(df))
    assert "GreaterThan(l_quantity" in pushed
    assert "In(l_returnflag" in pushed
    assert "GreaterThanOrEqual(l_discount" in pushed


def test_column_pruning_reaches_scan(spark):
    # projection of 4 of 5 columns → scan must not read `text` (the
    # wide column) at all
    schemas = read_schema_columns(_q(spark, "q_project"))
    assert schemas and all("text" not in cols for cols in schemas)
    # flagship reads ONLY text
    schemas = read_schema_columns(_q(spark, "q_token_topk"))
    assert schemas == [["text"]]


def test_dim_joins_are_broadcast(spark):
    # Broadcast must still HAPPEN at this SF — but for q_join_inner /
    # q_join_multi it must be chosen by size stats / AQE, not forced
    # (see test_no_forced_broadcast_on_scaling_tables).
    for name in ("q_join_inner", "q_join_multi", "q_knn_topk", "q_join_range"):
        assert has_broadcast_join(_q(spark, name)), f"{name} lost its broadcast"


def test_no_forced_broadcast_on_scaling_tables(spark):
    """100x-scale guard: queries joining SF-scaling tables (orders,
    customer, lineitem-derived frames of fact cardinality) must not
    carry an explicit broadcast hint — a hint overrides Catalyst/AQE
    and forces an OOM at scale instead of degrading to sort-merge.
    At smoke SF the planner still picks broadcast from size stats
    (asserted above), so dropping the hints costs nothing locally.

    Queries whose hints are LEGITIMATE (fixed-cardinality sides only:
    nation/region/part/supplier chains, literal band frames, tiny
    aggregates) are allowed a nonzero count — listed with their
    expected hint budget so a new unexpected hint still fails."""
    from team_02_spark.plans import forced_broadcast_hint_count

    # (query, max allowed hints, reason-for-allowed)
    specs = [
        ("q_join_inner", 0, "customer scales"),
        ("q_join_left", 0, "orders scales"),
        ("q_join_multi", 0, "orders+customer scale"),
        ("q_tpch_q5ish", 2, "nation+region only"),
        ("q_tpch_q3ish", 0, "orders+customer scale"),
        ("q_returned_revenue", 0, "orders+customer scale"),
        ("q_tpch_q7ish", 3, "nation x2 + supplier chain only"),
        ("q_tpch_q8ish", 2, "nation + supplier chain only"),
        ("q_tpch_q18ish", 0, "join-back of orders/customer"),
        ("q_tpch_q12ish", 0, "orders scales"),
        ("q_lead_time", 0, "orders scales"),
        ("q_gini", 0, "customer scales"),
        ("q_graph_degree", 0, "orders scales"),
        ("q_pagerank", 0, "orders scales"),
        ("q_expectations", 0, "customer RI probe scales"),
        ("q_contamination", 0, "documents scales"),
        ("q_decontaminate_bloom", 0, "documents scales"),
    ]
    for name, budget, why in specs:
        n = forced_broadcast_hint_count(_q(spark, name))
        assert n <= budget, (
            f"{name}: {n} forced broadcast hints (budget {budget}: {why})"
        )


def test_join_multi_is_single_fact_pass(spark):
    # 3-way join with both dims broadcast: the only shuffle is the
    # final 5-group aggregation
    df = _q(spark, "q_join_multi")
    assert shuffle_count(df) <= 1


def test_no_python_udf_in_relational_paths(spark):
    for name in (
        "q_groupby_agg", "q_join_multi", "q_window_rank", "q_topk",
        "q_token_topk", "q_clean_text", "q_dedup_ngram", "q_knn_topk",
        "q_lang_id", "q_quality_score", "q_token_count",
    ):
        assert not uses_python_udf(_q(spark, name)), f"{name} crossed into Python"


def test_python_only_where_declared(spark):
    # the stemmer and embedder SHOULD be (Arrow-batched) Python stages
    assert uses_python_udf(_q(spark, "q_clean_stem"))
    assert uses_python_udf(_q(spark, "q_embed"))
    assert uses_python_udf(_q(spark, "q_multimodal_features"))


def test_fan_out_only_in_front_of_jvm_kernels(spark):
    """ensure_parallelism's call-site rule: the single-file fixture is
    round-robined out to the cores in front of the gram-join and
    vector kernels, and never in front of a Python UDF lane (each
    extra task would hold its own Python worker)."""
    from team_02_spark.plans import explain_str
    from team_02_spark.util import SHARED_PASS_INLINE_CONF

    if spark.sparkContext.defaultParallelism < 2:
        return  # nothing to fan out to
    # shared_pass would truncate q_dedup_ngram's plan at its checkpoint
    spark.conf.set(SHARED_PASS_INLINE_CONF, "true")
    try:
        plans = {name: explain_str(_q(spark, name)) for name in (
            "q_dedup_ngram", "q_decontaminate_bloom", "q_kmeans_adaptive",
            "q_knn_topk", "q_clean_stem", "q_embed", "q_tokenize")}
    finally:
        spark.conf.unset(SHARED_PASS_INLINE_CONF)
    for name in ("q_dedup_ngram", "q_decontaminate_bloom",
                 "q_kmeans_adaptive", "q_knn_topk"):
        assert "RoundRobinPartitioning" in plans[name], name
    for name in ("q_clean_stem", "q_embed", "q_tokenize"):
        assert "RoundRobinPartitioning" not in plans[name], name


def test_wholestage_codegen_active(spark):
    for name in ("q_groupby_agg", "q_join_multi", "q_filter_compound"):
        assert wholestage_codegen_spans(_q(spark, name)) >= 1, name


def test_topk_never_full_sorts(spark):
    from team_02_spark.plans import explain_str

    text = explain_str(_q(spark, "q_topk"), "simple")
    assert "TakeOrderedAndProject" in text  # heap top-k, not global sort


def test_partial_aggregation_before_shuffle(spark):
    from team_02_spark.plans import explain_str

    text = explain_str(_q(spark, "q_groupby_agg"))
    # map-side combine: partial_sum must appear below the Exchange
    assert "partial_sum" in text


def test_agg_single_shuffle(spark):
    assert shuffle_count(_q(spark, "q_groupby_agg")) == 1
    assert shuffle_count(_q(spark, "q_event_rates")) <= 2  # distinct adds one


def test_behavior_lane_shuffle_budgets(spark):
    # q_lag_features: ONE window spec → one user_id exchange serves
    # lag, gap, and rolling mean
    assert shuffle_count(_q(spark, "q_lag_features")) <= 1
    # q_scd2: second window re-partitions by the same user_id key, so
    # Spark must reuse the first exchange
    assert shuffle_count(_q(spark, "q_scd2")) <= 1
    # q_transition_matrix: user window + alphabet^2 agg + tiny window
    assert shuffle_count(_q(spark, "q_transition_matrix")) <= 3


def test_kmeans_assignments_broadcast_and_bounded(spark):
    """q_kmeans: every assignment must broadcast the k-row centroid
    side (the corpus is never shuffled to score), no Python stage,
    and the whole 2-iteration unroll stays inside a fixed exchange
    budget (init sort/window + 1 assign-agg per iteration + 2 update
    exchanges) — a regression to a shuffled centroid join or a UDF
    would break the 100 TB posture."""
    from team_02_spark.plans.inspect import uses_python_udf

    df = _q(spark, "q_kmeans")
    assert has_broadcast_join(df)
    assert not uses_python_udf(df)
    assert shuffle_count(df) <= 9


def test_jl_projection_is_map_only(spark):
    """q_jl_project: the sign matrix is a plan-time literal and the
    fold is per-row — ZERO exchanges, no Python stage. A shuffle or
    UDF here would break the map-only dim-reduction contract."""
    from team_02_spark.plans.inspect import uses_python_udf

    df = _q(spark, "q_jl_project")
    assert shuffle_count(df) == 0
    assert not uses_python_udf(df)


def test_zscore_stats_join_is_broadcast(spark):
    # the |alphabet|-row stats side must broadcast; the fact table is
    # never shuffled (only the stats aggregate exchanges)
    df = _q(spark, "q_zscore_outliers")
    assert has_broadcast_join(df)
    assert shuffle_count(df) <= 1


def test_vector_quantize_is_map_only(spark):
    # pure higher-order-function projection: zero shuffles, no Python
    df = _q(spark, "q_vector_quantize")
    assert shuffle_count(df) == 0
    assert not uses_python_udf(df)


def test_new_lanes_stay_jvm_side(spark):
    for name in (
        "q_transition_matrix", "q_cooccurrence", "q_zscore_outliers",
        "q_weekly_growth", "q_gap_fill", "q_abtest", "q_entropy",
        "q_lag_features", "q_scd2", "q_edit_distance",
        "q_embed_centroid", "q_vector_quantize", "q_stratified_kfold",
    ):
        assert not uses_python_udf(_q(spark, name)), f"{name} crossed into Python"


def test_kfold_prunes_wide_text_column(spark):
    # fold assignment reads only (doc_id, lang) — the wide text bytes
    # must never leave the scan
    schemas = read_schema_columns(_q(spark, "q_stratified_kfold"))
    assert schemas and all("text" not in cols for cols in schemas)


def test_tpch_q3_broadcasts_and_takeordered(spark):
    from team_02_spark.plans import explain_str

    df = _q(spark, "q_tpch_q3ish")
    assert has_broadcast_join(df)
    assert "TakeOrderedAndProject" in explain_str(df)
    assert shuffle_count(df) <= 1


def test_newest_lanes_stay_jvm_side(spark):
    for name in (
        "q_winsorize", "q_pmi_bigrams", "q_quantile_normalize",
        "q_rfm", "q_market_basket", "q_pareto", "q_doc_stats", "q_dau",
        "q_keyword_tfidf", "q_mad_outliers", "q_dedup_keep_best",
        "q_trend", "q_forecast_eval", "q_key_skew",
        "q_dup_rate_by_source", "q_char_ngrams", "q_tpch_q3ish",
        "q_schema_drift_union",
    ):
        assert not uses_python_udf(_q(spark, name)), f"{name} crossed into Python"


def test_skew_and_ngram_topk_never_full_sort(spark):
    from team_02_spark.plans import explain_str

    for name in ("q_key_skew", "q_char_ngrams"):
        assert "TakeOrderedAndProject" in explain_str(_q(spark, name)), name


def test_winsorize_and_mad_broadcast_bounds(spark):
    # per-group bounds/medians are |alphabet|-sized → must broadcast
    for name in ("q_winsorize", "q_mad_outliers"):
        assert has_broadcast_join(_q(spark, name)), name


def test_doc_stats_is_map_only(spark):
    assert shuffle_count(_q(spark, "q_doc_stats")) == 0


def test_sequence_lanes_shuffle_budget(spark):
    # one user_id exchange for the window chain; the only other
    # exchange is the inherent final aggregate
    assert shuffle_count(_q(spark, "q_multistep_funnel")) <= 2
    assert shuffle_count(_q(spark, "q_path_analysis")) <= 2
    for name in ("q_multistep_funnel", "q_path_analysis"):
        assert not uses_python_udf(_q(spark, name))


# ------------------------------------------------- round-2 lanes


def test_tpch_tail_broadcasts_and_shuffle_budget(spark):
    """Every round-2 TPC-H tail shape keeps dims broadcast and at most
    two shuffles (the aggregation, plus at most one decorrelated
    subquery / second-level agg)."""
    for name in (
        "q_tpch_q4ish", "q_tpch_q7ish", "q_tpch_q8ish", "q_tpch_q13ish",
        "q_tpch_q14ish", "q_tpch_q15ish", "q_tpch_q17ish", "q_tpch_q18ish",
        "q_tpch_q19ish", "q_tpch_q22ish",
    ):
        df = _q(spark, name)
        assert shuffle_count(df) <= 2, name
        assert has_broadcast_join(df), name
        assert not uses_python_udf(df), name


def test_llm_pipeline_map_only_lanes(spark):
    """Chunking and source mixing compose with the scan: ZERO
    shuffles — at 100 TB these are free riders on the read."""
    assert shuffle_count(_q(spark, "q_chunk_text")) == 0
    assert shuffle_count(_q(spark, "q_source_mix")) == 0
    for name in ("q_chunk_text", "q_source_mix"):
        assert not uses_python_udf(_q(spark, name))


def test_timeseries_single_user_exchange(spark):
    """Rolling median / EWMA: the whole per-user frame pipeline rides
    ONE hashpartitioning(user_id) exchange."""
    assert shuffle_count(_q(spark, "q_rolling_median")) == 1
    assert shuffle_count(_q(spark, "q_ewma")) == 1
    # OHLC: window tag + bar aggregation (different grouping key)
    assert shuffle_count(_q(spark, "q_ohlc_bars")) <= 2


def test_graph_lane_plans(spark):
    """Degree histogram: distinct-pair shuffle + two tiny aggs, orders
    broadcast. PageRank: joins stay JVM-side, no Python."""
    deg = _q(spark, "q_graph_degree")
    assert shuffle_count(deg) <= 3
    assert has_broadcast_join(deg)
    assert not uses_python_udf(_q(spark, "q_pagerank"))


def test_vocab_coverage_broadcasts_vocab(spark):
    """The top-K vocab must broadcast back onto the token stream —
    the token table is corpus-scale, the vocab is K rows."""
    df = _q(spark, "q_vocab_coverage")
    assert has_broadcast_join(df)
    assert not uses_python_udf(df)


def test_hybrid_lane_plans(spark):
    """RRF fusion: each lane's top-k must be TakeOrderedAndProject
    (never a global sort of the full corpus), everything JVM-side.
    The attribution range join must never be a nested-loop/cartesian
    (that's the entire point of binned_range_join)."""
    from team_02_spark.plans import explain_str

    rrf = _q(spark, "q_rrf_hybrid")
    assert "TakeOrderedAndProject" in explain_str(rrf)
    assert not uses_python_udf(rrf)

    attr = _q(spark, "q_window_attribution")
    plan = explain_str(attr)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert not uses_python_udf(attr)

    # expectations: per-table rules share one aggregate pass — the
    # lineitem branch contributes exactly one scan of lineitem
    exp = explain_str(_q(spark, "q_expectations"))
    assert exp.count("lineitem.parquet") <= 1 or exp.count("lineitem") <= 2
    assert not uses_python_udf(_q(spark, "q_expectations"))


# ------------------------------------------------- round-3 lanes


def test_round3_lane_plans(spark):
    """LM scoring: everything JVM-side, bounded shuffle budget (count
    aggregates + scoring joins + final doc agg). Temperature mix: the
    only shuffles are the tiny per-source aggregates — the row gate
    itself is a map. Retrieval metrics: probe-window only. All hints
    are on fixed-size frames (1-row totals, per-source rates, probe
    batches), never on the corpus."""
    from team_02_spark.plans import forced_broadcast_hint_count

    lm = _q(spark, "q_lm_perplexity")
    assert not uses_python_udf(lm)
    assert shuffle_count(lm) <= 5

    mix = _q(spark, "q_temperature_mix")
    assert not uses_python_udf(mix)
    assert shuffle_count(mix) <= 3
    assert forced_broadcast_hint_count(mix) <= 2  # 1-row tot + rates

    met = _q(spark, "q_retrieval_metrics")
    assert not uses_python_udf(met)
    assert shuffle_count(met) <= 3


def test_per_group_topk_uses_window_group_limit(spark):
    """Per-group top-k (rank <= k over a window) must show
    WindowGroupLimit in the plan: Spark 3.5+ pushes the k-limit into
    the window sort, so each shuffle partition keeps a k-sized heap
    per group instead of fully sorting every group — the property
    that makes window-based top-k safe on 100 TB groups."""
    import contextlib
    import io

    from team_02_spark.queries import QUERIES

    for key in ("q_window_rank", "q_knn_topk"):
        df = QUERIES[key].fn(spark, "/root/testdata/sf0.001")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        assert "WindowGroupLimit" in buf.getvalue(), key


def test_variant_props_single_exchange_jvm_only(spark):
    """The VARIANT lane must stay a one-shuffle JVM aggregate: parse +
    typed extraction next to the reader, no Python stage, and the scan
    reads only the two columns it needs."""
    df = _q(spark, "q_variant_props")
    assert shuffle_count(df) == 1
    assert not uses_python_udf(df)
    schemas = read_schema_columns(df)
    assert schemas and all(set(c) <= {"event_type", "props"} for c in schemas)


def test_date_spine_fill_broadcasts_the_spine(spark):
    """The recursive spine is constant-sized (90 rows) — it must be
    the broadcast side of the left join, and the fact side one agg
    exchange; recursion must never become a shuffle per iteration."""
    df = _q(spark, "q_date_spine_fill")
    assert has_broadcast_join(df)
    assert shuffle_count(df) <= 1
    assert not uses_python_udf(df)


def test_dsir_select_stays_jvm_side(spark):
    """DSIR is counts + logs — all JVM expressions; a Python stage
    sneaking into the per-token path would be the 100 TB regression."""
    df = _q(spark, "q_dsir_select")
    assert not uses_python_udf(df)


def test_component_split_reuses_checkpointed_closure(spark):
    """Doubled-lineage guard (r4 plan audit): q_component_split's
    final plan must consume the CHECKPOINTED component labels, not
    re-derive the pair-generation subtree per consumer — bounded
    shuffle count is the tell (the regression showed up as 31)."""
    df = _q(spark, "q_component_split")
    assert shuffle_count(df) <= 4


def test_metric_lanes_single_corpus_pass(spark):
    """q_source_overlap / q_ngram_dup_rate collapse the corpus to a
    vocab-sized checkpointed table FIRST; their final plans must not
    contain more than one un-checkpointed corpus scan each (the r4
    audit found 4 and 2 respectively before the restructure)."""
    from team_02_spark.plans import explain_str

    for name, max_scans in (("q_source_overlap", 1), ("q_ngram_dup_rate", 1)):
        text = explain_str(_q(spark, name))
        n_scans = text.count("Scan parquet")
        assert n_scans <= max_scans, (name, n_scans)


def test_round6_lane_plans(spark):
    """Round-6 lanes keep their scale shapes: no Python stages in any
    of them (all pure Column algebra), the CMS probe joins a
    parameter-bounded sketch via broadcast, and the ExactSubstr lane
    scans the corpus a bounded number of times (gram pass + stats
    join-back), never pairwise."""
    for name in ("q_dedup_substring", "q_cms_topk", "q_join_size_est",
                 "q_max_open_orders", "q_event_transitions",
                 "q_linreg_group", "q_pr_curve", "q_zipf_fit",
                 "q_anomaly_zscore", "q_seasonal_index",
                 "q_weighted_median"):
        assert not uses_python_udf(_q(spark, name)), name
    assert has_broadcast_join(_q(spark, "q_cms_topk"))
    assert has_broadcast_join(_q(spark, "q_pr_curve"))


def test_linreg_single_aggregation_pass(spark):
    """Closed-form OLS must cost exactly one grouped aggregate over
    the fact table: one scan, one shuffle."""
    from team_02_spark.plans import explain_str

    df = _q(spark, "q_linreg_group")
    # one physical scan node (formatted explain prints each node once
    # in the tree and once in the detail list -> count locations)
    assert explain_str(df).count("Location: InMemoryFileIndex") == 1
    assert shuffle_count(df) <= 1


def test_sweepline_orders_only_calendar_rows(spark):
    """q_max_open_orders' single-partition window must sit above the
    per-date aggregate (calendar-sized input), not above the fact
    scan: the plan has an aggregate between every scan and the
    window sort."""
    from team_02_spark.plans import explain_str

    text = explain_str(_q(spark, "q_max_open_orders"))
    # the global window sort appears after (above) a HashAggregate in
    # the plan tree — crude but effective: the window's Sort node must
    # not be adjacent to a Scan
    assert "Window" in text
    win = text.index("Window")
    assert "HashAggregate" in text[win:], "window runs on unaggregated rows"


def test_stats_lane_plans(spark):
    """Round-6b statistical lanes: everything JVM-side; readability is
    a pure map (zero exchanges); the rest stay inside small fixed
    shuffle budgets (keyed window/agg chains, vocab-sized LM count
    tables — never a corpus self-join)."""
    budgets = {
        "q_readability": 0,
        "q_interpurchase": 1,
        "q_gaps_islands": 2,
        "q_benford": 2,
        "q_hhi": 2,
        "q_rank_corr": 2,
        "q_chi_square": 2,
        "q_mode_per_key": 2,
        "q_churn_rate": 3,
        "q_autocorr": 2,
        "q_bigram_lm": 2,
        "q_fuzzy_join": 2,
        "q_twap": 2,
        "q_heaps_law": 2,
        "q_new_vs_returning": 3,
        "q_funnel_timing": 2,
        "q_activity_heatmap": 2,
        "q_lorenz_deciles": 2,
        "q_feature_hash": 1,
        "q_rolling_wau": 3,
        "q_id_gaps": 3,
        "q_peaks": 2,
        "q_max_drawdown": 2,
        "q_growth_accounting": 3,
        "q_same_day_orders": 1,
        "q_price_spread": 1,
        "q_assoc_rules": 5,
        "q_mix_shift": 3,
        "q_group_median": 1,
        "q_rank_movers": 3,
        "q_skyline": 4,
        "q_decile_lift": 1,
        "q_conversion_horizons": 2,
    }
    for name, budget in budgets.items():
        df = _q(spark, name)
        assert shuffle_count(df) <= budget, f"{name} over shuffle budget"
        assert not uses_python_udf(df), f"{name} crossed into Python"


def test_r7_lane_plans(spark):
    """Round-7 lanes: small fixed shuffle budgets; JVM-only except the
    deliberate Python seams (cogroup applyInPandas, the fake-codec
    featurizer in the cross-modal lane)."""
    budgets = {
        "q_qualify_topn": 1,
        "q_lateral_outer": 0,
        "q_null_safe_join": 2,
        "q_multi_distinct": 2,
        "q_recursive_cte": 2,
        "q_orc_roundtrip": 0,
        "q_partition_pruning": 0,
        "q_sample_systematic": 1,
        "q_moments": 1,
        "q_business_days": 2,
        "q_twostage_agg": 2,
        "q_quantile_bucket_join": 3,
        "q_rolling_corr": 2,
        "q_zorder_scan": 0,
        "q_kl_drift": 2,
    }
    for name, budget in budgets.items():
        df = _q(spark, name)
        assert shuffle_count(df) <= budget, f"{name} over shuffle budget"
        assert not uses_python_udf(df), f"{name} crossed into Python"
    # the two intentional Python seams still honor their shuffle budget
    for name, budget in {"q_cogroup_pandas": 2, "q_crossmodal_knn": 2}.items():
        assert shuffle_count(_q(spark, name)) <= budget, f"{name} shuffles"


def test_partition_pruned_scan(spark):
    """q_partition_pruning's read must prune at the DIRECTORY level:
    the scan carries a PartitionFilters entry on event_type (no data
    files of the other four types are touched at any scale)."""
    text = explain_str(_q(spark, "q_partition_pruning"))
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    assert m and "event_type" in m.group(1), text[:800]


def test_twostage_agg_is_two_exchanges(spark):
    """The salted aggregate must be exactly two narrow exchanges —
    (key, salt) then key — never a single skew-prone one being
    'optimized' back in."""
    assert shuffle_count(_q(spark, "q_twostage_agg")) == 2


def test_r7_tail_lane_plans(spark):
    """Round-7 window-tail lanes: JVM-only, small fixed shuffle
    budgets."""
    budgets = {
        "q_except_all": 2,
        "q_intersect_all": 2,
        "q_percent_of_total": 3,
        "q_yoy_growth": 2,
        "q_iqr_outliers": 2,
        "q_topk_ties": 1,
        "q_corr_matrix": 1,
        "q_nth_value": 2,
    }
    for name, budget in budgets.items():
        df = _q(spark, name)
        assert shuffle_count(df) <= budget, f"{name} over shuffle budget"
        assert not uses_python_udf(df), f"{name} crossed into Python"


def test_r8_lane_plans(spark):
    """Round-8 lanes: JVM-only, fixed shuffle budgets. The salted
    interval union costs TWO exchanges total — the (key, bucket)
    window partitioning is reused by the stage-1 island aggregate, so
    salting adds only one exchange over the plain sweep's key
    shuffle. q_triangles_approx is the exact census (11) plus one
    aggregate on the unsampled edge total; the md5 gate itself is a
    map-side filter (zero added exchanges on the census path)."""
    budgets = {
        "q_interval_coverage_salted": 2,
        "q_triangles_approx": 12,
    }
    for name, budget in budgets.items():
        df = _q(spark, name)
        assert shuffle_count(df) <= budget, f"{name} over shuffle budget"
        assert not uses_python_udf(df), f"{name} crossed into Python"


def test_spark_infers_partial_window_group_limit(spark):
    """r13 finding pin (SCALING.md "partial_topk vs
    InferWindowGroupLimit"): Spark 4 inserts a map-side
    `WindowGroupLimit ... Partial` below the Exchange for the plain
    row_number + adjacent literal filter pattern — the built-in twin
    of the explicit partial_topk cut. The repo KEEPS the explicit cut
    in the ANN lanes (the rule is pattern-sensitive), but the
    documented overlap rests on this rule firing; if a Spark upgrade
    reshapes it, this test trips and the SCALING.md note (and the
    option of dropping the explicit cut) must be re-evaluated."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        (F.col("id") % 7).alias("g"), F.col("id").alias("v")
    )
    w = Window.partitionBy("g").orderBy(F.desc("v"))
    ranked = df.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 3)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan, (
        "InferWindowGroupLimit no longer inserts the map-side partial "
        "rank — re-read SCALING.md r13 'partial_topk vs "
        "InferWindowGroupLimit' before trusting the built-in bound"
    )
    assert "Final" in plan
