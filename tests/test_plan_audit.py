"""Fleet-wide physical-plan audit: every registered query's plan is
scanned for scale red flags. Individual plan-shape tests live in
test_plans.py; this is the safety net that catches a regression in ANY
query (e.g. a join silently degrading to a cartesian product after a
schema change).
"""

import contextlib
import io
import re

import pytest

from station_data_ingestion_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"

# Queries allowed to contain a broadcast nested-loop join:
# - sim_brute_topk intentionally cross-joins a <=5-row broadcast query
#   set against candidates (the brute-force baseline)
# - the scalar-subquery queries broadcast a ONE-ROW aggregate against the
#   scan (crossJoin(broadcast(agg)) -- how Spark itself executes scalar
#   subqueries; a 1-row BNLJ is a map-side constant attach, not a blowup)
# - ts_resample_ffill_hourly builds its dense gap-fill grid as
#   |event_types| x broadcast(hour sequence from a 1-row min/max agg):
#   bounded by the calendar, not the event count
CROSS_JOIN_OK = {
    "sim_brute_topk",
    "sim_hybrid_rrf_fusion",  # same 5-query broadcast shape as sim_brute_topk
    "subquery_above_avg_parts",
    "q11_important_stock_share",
    "q22_idle_rich_customers",
    "ts_resample_ffill_hourly",
    "text_tfidf_top_terms",  # corpus-size N: one-row count broadcast
    "ts_gap_fill_linear_interpolate",  # same dense-grid shape as ffill
    "pipeline_curriculum_phases",  # one-row token-total broadcast
    "graph_triangle_count_copurchase",  # one-row triangle-count broadcast
    "events_max_concurrent_sessions",  # one-row session-count broadcast
    "dq_key_skew_profile",  # one-row top10-mass broadcast
    "text_unigram_logprob",  # one-row corpus-token-total broadcast
    "events_rfm_segmentation",  # one-row max-ts + one-row medians broadcasts
    "events_time_decay_topk",  # one-row max-ts reference-instant broadcast
    "dq_psi_price_drift",  # one-row (ref_total, cur_total) broadcast
    "sim_bm25_topk",  # one-row (N, avgdl) corpus-statistics broadcast
    "sim_bm25_incremental_index",  # same one-row stats broadcast, from the MV
    "basket_association_rules",  # one-row basket-total broadcast
    "sim_pca_label_projection",  # one-row broadcast of the k components
    "ts_dow_deseasonalized_anomalies",  # one-row (mu, sd) moment broadcast
    "join_bloom_prefiltered_lineitems",  # one-row bloom-words broadcast:
    # the packed filter ships as a single array value (a list literal
    # would expand to a per-row CreateArray — measured 17x slower)
    "mixture_dsir_importance",  # one-row (Tt, Ts, V) smoothing-constants
    # broadcast against the vocabulary table
    "stats_ks_two_sample",  # one-row (n1, n2) totals broadcast over the
    # distinct-value ECDF frame
    "text_js_divergence_sources",  # one-row per-source token totals
    # broadcast against the vocabulary table
    "stats_theil_sen_slope",  # calendar-bounded pair frame: the daily
    # series is <=2.6k rows at ANY scale factor (TPC-H date span), so
    # the broadcast inequality self-join is a constant-size O(days^2)
    "stats_kendall_tau_daily",  # same calendar-bounded pair frame
    "ts_cusum_changepoint",  # one-row (n, total) broadcast over the
    # <=2.6k-row daily prefix-sum frame
    "stats_contingency_chi2_cramers_v",  # one-row (n, nr, nc) totals
    # broadcast over the R*C-row cell table
    "sim_matryoshka_prefix_recall",  # same 5-query broadcast cross as
    # sim_brute_topk, scored at two dimensionalities in one pass
    "mixture_temperature_reweight",  # one-row normalizer broadcast over
    # the per-source (20-row) weight table
    "text_bigram_kneser_ney",  # one-row distinct-bigram-total broadcast
    # against the bigram-type table
    "dq_freshness_lag_by_type",  # one-row corpus high-watermark broadcast
    # against the per-type maxima
    "stats_hill_tail_index",  # one-row tail-threshold broadcast over the
    # 500-row tail cut
    "events_burst_detection_minutes",  # one-row global-rate broadcast
    # over the per-minute counts
    "sim_nearest_centroid_confusion",  # label-cardinality-bounded
    # centroid-table broadcast cross (the classifier scores every
    # vector against each of the ~8 centroids by design)
    "stats_bootstrap_subsample_ci",  # one-row full-sample (n, mean)
    # broadcast attached to the one-row CI order-statistics frame
    "text_pmi_collocations",  # one-row corpus-token-total broadcast
    # against the frequent-bigram table
    "ts_conformal_interval_backtest",  # one-row q_hat order-statistic
    # broadcast over the test-window residuals
    "text_good_turing_smoothing",  # one-row corpus-token-total broadcast
    # over the <=6-row count-of-counts histogram
    "sample_neyman_allocation",  # one-row total-weight broadcast over
    # the 5-row per-stratum allocation table
    "stats_cem_att",  # one-row naive-difference broadcast attached to
    # the one-row matched-ATT aggregate
    "ml_roc_auc_exact",  # one-row (n1, n0) class-totals broadcast onto
    # the one-row rank-sum aggregate
    "ml_lift_gains_deciles",  # one-row (n, npos) corpus-totals broadcast
    # onto the ranked stream for decile assignment
    "stats_jackknife_ratio_se",  # one-row (n, sy, sx) totals broadcast
    # back over the scan: the inclusion-exclusion trick that makes all
    # n leave-one-out replicates ONE pass
    "ml_cv_stump_accuracy",  # 5-row fold-id broadcast cross onto the
    # value-cell histogram: the inclusion-exclusion trick that scans
    # the data ONCE for all folds instead of once per fold
    "ml_naive_bayes_lang_confusion",  # class-cardinality-bounded
    # (|langs| rows) prior/floor-constants broadcast cross: every test
    # doc scores against each class by design, same shape as
    # sim_nearest_centroid_confusion
    "stats_mood_median_test",  # one-row grand-median order-statistic
    # broadcast over the fact scan (the jackknife totals shape)
    "stats_hodges_lehmann_shift",  # calendar-bounded day-pair cross
    # (<=366 x 366 at any SF, the Theil-Sen/Kendall family) plus a
    # one-row target-rank broadcast over the difference frame
    "sim_ndcg_mrr_map_eval",  # same 5-query broadcast cross as
    # sim_brute_topk/sim_matryoshka_prefix_recall, scored once
    "sim_simplified_silhouette",  # label-cardinality-bounded centroid
    # broadcast cross (k x dim doubles), the nearest-centroid shape
    "graph_hits_hubs_authorities",  # one-row sum-normalizer broadcast
    # per HITS half-step (the PageRank meta-scalar shape)
    "stats_cochran_q_event_types",  # two one-row broadcasts: the global
    # per-pair mean threshold and the row-total squares scalar
    "stats_randomization_test_diff_means",  # one-row observed-gap
    # broadcast onto the 200-row replicate frame
    "pipeline_epoch_shard_assignment",  # one-row token-total broadcast
    # onto the 32-row shard-balance frame
    "events_funnel_time_to_convert_quantiles",  # one-row quantile-rank
    # broadcast over the distinct-latency histogram
    "stats_siegel_repeated_medians",  # calendar-bounded day-pair cross
    # (the Theil-Sen/Kendall family)
}

# Iterative/stateful queries that execute eagerly during plan
# construction (label propagation collects per-round convergence counts):
# their *returned* plan is audited, construction cost is their own test.
ALL_QUERIES = sorted(QUERIES)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


# Each query is built once for all the audits below: building is most of
# an audit's cost (explain is a small part), and every audit reads the
# same returned plan and schema.
_BUILT: dict[str, tuple] = {}


def _built(spark, name: str) -> tuple:
    """(formatted physical plan, output schema) of one registered query."""
    if name not in _BUILT:
        df = QUERIES[name].fn(spark, SF)
        _BUILT[name] = (_plan(df), df.schema)
    return _BUILT[name]


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_no_cartesian_or_nested_loop(spark, name):
    p = _built(spark, name)[0]
    assert "CartesianProduct" not in p, name
    if name not in CROSS_JOIN_OK:
        assert "BroadcastNestedLoopJoin" not in p, name


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_revenue",
        "q6_forecast_revenue",
        "q9_profit_by_nation_year",
    ],
)
def test_fact_scans_prune_columns(spark, name):
    """Headline fact queries must never read all lineitem columns.
    (Explicit name list: a prefix filter also matched lineitem-free
    queries, which made their cases vacuous.)"""
    p = _built(spark, name)[0]
    reads = [ln for ln in p.splitlines() if "ReadSchema" in ln and "lineitem" in ln]
    for ln in reads:
        # l_linenumber is never used by any registered query: seeing it
        # means column pruning broke
        assert "l_linenumber" not in ln, name


# Queries allowed an UNPARTITIONED window (global sort to one partition):
# - window_rank_dense_ntile: the query's semantic IS a global total
#   order (rank/ntile over the supplier dimension); ntile has no
#   two-phase distributed form. Every fact-table ranking in the registry
#   is partitioned, and global running sums go through
#   operators/prefix_sum.py instead.
GLOBAL_WINDOW_OK = {
    "window_rank_dense_ntile",
    # ts_autocorr_daily_revenue: the lag alignment is a global window by
    # SEMANTICS (one time series), but its input is the post-aggregation
    # daily series (thousands of rows), not the fact table
    "ts_autocorr_daily_revenue",
    # ts_seasonal_naive_backtest: same shape — lag-7 over the
    # post-aggregation daily series, never the fact table
    "ts_seasonal_naive_backtest",
    # ts_rolling_median_7d: 7-row trailing frame over the post-agg
    # daily series — same family as the autocorrelation series
    "ts_rolling_median_7d",
    # sort_pareto_frontier_parts: run-max over the per-price-BUCKET
    # maxima (~25 rows, bounded by the price range); every window over
    # raw parts is partitioned by bucket or price
    "sort_pareto_frontier_parts",
    # ts_conformal_interval_backtest: lag-7 + residual ranking over the
    # calendar-bounded post-aggregation daily series (<=365 rows)
    "ts_conformal_interval_backtest",
    # ml_lift_gains_deciles: the final cumulative-gains window runs over
    # the DECILE frame (10 rows by construction); the per-doc ranking
    # itself goes through operators/prefix_sum.py, never a global window
    "ml_lift_gains_deciles",
    # stats_wilcoxon_signed_rank: rank cumulation over the
    # post-aggregation daily-difference histogram (calendar-bounded)
    "stats_wilcoxon_signed_rank",
    # ts_granger_lite_orders: lag-1 alignment over the calendar-bounded
    # post-aggregation daily series
    "ts_granger_lite_orders",
    # stats_sprt_sequential_test: the LLR walk is cumulative over the
    # post-aggregation DAILY series (calendar-bounded, <=2.6k rows at
    # any SF), never the event fact table
    "stats_sprt_sequential_test",
    # stats_trimmed_winsorized_means: the offset window runs over the
    # per-GROUP totals frame (one row per order priority, bounded by
    # group cardinality); the value ranking itself is the distinct-value
    # frame through operators/prefix_sum.py
    "stats_trimmed_winsorized_means",
    # graph_hits_hubs_authorities: rank attach over the 10-row
    # TakeOrderedAndProject RESULT (the node-frame top-k itself is the
    # distributed orderBy+limit, never a global window)
    "graph_hits_hubs_authorities",
    # text_textrank_keywords: same shape — rank attach over the 20-row
    # TakeOrderedAndProject result
    "text_textrank_keywords",
    # stats_siegel_repeated_medians: the outer median ranks the <=2.4k
    # per-day medians (calendar-bounded frame); the inner median is
    # partitioned by day
    "stats_siegel_repeated_medians",
}

# windowspecdefinition(<first arg is a sort order>) == empty partition
# spec. Under-catches computed sort keys containing parens -- fine for a
# tripwire; the two real offenders it caught were plain-column sorts.
_GLOBAL_WIN = re.compile(r"windowspecdefinition\([^,)]+ (?:ASC|DESC)")


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_no_complex_output_types(spark, name):
    """The driver's canonicalizer (pandas sort_values over all columns)
    raises "unhashable type" on array/map/struct cells (r3:
    scalar_map_functions was the one red in the gate). No registered
    query may emit a complex-typed output column — reduce with
    array_join / element picks / to_json instead."""
    from pyspark.sql import types as T

    schema = _built(spark, name)[1]
    bad = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not bad, f"{name}: complex-typed output columns {bad}"


def test_complex_output_audit_catches_planted_array(spark):
    """The audit itself must red-flag an array-typed output column."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = spark.range(3).select(F.array(F.lit("a"), F.lit("b")).alias("xs"))
    flagged = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert flagged == ["xs"]


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_no_unpartitioned_window(spark, name):
    """A Window with no PARTITION BY moves the whole input to one
    partition -- the silent scale-killer WindowExec only warns about."""
    if name in GLOBAL_WINDOW_OK:
        pytest.skip("documented global-order semantic")
    p = _built(spark, name)[0]
    assert not _GLOBAL_WIN.search(p), name
