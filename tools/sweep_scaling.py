"""Scaling sweep beyond the bench headline set: time a list of registry
queries at two scale-factor dirs back-to-back and report per-query
scaling factors.

bench.py freezes the same 17 headline queries across rounds for
comparability; this tool answers the complementary question — does the
REST of the surface (the LSH dedup family, sketches, grouping sets,
sessionization, enumeration) also scale sub-linearly? Used for the round-4
sf0.1-vs-sf1 study (NOTES.md); /tmp/sf1 comes from tools/scale_testdata.py.

A committed per-query sf1 baseline (SF1_BASELINE.json, written with
``--freeze-baseline``) turns the sweep into a regression gate: every
measured big-dir time is diffed against the baseline and drift beyond
DRIFT_FLAG (1.5× — above this host's documented ~2×-total / per-query
steady-state noise for the swept, multi-second queries) is flagged in the
output and the exit code. A future scale regression is then caught by a
diff, not by re-reading NOTES (VERDICT r4 #6).

Usage: python tools/sweep_scaling.py [small_dir] [big_dir] [query ...]
       python tools/sweep_scaling.py --freeze-baseline [small_dir] [big_dir]
       python tools/sweep_scaling.py --freeze-merge [small] [big] [query ...]
         (merge the swept names into the existing baseline — for adding
          new queries without resetting every other frozen number)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stock_market_etl_pipeline_spark import registry  # noqa: E402
from stock_market_etl_pipeline_spark.obs import profile  # noqa: E402
from stock_market_etl_pipeline_spark.session import get_spark  # noqa: E402

DEFAULT_QUERIES = [
    # LLM / dedup / similarity scale paths
    "dedup_ngram_jaccard",
    "dedup_jaccard_lsh_verified",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_edit_distance",
    "dedup_incremental",
    "boilerplate_ngram_coverage",
    "token_frequencies",
    "doc_quality_score",
    "doc_repetition_stats",
    "source_temperature_mix",
    "global_doc_ids",
    "sequence_packing",
    "embedding_near_pairs_lsh",
    "embedding_near_pairs_lsh_hi",
    "ann_lsh_topk",
    "sketch_distinct_rollup_merge",
    "sketch_price_quantiles",
    "theta_customer_set_algebra",
    "customer_priority_set_algebra",
    "enriched_volume_approx_quartiles",
    "token_cooccurrence",
    "dedup_prefix_containment",
    "dedup_incremental_near",
    "dedup_shared_spans",
    "event_paths_top",
    "atr_14",
    "donchian_20",
    "obv",
    "stochastic_14",
    # analytics beyond the headline set
    "session_window_stats",
    "event_funnel",
    "user_retention_cohorts",
    "revenue_grouping_sets",
    "nation_trade_balance",
    "rfm_segments",
    "market_share_by_year",
    "errors_in_sessions",
    "cumulative_active_users",
    "quarterly_close_pivot",
    # round-5 continuation additions
    "macd_12_26",
    "underwater_streaks",
    "keltner_channels",
    "volume_profile",
    "small_quantity_order_revenue",
    "large_volume_customers",
    "customers_without_urgent_orders",
    "forecast_revenue_change",
    "promo_revenue_share",
    "unshipped_order_revenue",
    "local_supplier_revenue",
    "returned_item_customers",
    "late_shipping_priority_counts",
    "event_transition_matrix",
    "inter_event_gaps",
    "label_centroids",
    "vocabulary_growth",
    "token_bigrams",
    "dedup_signal_agreement",
    "dedup_survivorship",
    "lang_id_confusion",
    "near_dup_rate_curve",
    "rolling_active_users",
    "sketch_rolling_active_users",
    "enriched_features_skew_safe",
    "rolling_beta_20",
    "rolling_corr_20",
    # round-5 second-continuation additions
    "nation_pair_trade",
    "product_profit_by_nation_year",
    "important_parts_value",
    "top_supplier_revenue",
    "supplier_count_by_part_attrs",
    "disjunctive_band_revenue",
    "min_cost_supplier_per_part",
    "sole_last_supplier_orders",
    "williams_r_14",
    "roc_12",
    "cci_20",
    "aroon_25",
    "robust_price_anomalies",
    "source_fingerprint_overlap",
    "doc_bigram_surprisal",
    "label_centroid_distances",
    "dau_mau_stickiness",
    "dominant_part_suppliers",
    "clv_cohort_revenue",
    "contamination_ngram_coverage",
    # round-5 third-continuation additions
    "priority_sample_docs",
    "tfidf_shingle_pairs",
    "embedding_quantized_topk",
    # round-5 fourth-session additions
    "mfi_14",
    "force_index_13",
    "ichimoku_cloud",
    "purchase_attribution",
    "signup_to_purchase_lag",
    "abc_revenue_classes",
    "new_vs_returning_revenue",
    "balanced_shards",
    "embedding_hadamard_projection",
    # round-5 fifth-session additions
    "cmf_20",
    "ultimate_oscillator",
    "dmi_14",
    "vortex_14",
    "pivot_points",
    "doc_novelty_fraction",
    "label_embedding_outliers",
    "event_burst_days",
    "peak_concurrency_by_day",
    "sketch_token_counts",
    # round-5 sixth-session additions
    "part_pagerank",
    "discount_band_revenue",
    "day_over_day_user_overlap",
    "hour_of_week_heatmap",
    "lang_trigram_similarity",
    # round-5 seventh-session additions
    "gini_revenue_concentration",
    "hhi_supplier_concentration",
    "price_change_acf",
    "session_bounce_rate",
    "dedup_containment",
    "quality_filter_funnel",
    "lorenz_revenue_deciles",
    "repeat_order_rate_by_nation",
    "first_digit_distribution",
    "order_gap_percentiles",
    "minhash_band_calibration",
    "symbol_correlation_matrix",
    "monthly_seasonality_index",
    "volume_move_correlation",
    "dedup_cross_source_clusters",
    "minhash_estimate_calibration",
    "gap_fill_interpolated",
    # round-6: headline movers pinned after the r5 +41%/+20%/+14% bench
    # wobble (plan rows unchanged — pinning here makes any REAL drift a
    # gate failure instead of a judgment call)
    "dedup_minhash_lsh",
    "trading_signals",
    "corpus_prep",
    "customer_order_distribution",
    "linear_trend_forecast",
    "part_triangle_counts",
    "systematic_weighted_sample",
    "ppo_12_26",
    "trix_15",
    "lang_source_chisq",
    "ann_pq_topk",
    "spearman_volume_move",
    "corpus_datacard",
    "bootstrap_order_value_ci",
    "part_association_rules",
    "ann_ivf_pq_topk",
    # round 8
    "heikin_ashi",
    "momentum_decile_backtest",
    "user_lifetime_survival",
    "session_overlap_counts",
    "token_fertility_by_lang",
    "open_order_backlog",
    "theil_sen_trend",
    "daily_event_ewma",
    "nation_market_coverage",
    "session_type_cooccurrence",
    "price_gap_events",
    "quantity_distribution",
]


def time_query(spark, name: str, fn, sf_dir: str) -> float:
    """Min wall of two profiled runs (build + noop-sink write)."""
    return min(
        profile(spark, name, lambda: fn(spark, sf_dir))["wall_s"]
        for _ in range(2)
    )


BASELINE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "SF1_BASELINE.json",
)
DRIFT_FLAG = 1.5


def main() -> None:
    args = [
        a for a in sys.argv[1:]
        if a not in ("--freeze-baseline", "--freeze-merge")
    ]
    freeze = "--freeze-baseline" in sys.argv[1:]
    freeze_merge = "--freeze-merge" in sys.argv[1:]
    small = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
    big = args[1] if len(args) > 1 else "/tmp/sf1"
    names = args[2:] or DEFAULT_QUERIES

    spark = get_spark("sweep")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    # warm codegen/JVM on one mid-weight query
    qs["token_frequencies"](spark, small).write.format("noop").mode(
        "overwrite"
    ).save()

    out = {}
    for n in names:
        if n not in qs:
            print(f"?? unknown query {n}", file=sys.stderr)
            continue
        t_small = time_query(spark, n, qs[n], small)
        t_big = time_query(spark, n, qs[n], big)
        out[n] = {
            "small_s": t_small,
            "big_s": t_big,
            "x": round(t_big / t_small, 2) if t_small > 0 else None,
        }
        print(
            f"{n:32s} {t_small:8.3f} {t_big:8.3f}  x{out[n]['x']}",
            file=sys.stderr,
        )

    drift_flags = []
    if freeze or freeze_merge:
        frozen_queries = {n: v["big_s"] for n, v in out.items()}
        if freeze_merge and os.path.exists(BASELINE_PATH):
            # merge mode: extend the committed baseline with the swept
            # names only (a full overwrite would silently reset every
            # OTHER query's baseline to whatever this host measures now)
            with open(BASELINE_PATH) as f:
                prior = json.load(f)
            if prior.get("big") == big:
                merged = dict(prior["frozen_queries"])
                merged.update(frozen_queries)
                frozen_queries = merged
        baseline = {"big": big, "frozen_queries": frozen_queries}
        with open(BASELINE_PATH, "w") as f:
            json.dump(baseline, f, indent=1, sort_keys=True)
        print(
            f"froze {len(frozen_queries)} baselines -> {BASELINE_PATH}",
            file=sys.stderr,
        )
    elif os.path.exists(BASELINE_PATH):
        with open(BASELINE_PATH) as f:
            baseline = json.load(f)
        # the baseline freezes timings for ONE big dir; comparing a
        # different scale against it would flag bogus "drift"
        frozen = (
            baseline["frozen_queries"] if baseline.get("big") == big else {}
        )
        for n, v in out.items():
            base = frozen.get(n)
            if base:
                drift = round(v["big_s"] / base, 2)
                out[n]["baseline_s"] = base
                out[n]["drift"] = drift
                if drift > DRIFT_FLAG:
                    drift_flags.append(n)
                    print(
                        f"DRIFT {n}: {v['big_s']}s vs baseline {base}s "
                        f"(x{drift} > {DRIFT_FLAG})",
                        file=sys.stderr,
                    )
    print(json.dumps(
        {"small": small, "big": big, "queries": out,
         "drift_flags": drift_flags}
    ))
    if drift_flags:
        sys.exit(1)


if __name__ == "__main__":
    main()
