#!/usr/bin/env python
"""Plan evidence at $SPARK_GRAFT_SF_DIR, in two modes.

Default: render PLANS.md, the executed physical-plan summary of every
bench headline query — shuffle counts, join strategies, top-k physical
ops, and per-scan pushdown/pruning evidence. This is the ".explain()
and iterate" loop frozen as a reviewable artifact: regenerate after
plan-affecting changes with

    python tools/dump_plans.py > PLANS.md

Per query: write ``explain("formatted")`` plus the AQE-final executed
plan of each named query to DIR/<query>_<S>.txt

    python tools/dump_plans.py --out plans/r14 --suffix after QUERY...

Run it once in a checkout of the commit before a plan change (suffix
``before``) and once after it (suffix ``after``), so plan claims can be
checked against the two files.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Non-headline queries whose plan shape is load-bearing at scale:
# round-3 TPC-H deep shapes + training-data prep.
EXTRA = [
    "q2_min_cost_supplier",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_value",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q19_disjunctive_predicates",
    "q21_waiting_supplier",
    "text_decontaminate",
    "text_repetition_stats",
    "sample_stratified_lang",
    "sample_pack_sequences",
    "events_view_click_join",
    "q20_potential_promotion",
    "text_segment_dedup",
    "events_daily_gapfill",
    "ann_cosine_topk_pq",
    # round 5
    "profile_documents",
    "key_skew_events",
    "dedup_incremental_lsh",
    "text_span_dedup_stats",
    "heavy_hitter_tokens",
    "bloom_prefilter_join_revenue",
    "text_trigram_commonness",
    "curation_source_cap",
    "incremental_mv_orders",
    "incremental_distinct_users",
    "events_multi_touch_attribution",
    "text_phrase_search",
    "doc_similarity_tfidf",
    "sample_token_budget_cut",
    "curation_funnel_report",
    "training_corpus_build",
    "text_collocations",
    "corpus_snapshot_diff",
    "text_chunk_documents",
    "sample_token_mask",
    "sample_contrastive_negatives",
    # round 5, second half: graph / exact similarity joins / ML prep
    "graph_pagerank_partsupp",
    "graph_label_propagation",
    "dedup_prefix_filter",
    "dedup_containment",
    "text_search_tfidf",
    "sketch_count_min_words",
    "text_unigram_surprisal",
    "join_salted_user_enrich",
    "events_quantile_table",
    # round 9: the other two grouped-exact-selection consumers
    "events_winsorized",
    "events_mad_outliers",
    "features_hash_encoded",
    "features_target_encode_loo",
    "embedding_int8_quantize",
    "sample_time_split_events",
    "events_user_value_outliers",
    "text_infer_stopwords",
    "privacy_k_anonymity",
    "text_bigram_surprisal",
    "graph_triangle_census",
    "graph_pagerank_weighted",
    "orders_open_backlog_daily",
    "events_cumulative_new_users",
    "corpus_zipf_fit",
    "corpus_heaps_growth",
    "corpus_drift_tokens",
    "dedup_fuzzy_levenshtein",
    "parts_abc_classification",
    "graph_kcore_peel",
    "events_ab_test_lift",
    "sample_holdout_users",
    "text_search_bm25",
    "graph_bfs_reachability",
    "recs_item_item_cosine",
    "events_daily_count_anomalies",
    "events_user_entropy",
    "text_readability_scores",
    "semantics_null_suite",
    "events_time_weighted_avg",
    "events_user_max_drawdown",
    # round 5, session 3: time-series kernels + sequence family
    "events_ewma_value",
    "events_autocorr_lag1",
    "events_cusum_drift",
    "orders_dow_seasonality",
    "lateral_top_orders_per_customer",
    "text_naive_bayes_langid",
    "graph_jaccard_suppliers",
    "asof_join_next_click",
    "events_linear_trend",
    "events_markov_transitions",
    "orders_gaps_islands",
    "events_mode_event_type",
    "events_skew_kurtosis",
    "cdc_apply_orders",
    "events_cumulative_distinct_types",
    "revenue_share_of_parent",
    "events_daily_interpolate",
    "cohort_value_curves",
    "scalar_regex_funcs",
    "orders_yoy_growth",
    "events_psi_drift",
    "events_benford_screen",
    "events_ks_test_ab",
    "events_mannwhitney_ab",
    "events_bootstrap_ci",
    "events_lateness_audit",
    "nation_revenue_sparklines",
    "orders_integrity_checksum",
    "events_feature_corr_matrix",
    "lineitem_weighted_median_price",
    "nation_revenue_hhi",
    "orders_survival_curve",
    "events_mutual_information",
    "orders_seasonal_decompose",
    "parts_xyz_variability",
    "graph_adamic_adar",
    "events_value_gini",
    "events_dow_hod_heatmap",
    "orders_repeat_purchase_curve",
    "lineitem_price_dispersion",
    "parts_skyline_price_size",
    "customer_spend_trend",
    "embedding_label_outliers",
    "trade_flow_matrix",
    "events_kl_user_vs_global",
    "documents_vocab_overlap_langs",
    "events_burstiness_index",
    "documents_length_lognormal_fit",
    "orders_ttm_revenue",
    # round 6: layout + relational sketches + CEP + PPS sampling
    "layout_zorder_key_events",
    "sketch_quantile_summary_events",
    "sketch_kmv_distinct_users",
    "sketch_ams_f2_users",
    "incremental_distinct_users_kmv",
    "events_pattern_match",
    "sample_pps_systematic_orders",
    "sketch_quantile_by_type_events",
    "events_rolling_distinct_kmv",
    "privacy_l_diversity",
    "sketch_kmv_jaccard_matrix",
    "spatial_grid_join_events",
    "events_theil_sen_trend",
    "events_rolling_median_value",
    "ml_eval_auc_events",
    "ml_eval_gains_table",
    "events_ccf_view_click",
    # round 7: the BIGINT-cents family (decimal-tax work, BASELINE.md §d)
    # + the round's new shapes
    "q1_pricing_summary_cents",
    "sketch_join_cardinality_events",
    "events_changepoint_value",
    "incremental_mv_join_pairs",
]


def dump_query_plans(spark, queries, names, out_dir, suffix) -> None:
    jvm = spark._jvm
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        if name not in queries:
            print(f"SKIP {name}: not registered")
            continue
        df = queries[name](spark, SF_DIR)
        formatted = jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # Execute so AQE re-planning settles (isFinalPlan=true), then
        # append the final plan — the initial formatted plan alone shows
        # only AQE's first guess at join strategies/partition counts.
        df.write.format("noop").mode("overwrite").save()
        final = df._jdf.queryExecution().executedPlan().toString()
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"== {name} @ {suffix} (sf dir: {SF_DIR}) ==\n")
            f.write("\n-- explain('formatted'), pre-execution --\n")
            f.write(formatted)
            f.write("\n-- AQE final executed plan (after noop write) --\n")
            f.write(final)
            f.write("\n")
        print(f"WROTE {path}")


def print_plans_md(spark, queries) -> None:
    import bench
    from wikipedia_data_pipeline_spark.plans import plan_summary

    print("# Physical-plan evidence (headline queries)")
    print()
    print(f"Generated by `tools/dump_plans.py` at `{SF_DIR}` — AQE final plans")
    print("(post-execution, so adaptive re-planning is settled).")
    print()
    print("| query | shuffles | broadcast joins | sort-merge joins | top-k op |")
    print("|---|---|---|---|---|")
    summaries = {}
    for name in bench.HEADLINE + EXTRA:
        ps = plan_summary(queries[name](spark, SF_DIR))
        summaries[name] = ps
        print(
            f"| {name} | {ps.n_shuffles} | {ps.n_broadcast_joins} |"
            f" {ps.n_sort_merge_joins} |"
            f" {'TakeOrderedAndProject' if ps.has_take_ordered else '—'} |"
        )
    print()
    print("## Scan-level pushdown / pruning")
    print()
    for name, ps in summaries.items():
        if not ps.scans:
            continue
        print(f"### {name}")
        print()
        for s in ps.scans:
            loc = s["location"].rsplit("/", 1)[-1].strip("]")
            cols = s["read_schema"].split("<", 1)[-1]
            cols_short = ", ".join(
                c.split(":")[0] for c in cols.rstrip(">").split(",") if c
            )
            print(f"- `{loc}`: reads [{cols_short}]")
            if s["pushed_filters"] and s["pushed_filters"] != "[]":
                print(f"  - pushed: `{s['pushed_filters']}`")
        print()


def main() -> None:
    ap = argparse.ArgumentParser(description="Dump query plans.")
    ap.add_argument("--out", help="per-query mode: directory to write")
    ap.add_argument("--suffix", help="per-query mode: file-name suffix")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.out and not (args.suffix and args.queries):
        ap.error("--out needs --suffix and at least one QUERY")
    if not args.out and (args.suffix or args.queries):
        ap.error("--suffix and QUERY need --out")

    from wikipedia_data_pipeline_spark import registry
    from wikipedia_data_pipeline_spark.session import get_spark

    spark = get_spark("plan-dump")
    queries = registry.spark_queries()
    if args.out:
        dump_query_plans(spark, queries, args.queries, args.out, args.suffix)
    else:
        print_plans_md(spark, queries)
    spark.stop()


if __name__ == "__main__":
    main()
