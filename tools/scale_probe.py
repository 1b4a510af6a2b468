#!/usr/bin/env python
"""100x-replica scale probe with DuckDB twin timings (round-9 form;
r8 verdict items #3 and #5).

Runs the headline family, the round-6/7 novelties, the streaming batch
twins, and the three round-9 grouped-selection quantile consumers on
the 100x replica of the driver's sf0.1 data (~sf10 facts: 60M
lineitem, 10M events), best-of-3 warm each, and times the DuckDB
oracle twin of every oracle-bearing query on the same replica, so the
micro-aggregate family has a ratio at a scale where the scheduling
floor is fully amortized. Also re-establishes the controlled
decimal-tax figure (q1 dec_sum vs BIGINT-cents) the r8 bench artifact
clouded.

The replaced or rejected formulations this probe once timed beside
their registered queries (window baselines, boundary-selection ntile
variants, the multipass KMV and two-pass truncation-recall forms) and
its one-off join A/Bs (skew mitigation, bucketed layout) are decided:
each is a ``SCALE_PROBE_rNN:<name>`` row of artifacts/ab/DECISIONS.md.

DuckDB twins run through ``bench.run_duckdb`` (best-of-2) in a child
process; one that exceeds the per-query budget is recorded as
"timeout" (the brute-force-oracle twins are DELIBERATELY quadratic;
timing them measures oracle design, not engines — same exclusion rule
as bench.py).

Usage: python tools/scale_probe.py OUT_JSON

Results merge into OUT_JSON when it exists. SPARK_GRAFT_PROBE_ONLY=a,b
re-probes only the named queries (and ``floor_adjusted`` when listed),
carrying the other timings over from OUT_JSON.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC_SF = "/root/testdata/sf0.1"
DUCK_BUDGET_S = 120.0

PROBE = [
    # headline family (comparable to SCALE_PROBE_r06)
    "q1_pricing_summary",
    "q1_pricing_summary_cents",   # the dec_sum-vs-cents A/B at 100x
    "q3_shipping_priority",
    "q5_region_revenue",
    "events_hourly_rollup",
    "sessionization",
    "window_rank_orders",
    "dedup_exact",
    "parts_abc_classification",
    "lineitem_exact_percentiles",
    "customer_rfm_segments",
    "events_lateness_audit",
    "revenue_concentration_deciles",
    "text_quality_scores",
    "tfidf_full",
    "dedup_minhash_lsh",
    # r6s2 novelties (verdict #4: 100x rows + plan note each)
    "spatial_grid_join_events",
    "events_rolling_median_value",
    "sketch_kmv_distinct_users",
    "sketch_kmv_jaccard_matrix",
    "events_rolling_distinct_kmv",
    "incremental_distinct_users_kmv",
    "sketch_quantile_summary_events",
    "sketch_ams_f2_users",
    "ml_eval_auc_events",
    "ml_eval_gains_table",
    "events_theil_sen_trend",
    "events_pattern_match",
    "sample_pps_systematic_orders",
    # r7 novelties (r8 verdict #3: 100x rows + DuckDB twins)
    "ml_eval_ndcg_events",
    "features_woe_binning",
    "events_changepoint_value",
    "sketch_join_cardinality_events",
    "incremental_mv_join_pairs",
    "orders_merkle_segments",
    # Streaming family: NOT probed here. The streaming_* queries run
    # their availableNow stream into a memory sink at CONSTRUCTION
    # time (streaming/pipeline.py), so the noop-write timing below
    # would measure only the sink read — and each best-of-3 iteration
    # would re-run a full 10M-event stateful stream (the file source
    # parallelizes by FILE, 4 files in the replica, so one such run
    # alone exceeded 15 min). Their exact batch equivalence is what
    # the oracle gate proves; the probe times the registered BATCH
    # twin of the interval join instead:
    "events_view_click_join",
    # r9: the three per-type quantile consumers moved to grouped exact
    # SELECTION this round
    "events_quantile_table",
    "events_winsorized",
    "events_mad_outliers",
    # r9 novelties: eval/privacy/sequential/mixing additions (100x rows
    # + DuckDB twins, same standing rule as the r6/r7 novelty blocks)
    "ml_eval_calibration_bins",
    "ml_eval_rater_kappa",
    "ml_eval_fairness_gaps",
    "ml_eval_conformal_threshold",
    "ml_eval_ips_value",
    "ml_eval_pass_at_k",
    "privacy_dp_release_counts",
    "events_sprt_ab",
    "curation_mixture_weights",
    # customer is a dimension (copied unchanged into the replica), so
    # the linkage block density stays REAL at 100x; embeddings shift
    # ids, so truncation-recall scores a 100x corpus against the same
    # 5 query vectors
    "linkage_customer_pairs",
    "ann_dim_truncation_recall",
    # r9 session-4 additions: BT rides a per-user self-join (user ids
    # shift per replica, so pair density stays real); Fleiss is a
    # single 1-row aggregate; distinct-n is two count-distinct aggs
    "ml_eval_bradley_terry",
    "ml_eval_fleiss_kappa",
    "text_distinct_ngrams",
    # winnowing/chao1 scan the 100x documents corpus; CUPED is the
    # per-user agg -> tiny-moments shape on 10M events
    "text_winnowing_shared_fingerprints",
    "corpus_chao1_richness",
    "ml_eval_cuped_ab",
    # RRF rides the BM25 + cosine stacks end-to-end
    "text_search_rrf_hybrid",
    # span-dedup rides the let-binding fix (shingle lambda)
    "text_span_dedup_stats",
    # delta-tokenize + vocab-merge refresh of the reference's idf table
    "tfidf_incremental_idf_refresh",
    # greedy facility-location coreset: k corpus scans vs broadcast pool
    "curation_coreset_facility_location",
    # Brier/Murphy decomposition: scan -> 10-bin agg + 1-row moments
    "ml_eval_brier_decomposition",
    # BH-FDR over per-type KS: windows over the collapsed value relation
    "stats_bh_fdr_screen",
    # McNemar paired-model test: scan -> 1-row aggregate
    "ml_eval_mcnemar_test",
    # r10 novelties (standing rule: 100x rows + DuckDB twins)
    "curation_dsir_importance_weights",
    "embedding_hamming_topk",
    "ml_eval_krippendorff_alpha",
    "stats_permutation_test_ab",
    "text_yule_k_diversity",
    "ml_eval_cochran_q",
    "curation_token_mixture_epochs",
    "graph_sssp_3hop",
    "multimodal_audio_vad_segments",
    "sample_gumbel_topk_docs",
    "multimodal_image_ahash_groups",
    "ml_eval_average_precision",
    "ml_eval_pinball_loss",
    "ml_eval_isotonic_calibration",
    "stats_tost_equivalence",
    "ml_eval_mrr",
    # r10 cents flips: agg-dominated shapes re-probed post-flip
    "q18_large_orders",
    "agg_grouping_sets",
    "join_range_periods",
    "events_daily_gapfill",
    "events_sliding_window",
    # r11: the registered bucketed-layout consumer (eager: run 1 pays
    # the one-time twin write, best-of-3 reads the post-write steady
    # state; compare against q18_large_orders directly above)
    "q18_bucketed_colocated",
    # r11 session 2: second bucketed consumer (one twin layout serves
    # every orderkey-keyed join; measured 2.42 -> 1.60 s vs
    # q3_shipping_priority, zero exchanges)
    "q3_bucketed_colocated",
    "q5_bucketed_colocated",
    # r11 session 2 novelties: the ones with fact-scale work
    "events_sax_symbols",
    "ml_eval_bleu_corpus",
    "ml_eval_rouge_n",
    "ml_eval_spearman_rho",
    "ml_eval_auc_delong_ci",
    "ml_eval_youden_j_threshold",
    "stats_cliffs_delta",
    "stats_logrank_test",
    "stats_mantel_haenszel",
    "privacy_t_closeness",
    "profiling_fd_violations",
    "sample_class_balanced_docs",
    "graph_hits_scores",
    "recs_catalog_coverage",
    "text_tokenizer_fertility",
    "dedup_cross_source_matrix",
    # r12: distinct-value-lineage members not yet probed (the other
    # three — delong/cliffs/logrank — are in the r11 block above);
    # all six now ride ordered_scan instead of unpartitioned windows
    "events_ks_test_ab",
    "events_mannwhitney_ab",
    "orders_survival_curve",
    # r12 session-2 novelties (standing rule: 100x rows + DuckDB twins)
    "stats_kruskal_wallis",
    "stats_cochran_armitage_trend",
    "orders_nelson_aalen_hazard",
    "sample_neyman_allocation",
    "embedding_cosine_pair_histogram",
    "stats_kendall_tau_b",
    "stats_jonckheere_terpstra",
    "ml_eval_regression_panel",
    "multimodal_image_luma_histogram",
    "dedup_doc_continuation",
    # r12 bucketed consumers on the user_id twin (eager; run 1 pays
    # the one-time twin write, best-of pays steady state)
    "sessionization_bucketed",
    "asof_join_last_view_bucketed",
    # r12 session-3 novelties
    "privacy_dp_median_release",
    "stats_effect_size_panel",
    "sample_mixture_temperature",
    "text_ngram_novelty_rate",
    # r12 session-4 nonparametric battery + extensions
    "stats_friedman_test",
    "stats_brown_forsythe",
    "stats_mood_median_test",
    "stats_wilcoxon_signed_rank",
    "stats_brunner_munzel",
    "stats_runs_test",
    "stats_ljung_box",
    "stats_durbin_watson",
    "stats_anderson_darling_2s",
    "stats_page_trend",
    "stats_ansari_bradley",
    "stats_hodges_lehmann",
    "events_hurst_rs",
    "sample_horvitz_thompson_counts",
    "dedup_connected_components",
    "ml_eval_chrf",
    # r12 session-5 novelties
    "stats_kendall_w",
    "stats_cvm_2s",
    "ml_eval_weighted_kappa",
    "ml_eval_macro_f1",
    "ml_eval_rbo_rankings",
    "ml_eval_wer",
    "sample_split_ks_uniformity",
    "privacy_randomized_response",
    # r12 session-6 novelties
    "text_good_turing_mass",
    "text_log_odds_sources",
    "text_hellinger_sources",
    "events_theil_inequality",
    "events_capture_recapture",
    "orders_rmst",
    "events_page_hinkley",
    "stats_grubbs_outlier",
    "stats_jarque_bera",
    "stats_poisson_rate_ratio",
    "ml_eval_spiegelhalter_z",
    "ml_eval_hosmer_lemeshow",
    "ml_eval_cronbach_alpha",
    "stats_welch_ttest",
    "stats_oneway_anova_f",
    "events_cramers_v_matrix",
    "events_gpd_moment_fit",
    "stats_pacf_durbin_levinson",
    "text_sttr_segments",
    "text_burrows_delta",
    "privacy_dp_topk_words",
    "spatial_moran_i_events",
    "text_rake_keywords",
    "sample_group_kfold_audit",
    "embedding_participation_ratio",
    # r13: third user_id-twin consumer (A/B pair — the plain form was
    # never probed; the bucketed form elides the fact-sized distinct
    # exchange)
    "events_rolling_active_users",
    "events_rolling_active_users_bucketed",
]
# quadratic-oracle twins: timing DuckDB here measures the oracle's
# deliberate brute-force design, not the engine — skip, like bench.py
DUCK_SKIP = {"dedup_minhash_lsh", "dedup_cross_source_matrix"}  # quadratic oracles

# Floor-adjusted view (r12 verdict #6): the sub-3 s absolute rows with
# the worst 100x ratios are HYPOTHESIZED to be scheduling-floor-bound,
# not plan-bound — measure it instead of asserting it. For each row
# both engines run the SAME plan at sf0.001 (pure fixed cost: parse,
# codegen, scheduling) and the floor-subtracted ratio
#   (spark_100x - spark_floor) / (duck_100x - duck_floor)
# isolates the data-dependent plan time, exactly like bench.py's
# adjusted_ratio. Set = the 14 worst sub-3 s ratios in SCALE_PROBE_r12
# plus the two the verdict named explicitly (Kendall W, CvM).
FLOOR_SF = "/root/testdata/sf0.001"
FLOOR_ROWS = [
    "customer_rfm_segments",
    "stats_brunner_munzel",
    "stats_ansari_bradley",
    "privacy_randomized_response",
    "curation_mixture_weights",
    "stats_runs_test",
    "stats_wilcoxon_signed_rank",
    "join_range_periods",
    "stats_cliffs_delta",
    "events_mannwhitney_ab",
    "stats_tost_equivalence",
    "incremental_mv_join_pairs",
    "stats_welch_ttest",
    "stats_ljung_box",
    "stats_kendall_w",
    "stats_cvm_2s",
]


def _duck_worker(sql, sf_dir, q):
    from bench import run_duckdb

    # best-of-2: the first run doubles as page-cache warmup
    q.put(run_duckdb({"q": sql}, sf_dir, ["q"], warmups=0, iters=2)["q"])


def duck_time(sql, sf_dir):
    """One DuckDB run in a subprocess so a runaway twin can be killed
    at the budget instead of wedging the probe."""
    q = multiprocessing.Queue()
    p = multiprocessing.Process(target=_duck_worker, args=(sql, sf_dir, q))
    p.start()
    p.join(DUCK_BUDGET_S)
    if p.is_alive():
        p.terminate()
        p.join()
        return "timeout"
    return q.get() if not q.empty() else "error"


def main() -> None:
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    out_path = sys.argv[1]
    # restrict to a comma-separated subset (resume after an aborted run;
    # results are merged into out_path if it already exists)
    only = os.environ.get("SPARK_GRAFT_PROBE_ONLY")
    probe = [n for n in PROBE if n in set(only.split(","))] if only else PROBE

    from bench import _cpu_ticks, run_spark, steal_guard
    from tools.make_benchdata import ensure
    from wikipedia_data_pipeline_spark import registry
    from wikipedia_data_pipeline_spark.session import get_spark

    dir100 = ensure(
        SRC_SF,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "benchdata", "sf10r"),
        100,
    )
    spark = get_spark("scale-probe-100x")
    spark.sparkContext.setLogLevel("ERROR")

    queries = registry.spark_queries()
    oracles = registry.oracle_queries()

    # Global warmup: the first measured query otherwise pays JVM/codegen
    # warmup AND the cold page-cache read of the whole 1.7 GB replica
    # (observed: q1 at 18 s cold vs 6 s warm). One full-table count per
    # fact table touches every page; one q1 pass warms codegen.
    for t in ("lineitem", "orders", "events", "documents"):
        spark.read.parquet(os.path.join(dir100, f"{t}.parquet")).count()
    queries["q1_pricing_summary"](spark, dir100).write.format("noop").mode(
        "overwrite"
    ).save()

    spark_t: dict[str, float] = {}
    duck_t: dict = {}
    ticks0 = _cpu_ticks()  # the steal span covers every timed section

    def best_of_3(fns, name, sf_dir=dir100):
        """Best-of-3 noop-write time through the shared loop; the global
        warmup above stands in for per-query warm-ups."""
        best, _, _ = run_spark(spark, fns, sf_dir, [name], warmups=0, iters=3)
        return best[name]

    # merge-resume: carry prior results for names not re-probed, and
    # any extra top-level sections (manual A/B notes) verbatim
    prior = {}
    if os.path.exists(out_path):
        with open(out_path) as fh:
            prior = json.load(fh)
        if only:  # resume: carry prior timings for names not re-probed
            spark_t.update(prior.get("queries", {}))
            duck_t.update(prior.get("duckdb", {}))
        else:  # a full run does not inherit a prior run's mark
            prior.pop("contaminated", None)

    for name in probe:
        spark_t[name] = best_of_3(queries, name)
        print(f"spark  {name}: {spark_t[name]}s", flush=True)
        if name in oracles and name not in DUCK_SKIP:
            duck_t[name] = duck_time(oracles[name], dir100)
            print(f"duckdb {name}: {duck_t[name]}", flush=True)

    # floor-adjusted ratios for the worst sub-3s rows (r12 verdict #6);
    # resumable by name like the query rows
    floor_section = prior.get("floor_adjusted")
    if (not only) or ("floor_adjusted" in set(only.split(","))):
        floor_section = {}
        for name in FLOOR_ROWS:
            s100 = spark_t.get(name)
            d100 = duck_t.get(name)
            if not isinstance(s100, (int, float)):
                continue
            fs = best_of_3(queries, name, FLOOR_SF)
            row = {"spark_100x": s100, "spark_floor": fs,
                   "spark_adj": round(max(s100 - fs, 0.0), 2)}
            if isinstance(d100, (int, float)):
                fd = duck_time(oracles[name], FLOOR_SF)
                if isinstance(fd, float):
                    row["duck_100x"] = d100
                    row["duck_floor"] = fd
                    row["duck_adj"] = round(max(d100 - fd, 1e-4), 4)
                    # A ratio of two near-zero residuals is noise/noise:
                    # when either engine's data-dependent cost is inside
                    # measurement jitter the row is adjudicated
                    # floor-bound, not given a fake ratio.
                    if row["spark_adj"] < 0.5:
                        row["verdict"] = "floor_bound_spark"
                    elif row["duck_adj"] < 0.03:
                        row["verdict"] = "duck_floor_bound_no_ratio"
                    else:
                        row["adjusted_ratio"] = round(
                            row["spark_adj"] / row["duck_adj"], 2
                        )
                        row["verdict"] = (
                            "plan_bound" if row["adjusted_ratio"] > 2
                            else "within_2x_adjusted"
                        )
            floor_section[name] = row
            print(f"floor  {name}: {row}", flush=True)

    ratios = {
        n: round(spark_t[n] / duck_t[n], 2)
        for n in duck_t
        if isinstance(duck_t[n], float) and duck_t[n] > 0
    }
    out = {
        "metric": "scale_probe_100x_with_duckdb_twins",
        "unit": "sec",
        "dir": "100x replica of /root/testdata/sf0.1 "
               "(~sf10 facts: 60M lineitem, 10M events, 50k docs x100)",
        "queries": spark_t,
        "duckdb": duck_t,
        "ratio_per_query": ratios,
        "notes": (
            "best-of-3 warm Spark times on local[%s]; DuckDB twin = the "
            "gate-proven oracle SQL, best-of-2, %ss total budget. "
            "q1_pricing_summary_cents is the BIGINT-cents A/B of the "
            "DECIMAL q1 (dec_over_cents = %s). q3/q5 run BIGINT-cents "
            "revenue as of round 9."
            % (
                spark.sparkContext.defaultParallelism,
                int(DUCK_BUDGET_S),
                round(
                    spark_t["q1_pricing_summary"]
                    / spark_t["q1_pricing_summary_cents"],
                    2,
                )
                if spark_t.get("q1_pricing_summary_cents")
                else "n/a",
            )
        ),
    }
    if floor_section is not None:
        out["floor_adjusted"] = floor_section
    out.update(steal_guard(ticks0, _cpu_ticks()))
    for k, v in prior.items():
        out.setdefault(k, v)
    with open(out_path, "w") as fh:
        fh.write(json.dumps(out, indent=1))
    print(json.dumps({k: out[k] for k in ("queries", "ratio_per_query")}))
    spark.stop()


if __name__ == "__main__":
    main()
