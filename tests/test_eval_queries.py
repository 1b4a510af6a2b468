"""Semantic fixed-point guards for the round-9 eval/privacy/sequential
queries. Exact cross-engine equality is the oracle gate's job
(tools/check_oracle.py); these assert the DESIGNED statistical fixed
points documented in each query's docstring, so a silent change to a
hash stream, threshold, or frozen constant fails loudly here even
while both engines still agree with each other."""

from __future__ import annotations


def test_rater_kappa_fixed_point(spark, sf_dir, queries):
    row = queries["ml_eval_rater_kappa"](spark, sf_dir).collect()[0]
    # rater 2 copies rater 1 on ~70% of items; 3 classes
    assert abs(row.observed_agreement - 0.8) < 0.05
    assert abs(row.expected_agreement - 1 / 3) < 0.02
    assert 0.6 < row.kappa < 0.8


def test_conformal_coverage_fixed_point(spark, sf_dir, queries):
    row = queries["ml_eval_conformal_threshold"](spark, sf_dir).collect()[0]
    # alpha = 0.1 -> held-out coverage ~ 0.9 (exchangeable by design)
    assert 0.84 <= row.coverage <= 0.96
    assert row.q_hat > 0
    ev_n = queries["ml_eval_ips_value"](spark, sf_dir).collect()[0].n
    assert row.n_cal + row.n_eval == ev_n


def test_ips_matches_snips(spark, sf_dir, queries):
    row = queries["ml_eval_ips_value"](spark, sf_dir).collect()[0]
    # uniform logging propensity: n_matched ~ n/3, so IPS ~ SNIPS; the
    # value itself is per-user-deterministic and noisy at sf0.001
    assert abs(row.n_matched - row.n / 3) < 0.05 * row.n
    assert abs(row.ips_value - row.snips_value) < 0.05
    assert 0.0 < row.snips_value < 1.0


def test_pass_at_k_fixed_point(spark, sf_dir, queries):
    row = queries["ml_eval_pass_at_k"](spark, sf_dir).collect()[0]
    # 20% success stream -> pass@5 ~ 1 - 0.8^5 = 0.672
    assert row.k == 5
    assert abs(row.mean_pass_at_k - (1 - 0.8**5)) < 0.08


def test_sprt_llr_drifts_negative(spark, sf_dir, queries):
    rows = queries["events_sprt_ab"](spark, sf_dir).collect()
    assert rows == sorted(rows, key=lambda r: r.day)
    n_cums = [r.n_cum for r in rows]
    assert n_cums == sorted(n_cums) and n_cums[0] > 0
    # parity data: E[LLR increment] = -5.02 millinats/obs. At sf0.001
    # (~400 obs) sampling noise can hold the LLR positive, so assert
    # the SPRT guarantee itself — the trajectory never crosses the
    # reject boundary (false-reject prob <= alpha by construction) —
    # plus the exact frozen-constant integer relation per row.
    assert all(r.decision != "reject_h0" for r in rows)
    for r in rows:
        llr_nano = r.k_cum * 95310180 + (r.n_cum - r.k_cum) * -105360516
        assert r.llr == llr_nano / 1_000_000_000
        expected = (
            "reject_h0"
            if llr_nano >= 2944438979
            else "accept_h0"
            if llr_nano <= -2944438979
            else "continue"
        )
        assert r.decision == expected


def test_mixture_weights_renormalize(spark, sf_dir, queries):
    rows = queries["curation_mixture_weights"](spark, sf_dir).collect()
    assert len(rows) > 1
    assert all(0 < r.weight <= 4.0 for r in rows)
    assert abs(sum(r.effective_share for r in rows) - 1.0) < 1e-9
    assert abs(sum(r.raw_share for r in rows) - 1.0) < 1e-9


def test_calibration_bins_partition_events(spark, sf_dir, queries):
    rows = queries["ml_eval_calibration_bins"](spark, sf_dir).collect()
    bins = [r.bin for r in rows]
    assert len(set(bins)) == len(bins) and all(0 <= b <= 9 for b in bins)
    ev_n = queries["ml_eval_ips_value"](spark, sf_dir).collect()[0].n
    assert sum(r.n for r in rows) == ev_n
    assert all(0.0 <= r.mean_score <= 1.0 for r in rows)
    assert 0.0 <= sum(r.ece_term for r in rows) <= 1.0


def test_fairness_rates_bounded(spark, sf_dir, queries):
    rows = queries["ml_eval_fairness_gaps"](spark, sf_dir).collect()
    assert 1 <= len(rows) <= 2
    for r in rows:
        assert r.tp + r.fp + r.tn + r.fn == r.n
        for rate in (r.tpr, r.fpr, r.positive_rate):
            assert 0.0 <= rate <= 1.0


def test_dp_noise_bounded(spark, sf_dir, queries):
    from pyspark.sql import functions as F

    from wikipedia_data_pipeline_spark.sources.tables import load_table

    rows = queries["privacy_dp_release_counts"](spark, sf_dir).collect()
    true = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r.event_type for r in rows} == set(true)
    for r in rows:
        # |Laplace noise| <= ln(2^31)/epsilon ~ 21.5 by hash-stream range
        assert abs(r.noisy_count - true[r.event_type]) <= 21.6
        assert r.epsilon == 1.0


def test_linkage_weights_exact_and_no_false_matches(spark, sf_dir, queries):
    rows = queries["linkage_customer_pairs"](spark, sf_dir).collect()
    assert rows, "blocking produced no candidate pairs"
    W = {
        "agree_area": (4469350463, -2292222306),
        "agree_bal": (2833213344, -1845826690),
        "agree_tail": (2251291799, -2890371758),
    }
    for r in rows:
        w = sum(W[f][0] if getattr(r, f) == 1 else W[f][1] for f in W)
        assert r.match_weight == w / 1_000_000_000
        # corpus has no true duplicates: 'match' needs all three streams
        # to agree simultaneously — assert the thresholds are honored
        expected = (
            "match"
            if w >= 4_500_000_000
            else "non_match"
            if w <= -2_000_000_000
            else "possible"
        )
        assert r.decision == expected


def test_truncation_recall_full_dim_is_one(spark, sf_dir, queries):
    rows = queries["ann_dim_truncation_recall"](spark, sf_dir).collect()
    by_dim = {}
    for r in rows:
        by_dim.setdefault(r.dim_kept, []).append(r.recall_at_10)
        assert 0.0 <= r.recall_at_10 <= 1.0
    # keeping every dimension is the identity ranking
    assert all(v == 1.0 for v in by_dim[64])
    # fewer dims can never beat the identity on average
    assert sum(by_dim[16]) <= sum(by_dim[64])


def test_bradley_terry_fixed_point(spark, sf_dir, queries):
    rows = queries["ml_eval_bradley_terry"](spark, sf_dir).collect()
    k = len(rows)
    assert k > 1
    # bt_rank is a permutation of 1..K and agrees with strength order
    assert sorted(r.bt_rank for r in rows) == list(range(1, k + 1))
    by_rank = sorted(rows, key=lambda r: r.bt_rank)
    strengths = [r.strength_nano for r in by_rank]
    assert strengths == sorted(strengths, reverse=True)
    assert all(r.strength_nano > 0 for r in rows)
    assert abs(sum(r.strength_share for r in rows) - 1.0) < 1e-9
    # w_ij + w_ji = n_ij exactly (ties abstain, +1/+1 vs +2 smoothing),
    # so total wins equal total undirected comparisons
    assert sum(r.wins for r in rows) * 2 == sum(r.n_comparisons for r in rows)
    # smoothing floor: every item starts with one win per opponent
    assert all(r.wins >= k - 1 for r in rows)


def test_fleiss_kappa_fixed_point(spark, sf_dir, queries):
    row = queries["ml_eval_fleiss_kappa"](spark, sf_dir).collect()[0]
    # copy rates 0.7/0.5 over 3 uniform classes:
    # P(r1=r2)=0.8, P(r1=r3)=2/3, P(r2=r3)=0.35+0.65/3 -> mean ~0.678
    assert abs(row.mean_pairwise_agreement - 0.6778) < 0.03
    assert abs(row.expected_agreement - 1 / 3) < 0.02
    # kappa = (0.678 - 1/3) / (1 - 1/3) ~ 0.517
    assert 0.44 < row.fleiss_kappa < 0.59
    assert row.n_items > 0


def test_distinct_ngrams_diversity_bounds(spark, sf_dir, queries):
    rows = queries["text_distinct_ngrams"](spark, sf_dir).collect()
    langs = [r.lang for r in rows]
    assert len(set(langs)) == len(langs) >= 2
    for r in rows:
        assert 0 < r.n_bigrams < r.n_tokens
        assert 0 < r.n_distinct_tokens <= r.n_tokens
        assert 0 < r.n_distinct_bigrams <= r.n_bigrams
        assert abs(r.distinct1 - r.n_distinct_tokens / r.n_tokens) < 1e-12
        assert abs(r.distinct2 - r.n_distinct_bigrams / r.n_bigrams) < 1e-12
        # natural (non-degenerate) text: bigram diversity beats unigram
        assert r.distinct2 > r.distinct1


def test_streaming_sprt_equals_batch(spark, sf_dir, queries):
    """The streaming monitor's state + decision layer must reproduce
    the batch SPRT row-for-row (same events, same frozen constants)."""
    batch = queries["events_sprt_ab"](spark, sf_dir)
    stream = queries["streaming_sprt_monitor"](spark, sf_dir)
    assert batch.columns == stream.columns
    assert batch.exceptAll(stream).count() == 0
    assert stream.exceptAll(batch).count() == 0


def test_cuped_preserves_pooled_mean(spark, sf_dir, queries):
    rows = queries["ml_eval_cuped_ab"](spark, sf_dir).collect()
    assert sorted(r.arm for r in rows) == [0, 1]
    thetas = {r.theta for r in rows}
    vrs = {r.variance_reduction for r in rows}
    assert len(thetas) == 1 and len(vrs) == 1
    assert 0.0 <= vrs.pop() <= 1.0
    # CUPED adjustment is mean-preserving over the pooled population:
    # sum_a n_a * adjusted_a == sum_a n_a * post_a (theta * (x - mx)
    # integrates to zero), so the treatment contrast is unbiased
    pooled_adj = sum(r.n_users * r.cuped_adjusted_mean for r in rows)
    pooled_post = sum(r.n_users * r.mean_post_value for r in rows)
    assert abs(pooled_adj - pooled_post) < 1e-6 * max(1.0, abs(pooled_post))
    for r in rows:
        assert r.mean_pre_value > 0 and r.mean_post_value > 0


def test_chao1_bounds_and_tokenizer_consistency(spark, sf_dir, queries):
    rows = queries["corpus_chao1_richness"](spark, sf_dir).collect()
    ngr = {
        r.lang: r
        for r in queries["text_distinct_ngrams"](spark, sf_dir).collect()
    }
    assert len(rows) >= 2
    for r in rows:
        assert r.f1 + r.f2 <= r.d_observed <= r.n_tokens
        # chao1 only ever ADDS unseen-type mass to the observed count
        assert r.chao1_richness >= r.d_observed
        # f1 = 0 (no hapaxes, tiny synthetic vocab) makes coverage
        # exactly 1.0, so the upper bound is inclusive
        assert 0.0 < r.good_turing_coverage <= 1.0
        # same tokenizer as the distinct-n query: totals must agree
        assert r.n_tokens == ngr[r.lang].n_tokens
        assert r.d_observed == ngr[r.lang].n_distinct_tokens


def test_winnowing_query_invariants(spark, sf_dir, queries):
    rows = queries["text_winnowing_shared_fingerprints"](
        spark, sf_dir
    ).collect()
    assert len(rows) >= 2
    for r in rows:
        assert (
            0
            <= r.n_shared_fingerprints
            <= r.n_distinct_fingerprints
            <= r.n_fingerprints
        )
        assert r.max_fp_doc_count >= 1
        assert abs(
            r.sharing_rate
            - r.n_shared_fingerprints / r.n_distinct_fingerprints
        ) < 1e-12


def test_rrf_fusion_formula_and_order(spark, sf_dir, queries):
    rows = queries["text_search_rrf_hybrid"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    ids = [r.doc_id for r in rows]
    assert len(set(ids)) == len(ids)
    scores = [r.rrf_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    saw_lex = saw_sem = False
    for r in rows:
        assert r.lex_rank is not None or r.sem_rank is not None
        expect = 0.0
        if r.lex_rank is not None:
            assert 1 <= r.lex_rank <= 200
            expect += 1.0 / (60 + r.lex_rank)
            saw_lex = True
        if r.sem_rank is not None:
            assert 1 <= r.sem_rank <= 200
            expect += 1.0 / (60 + r.sem_rank)
            saw_sem = True
        assert abs(r.rrf_score - expect) < 1e-15
    # both retrieval systems contribute to the fused page
    assert saw_lex and saw_sem


def test_incremental_idf_refresh_equals_full_recompute(spark, sf_dir, queries):
    """The maintenance property: the incrementally merged idf_new must
    equal the full-corpus recompute (the registered `idf` query) for
    every touched word — delta algebra and batch pipeline agree."""
    refresh = {
        r.word: r
        for r in queries["tfidf_incremental_idf_refresh"](
            spark, sf_dir
        ).collect()
    }
    full = {r.word: r.idf for r in queries["idf"](spark, sf_dir).collect()}
    assert refresh
    for w, r in refresh.items():
        assert r.df_full == r.df_base + r.df_delta
        assert r.df_delta >= 1
        if r.df_base == 0:
            assert r.idf_old is None
        if r.idf_new > 0:
            assert full[w] == r.idf_new
        else:
            # the pipeline drops idf <= 0 words (P6)
            assert w not in full


def test_coreset_greedy_is_submodular(spark, sf_dir, queries):
    rows = sorted(
        queries["curation_coreset_facility_location"](
            spark, sf_dir
        ).collect(),
        key=lambda r: r.step,
    )
    assert [r.step for r in rows] == [1, 2, 3, 4]
    ids = [r.vec_id for r in rows]
    assert len(set(ids)) == 4 and all(0 <= i < 16 for i in ids)
    gains = [r.gain_nano for r in rows]
    # facility location is submodular: greedy marginal gains never grow
    assert gains == sorted(gains, reverse=True)
    assert all(g > 0 for g in gains)
    # running coverage is the exact prefix sum of the gains
    tot = 0
    for r in rows:
        tot += r.gain_nano
        assert r.coverage_nano == tot


def test_brier_murphy_identity(spark, sf_dir, queries):
    r = queries["ml_eval_brier_decomposition"](spark, sf_dir).collect()[0]
    # per-USER random labels weighted by event count: base rate ~0.5
    # with user-level (not event-level) variance — wide at sf0.001
    assert abs(r.base_rate - 0.5) < 0.15
    assert abs(r.uncertainty - r.base_rate * (1 - r.base_rate)) < 1e-12
    # Murphy identity on binned forecasts (nano-quantization slack)
    assert abs(
        r.brier_binned - (r.reliability - r.resolution + r.uncertainty)
    ) < 1e-5
    # components are non-negative; binned brier lower-bounds raw brier
    # minus within-bin variance, both live in [0, 1]
    assert 0.0 <= r.reliability and 0.0 <= r.resolution
    assert 0.0 <= r.brier_binned <= r.brier_score <= 1.0


def test_bh_fdr_stepup_consistency(spark, sf_dir, queries):
    rows = sorted(
        queries["stats_bh_fdr_screen"](spark, sf_dir).collect(),
        key=lambda r: r.bh_rank,
    )
    m = len(rows)
    assert [r.bh_rank for r in rows] == list(range(1, m + 1))
    ps = [r.p_value for r in rows]
    assert ps == sorted(ps)
    assert all(0.0 <= p <= 1.0 for p in ps)
    # recompute the step-up cutoff and check the rejected set is the
    # exact rank prefix the procedure defines
    q = 0.10
    cutoff = max(
        (r.bh_rank for r in rows if r.p_value <= r.bh_rank * q / m),
        default=0,
    )
    for r in rows:
        assert r.rejected == (r.bh_rank <= cutoff)
    # rejections form a prefix of the p-value order (step-up property)
    flags = [r.rejected for r in rows]
    assert flags == sorted(flags, reverse=True)


def test_mcnemar_detects_better_model(spark, sf_dir, queries):
    r = queries["ml_eval_mcnemar_test"](spark, sf_dir).collect()[0]
    # designed accuracies: A ~0.50 (coin), B ~0.70
    assert abs(r.n_correct_a / r.n - 0.50) < 0.06
    assert abs(r.n_correct_b / r.n - 0.70) < 0.06
    # B wins far more discordant pairs than it loses -> reject at 0.05
    assert r.c_only_b > r.b_only_a
    assert r.reject_h0
    # decision consistent with the statistic and the frozen critical
    # value, and the statistic with the counts
    d, s = r.b_only_a - r.c_only_b, r.b_only_a + r.c_only_b
    assert abs(r.mcnemar_chi2 - d * d / s) < 1e-12
    assert r.reject_h0 == (d * d * 1_000_000 >= 3_841_459 * s)
