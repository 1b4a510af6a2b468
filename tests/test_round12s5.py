"""Independent Python replications of the round-12 session-5 novelty
queries: Kendall's W, the two-sample Cramér–von Mises statistic,
weighted Cohen's kappa, the macro/micro F1 panel, rank-biased overlap,
and token-level WER — each recomputed from the raw parquet with plain
Python (O(n·m) DP / brute-force ranking where the query is clever) and
compared exactly on integers / to 1e-9 relative on the fixed double
expressions (the test_round12_queries discipline)."""

from __future__ import annotations

import duckdb
import pytest

from wikipedia_data_pipeline_spark.operators.sampling import PRE_MOD
from conftest import det_hash_py

US_PER_DAY = 86_400_000_000


def _events(sf_dir):
    return duckdb.sql(
        "SELECT event_id, user_id, event_type, value, epoch_us(ts) AS t_us"
        f" FROM read_parquet('{sf_dir}/events.parquet') ORDER BY event_id"
    ).fetchall()


def _docs(sf_dir):
    return duckdb.sql(
        "SELECT doc_id, text"
        f" FROM read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()


def _approx(a, b, rel=1e-9):
    assert a == pytest.approx(b, rel=rel), (a, b)


def _midranks(values):
    """value -> doubled midrank (2*avg_rank stays integral)."""
    s = sorted(values)
    out = {}
    i = 0
    while i < len(s):
        j = i
        while j < len(s) and s[j] == s[i]:
            j += 1
        out[s[i]] = 2 * i + (j - i) + 1  # doubled midrank
        i = j
    return out


def test_kendall_w_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)
    k_types = sorted({g for _, _, g, _, _ in rows})
    cells = {}
    for _, _, g, _, t_us in rows:
        d = t_us // US_PER_DAY
        cells[(d, g)] = cells.get((d, g), 0) + 1
    days = sorted({d for d, _ in cells})
    full = [d for d in days if all((d, g) in cells for g in k_types)]
    m, n = len(full), len(k_types)
    s2 = dict.fromkeys(k_types, 0)
    tsum = 0
    for d in full:
        xs = [cells[(d, g)] for g in k_types]
        mr = _midranks(xs)
        for g in k_types:
            s2[g] += mr[cells[(d, g)]]
        # tie correction per block
        from collections import Counter

        for t in Counter(xs).values():
            tsum += t * t * t - t
    ss = sum(v * v for v in s2.values())
    num = 3 * ss - 3 * m * m * n * (n + 1) * (n + 1)
    den = m * m * n * (n * n - 1) - m * tsum
    w_expect = num / den
    row = queries["stats_kendall_w"](spark, sf_dir).collect()[0]
    assert (row["m"], row["n"]) == (m, n)
    _approx(row["w"], w_expect)
    _approx(row["chi2_equiv"], m * (n - 1) * w_expect)


def test_cvm_2s_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)
    a = sorted(v for _, u, _, v, _ in rows if u % 2 == 0)
    b = sorted(v for _, u, _, v, _ in rows if u % 2 == 1)
    n1, n2 = len(a), len(b)
    pooled = sorted(set(a) | set(b))
    import bisect

    t_sum = 0.0
    for x in pooled:
        ca = bisect.bisect_right(a, x)
        cb = bisect.bisect_right(b, x)
        t = (ca - bisect.bisect_left(a, x)) + (cb - bisect.bisect_left(b, x))
        gap = ca / n1 - cb / n2
        t_sum += t * gap * gap
    n = n1 + n2
    t_expect = n1 * n2 / (n * n) * t_sum
    row = queries["stats_cvm_2s"](spark, sf_dir).collect()[0]
    assert (row["n_a"], row["n_b"]) == (n1, n2)
    _approx(row["t_cvm"], t_expect, rel=1e-6)  # nano-quantized terms
    _approx(row["e_t_h0"], (1 + 1 / n) / 6)


def _rater_panel(rows):
    out = []
    for eid, *_ in rows:
        r1 = det_hash_py(eid) % 3
        flip = det_hash_py((eid % PRE_MOD) * 13 + 5) % 10
        alt = det_hash_py((eid % PRE_MOD) * 31 + 11) % 3
        out.append((r1, r1 if flip < 7 else alt))
    return out


def test_weighted_kappa_matches_bruteforce(spark, sf_dir, queries):
    panel = _rater_panel(_events(sf_dir))
    n = len(panel)
    od_lin = sum(abs(a - b) for a, b in panel)
    od_quad = sum((a - b) ** 2 for a, b in panel)
    from collections import Counter

    m1 = Counter(a for a, _ in panel)
    m2 = Counter(b for _, b in panel)
    ed_lin = sum(
        abs(i - j) * m1[i] * m2[j] for i in range(3) for j in range(3)
    )
    ed_quad = sum(
        (i - j) ** 2 * m1[i] * m2[j] for i in range(3) for j in range(3)
    )
    row = queries["ml_eval_weighted_kappa"](spark, sf_dir).collect()[0]
    assert row["n_items"] == n
    _approx(row["mean_lin_disagreement"], od_lin / n)
    _approx(row["kappa_linear"], 1 - n * od_lin / ed_lin)
    _approx(row["kappa_quadratic"], 1 - n * od_quad / ed_quad)


def test_macro_f1_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)
    pairs = []
    for eid, *_ in rows:
        y = det_hash_py(eid) % 4
        flip = det_hash_py((eid % PRE_MOD) * 13 + 5) % 20
        alt = det_hash_py((eid % PRE_MOD) * 31 + 11) % 4
        pairs.append((y, y if flip < 13 else alt))
    row = queries["ml_eval_macro_f1"](spark, sf_dir).collect()[0]
    assert row["n_items"] == len(pairs)
    assert row["n_correct"] == sum(1 for y, p in pairs if y == p)
    f1s = []
    for c in range(4):
        tp = sum(1 for y, p in pairs if y == c and p == c)
        fp = sum(1 for y, p in pairs if y != c and p == c)
        fn = sum(1 for y, p in pairs if y == c and p != c)
        assert (row[f"tp{c}"], row[f"fp{c}"], row[f"fn{c}"]) == (tp, fp, fn)
        f1 = 2 * tp / (2 * tp + fp + fn)
        _approx(row[f"f1_{c}"], f1)
        f1s.append(f1)
    _approx(row["macro_f1"], sum(f1s) / 4)
    _approx(row["micro_f1"], row["n_correct"] / len(pairs))


def test_rbo_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)
    ca = {}
    cb = {}
    for _, u, g, v, _ in rows:
        cents = round(v * 100)
        ca.setdefault(u, 0)
        cb.setdefault(u, 0)
        if g == "click":
            ca[u] += cents
        elif g == "view":
            cb[u] += cents
    d_max = 50
    p = 0.9
    top_a = sorted(ca, key=lambda u: (-ca[u], u))[:d_max]
    top_b = sorted(cb, key=lambda u: (-cb[u], u))[:d_max]
    ra = {u: i + 1 for i, u in enumerate(top_a)}
    rb = {u: i + 1 for i, u in enumerate(top_b)}
    common = set(ra) & set(rb)
    rbo = 0.0
    for d in range(1, d_max + 1):
        x_d = sum(1 for u in common if max(ra[u], rb[u]) <= d)
        rbo += (1 - p) / p * p**d / d * x_d
    x_last = sum(1 for u in common if max(ra[u], rb[u]) <= d_max)
    row = queries["ml_eval_rbo_rankings"](spark, sf_dir).collect()[0]
    assert row["n_common"] == x_last
    _approx(row["overlap_at_d"], x_last / d_max)
    _approx(row["rbo_trunc"], rbo)
    _approx(row["rbo_ext"], rbo + p**d_max * x_last / d_max)


def _token_dp(ref, hyp):
    n, m = len(ref), len(hyp)
    dp = list(range(m + 1))
    for i in range(1, n + 1):
        prev = dp[0]
        dp[0] = i
        for j in range(1, m + 1):
            cur = dp[j]
            dp[j] = min(
                dp[j] + 1, dp[j - 1] + 1, prev + (ref[i - 1] != hyp[j - 1])
            )
            prev = cur
    return dp[m]


def test_wer_matches_token_dp(spark, sf_dir, queries):
    docs = _docs(sf_dir)
    expect = {}
    for doc_id, text in docs:
        ref = text.split(" ")
        clen = max(len(ref) * 4 // 5, 1)
        hyp = [
            "UNK" if i % 7 == 0 else ref[i - 1] for i in range(1, clen + 1)
        ]
        expect[doc_id] = (len(ref), clen, _token_dp(ref, hyp))
    got = {
        r["doc_id"]: (r["rlen"], r["clen"], r["edit_distance"], r["wer"])
        for r in queries["ml_eval_wer"](spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for doc_id, (rlen, clen, dist) in expect.items():
        g = got[doc_id]
        assert g[:3] == (rlen, clen, dist), (doc_id, g, expect[doc_id])
        _approx(g[3], dist / rlen)


def test_ks_uniformity_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)
    from collections import Counter

    buckets = Counter(det_hash_py(eid) % 100 for eid, *_ in rows)
    n = sum(buckets.values())
    cum = 0
    gaps = []
    for b in range(100):
        cum += buckets.get(b, 0)
        # missing buckets produce no grid row, but their gap is
        # dominated by the previous present bucket's gap (same cum,
        # larger uniform CDF) only on the LEFT side; replicate the
        # query's grid (present buckets only)
        if buckets.get(b, 0):
            gaps.append((abs(cum / n - (b + 1) / 100), b))
    d_stat = max(g for g, _ in gaps)
    worst = min(b for g, b in gaps if g == d_stat)
    row = queries["sample_split_ks_uniformity"](spark, sf_dir).collect()[0]
    assert row["n"] == n
    _approx(row["d_stat"], d_stat)
    assert row["worst_bucket"] == worst
    assert row["uniform_ok"] == (d_stat <= 1.36 / n**0.5)


def test_randomized_response_matches_bruteforce(spark, sf_dir, queries):
    users = sorted({u for _, u, *_ in _events(sf_dir)})
    n = len(users)
    n_true = sum(1 for u in users if det_hash_py(u) % 5 == 0)
    n_yes = 0
    for u in users:
        a = 1 if det_hash_py(u) % 5 == 0 else 0
        truth = det_hash_py((u % PRE_MOD) * 7 + 3) % 4 < 3
        n_yes += a if truth else 1 - a
    row = queries["privacy_randomized_response"](spark, sf_dir).collect()[0]
    assert (row["n"], row["n_yes_reported"]) == (n, n_yes)
    lam = n_yes / n
    _approx(row["lambda_hat"], lam)
    _approx(row["pi_hat"], (lam - 0.25) / 0.5)
    _approx(row["pi_true"], n_true / n)
    _approx(row["abs_err"], abs((lam - 0.25) / 0.5 - n_true / n))
