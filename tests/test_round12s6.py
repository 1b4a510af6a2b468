"""Independent Python replications of the round-12 session-6 novelty
queries: Good-Turing mass, Monroe log-odds, Hellinger distance, Theil
inequality decomposition, capture-recapture, RMST, Page-Hinkley,
Grubbs, Jarque-Bera, the Poisson rate-ratio test, Spiegelhalter's Z,
Hosmer-Lemeshow, and Cronbach's alpha — each recomputed from the raw
parquet with plain Python (brute force where the query is clever) and
compared exactly on integers / to small relative tolerance on doubles
whose construction quantizes a transcendental (the test_round12s5
discipline)."""

from __future__ import annotations

import math
from collections import Counter

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
        "SELECT doc_id, text, lang, source"
        f" FROM read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()


def _orders(sf_dir):
    return duckdb.sql(
        "SELECT o_custkey, year(o_orderdate) * 12 + month(o_orderdate) AS m"
        f" FROM read_parquet('{sf_dir}/orders.parquet')"
    ).fetchall()


def _approx(a, b, rel=1e-9):
    assert a == pytest.approx(b, rel=rel, abs=1e-12), (a, b)


# --- Good-Turing ---------------------------------------------------------


def test_good_turing_matches_bruteforce(spark, sf_dir, queries):
    wc = Counter()
    n_tokens = 0
    for _, text, _, _ in _docs(sf_dir):
        ws = text.split(" ")
        n_tokens += len(ws)
        wc.update(ws)
    ff = Counter(wc.values())
    rows = {
        r["r"]: r
        for r in queries["text_good_turing_mass"](spark, sf_dir).collect()
    }
    assert sorted(rows) == list(range(10))
    for r in range(10):
        row = rows[r]
        assert row["n_r"] == ff.get(r, 0)
        assert row["n_tokens"] == n_tokens
        _approx(row["gt_next_mass"], (r + 1) * ff.get(r + 1, 0) / n_tokens)
        if r >= 1 and ff.get(r, 0) > 0:
            _approx(row["r_star"], (r + 1) * ff.get(r + 1, 0) / ff[r])
        else:
            assert row["r_star"] is None


# --- Monroe log-odds -----------------------------------------------------


def test_log_odds_matches_bruteforce(spark, sf_dir, queries):
    c1, c2 = Counter(), Counter()
    for _, text, lang, _ in _docs(sf_dir):
        if lang == "en":
            c1.update(text.split(" "))
        elif lang == "de":
            c2.update(text.split(" "))
    n1, n2 = sum(c1.values()), sum(c2.values())
    a0 = n1 + n2
    z_by_word = {}
    for w in set(c1) | set(c2):
        y1, y2 = c1.get(w, 0), c2.get(w, 0)
        a = y1 + y2
        delta = math.log((y1 + a) / (n1 + a0 - y1 - a)) - math.log(
            (y2 + a) / (n2 + a0 - y2 - a)
        )
        z_by_word[w] = delta / math.sqrt(1 / (y1 + a) + 1 / (y2 + a))
    top = sorted(z_by_word, key=lambda w: (-abs(z_by_word[w]), w))[:40]
    rows = queries["text_log_odds_sources"](spark, sf_dir).collect()
    assert sorted(r["word"] for r in rows) == sorted(top)
    for r in rows:
        assert r["n_en"] == c1.get(r["word"], 0)
        assert r["n_de"] == c2.get(r["word"], 0)
        _approx(r["z_log_odds"], z_by_word[r["word"]], rel=1e-6)


# --- Hellinger -----------------------------------------------------------


def test_hellinger_matches_bruteforce_pair(spark, sf_dir, queries):
    per_src = {}
    for _, text, _, src in _docs(sf_dir):
        per_src.setdefault(src, Counter()).update(text.split(" "))
    srcs = sorted(per_src)
    sa, sb = srcs[0], srcs[1]
    na_tot = sum(per_src[sa].values())
    nb_tot = sum(per_src[sb].values())
    bc = sum(
        math.sqrt(
            (per_src[sa].get(w, 0) / na_tot) * (per_src[sb].get(w, 0) / nb_tot)
        )
        for w in set(per_src[sa]) | set(per_src[sb])
    )
    rows = queries["text_hellinger_sources"](spark, sf_dir).collect()
    n_src = len(srcs)
    assert len(rows) == n_src * (n_src - 1) // 2
    row = next(r for r in rows if (r["source_a"], r["source_b"]) == (sa, sb))
    _approx(row["bc_coef"], bc, rel=1e-6)
    _approx(row["hellinger"], math.sqrt(max(0.0, 1 - row["bc_coef"])))


# --- Theil decomposition -------------------------------------------------


def test_theil_matches_bruteforce(spark, sf_dir, queries):
    groups = {}
    for _, _, g, v, _ in _events(sf_dir):
        c = round(v * 100)
        n_g, s_g, l_g = groups.get(g, (0, 0, 0.0))
        groups[g] = (n_g + 1, s_g + c, l_g + c * math.log(c))
    n = sum(x[0] for x in groups.values())
    s = sum(x[1] for x in groups.values())
    rows = {
        r["event_type"]: r
        for r in queries["events_theil_inequality"](spark, sf_dir).collect()
    }
    assert sorted(rows) == sorted(groups)
    total_between = total_within = 0.0
    for g, (n_g, s_g, l_g) in groups.items():
        row = rows[g]
        assert (row["n_g"], row["sum_cents"]) == (n_g, s_g)
        t_g = l_g / s_g - math.log(s_g / n_g)
        _approx(row["theil_within"], t_g, rel=1e-6)
        _approx(row["share_value"], s_g / s)
        _approx(
            row["between_term"],
            (s_g / s) * math.log((s_g / s) * (n / n_g)),
            rel=1e-6,
        )
        _approx(row["within_term"], (s_g / s) * t_g, rel=1e-6)
        total_between += row["between_term"]
        total_within += row["within_term"]
    # decomposition identity: between + within == overall Theil T
    mu = s / n
    t_all = sum(
        (round(v * 100) / s) * math.log(round(v * 100) / mu)
        for _, _, _, v, _ in _events(sf_dir)
    )
    _approx(total_between + total_within, t_all, rel=1e-5)


# --- Capture-recapture ---------------------------------------------------


def test_capture_recapture_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)
    lo = min(t for *_, t in rows)
    hi = max(t for *_, t in rows)
    mid = lo + (hi - lo) // 2
    seen_a, seen_b = set(), set()
    for _, u, _, _, t in rows:
        (seen_a if t < mid else seen_b).add(u)
    n1, n2, m = len(seen_a), len(seen_b), len(seen_a & seen_b)
    row = queries["events_capture_recapture"](spark, sf_dir).collect()[0]
    assert (row["n1"], row["n2"], row["m"]) == (n1, n2, m)
    assert row["n_true"] == len(seen_a | seen_b)
    _approx(row["lp_estimate"], n1 * n2 / m)
    _approx(row["chapman_estimate"], (n1 + 1) * (n2 + 1) / (m + 1) - 1)
    _approx(
        row["chapman_variance"],
        (n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m)
        / ((m + 1) ** 2 * (m + 2)),
    )


# --- RMST ----------------------------------------------------------------


def _km_steps(sf_dir):
    cust = {}
    for k, m in _orders(sf_dir):
        lo, hi = cust.get(k, (m, m))
        cust[k] = (min(lo, m), max(hi, m))
    data_end = max(hi for _, hi in cust.values())
    obs = [
        (hi - lo, 1 if data_end - hi > 6 else 0) for lo, hi in cust.values()
    ]
    at_t = {}
    for dur, ch in obs:
        d, c = at_t.get(dur, (0, 0))
        at_t[dur] = (d + ch, c + 1)
    n_risk = len(obs)
    steps = []
    for dur in sorted(at_t):
        d, c = at_t[dur]
        steps.append((dur, d, n_risk))
        n_risk -= c
    return steps


def test_rmst_matches_bruteforce(spark, sf_dir, queries):
    steps = _km_steps(sf_dir)
    rows = {
        r["month"]: r for r in queries["orders_rmst"](spark, sf_dir).collect()
    }
    assert sorted(rows) == list(range(12))
    cum = 0.0
    for u in range(12):
        lg = sum(
            math.log(1 - d / n) if d < n else float("-inf")
            for dur, d, n in steps
            if dur <= u and d > 0
        )
        s = math.exp(lg) if lg > float("-inf") else 0.0
        row = rows[u]
        _approx(row["survival"], s, rel=1e-6)
        _approx(row["s_nano"] / 1e9, s, rel=1e-6)
        cum += row["survival"]
        _approx(row["rmst_cum_months"], cum, rel=1e-9)


# --- Page-Hinkley --------------------------------------------------------


def test_page_hinkley_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)
    t0 = min(t for *_, t in rows)
    daily = {}
    for _, _, _, v, t in rows:
        d = (t - t0) // US_PER_DAY
        n, u = daily.get(d, (0, 0))
        daily[d] = (n + 1, u + round(v * 1_000_000))
    res = {
        r["day_idx"]: r
        for r in queries["events_page_hinkley"](spark, sf_dir).collect()
    }
    assert sorted(res) == sorted(daily)
    def rhu(v):  # HALF_UP like F.round / duckdb round (python is half-even)
        return math.floor(v + 0.5) if v >= 0 else -math.floor(-v + 0.5)

    p = m = 0
    mn = None
    for i, d in enumerate(sorted(daily), start=1):
        n_t, u_t = daily[d]
        x = rhu(u_t / n_t)
        p += x
        m += rhu((x * i - p) / i)
        mn = m if mn is None else min(mn, m)
        row = res[d]
        assert (row["t"], row["x_micro"]) == (i, x)
        assert row["m_micro"] == m
        assert row["ph_micro"] == m - mn
        _approx(row["ph_value"], row["ph_micro"] / 1e6)


# --- Grubbs --------------------------------------------------------------


def test_grubbs_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)
    t0 = min(t for *_, t in rows)
    daily = {}
    for _, _, _, v, t in rows:
        d = (t - t0) // US_PER_DAY
        daily[d] = daily.get(d, 0) + round(v * 100)
    xs = daily
    n = len(xs)
    s = sum(xs.values())
    q = sum(x * x for x in xs.values())
    day_star, dev = min(
        ((d, abs(n * x - s)) for d, x in xs.items()),
        key=lambda p: (-p[1], p[0]),
    )
    row = queries["stats_grubbs_outlier"](spark, sf_dir).collect()[0]
    assert (row["n_days"], row["day_star"]) == (n, day_star)
    assert row["x_star_cents"] == xs[day_star]
    assert row["max_scaled_dev"] == dev
    _approx(row["g_stat"], dev / math.sqrt(n * (n * q - s * s) / (n - 1)))


# --- Jarque-Bera ---------------------------------------------------------


def test_jarque_bera_matches_bruteforce(spark, sf_dir, queries):
    cs = [round(v * 100) for _, _, _, v, _ in _events(sf_dir)]
    n = len(cs)
    mu = sum(cs) / n
    sigma = math.sqrt(sum((c - mu) ** 2 for c in cs)) / math.sqrt(n)
    skew = sum(((c - mu) / sigma) ** 3 for c in cs) / n
    kurt = sum(((c - mu) / sigma) ** 4 for c in cs) / n - 3
    row = queries["stats_jarque_bera"](spark, sf_dir).collect()[0]
    assert row["n"] == n
    _approx(row["mean_cents"], mu)
    _approx(row["sd_cents"], sigma, rel=1e-9)
    _approx(row["skewness"], skew, rel=1e-4)  # micro-quantized per row
    _approx(row["ex_kurtosis"], kurt, rel=1e-3)
    _approx(
        row["jb_stat"],
        n * (row["skewness"] ** 2 / 6 + row["ex_kurtosis"] ** 2 / 24),
        rel=1e-9,
    )


# --- Poisson rate ratio --------------------------------------------------


def test_poisson_rate_ratio_matches_bruteforce(spark, sf_dir, queries):
    c1 = e1 = c2 = e2 = 0
    for _, u, g, _, _ in _events(sf_dir):
        if u % 2 == 0:
            e1 += 1
            c1 += g == "purchase"
        else:
            e2 += 1
            c2 += g == "purchase"
    row = queries["stats_poisson_rate_ratio"](spark, sf_dir).collect()[0]
    assert (row["n_purchase_a"], row["n_events_a"]) == (c1, e1)
    assert (row["n_purchase_b"], row["n_events_b"]) == (c2, e2)
    rr = (c1 / e1) / (c2 / e2)
    _approx(row["rate_ratio"], rr)
    _approx(row["z_wald"], math.log(rr) / math.sqrt(1 / c1 + 1 / c2))


# --- Spiegelhalter Z -----------------------------------------------------


def _scores_labels(sf_dir):
    rows = _events(sf_dir)
    vs = [round(v * 1_000_000) for _, _, _, v, _ in rows]
    lo = min(vs)
    w = max(vs) - lo
    out = []
    for (eid, u, *_), vu in zip(rows, vs):
        out.append((eid, vu - lo, det_hash_py(u) % 2))
    return out, w


def test_spiegelhalter_matches_bruteforce(spark, sf_dir, queries):
    obs, w = _scores_labels(sf_dir)
    num = sum((y - dv / w) * (1 - 2 * dv / w) for _, dv, y in obs)
    den = sum(
        (1 - 2 * dv / w) ** 2 * (dv / w) * (1 - dv / w) for _, dv, y in obs
    )
    row = queries["ml_eval_spiegelhalter_z"](spark, sf_dir).collect()[0]
    assert row["n"] == len(obs)
    _approx(row["score_num"], num, rel=1e-6)
    _approx(row["score_var"], den, rel=1e-6)
    _approx(row["z_spiegelhalter"], num / math.sqrt(den), rel=1e-6)


# --- Hosmer-Lemeshow -----------------------------------------------------


def test_hosmer_lemeshow_matches_bruteforce(spark, sf_dir, queries):
    obs, w = _scores_labels(sf_dir)
    ordered = sorted(obs, key=lambda r: (r[1], r[0]))
    n = len(ordered)
    per = {}
    for i, (_, dv, y) in enumerate(ordered):
        g = (i * 10) // n
        n_g, o1, sdv = per.get(g, (0, 0, 0))
        per[g] = (n_g + 1, o1 + y, sdv + dv)
    rows = {
        r["decile"]: r
        for r in queries["ml_eval_hosmer_lemeshow"](spark, sf_dir).collect()
    }
    assert sorted(rows) == sorted(per)
    for g, (n_g, o1, sdv) in per.items():
        row = rows[g]
        assert (row["n_g"], row["obs_pos"]) == (n_g, o1)
        e1 = sdv / w
        _approx(row["exp_pos"], e1)
        _approx(
            row["hl_term"], (o1 - e1) ** 2 * n_g / (e1 * (n_g - e1)), rel=1e-9
        )


# --- Cronbach's alpha ----------------------------------------------------


def test_cronbach_matches_bruteforce(spark, sf_dir, queries):
    panel = []
    for eid, *_ in _events(sf_dir):
        r1 = det_hash_py(eid) % 3
        flip2 = det_hash_py((eid % PRE_MOD) * 13 + 5) % 10
        alt2 = det_hash_py((eid % PRE_MOD) * 31 + 11) % 3
        flip3 = det_hash_py((eid % PRE_MOD) * 43 + 17) % 10
        alt3 = det_hash_py((eid % PRE_MOD) * 53 + 29) % 3
        r2 = r1 if flip2 < 7 else alt2
        r3 = r1 if flip3 < 5 else alt3
        panel.append((r1, r2, r3))
    n = len(panel)

    def pvar(xs):
        s = sum(xs)
        return (n * sum(x * x for x in xs) - s * s) / (n * n)

    items = list(zip(*panel))
    var_sum = sum(pvar(list(x)) for x in items)
    var_tot = pvar([a + b + c for a, b, c in panel])
    alpha = 1.5 * (1 - var_sum / var_tot)
    row = queries["ml_eval_cronbach_alpha"](spark, sf_dir).collect()[0]
    assert row["n_items"] == n
    _approx(row["var_sum_items"], var_sum)
    _approx(row["var_total"], var_tot)
    _approx(row["cronbach_alpha"], alpha)


# --- Welch t-test --------------------------------------------------------


def test_welch_ttest_matches_bruteforce(spark, sf_dir, queries):
    arms = {0: [], 1: []}
    for _, u, _, v, _ in _events(sf_dir):
        arms[u % 2].append(round(v * 100))
    n1, n2 = len(arms[0]), len(arms[1])
    m1, m2 = sum(arms[0]) / n1, sum(arms[1]) / n2
    v1 = sum((x - m1) ** 2 for x in arms[0]) / (n1 - 1)
    v2 = sum((x - m2) ** 2 for x in arms[1]) / (n2 - 1)
    row = queries["stats_welch_ttest"](spark, sf_dir).collect()[0]
    assert (row["n_a"], row["n_b"]) == (n1, n2)
    _approx(row["mean_a_cents"], m1)
    _approx(row["mean_b_cents"], m2)
    _approx(row["t_welch"], (m1 - m2) / math.sqrt(v1 / n1 + v2 / n2))
    vn1, vn2 = v1 / n1, v2 / n2
    _approx(
        row["df_welch"],
        (vn1 + vn2) ** 2 / (vn1**2 / (n1 - 1) + vn2**2 / (n2 - 1)),
    )


# --- One-way ANOVA -------------------------------------------------------


def test_anova_f_matches_bruteforce(spark, sf_dir, queries):
    groups = {}
    for _, _, g, v, _ in _events(sf_dir):
        groups.setdefault(g, []).append(round(v * 100))
    k = len(groups)
    n = sum(len(xs) for xs in groups.values())
    grand = sum(sum(xs) for xs in groups.values()) / n
    ssb = sum(len(xs) * (sum(xs) / len(xs) - grand) ** 2 for xs in groups.values())
    ssw = sum(
        sum((x - sum(xs) / len(xs)) ** 2 for x in xs)
        for xs in groups.values()
    )
    row = queries["stats_oneway_anova_f"](spark, sf_dir).collect()[0]
    assert (row["k_groups"], row["n"]) == (k, n)
    _approx(row["ss_between"], ssb / 10000, rel=1e-6)
    _approx(row["ss_within"], ssw / 10000, rel=1e-9)
    _approx(
        row["f_stat"], (ssb / (k - 1)) / (ssw / (n - k)), rel=1e-6
    )
    _approx(row["eta_sq"], ssb / (ssb + ssw), rel=1e-6)


# --- Cramer's V ----------------------------------------------------------


def test_cramers_v_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)

    def dow(t):
        return (t // US_PER_DAY) % 7

    def hod6(t):
        return ((t // 3_600_000_000) % 24) // 6

    fixtures = {
        "type_dow": [(g, dow(t)) for _, _, g, _, t in rows],
        "type_hod6": [(g, hod6(t)) for _, _, g, _, t in rows],
        "dow_hod6": [(dow(t), hod6(t)) for _, _, g, _, t in rows],
    }
    res = {
        r["pair"]: r
        for r in queries["events_cramers_v_matrix"](spark, sf_dir).collect()
    }
    assert sorted(res) == sorted(fixtures)
    for name, obs in fixtures.items():
        cells = Counter(obs)
        rt = Counter(a for a, _ in obs)
        ct = Counter(b for _, b in obs)
        n = len(obs)
        chi2 = sum(
            (o - rt[a] * ct[b] / n) ** 2 / (rt[a] * ct[b] / n)
            for (a, b), o in cells.items()
        )
        row = res[name]
        assert row["n_events"] == n
        assert (row["n_cat_a"], row["n_cat_b"]) == (len(rt), len(ct))
        _approx(row["chi2"], chi2, rel=1e-6)
        _approx(
            row["cramers_v"],
            math.sqrt(row["chi2"] / (n * (min(len(rt), len(ct)) - 1))),
        )


# --- GPD moment fit ------------------------------------------------------


def test_gpd_fit_matches_bruteforce(spark, sf_dir, queries):
    per_type = {}
    for eid, _, g, v, _ in _events(sf_dir):
        per_type.setdefault(g, []).append((v, eid))
    expected = {}
    for g, xs in per_type.items():
        xs.sort()
        cnt = len(xs)
        rn = math.ceil(0.99 * cnt)
        p99 = xs[rn - 1][0]
        exc = [round(v * 100) - round(p99 * 100) for v, _ in xs if v > p99]
        if len(exc) < 2:
            continue
        m = sum(exc) / len(exc)
        var = sum((e - m) ** 2 for e in exc) / (len(exc) - 1)
        r = m * m / var
        expected[g] = (p99, len(exc), m / 100, 0.5 * (1 - r),
                       0.5 * (m / 100) * (r + 1))
    res = {
        r["event_type"]: r
        for r in queries["events_gpd_moment_fit"](spark, sf_dir).collect()
    }
    assert sorted(res) == sorted(expected)
    for g, (p99, n_ex, me, xi, beta) in expected.items():
        row = res[g]
        _approx(row["p99_v"], p99)
        assert row["n_exceed"] == n_ex
        _approx(row["mean_excess"], me)
        _approx(row["xi_hat"], xi, rel=1e-9)
        _approx(row["beta_hat"], beta, rel=1e-9)


# --- PACF (Durbin-Levinson) ----------------------------------------------


def test_pacf_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)
    hourly = Counter(t // 3_600_000_000 for *_, t in rows)
    n = len(hourly)
    sx = sum(hourly.values())
    den = sum((n * x - sx) ** 2 for x in hourly.values())
    p = {}
    for k in (1, 2, 3, 4):
        num = sum(
            (n * hourly[h] - sx) * (n * hourly[h - k] - sx)
            for h in hourly
            if (h - k) in hourly
        )
        p[k] = num / den
    f11 = p[1]
    f22 = (p[2] - p[1] * p[1]) / (1 - p[1] * p[1])
    f21 = f11 - f22 * f11
    f33 = (p[3] - f21 * p[2] - f22 * p[1]) / (1 - f21 * p[1] - f22 * p[2])
    f31, f32 = f21 - f33 * f22, f22 - f33 * f21
    f44 = (p[4] - f31 * p[3] - f32 * p[2] - f33 * p[1]) / (
        1 - f31 * p[1] - f32 * p[2] - f33 * p[3]
    )
    expect = {1: f11, 2: f22, 3: f33, 4: f44}
    res = {
        r["lag"]: r
        for r in queries["stats_pacf_durbin_levinson"](spark, sf_dir).collect()
    }
    assert sorted(res) == [1, 2, 3, 4]
    for k in (1, 2, 3, 4):
        _approx(res[k]["acf"], p[k])
        _approx(res[k]["pacf"], expect[k])


# --- STTR ----------------------------------------------------------------


def test_sttr_matches_bruteforce(spark, sf_dir, queries):
    n_seg = sum_types = n_tok = 0
    vocab = set()
    for _, text, _, _ in _docs(sf_dir):
        ws = text.split(" ")
        n_tok += len(ws)
        vocab.update(ws)
        for i in range(0, len(ws) - len(ws) % 25, 25):
            chunk = ws[i : i + 25]
            if len(chunk) == 25:
                n_seg += 1
                sum_types += len(set(chunk))
    row = queries["text_sttr_segments"](spark, sf_dir).collect()[0]
    assert (row["n_segments"], row["sum_seg_types"]) == (n_seg, sum_types)
    _approx(row["mean_sttr"], sum_types / (25 * n_seg))
    assert row["n_tokens"] == n_tok
    _approx(row["raw_ttr_corpus"], len(vocab) / n_tok)


# --- Burrows' Delta ------------------------------------------------------


def test_burrows_delta_matches_bruteforce(spark, sf_dir, queries):
    per_src = {}
    corpus = Counter()
    for _, text, _, src in _docs(sf_dir):
        ws = text.split(" ")
        per_src.setdefault(src, Counter()).update(ws)
        corpus.update(ws)
    topk = sorted(corpus, key=lambda w: (-corpus[w], w))[:30]
    srcs = sorted(per_src)
    tot = {s: sum(per_src[s].values()) for s in srcs}

    def rhu(v):
        return math.floor(v + 0.5)

    f = {
        (s, w): rhu(1e6 * per_src[s].get(w, 0) / tot[s])
        for s in srcs
        for w in topk
    }
    z = {}
    kept = []
    ns = len(srcs)
    for w in topk:
        xs = [f[(s, w)] for s in srcs]
        sf_, qf = sum(xs), sum(x * x for x in xs)
        if ns * qf <= sf_ * sf_:
            continue
        kept.append(w)
        sd = math.sqrt(ns * qf - sf_ * sf_) / ns
        for s in srcs:
            z[(s, w)] = (f[(s, w)] - sf_ / ns) / sd
    rows = queries["text_burrows_delta"](spark, sf_dir).collect()
    assert len(rows) == len(srcs) * (len(srcs) - 1) // 2
    for r in rows[:40]:
        sa, sb = r["source_a"], r["source_b"]
        gaps = [abs(z[(sa, w)] - z[(sb, w)]) for w in kept]
        assert r["n_words"] == len(kept)
        _approx(r["burrows_delta"], sum(gaps) / len(gaps), rel=1e-6)


# --- DP top-k words ------------------------------------------------------


def test_dp_topk_words_matches_bruteforce(spark, sf_dir, queries):
    corpus = Counter()
    for _, text, _, _ in _docs(sf_dir):
        corpus.update(text.split(" "))
    words = sorted(corpus)
    hm = 2147483647
    scored = []
    for r, w in enumerate(words, start=1):
        uni = (det_hash_py(r) + 0.5) / hm
        g = 0.001 * corpus[w] / 2 - math.log(-math.log(uni))
        scored.append((w, corpus[w], g))
    top = sorted(scored, key=lambda t: (-t[2], t[0]))[:10]
    true_rank = {
        w: i
        for i, w in enumerate(
            sorted(corpus, key=lambda w: (-corpus[w], w)), start=1
        )
    }
    rows = queries["privacy_dp_topk_words"](spark, sf_dir).collect()
    assert len(rows) == min(10, len(words))
    for i, (w, c, _) in enumerate(top[: len(rows)], start=1):
        row = next(r for r in rows if r["release_rank"] == i)
        assert (row["word"], row["n_occurrences"]) == (w, c)
        assert row["true_count_rank"] == true_rank[w]


# --- Moran's I -----------------------------------------------------------


def test_moran_i_matches_bruteforce(spark, sf_dir, queries):
    hm = 2147483647
    cells = Counter()
    for eid, u, *_ in _events(sf_dir):
        x = (det_hash_py(u) % 1000) / 10.0
        y = (det_hash_py(eid) % 1000) / 10.0
        cells[(math.floor(x), math.floor(y))] += 1
    n = len(cells)
    s = sum(cells.values())
    cbar = s / n
    num = w = 0
    s2 = 0
    for (cx, cy), ca in cells.items():
        deg = 0
        for dx, dy in ((-1, 0), (0, -1), (0, 1), (1, 0)):
            cb = cells.get((cx + dx, cy + dy))
            if cb is not None:
                w += 1
                deg += 1
                num += (ca - cbar) * (cb - cbar)
        s2 += (2 * deg) ** 2
    den = sum((c - cbar) ** 2 for c in cells.values())
    i_exp = (n / w) * num / den
    row = queries["spatial_moran_i_events"](spark, sf_dir).collect()[0]
    assert (row["n_cells"], row["w_pairs"]) == (n, w)
    _approx(row["moran_i"], i_exp, rel=1e-9)
    _approx(row["e_i_null"], -1 / (n - 1))
    e_i = -1 / (n - 1)
    var_i = (n * n * (2 * w) - n * s2 + 3 * w * w) / (
        w * w * (n * n - 1)
    ) - e_i * e_i
    _approx(row["z_normality"], (i_exp - e_i) / math.sqrt(var_i), rel=1e-9)


# --- RAKE keywords -------------------------------------------------------


def test_rake_keywords_matches_bruteforce(spark, sf_dir, queries):
    docs = _docs(sf_dir)
    corpus = Counter()
    for _, text, _, _ in docs:
        corpus.update(text.split(" "))
    stop = set(sorted(corpus, key=lambda w: (-corpus[w], w))[:20])
    phrases = []  # (ptext, words)
    for _, text, _, _ in docs:
        run = []
        for w in text.split(" ") + [None]:
            if w is None or w in stop:
                if run:
                    phrases.append((" ".join(run), list(run)))
                    run = []
            else:
                run.append(w)
    freq, deg = Counter(), Counter()
    for _, ws in phrases:
        for w in ws:
            freq[w] += 1
            deg[w] += len(ws)

    def rhu(v):
        return math.floor(v + 0.5)

    scored = {}
    occ = Counter()
    for ptext, ws in phrases:
        s = sum(rhu(1e9 * deg[w] / freq[w]) for w in ws)
        scored[ptext] = s
        occ[ptext] += 1
    top = sorted(scored, key=lambda t: (-scored[t], t))[:20]
    rows = queries["text_rake_keywords"](spark, sf_dir).collect()
    assert [r["phrase"] for r in rows] == sorted(
        top, key=lambda t: (-scored[t], t)
    )
    for r in rows:
        assert r["n_occurrences"] == occ[r["phrase"]]
        _approx(r["rake_score"], scored[r["phrase"]] / 1e9)


# --- GroupKFold audit ----------------------------------------------------


def test_group_kfold_audit_matches_bruteforce(spark, sf_dir, queries):
    per = {}
    for _, u, g, _, _ in _events(sf_dir):
        fold = det_hash_py(u) % 5
        users, n, p = per.get(fold, (set(), 0, 0))
        users.add(u)
        per[fold] = (users, n + 1, p + (g == "purchase"))
    n_tot = sum(n for _, n, _ in per.values())
    rows = {
        r["fold"]: r
        for r in queries["sample_group_kfold_audit"](spark, sf_dir).collect()
    }
    assert sorted(rows) == sorted(per)
    # leakage-free by construction: fold user sets are disjoint
    all_users = [us for us, _, _ in per.values()]
    assert sum(len(u) for u in all_users) == len(set().union(*all_users))
    for fold, (users, n, p) in per.items():
        row = rows[fold]
        assert (row["n_users"], row["n_events"]) == (len(users), n)
        _approx(row["event_share"], n / n_tot)
        _approx(row["purchase_rate"], p / n)


# --- Participation ratio -------------------------------------------------


def test_participation_ratio_matches_bruteforce(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
        " ORDER BY vec_id"
    ).fetchall()

    def rhu(v):
        return math.floor(v + 0.5) if v >= 0 else -math.floor(-v + 0.5)

    q = [[rhu(1e6 * float(x)) for x in (e,)[0]] for (e,) in rows]
    n, d = len(q), 64
    s = [sum(v[j] for v in q) for j in range(d)]
    tr_c = tr_c2 = 0
    for j in range(d):
        for k in range(d):
            pjk = sum(v[j] * v[k] for v in q)
            cov_nano = rhu(1e9 * ((n * pjk - s[j] * s[k]) / (n * n) / 1e12))
            if j == k:
                tr_c += cov_nano
            tr_c2 += cov_nano * cov_nano
    tr_c /= 1e9
    tr_c2 /= 1e18
    row = queries["embedding_participation_ratio"](spark, sf_dir).collect()[0]
    assert (row["n_vecs"], row["d"]) == (n, d)
    _approx(row["trace_cov"], tr_c, rel=1e-9)
    _approx(row["trace_cov_sq"], tr_c2, rel=1e-9)
    _approx(row["participation_ratio"], tr_c * tr_c / tr_c2, rel=1e-9)
    assert 1.0 <= row["participation_ratio"] <= d
