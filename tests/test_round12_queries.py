"""Independent Python replications of the round-12 novelty queries:
the rank/ordered-category tests (Kruskal–Wallis, Kendall τ-b,
Jonckheere–Terpstra, Cochran–Armitage), Nelson–Aalen, the effect-size
panel, Neyman allocation, the DP median release, the cosine-pair
histogram, the regression panel, the luma histogram, and the
continuation dedup — each recomputed from the raw parquet with plain
Python (brute force O(n²) where the query is clever) and compared
exactly on integers / to 1e-9 relative on the fixed double
expressions (the test_round10/11_queries discipline)."""

from __future__ import annotations

import math

import duckdb
import pytest

from conftest import det_hash_py

US_PER_DAY = 86_400_000_000


def _events(sf_dir):
    return duckdb.sql(
        "SELECT event_id, user_id, event_type, value, epoch_us(ts) AS t_us,"
        " length(props) AS props_len"
        f" FROM read_parquet('{sf_dir}/events.parquet') ORDER BY event_id"
    ).fetchall()


def _approx(a, b, rel=1e-9):
    assert a == pytest.approx(b, rel=rel), (a, b)


def test_kruskal_wallis_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)
    pairs = sorted((v, g) for _, _, g, v, _, _ in rows)
    n = len(pairs)
    # midranks over the pooled sample
    rank_sum = {}
    counts = {}
    i = 0
    rank = 0
    while i < n:
        j = i
        while j < n and pairs[j][0] == pairs[i][0]:
            j += 1
        avg = (2 * rank + (j - i) + 1) / 2.0  # midrank of the tie run
        for k in range(i, j):
            g = pairs[k][1]
            rank_sum[g] = rank_sum.get(g, 0.0) + avg
            counts[g] = counts.get(g, 0) + 1
        rank += j - i
        i = j
    h = 12.0 / (n * (n + 1)) * sum(
        rank_sum[g] ** 2 / counts[g] for g in counts
    ) - 3.0 * (n + 1)
    # tie correction
    from collections import Counter

    t_runs = Counter(v for v, _ in pairs)
    tie3 = sum(t**3 - t for t in t_runs.values())
    h_tie = h / (1.0 - tie3 / (n**3 - n))
    got = queries["stats_kruskal_wallis"](spark, sf_dir).collect()[0]
    assert got["k_groups"] == len(counts)
    assert got["n_total"] == n
    _approx(got["h_stat"], h, rel=1e-6)
    _approx(got["h_tie_corrected"], h_tie, rel=1e-6)


def test_kendall_tau_b_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)
    xy = [(v, (t_us // US_PER_DAY) % 7) for _, _, _, v, t_us, _ in rows]
    n = len(xy)
    conc = disc = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = (xy[i][0] > xy[j][0]) - (xy[i][0] < xy[j][0])
            dy = (xy[i][1] > xy[j][1]) - (xy[i][1] < xy[j][1])
            s = dx * dy
            if s > 0:
                conc += 1
            elif s < 0:
                disc += 1
    from collections import Counter

    tx = sum(c * (c - 1) for c in Counter(x for x, _ in xy).values())
    ty = sum(c * (c - 1) for c in Counter(y for _, y in xy).values())
    t0 = n * (n - 1) / 2.0
    tau = (conc - disc) / math.sqrt((t0 - tx / 2.0) * (t0 - ty / 2.0))
    got = queries["stats_kendall_tau_b"](spark, sf_dir).collect()[0]
    assert got["n_total"] == n
    assert got["conc"] == conc
    assert got["disc"] == disc
    assert got["tiex2"] == tx
    assert got["tiey2"] == ty
    _approx(got["tau_b"], tau, rel=1e-9)


def test_jonckheere_terpstra_matches_bruteforce(spark, sf_dir, queries):
    stages = {"view": 0, "click": 1, "signup": 2, "purchase": 3}
    rows = [
        (v, stages[g])
        for _, _, g, v, _, _ in _events(sf_dir)
        if g in stages
    ]
    n = len(rows)
    j2 = 0
    for i in range(n):
        for j in range(n):
            if rows[i][1] < rows[j][1]:  # ordered group pair (g < g')
                if rows[i][0] < rows[j][0]:
                    j2 += 2
                elif rows[i][0] == rows[j][0]:
                    j2 += 1
    from collections import Counter

    ng = Counter(g for _, g in rows)
    sn2 = sum(c * c for c in ng.values())
    sn3 = sum(c * c * (2 * c + 3) for c in ng.values())
    mu = (n * n - sn2) / 4.0
    var = (n * n * (2 * n + 3) - sn3) / 72.0
    z = (j2 / 2.0 - mu) / math.sqrt(var)
    got = queries["stats_jonckheere_terpstra"](spark, sf_dir).collect()[0]
    assert got["n_total"] == n
    assert got["j2"] == j2
    _approx(got["z_stat"], z, rel=1e-9)


def test_cochran_armitage_matches_python(spark, sf_dir, queries):
    rows = _events(sf_dir)
    data = [
        ((t_us // US_PER_DAY) % 7, 1 if g == "purchase" else 0)
        for _, _, g, _, t_us, _ in rows
    ]
    n = len(data)
    r = sum(y for _, y in data)
    swr = sum(w * y for w, y in data)
    swn = sum(w for w, _ in data)
    sw2n = sum(w * w for w, _ in data)
    p = r / n
    z = (swr - p * swn) / math.sqrt(p * (1 - p) * (sw2n - swn * swn / n))
    got = queries["stats_cochran_armitage_trend"](spark, sf_dir).collect()[0]
    assert (got["n_total"], got["r_total"]) == (n, r)
    assert (got["swr"], got["swn"], got["sw2n"]) == (swr, swn, sw2n)
    _approx(got["z_stat"], z, rel=1e-9)


def test_nelson_aalen_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        "SELECT o_custkey,"
        " min(year(o_orderdate) * 12 + month(o_orderdate)) AS f,"
        " max(year(o_orderdate) * 12 + month(o_orderdate)) AS l"
        f" FROM read_parquet('{sf_dir}/orders.parquet') GROUP BY o_custkey"
    ).fetchall()
    data_end = max(l for _, _, l in rows)
    obs = [(l - f, 1 if data_end - l > 6 else 0) for _, f, l in rows]
    from collections import Counter

    d = Counter()
    c = Counter()
    for dur, ch in obs:
        c[dur] += 1
        d[dur] += ch
    n_total = len(obs)
    at_risk = {}
    seen = 0
    for dur in sorted(c):
        at_risk[dur] = n_total - seen
        seen += c[dur]
    cum_h = 0
    cum_v = 0
    want = {}
    for dur in sorted(c):
        cum_h += round(1e9 * d[dur] / at_risk[dur])
        cum_v += round(1e9 * d[dur] / at_risk[dur] / at_risk[dur])
        if d[dur] > 0:
            want[dur] = (d[dur], at_risk[dur], cum_h, cum_v)
    got = {
        r["duration_m"]: (
            r["n_churned"],
            r["n_at_risk"],
            r["cum_hazard_nano"],
            r["var_hazard_nano"],
        )
        for r in queries["orders_nelson_aalen_hazard"](
            spark, sf_dir
        ).collect()
    }
    assert got == want


def test_effect_size_panel_matches_python(spark, sf_dir, queries):
    rows = _events(sf_dir)
    a = [round(v * 100) for _, u, _, v, _, _ in rows if u % 2 == 0]
    b = [round(v * 100) for _, u, _, v, _, _ in rows if u % 2 == 1]
    na, nb = len(a), len(b)
    sa, sb = sum(a), sum(b)
    qa, qb = sum(x * x for x in a), sum(x * x for x in b)
    diff = sa / na - sb / nb
    ssa = qa - sa * sa / na
    ssb = qb - sb * sb / nb
    d = diff / math.sqrt((ssa + ssb) / (na + nb - 2))
    g = d * (1 - 3 / (4 * (na + nb) - 9))
    glass = diff / math.sqrt(ssb / (nb - 1))
    got = queries["stats_effect_size_panel"](spark, sf_dir).collect()[0]
    assert (got["na"], got["nb"]) == (na, nb)
    _approx(got["mean_diff"], diff / 100.0, rel=1e-9)
    _approx(got["cohens_d"], d, rel=1e-9)
    _approx(got["hedges_g"], g, rel=1e-9)
    _approx(got["glass_delta"], glass, rel=1e-9)


def test_neyman_allocation_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        "SELECT lang, count(*), sum(n_chars), sum(n_chars * n_chars)"
        f" FROM read_parquet('{sf_dir}/documents.parquet') GROUP BY lang"
    ).fetchall()
    w = {}
    for lang, n, s1, s2 in rows:
        sd = math.sqrt(s2 / n - (s1 / n) * (s1 / n))
        w[lang] = round(n * sd * 1e6)
    tot = sum(w.values())
    want = {
        lang: (n, w[lang], round(1000.0 * w[lang] / tot))
        for lang, n, _, _ in rows
    }
    got = {
        r["lang"]: (r["n_docs"], r["w_micro"], r["alloc_n"])
        for r in queries["sample_neyman_allocation"](spark, sf_dir).collect()
    }
    assert got == want


def test_dp_median_release_matches_python(spark, sf_dir, queries):
    rows = _events(sf_dir)
    from collections import Counter

    cnt = Counter(round(v * 1_000_000) for _, _, _, v, _, _ in rows)
    n = sum(cnt.values())
    cum = 0
    best = None
    true_median = None
    for v_u in sorted(cnt):
        t = cnt[v_u]
        cum += t
        if true_median is None and 2 * cum >= n:
            true_median = v_u
        u2 = -abs(2 * cum - t - n)
        uni = (det_hash_py(v_u) + 0.5) / 2147483647.0
        score = 1.0 * u2 / 4.0 - math.log(-math.log(uni))
        key = (score, -v_u)
        if best is None or key > best[0]:
            best = (key, v_u, abs(2 * cum - t - n))
    got = queries["privacy_dp_median_release"](spark, sf_dir).collect()[0]
    assert got["n_total"] == n
    assert got["released_v_u"] == best[1]
    assert got["released_gap2"] == best[2]
    assert got["true_median_v_u"] == true_median


def test_regression_panel_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        "SELECT CAST(epoch(CAST(date_trunc('day', ts) AS DATE)) // 86400"
        " AS BIGINT) AS d, count(*) AS n"
        f" FROM read_parquet('{sf_dir}/events.parquet') GROUP BY 1 ORDER BY 1"
    ).fetchall()
    days = [n for _, n in rows]
    errs = [(y, f) for y, f in zip(days[7:], days[:-7])]
    nd = len(errs)
    s_err = sum(y - f for y, f in errs)
    s_abs = sum(abs(y - f) for y, f in errs)
    s_sq = sum((y - f) ** 2 for y, f in errs)
    s_y = sum(y for y, _ in errs)
    s_y2 = sum(y * y for y, _ in errs)
    s_smape = sum(
        round(2e9 * abs(y - f) / (y + f)) for y, f in errs
    )
    got = queries["ml_eval_regression_panel"](spark, sf_dir).collect()[0]
    assert got["n_days"] == nd
    assert (got["s_err"], got["s_abs"], got["s_sq"]) == (s_err, s_abs, s_sq)
    assert got["s_smape_nano"] == s_smape
    _approx(got["mae"], s_abs / nd, rel=1e-9)
    _approx(got["rmse"], math.sqrt(s_sq / nd), rel=1e-9)
    _approx(
        got["r2"], 1.0 - nd * s_sq / (nd * s_y2 - s_y * s_y), rel=1e-9
    )


def test_luma_histogram_matches_python(spark, sf_dir, queries):
    import numpy as np

    doc_ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    ]
    counts = np.zeros(16, dtype="int64")
    for d in doc_ids:
        w, h = 1 + d % 16, 1 + d % 12
        i = np.arange(w * h)
        r = (i % w + i // w + d) % 256
        g = (2 * (i % w) + d) % 256
        b = (3 * (i // w) + d) % 256
        counts += np.bincount((r + g + b) // 3 >> 4, minlength=16)[:16]
    got = queries["multimodal_image_luma_histogram"](spark, sf_dir).collect()
    assert [r["n_pixels"] for r in sorted(got, key=lambda r: r["bin"])] == [
        int(c) for c in counts
    ]


def test_doc_continuation_matches_python(spark, sf_dir, queries):
    import re

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    hk = {}
    for d, t in rows:
        toks = [
            w
            for w in (
                re.sub(r"[^a-zA-Z]", "", x).lower() for x in t.split(" ")
            )
            if w
        ]
        if len(toks) >= 6:
            hk[d] = (" ".join(toks[:3]), " ".join(toks[-3:]))
    want = {
        (a, b, hk[a][1])
        for a in hk
        for b in hk
        if a != b and hk[a][1] == hk[b][0]
    }
    got = {
        (r["tail_doc"], r["head_doc"], r["overlap"])
        for r in queries["dedup_doc_continuation"](spark, sf_dir).collect()
    }
    assert got == want


def test_cosine_pair_histogram_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        "SELECT vec_id, embedding"
        f" FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    sample = sorted(rows, key=lambda r: (det_hash_py(r[0]), r[0]))[:128]

    def cos(a, b):
        # sequential left folds, mirroring F.aggregate / list_sum
        dot = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
        na = 0.0
        for x in a:
            na += float(x) * float(x)
        nb = 0.0
        for y in b:
            nb += float(y) * float(y)
        return dot / (math.sqrt(na) * math.sqrt(nb))

    from collections import Counter

    bins = Counter()
    for i in range(len(sample)):
        for j in range(i + 1, len(sample)):
            a, b = sample[i], sample[j]
            lo, hi = (a, b) if a[0] < b[0] else (b, a)
            bins[min(19, math.floor((cos(lo[1], hi[1]) + 1.0) * 10.0))] += 1
    got = {
        r["bin"]: r["n_pairs"]
        for r in queries["embedding_cosine_pair_histogram"](
            spark, sf_dir
        ).collect()
    }
    assert got == dict(bins)
