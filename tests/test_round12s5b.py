"""Independent Python replications of the second session-5 batch:
multi-class MCC, conditional entropy / info gain of the event chain,
the simplified (centroid) silhouette, Kuiper's circular uniformity
test, Bartlett's variance-homogeneity test, and degree assortativity —
same discipline as test_round12s5.py."""

from __future__ import annotations

import math

import duckdb
import pytest

from wikipedia_data_pipeline_spark.operators.sampling import PRE_MOD
from conftest import det_hash_py

US_PER_HOUR = 3_600_000_000


def _events(sf_dir):
    return duckdb.sql(
        "SELECT event_id, user_id, event_type, value, epoch_us(ts) AS t_us"
        f" FROM read_parquet('{sf_dir}/events.parquet') ORDER BY event_id"
    ).fetchall()


def _approx(a, b, rel=1e-9):
    assert a == pytest.approx(b, rel=rel), (a, b)


def test_mcc_multiclass_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)
    pairs = []
    for eid, *_ in rows:
        y = det_hash_py(eid) % 4
        flip = det_hash_py((eid % PRE_MOD) * 13 + 5) % 20
        alt = det_hash_py((eid % PRE_MOD) * 31 + 11) % 4
        pairs.append((y, y if flip < 13 else alt))
    s = len(pairs)
    c = sum(1 for y, p in pairs if y == p)
    from collections import Counter

    t = Counter(y for y, _ in pairs)
    p = Counter(q for _, q in pairs)
    sum_tp = sum(t[k] * p[k] for k in range(4))
    sum_pp = sum(p[k] ** 2 for k in range(4))
    sum_tt = sum(t[k] ** 2 for k in range(4))
    mcc = (c * s - sum_tp) / (
        math.sqrt(s * s - sum_pp) * math.sqrt(s * s - sum_tt)
    )
    row = queries["ml_eval_mcc_multiclass"](spark, sf_dir).collect()[0]
    assert (row["s"], row["c"]) == (s, c)
    _approx(row["mcc"], mcc)


def test_conditional_entropy_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)
    by_user = {}
    for eid, u, g, _, t_us in rows:
        by_user.setdefault(u, []).append((t_us, eid, g))
    pairs = []
    for seq in by_user.values():
        seq.sort()
        for i in range(1, len(seq)):
            pairs.append((seq[i - 1][2], seq[i][2]))
    n = len(pairs)
    from collections import Counter

    cells = Counter(pairs)
    n_a = Counter(a for a, _ in pairs)
    m_b = Counter(b for _, b in pairs)
    h_cond = -sum(
        (c / n) * math.log(c / n_a[a]) for (a, _), c in cells.items()
    )
    h_marg = -sum((m / n) * math.log(m / n) for m in m_b.values())
    row = queries["events_conditional_entropy"](spark, sf_dir).collect()[0]
    assert row["n_pairs"] == n
    _approx(row["h_cond"], h_cond, rel=1e-5)  # nano-quantized terms
    _approx(row["h_marg"], h_marg, rel=1e-5)
    _approx(row["info_gain"], h_marg - h_cond, rel=1e-4)


def _embeddings(sf_dir):
    return duckdb.sql(
        "SELECT vec_id, embedding, label"
        f" FROM read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()


def test_simplified_silhouette_matches_bruteforce(spark, sf_dir, queries):
    rows = _embeddings(sf_dir)
    from collections import defaultdict

    by_label = defaultdict(list)
    for _, emb, lab in rows:
        by_label[lab].append([float(x) for x in emb])
    cents = {
        lab: [sum(v[i] for v in vs) / len(vs) for i in range(len(vs[0]))]
        for lab, vs in by_label.items()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return dot / (na * nb)

    sums = defaultdict(float)
    ns = defaultdict(int)
    for _, emb, lab in rows:
        v = [float(x) for x in emb]
        a = 1.0 - cos(v, cents[lab])
        b = 1.0 - max(
            cos(v, c) for ll, c in cents.items() if ll != lab
        )
        sums[lab] += (b - a) / max(a, b)
        ns[lab] += 1
    got = {
        r["label"]: (r["n"], r["mean_silhouette"])
        for r in queries["embedding_simplified_silhouette"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(ns)
    for lab in ns:
        assert got[lab][0] == ns[lab]
        # decimal-quantized centroids/means vs float replication
        _approx(got[lab][1], sums[lab] / ns[lab], rel=1e-3)


def test_kuiper_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)
    from collections import Counter

    buckets = Counter((t_us // US_PER_HOUR) % 24 for *_, t_us in rows)
    n = sum(buckets.values())
    cum = 0
    gps, gms = [], []
    for b in range(24):
        nb = buckets.get(b, 0)
        if not nb:
            continue  # grid rows exist only for present buckets
        cum += nb
        gps.append(cum / n - (b + 1) / 24)
        gms.append((b + 1) / 24 - (cum - nb) / n)
    d_plus, d_minus = max(gps), max(gms)
    row = queries["stats_kuiper_hod_uniformity"](spark, sf_dir).collect()[0]
    assert row["n"] == n
    _approx(row["d_plus"], d_plus)
    _approx(row["d_minus"], d_minus)
    _approx(row["v_stat"], d_plus + d_minus)
    _approx(row["v_scaled"], (d_plus + d_minus) * math.sqrt(n))


def test_bartlett_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)
    from collections import defaultdict

    groups = defaultdict(list)
    for _, _, g, v, _ in rows:
        groups[g].append(round(v * 100))
    k = len(groups)
    n = sum(len(v) for v in groups.values())
    s2 = {}
    for g, xs in groups.items():
        ni, si, qi = len(xs), sum(xs), sum(x * x for x in xs)
        s2[g] = (ni * qi - si * si) / (ni * (ni - 1))
    s2_pooled = sum((len(groups[g]) - 1) * s2[g] for g in groups) / (n - k)
    m_stat = (n - k) * math.log(s2_pooled) - sum(
        (len(groups[g]) - 1) * math.log(s2[g]) for g in groups
    )
    c_factor = 1.0 + (
        sum(1 / (len(groups[g]) - 1) for g in groups) - 1 / (n - k)
    ) / (3 * (k - 1))
    row = queries["stats_bartlett_test"](spark, sf_dir).collect()[0]
    assert (row["k"], row["n"]) == (k, n)
    _approx(row["s2_pooled"], s2_pooled, rel=1e-6)
    _approx(row["m_stat"], m_stat, rel=1e-5)
    _approx(row["c_factor"], c_factor, rel=1e-9)
    _approx(row["chi2"], m_stat / c_factor, rel=1e-5)


def test_assortativity_matches_bruteforce(spark, sf_dir, queries):
    edges = duckdb.sql(
        "SELECT DISTINCT l_partkey, l_suppkey"
        f" FROM read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchall()
    from collections import Counter

    dp = Counter(p for p, _ in edges)
    ds = Counter(s for _, s in edges)
    xs = [(dp[p], ds[s]) for p, s in edges]
    m = len(xs)
    sx = sum(x for x, _ in xs)
    sy = sum(y for _, y in xs)
    sxx = sum(x * x for x, _ in xs)
    syy = sum(y * y for _, y in xs)
    sxy = sum(x * y for x, y in xs)
    r = (m * sxy - sx * sy) / (
        math.sqrt(m * sxx - sx * sx) * math.sqrt(m * syy - sy * sy)
    )
    row = queries["graph_degree_assortativity"](spark, sf_dir).collect()[0]
    assert row["m_edges"] == m
    assert int(row["sx"]) == sx and int(row["sy"]) == sy
    _approx(row["assortativity_r"], r)


def test_js_divergence_matches_bruteforce(spark, sf_dir, queries):
    docs = duckdb.sql(
        "SELECT source, text"
        f" FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    from collections import Counter, defaultdict

    wc = defaultdict(Counter)
    for src, text in docs:
        wc[src].update(text.split(" "))
    tot = {s: sum(c.values()) for s, c in wc.items()}
    expect = {}
    srcs = sorted(wc)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            js = 0.0
            for w in set(wc[a]) | set(wc[b]):
                pa = wc[a][w] / tot[a]
                pb = wc[b][w] / tot[b]
                m = (pa + pb) / 2
                if pa:
                    js += 0.5 * pa * math.log(pa / m)
                if pb:
                    js += 0.5 * pb * math.log(pb / m)
            expect[(a, b)] = js
    got = {
        (r["source_a"], r["source_b"]): r["js_nats"]
        for r in queries["text_js_divergence_sources"](spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for k in expect:
        _approx(got[k], expect[k], rel=1e-4)  # nano-quantized terms


def test_word_burstiness_matches_bruteforce(spark, sf_dir, queries):
    docs = duckdb.sql(
        "SELECT doc_id, text"
        f" FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    from collections import Counter, defaultdict

    per = defaultdict(list)
    for _, text in docs:
        for w, c in Counter(text.split(" ")).items():
            per[w].append(c)
    n_docs = len(docs)
    got = {
        r["word"]: (r["df"], r["n_occurrences"], r["vmr"])
        for r in queries["text_word_burstiness"](spark, sf_dir).collect()
    }
    expect = {w: cs for w, cs in per.items() if len(cs) >= 5}
    assert set(got) == set(expect)
    for w, cs in expect.items():
        df, s, q = len(cs), sum(cs), sum(c * c for c in cs)
        assert got[w][:2] == (df, s)
        # population VMR over ALL docs incl. zeros:
        # mean = s/D, var = (q - s^2/D)/D, vmr = (D*q - s^2)/(D*s)
        _approx(got[w][2], (n_docs * q - s * s) / (n_docs * s))


def test_hill_tail_index_matches_bruteforce(spark, sf_dir, queries):
    prices = duckdb.sql(
        "SELECT CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey"
        f" FROM read_parquet('{sf_dir}/orders.parquet')"
    ).fetchall()
    k = 1000
    top = sorted(prices, key=lambda r: (-r[0], r[1]))[: k + 1]
    xmin = top[k][0]
    h = sum(math.log(c / xmin) for c, _ in top[:k]) / k
    row = queries["stats_hill_tail_index"](spark, sf_dir).collect()[0]
    assert (row["k"], row["xmin_cents"]) == (k, xmin)
    _approx(row["hill_h"], h, rel=1e-6)
    _approx(row["alpha_hat"], 1 / h, rel=1e-6)


def test_mean_excess_pot_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)
    from collections import defaultdict

    groups = defaultdict(list)
    for eid, _, g, v, _ in rows:
        groups[g].append((v, eid))
    got = {
        r["event_type"]: (
            r["n"], r["p99_v"], r["n_exceed"], r["exceed_rate"],
            r["mean_excess"],
        )
        for r in queries["events_mean_excess_pot"](spark, sf_dir).collect()
    }
    assert set(got) == set(groups)
    for g, xs in groups.items():
        xs.sort()
        n = len(xs)
        u = xs[math.ceil(0.99 * n) - 1][0]
        exc = [round(v * 100) - round(u * 100) for v, _ in xs if v > u]
        assert got[g][0] == n
        _approx(got[g][1], u)
        assert got[g][2] == len(exc)
        _approx(got[g][3], len(exc) / n)
        if exc:
            _approx(got[g][4], sum(exc) / (100 * len(exc)))


def test_market_basket_rules_matches_bruteforce(spark, sf_dir, queries):
    op = duckdb.sql(
        "SELECT DISTINCT l_orderkey, l_partkey"
        f" FROM read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchall()
    from collections import Counter, defaultdict

    baskets = defaultdict(set)
    for o, p in op:
        baskets[o].add(p)
    nn = len(baskets)
    item = Counter(p for _, p in op)
    pair = Counter()
    for parts in baskets.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1:]:
                pair[(a, b)] += 1
                pair[(b, a)] += 1
    rules = []
    for (a, b), n_ab in pair.items():
        if n_ab < 3:
            continue
        lift = nn * n_ab / (item[a] * item[b])
        conf = n_ab / item[a]
        rules.append((-lift, -conf, a, b, n_ab))
    rules.sort()
    expect = rules[:200]
    got = queries["market_basket_rules"](spark, sf_dir).collect()
    assert len(got) == len(expect)
    for row, (nl, nc, a, b, n_ab) in zip(got, expect):
        assert (row["antecedent"], row["consequent"], row["n_ab"]) == (
            a, b, n_ab,
        )
        assert (row["n_a"], row["n_b"]) == (item[a], item[b])
        _approx(row["support"], n_ab / nn)
        _approx(row["confidence"], -nc)
        _approx(row["lift"], -nl)
        _approx(
            row["leverage"], n_ab / nn - (item[a] / nn) * (item[b] / nn)
        )


def test_stump_information_gain_matches_bruteforce(spark, sf_dir, queries):
    rows = _events(sf_dir)
    from collections import Counter

    cells = Counter(
        ((t_us // US_PER_HOUR) % 24, g) for _, _, g, _, t_us in rows
    )
    n = sum(cells.values())
    fh = Counter()
    fy = Counter()
    for (h, y), c in cells.items():
        fh[h] += c
        fy[y] += c
    h_label = -sum((c / n) * math.log(c / n) for c in fy.values())
    h_cond = -sum(
        (c / n) * math.log(c / fh[h]) for (h, _), c in cells.items()
    )
    h_feat = -sum((c / n) * math.log(c / n) for c in fh.values())
    stump = sum(
        max(c for (h2, _), c in cells.items() if h2 == h) for h in fh
    )
    row = queries["features_stump_information_gain"](spark, sf_dir).collect()[0]
    assert row["n"] == n
    _approx(row["h_label"], h_label, rel=1e-5)
    _approx(row["h_label_given_f"], h_cond, rel=1e-5)
    _approx(row["h_feature"], h_feat, rel=1e-5)
    _approx(row["info_gain"], h_label - h_cond, rel=1e-3)
    _approx(row["gain_ratio"], (h_label - h_cond) / h_feat, rel=1e-3)
    _approx(row["stump_accuracy"], stump / n)
