"""Independent Python replications of the round-12 session-4 batch
beyond the nonparametric module (see test_statsnonparam.py): Hurst R/S,
Horvitz-Thompson counts, and connected components over the brute-force
near-dup pair graph (union-find vs the engine's hash-min propagation
and the oracle's recursive-CTE closure)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import duckdb
import pytest


US_PER_HOUR = 3_600_000_000


def _approx(a, b, rel=1e-6):
    assert a == pytest.approx(b, rel=rel), (a, b)


def _round_half_away(x):
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


def test_hurst_rs_matches_bruteforce(spark, sf_dir, queries):
    hc = duckdb.sql(
        f"SELECT epoch_us(ts) // {US_PER_HOUR} AS h, count(*) AS x"
        f" FROM read_parquet('{sf_dir}/events.parquet')"
        " GROUP BY 1 ORDER BY 1"
    ).fetchall()
    xs = [x for _, x in hc]
    pts = []
    for w in (8, 16, 32, 64):
        rs_nanos = []
        for b in range(len(xs) // w):
            blk = xs[b * w : (b + 1) * w]
            s, ss = sum(blk), sum(v * v for v in blk)
            rad = w * ss - s * s
            if rad <= 0:
                continue
            cum = 0
            wys = [0]
            for k, v in enumerate(blk, start=1):
                cum += v
                wys.append(w * cum - k * s)
            rw = max(wys) - min(wys)
            rs_nanos.append(_round_half_away(1e9 * rw / math.sqrt(rad)))
        pts.append((w, len(rs_nanos), sum(rs_nanos)))
    expect = {
        w: (nb, sum_nano / nb / 1e9) for w, nb, sum_nano in pts if nb
    }
    lx = {8: 3, 16: 4, 32: 5, 64: 6}
    ols_pts = [
        (lx[w], _round_half_away(1e9 * math.log2(mean)))
        for w, (nb, mean) in expect.items()
    ]
    n = len(ols_pts)
    sx = sum(x for x, _ in ols_pts)
    sy = sum(y for _, y in ols_pts)
    sxy = sum(x * y for x, y in ols_pts)
    sxx = sum(x * x for x, _ in ols_pts)
    hurst = (n * sxy - sx * sy) / (n * sxx - sx * sx) / 1e9
    got = {
        r["w"]: r for r in queries["events_hurst_rs"](spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for w, (nb, mean) in expect.items():
        assert got[w]["n_blocks"] == nb
        _approx(got[w]["mean_rs"], mean, rel=1e-9)
        _approx(got[w]["hurst"], hurst, rel=1e-6)
    # sanity: hourly volume should not be wildly anti-persistent
    assert 0.0 < got[8]["hurst"] < 1.2


def test_horvitz_thompson_matches_bruteforce(spark, sf_dir, queries):
    rows = duckdb.sql(
        "SELECT o_orderkey, o_orderstatus,"
        " CAST(round(o_totalprice * 100) AS BIGINT) AS cents"
        f" FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey"
    ).fetchall()
    K = 200
    total = sum(c for _, _, c in rows)
    cum = 0
    est_micro = defaultdict(int)
    n_sampled = Counter()
    for _, status, cents in rows:
        cum += cents
        n_slots = (cum * K) // total - ((cum - cents) * K) // total
        if n_slots > 0:
            n_sampled[status] += 1
            est_micro[status] += _round_half_away(
                1e6 * n_slots * total / (K * cents)
            )
    true_counts = Counter(s for _, s, _ in rows)
    got = {
        r["o_orderstatus"]: r
        for r in queries["sample_horvitz_thompson_counts"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(true_counts)
    total_est = 0.0
    for s, tc in true_counts.items():
        assert got[s]["true_count"] == tc
        assert got[s]["n_sampled"] == n_sampled[s]
        _approx(got[s]["ht_count_est"], est_micro[s] / 1e6, rel=1e-9)
        total_est += got[s]["ht_count_est"]
    # HT count estimate should land near the true population size
    n_total = sum(true_counts.values())
    assert abs(total_est - n_total) / n_total < 0.25


def _shingles(text):
    t = text.split(" ")
    return {
        " ".join(t[i : i + 3]) for i in range(len(t) - 2)
    } if len(t) >= 3 else set()


def test_connected_components_matches_unionfind(spark, sf_dir, queries):
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
        " ORDER BY doc_id"
    ).fetchall()
    sh = {d: _shingles(t) for d, t in docs}
    ids = sorted(sh)
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    in_graph = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = sh[a], sh[b]
            if not sa and not sb:
                continue
            inter = len(sa & sb)
            if inter and inter / len(sa | sb) >= 0.5:
                union(a, b)
                in_graph.add(a)
                in_graph.add(b)
    comp = defaultdict(list)
    for d in in_graph:
        comp[find(d)].append(d)
    expect = {
        d: (root, len(members))
        for root, members in comp.items()
        for d in members
    }
    got = {
        r["doc_id"]: (r["comp_id"], r["comp_size"])
        for r in queries["dedup_connected_components"](
            spark, sf_dir
        ).collect()
    }
    assert got == expect


def test_chrf_matches_bruteforce(spark, sf_dir, queries):
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    match = Counter()
    c_total = Counter()
    r_total = Counter()
    for _, text in docs:
        toks = text.split(" ")
        clen = max(len(toks) * 4 // 5, 1)
        ctoks = [
            "UNK" if i % 7 == 0 else toks[i - 1] for i in range(1, clen + 1)
        ]
        cstr, rstr = "".join(ctoks), "".join(toks)
        for n in range(1, 7):
            cg = Counter(
                cstr[i : i + n] for i in range(len(cstr) - n + 1)
            )
            rg = Counter(
                rstr[i : i + n] for i in range(len(rstr) - n + 1)
            )
            match[n] += sum(min(c, rg[g]) for g, c in cg.items())
            c_total[n] += max(len(cstr) - n + 1, 0)
            r_total[n] += max(len(rstr) - n + 1, 0)
    fs = []
    beta_sq = 4
    for n in range(1, 7):
        p = match[n] / c_total[n]
        r = match[n] / r_total[n]
        f = (
            0.0
            if match[n] == 0
            else (1 + beta_sq) * p * r / (beta_sq * p + r)
        )
        fs.append((n, p, r, f))
    avg = sum(_round_half_away(1e9 * f) for _, _, _, f in fs) / 6 / 1e9
    got = {r["n"]: r for r in queries["ml_eval_chrf"](spark, sf_dir).collect()}
    for n, p, r, f in fs:
        assert got[n]["matches"] == match[n]
        assert got[n]["c_total"] == c_total[n]
        assert got[n]["r_total"] == r_total[n]
        _approx(got[n]["chr_p"], p, rel=1e-12)
        _approx(got[n]["chr_r"], r, rel=1e-12)
        _approx(got[n]["chr_f"], f, rel=1e-9)
        _approx(got[n]["chrf_avg"], avg, rel=1e-9)
