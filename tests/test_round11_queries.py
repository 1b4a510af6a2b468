"""Independent Python replications of the round-11 novelty queries:
the LSH recall planner, the power/sample-size planner, the confident
joint, and the post-stratified lift — each recomputed from the raw
parquet with plain Python ints/floats and compared exactly (the
test_round10_queries discipline)."""

from __future__ import annotations

import duckdb

from conftest import det_hash_py


def _shingle_sets(sf_dir):
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    out = {}
    for d, t in rows:
        w = t.split(" ")
        out[d] = {
            " ".join(w[i : i + 3]) for i in range(len(w) - 2)
        } if len(w) >= 3 else set()
    return out


def test_lsh_recall_planner_matches_python(spark, sf_dir, queries):
    sh = _shingle_sets(sf_dir)
    ids = sorted(sh)
    js = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if not inter:
                continue
            j = inter / len(sh[a] | sh[b])
            if j >= 0.5:
                js.append(j)
    want = {}
    for bands, rr in [(8, 4), (16, 4), (32, 4), (8, 8), (16, 8), (32, 8)]:
        tot = 0
        minp = None
        for j in js:
            j2 = j * j
            j4 = j2 * j2
            j8 = j4 * j4
            t = 1 - (j4 if rr == 4 else j8)
            t2 = t * t
            t4 = t2 * t2
            t8 = t4 * t4
            t16 = t8 * t8
            t32 = t16 * t16
            p = 1 - {8: t8, 16: t16, 32: t32}[bands]
            tot += round(p * 1_000_000_000)
            minp = p if minp is None else min(minp, p)
        want[(bands, rr)] = (len(js), tot, minp)
    out = queries["dedup_lsh_recall_planner"](spark, sf_dir).collect()
    assert len(out) == 6
    for r in out:
        n, tot, minp = want[(r.bands, r.rows_per_band)]
        assert r.n_true_pairs == n
        assert r.exp_detected_nano == tot
        assert r.min_p_detect == minp
        assert r.exp_recall == tot / n / 1_000_000_000
    # the registered 32x4 config must dominate every cheaper config
    rec = {(r.bands, r.rows_per_band): r.exp_recall for r in out}
    assert rec[(32, 4)] == max(rec.values())
    assert rec[(32, 4)] > 0.999  # <1e-7 FN at j=0.5 claimed in dedup docs


def _per_user_conversions(sf_dir):
    return duckdb.sql(
        f"""SELECT user_id,
               CASE WHEN sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) >= 15
                    THEN 1 ELSE 0 END,
               count(*)
            FROM read_parquet('{sf_dir}/events.parquet') GROUP BY user_id"""
    ).fetchall()


def test_power_sample_size_matches_python(spark, sf_dir, queries):
    users = _per_user_conversions(sf_dir)
    n_users = len(users)
    conv = sum(c for _, c, _ in users)
    p1 = (conv * 1_000_000) // n_users
    z = 1_959_964 + 841_621
    out = {r.delta_u: r for r in
           queries["stats_power_sample_size"](spark, sf_dir).collect()}
    assert set(out) == {10_000, 20_000, 30_000, 50_000, 100_000}
    for d, r in out.items():
        p2 = p1 + d
        var = p1 * (1_000_000 - p1) + p2 * (1_000_000 - p2)
        num = z * z * var
        den = d * d * 1_000_000
        n_arm = (num + den - 1) // den
        assert r.p1_u == p1 and r.p2_u == p2
        assert r.n_per_arm == n_arm
        assert r.feasible_now == (2 * n_arm <= n_users)
    # smaller effects need more samples
    ns = [out[d].n_per_arm for d in sorted(out)]
    assert ns == sorted(ns, reverse=True)


def test_confident_joint_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"""SELECT user_id,
               sum(CAST(round(value*1000000) AS BIGINT)) // count(*)
            FROM read_parquet('{sf_dir}/events.parquet') GROUP BY user_id"""
    ).fetchall()
    per = [(det_hash_py(u) % 2, v) for u, v in rows]
    lo = min(v for _, v in per)
    hi = max(v for _, v in per)
    w = hi - lo
    sc = [(y, v - lo) for y, v in per]
    n1 = sum(1 for y, _ in sc if y == 1)
    ssv1 = sum(sv for y, sv in sc if y == 1)
    n0 = sum(1 for y, _ in sc if y == 0)
    ssv0c = sum(w - sv for y, sv in sc if y == 0)
    cj = {(y, c): 0 for y in (0, 1) for c in (0, 1)}
    for y, sv in sc:
        q1 = sv * n1 >= ssv1
        q0 = (w - sv) * n0 >= ssv0c
        if q1 and q0:
            c = 1 if 2 * sv >= w else 0
        elif q1:
            c = 1
        elif q0:
            c = 0
        else:
            continue
        cj[(y, c)] += 1
    out = queries["ml_eval_confident_joint"](spark, sf_dir).collect()
    assert len(out) == 4
    for r in out:
        assert r.n_confident == cj[(r.y_label, r.pred_label)]
        assert r.suspected_mislabel == (r.y_label != r.pred_label)
    # parity labels are pure noise vs the value score: the off-diagonal
    # (suspected-mislabel) mass must be substantial, not zero
    offdiag = sum(v for (y, c), v in cj.items() if y != c)
    assert offdiag > 0


def test_poststratified_lift_matches_python(spark, sf_dir, queries):
    users = _per_user_conversions(sf_dir)
    cells: dict[int, list[int]] = {}
    for u, conv, n_ev in users:
        st = 0 if n_ev < 10 else 1 if n_ev < 20 else 2 if n_ev < 50 else 3
        c = cells.setdefault(st, [0, 0, 0, 0, 0])  # n_s n_a conv_a n_b conv_b
        c[0] += 1
        if u % 2 == 0:
            c[1] += 1
            c[2] += conv
        else:
            c[3] += 1
            c[4] += conv
    nn = sum(c[0] for c in cells.values())
    terms = {}
    for st, (n_s, n_a, ca, n_b, cb) in cells.items():
        if n_a > 0 and n_b > 0:
            lift = cb / n_b - ca / n_a
            t = round((n_s / nn) * lift * 1_000_000_000)
        else:
            lift, t = None, 0
        terms[st] = (n_s, n_a, ca, n_b, cb, lift, n_s / nn, t)
    post = sum(t[-1] for t in terms.values()) / 1_000_000_000
    out = {r.stratum: r for r in
           queries["stats_poststratified_lift"](spark, sf_dir).collect()}
    assert set(out) == set(terms)
    for st, (n_s, n_a, ca, n_b, cb, lift, wgt, t) in terms.items():
        r = out[st]
        assert (r.n_s, r.n_a, r.conv_a, r.n_b, r.conv_b) == (n_s, n_a, ca, n_b, cb)
        assert r.lift_s == lift
        assert r.weight == wgt
        assert r.term_nano == t
        assert r.post_stratified_lift == post
