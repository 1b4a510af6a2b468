"""Round-10 novelties, each replicated exactly in plain Python from the
same parquet inputs (the strongest non-oracle check: independent
reimplementation, not invariants): Yule's K / Simpson's D, Krippendorff
alpha, the hash-permutation test, sign-bit Hamming top-k, and DSIR
importance weights."""

from __future__ import annotations

import math
import re
from collections import Counter

import duckdb

from conftest import det_hash_py

PRE_MOD = 1_000_003
HASH_MOD = (1 << 31) - 1


def tokens_py(text: str) -> list[str]:
    return [
        w
        for w in (re.sub("[^a-zA-Z]", "", t).lower() for t in text.split(" "))
        if w
    ]


def _docs(sf_dir):
    return duckdb.sql(
        f"SELECT doc_id, text, lang FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()


def test_yule_k_matches_python(spark, sf_dir, queries):
    rows = {r.lang: r for r in queries["text_yule_k_diversity"](spark, sf_dir).collect()}
    by_lang: dict[str, Counter] = {}
    for _, text, lang in _docs(sf_dir):
        by_lang.setdefault(lang, Counter()).update(tokens_py(text))
    assert set(rows) == set(by_lang)
    for lang, freq in by_lang.items():
        n = sum(freq.values())
        sum_m2 = sum(m * m for m in freq.values())
        sum_mm1 = sum(m * (m - 1) for m in freq.values())
        r = rows[lang]
        assert r.n_tokens == n and r.n_types == len(freq)
        assert r.yule_k == 10000.0 * (sum_m2 - n) / (n * n)
        assert r.simpson_d == sum_mm1 / (n * (n - 1))


def test_krippendorff_matches_python_and_brackets_fleiss(spark, sf_dir, queries):
    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT event_id FROM read_parquet('{sf_dir}/events.parquet')"
        ).fetchall()
    ]
    A = c = 0
    cats = Counter()
    for e in ids:
        r1 = det_hash_py(e) % 3
        r2 = r1 if det_hash_py((e % PRE_MOD) * 13 + 5) % 10 < 7 else det_hash_py((e % PRE_MOD) * 31 + 11) % 3
        r3 = r1 if det_hash_py((e % PRE_MOD) * 43 + 17) % 10 < 5 else det_hash_py((e % PRE_MOD) * 53 + 29) % 3
        A += (r1 == r2) + (r1 == r3) + (r2 == r3)
        cats.update([r1, r2, r3])
    N = len(ids)
    n = 3 * N
    csq = sum(v * v for v in cats.values())
    alpha = 1 - (n - A) * (n - 1) / (n * n - csq)
    out = queries["ml_eval_krippendorff_alpha"](spark, sf_dir).collect()[0]
    assert out.n_items == N
    assert abs(out.krippendorff_alpha - alpha) < 1e-12
    assert out.observed_disagreement == (n - A) / n
    # alpha applies the small-sample (n-1) correction to the SAME
    # agreement counts Fleiss uses; they must be close but not equal
    fl = queries["ml_eval_fleiss_kappa"](spark, sf_dir).collect()[0]
    assert abs(out.krippendorff_alpha - fl.fleiss_kappa) < 1e-3
    assert out.krippendorff_alpha != fl.fleiss_kappa


def test_permutation_test_matches_python(spark, sf_dir, queries):
    per_user: dict[int, list[int]] = {}
    for u, n_u, s_u in duckdb.sql(
        f"""SELECT user_id, count(*), sum(CAST(round(value*1000000) AS BIGINT))
            FROM read_parquet('{sf_dir}/events.parquet') GROUP BY user_id"""
    ).fetchall():
        per_user[u] = [n_u, s_u]
    diffs = {}
    for k in range(200):
        n = [0, 0]
        s = [0, 0]
        for u, (n_u, s_u) in per_user.items():
            arm = det_hash_py((u % PRE_MOD) * (2 * k + 1) + k) % 2
            n[arm] += n_u
            s[arm] += s_u
        if n[0] and n[1]:
            diffs[k] = round((s[1] / n[1] - s[0] / n[0]) * 1000.0)
    obs = diffs[0]
    n_ext = sum(1 for k, d in diffs.items() if k > 0 and abs(d) >= abs(obs))
    out = queries["stats_permutation_test_ab"](spark, sf_dir).collect()[0]
    assert out.n_perms_valid == len(diffs)
    assert out.obs_diff_nano == obs
    assert out.obs_valid is True
    assert out.n_as_extreme == n_ext
    assert out.p_value == (1 + n_ext) / len(diffs)
    assert 0 < out.p_value <= 1


def _sigs_py(sf_dir):
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    sigs = {}
    for vid, emb in rows:
        lo = sum(1 << i for i in range(32) if emb[i] >= 0)
        hi = sum(1 << (i - 32) for i in range(32, 64) if emb[i] >= 0)
        sigs[vid] = (lo, hi)
    return sigs


def test_hamming_topk_matches_python(spark, sf_dir, queries):
    sigs = _sigs_py(sf_dir)
    out = queries["embedding_hamming_topk"](spark, sf_dir).collect()
    got = {}
    for r in out:
        got.setdefault(r.query_id, []).append((r.rnk, r.vec_id, r.hamming))
    for qid in (0, 1, 2, 3, 4):
        qlo, qhi = sigs[qid]
        scored = sorted(
            (bin(lo ^ qlo).count("1") + bin(hi ^ qhi).count("1"), vid)
            for vid, (lo, hi) in sigs.items()
            if vid != qid
        )
        want = [(i + 1, vid, h) for i, (h, vid) in enumerate(scored[:10])]
        assert sorted(got[qid]) == want, qid


def test_dsir_weights_match_python(spark, sf_dir, queries):
    def bucket(word: str) -> int:
        key = sum(ord(c) * 31**i for i, c in enumerate(word[:8]))
        return ((key % PRE_MOD) * 2654435761 + 7) % HASH_MOD % 256

    raw = Counter()
    tgt = Counter()
    docs = _docs(sf_dir)
    per_doc: dict[int, list[int]] = {}
    for doc_id, text, lang in docs:
        bs = [bucket(w) for w in tokens_py(text)]
        per_doc[doc_id] = bs
        raw.update(bs)
        if lang == "en":
            tgt.update(bs)
    r_tot, t_tot = sum(raw.values()), sum(tgt.values())
    lam = {
        b: round(
            math.log(
                ((tgt.get(b, 0) + 1) / (t_tot + 256))
                / ((cr + 1) / (r_tot + 256))
            )
            * 1e9
        )
        for b, cr in raw.items()
    }
    out = {
        r.doc_id: r
        for r in queries["curation_dsir_importance_weights"](spark, sf_dir).collect()
    }
    assert set(out) == set(per_doc)
    for doc_id, bs in per_doc.items():
        r = out[doc_id]
        assert r.n_tokens == len(bs)
        assert r.dsir_logratio_nano == sum(lam[b] for b in bs), doc_id
    # directional sanity: 'en' docs should average higher weights
    en = [r.dsir_logratio_nano / r.n_tokens for r in out.values() if r.lang == "en"]
    other = [r.dsir_logratio_nano / r.n_tokens for r in out.values() if r.lang != "en"]
    assert sum(en) / len(en) > sum(other) / len(other)


def test_vad_segments_match_python(spark, sf_dir, queries):
    out = {
        r.doc_id: r
        for r in queries["multimodal_audio_vad_segments"](spark, sf_dir).collect()
    }
    doc_ids = [d for d, _, _ in _docs(sf_dir)]
    for d in doc_ids:
        n = 64 + d % 128
        nf = n // 32
        active = []
        for j in range(nf):
            e = sum(
                (((i * (d + 3)) % 65536) - 32768) ** 2
                for i in range(j * 32, j * 32 + 32)
            )
            active.append(1 if e * 4 >= 32 * 32768 * 32768 else 0)
        segs = sum(
            1
            for j, a in enumerate(active)
            if a and (j == 0 or not active[j - 1])
        )
        r = out[d]
        assert (r.n_frames, r.n_active, r.n_segments) == (
            nf,
            sum(active),
            segs,
        ), d


def test_cochran_q_matches_python_and_brackets_mcnemar(spark, sf_dir, queries):
    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT event_id FROM read_parquet('{sf_dir}/events.parquet')"
        ).fetchall()
    ]
    c = [0, 0, 0]
    sum_r2 = 0
    for e in ids:
        x = [
            1 if det_hash_py((e % PRE_MOD) * 7 + 3) % 100 < 50 else 0,
            1 if det_hash_py((e % PRE_MOD) * 19 + 11) % 100 < 70 else 0,
            1 if det_hash_py((e % PRE_MOD) * 29 + 23) % 100 < 60 else 0,
        ]
        for j in range(3):
            c[j] += x[j]
        sum_r2 += sum(x) ** 2
    t = sum(c)
    num = 2 * (3 * sum(v * v for v in c) - t * t)
    den = 3 * t - sum_r2
    out = queries["ml_eval_cochran_q"](spark, sf_dir).collect()[0]
    assert (out.c1, out.c2, out.c3) == tuple(c)
    assert out.cochran_q == num / den
    assert out.reject_h0 == (num * 1_000_000 >= 5_991_465 * den)
    # designed rates 0.50/0.70/0.60 differ -> omnibus must reject
    assert out.reject_h0


def test_token_mixture_epochs_matches_python(spark, sf_dir, queries):
    counts = Counter()
    for _, text, lang in _docs(sf_dir):
        counts[lang] += len(tokens_py(text))
    budget = 2 * sum(counts.values())
    nl = len(counts)
    cap = 4_000_000
    e1 = {l: min(cap, (budget // nl) * 1_000_000 // c) for l, c in counts.items()}
    served = sum(c * e1[l] // 1_000_000 for l, c in counts.items())
    ucap_tot = sum(c for l, c in counts.items() if e1[l] < cap)
    e2 = {}
    for l, c in counts.items():
        if e1[l] < cap and ucap_tot > 0:
            extra = (budget - served) * c // ucap_tot
            e2[l] = min(cap, e1[l] + extra * 1_000_000 // c)
        else:
            e2[l] = e1[l]
    out = {r.lang: r for r in queries["curation_token_mixture_epochs"](spark, sf_dir).collect()}
    assert set(out) == set(counts)
    for l, c in counts.items():
        r = out[l]
        assert r.tokens == c
        assert r.epochs_micro == e2[l], l
        assert r.sampled_tokens == c * e2[l] // 1_000_000
        assert r.capped == (e2[l] >= cap)
    # the budget is 2x the corpus with a 4-epoch cap: total sampled
    # tokens must not exceed the budget
    assert sum(r.sampled_tokens for r in out.values()) <= budget


def test_sssp_3hop_matches_python(spark, sf_dir, queries):
    edges = {}
    for pk, sk in duckdb.sql(
        f"SELECT DISTINCT l_partkey, l_suppkey FROM read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchall():
        w = 1 + (pk * 3 + sk) % 7
        a, b = f"p:{pk}", f"s:{sk}"
        edges.setdefault(a, []).append((b, w))
        edges.setdefault(b, []).append((a, w))
    dist = {"p:1": 0}
    for _ in range(3):
        nxt = dict(dist)
        for node, d in dist.items():
            for dst, w in edges.get(node, []):
                if d + w < nxt.get(dst, 1 << 62):
                    nxt[dst] = d + w
        dist = nxt
    out = {r.node: r.dist for r in queries["graph_sssp_3hop"](spark, sf_dir).collect()}
    assert out == dist


def test_gumbel_topk_matches_python(spark, sf_dir, queries):
    import math as _m

    keyed = {}
    for doc_id, text, _ in _docs(sf_dir):
        wt = len(tokens_py(text))
        if wt <= 0:
            continue
        u = (det_hash_py(doc_id) + 1.0) / float(1 << 31)
        keyed[doc_id] = (
            round((_m.log(wt) - _m.log(-_m.log(u))) * 1e9),
            wt,
        )
    want = sorted(keyed.items(), key=lambda kv: (-kv[1][0], kv[0]))[:100]
    out = queries["sample_gumbel_topk_docs"](spark, sf_dir).collect()
    got = sorted(out, key=lambda r: r.draw_rank)
    assert len(got) == len(want)
    for r, (doc_id, (key, wt)) in zip(got, want):
        assert (r.doc_id, r.key_nano, r.weight) == (doc_id, key, wt)


def test_image_ahash_matches_python(spark, sf_dir, queries):
    from collections import defaultdict

    groups = defaultdict(list)
    for doc_id, _, _ in _docs(sf_dir):
        d = doc_id
        w, h = 1 + d % 16, 1 + d % 12
        grays = []
        for j in range(64):
            x, y = ((j % 8) * w) // 8, ((j // 8) * h) // 8
            grays.append(
                (((x + y + d) % 256) + ((2 * x + d) % 256)
                 + ((3 * y + d) % 256)) // 3
            )
        mean = sum(grays) // 64
        lo = sum(1 << j for j in range(32) if grays[j] > mean)
        hi = sum(1 << (j - 32) for j in range(32, 64) if grays[j] > mean)
        groups[(lo, hi)].append(d)
    out = {
        (r.ahash_lo, r.ahash_hi): (r.n_docs, r.min_doc)
        for r in queries["multimodal_image_ahash_groups"](spark, sf_dir).collect()
    }
    assert out == {k: (len(v), min(v)) for k, v in groups.items()}


def test_average_precision_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"SELECT event_id, user_id, value FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    scored = sorted(
        ((v, e, det_hash_py(u) % 2) for e, u, v in rows),
        key=lambda t: (-t[0], t[1]),
    )
    cp = 0
    terms = []
    for r, (_, _, lab) in enumerate(scored, start=1):
        cp += lab
        if lab:
            terms.append(round(cp / r * 1e9))
    out = queries["ml_eval_average_precision"](spark, sf_dir).collect()[0]
    assert out.n == len(scored)
    assert out.n_pos == len(terms)
    assert out.average_precision == sum(terms) / len(terms) / 1e9
    # label-independent ranking: AP ~= positive rate (+ the tiny
    # (1-p)*mean(1/rank) conditioning bump), and bounded by 1
    assert out.n_pos / out.n < out.average_precision <= 1.0
    assert abs(out.average_precision - out.n_pos / out.n) < 0.05


def test_pinball_loss_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"""SELECT event_type, event_id,
               CAST(round(value*1000000) AS BIGINT),
               epoch_us(ts)
            FROM read_parquet('{sf_dir}/events.parquet')"""
    ).fetchall()
    ts0 = min(r[3] for r in rows)
    US = 86_400_000_000
    train = {}
    test = {}
    for et, eid, vu, ts in rows:
        day = (ts - ts0) // US
        (train if day < 24 else test).setdefault(et, []).append((vu, eid))
    out = {r.event_type: r for r in queries["ml_eval_pinball_loss"](spark, sf_dir).collect()}
    assert set(out) == set(test)
    for et, vals in train.items():
        vals.sort()
        n = len(vals)
        q90 = vals[(9 * n + 9) // 10 - 1][0]
        losses = [
            9 * (vu - q90) if vu >= q90 else (q90 - vu)
            for vu, _ in test[et]
        ]
        r = out[et]
        assert r.q90_u == q90, et
        assert r.n_test == len(losses)
        assert r.pinball_deci_micro_total == sum(losses)
        assert r.mean_pinball_loss == sum(losses) / len(losses) / 1e7


def test_isotonic_calibration_equals_pav(spark, sf_dir, queries):
    """The minimax relational formulation must equal the classic
    sequential pool-adjacent-violators fit, bin for bin."""
    rows = duckdb.sql(
        f"SELECT user_id, CAST(round(value*1000000) AS BIGINT) FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    vs = [v for _, v in rows]
    lo, hi = min(vs), max(vs)
    bins = {}
    for u, v in rows:
        b = min(9, (v - lo) * 10 // (hi - lo + 1))
        n, p = bins.get(b, (0, 0))
        bins[b] = (n + 1, p + det_hash_py(u) % 2)
    order = sorted(bins)
    # PAV with weights n
    blocks = [[bins[b][1], bins[b][0], [b]] for b in order]  # [pos, n, bins]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][0] * blocks[i + 1][1] > blocks[i + 1][0] * blocks[i][1]:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            blocks[i][2] += blocks[i + 1][2]
            del blocks[i + 1]
            i = max(0, i - 1)
        else:
            i += 1
    pav = {}
    for pos, n, bs in blocks:
        for b in bs:
            pav[b] = pos / n
    out = {r.bin: r for r in queries["ml_eval_isotonic_calibration"](spark, sf_dir).collect()}
    assert set(out) == set(bins)
    rates = [out[b].isotonic_rate for b in sorted(out)]
    assert rates == sorted(rates)  # monotone by construction
    for b in bins:
        assert abs(out[b].isotonic_rate - pav[b]) < 1e-12, b
        assert out[b].raw_rate == bins[b][1] / bins[b][0]


def test_tost_equivalence_matches_python(spark, sf_dir, queries):
    import math as _m

    per_user = {}
    for u, clicks in duckdb.sql(
        f"""SELECT user_id,
               sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END)
            FROM read_parquet('{sf_dir}/events.parquet') GROUP BY user_id"""
    ).fetchall():
        per_user[u] = 1 if clicks >= 15 else 0
    n = [0, 0]
    conv = [0, 0]
    for u, c in per_user.items():
        n[u % 2] += 1
        conv[u % 2] += c
    na, nb, ca, cb = n[0], n[1], conv[0], conv[1]
    d, mm, c_, nn = cb * na - ca * nb, na * nb, ca + cb, na + nb
    a_low = d * 1_000_000 + 30_000 * mm
    a_up = d * 1_000_000 - 30_000 * mm
    rhs = 1_644_854**2 * (c_ * (nn - c_)) * mm
    scale_l = nn
    equiv = (a_low >= 0 and a_low * a_low * scale_l >= rhs) and (
        a_up <= 0 and a_up * a_up * scale_l >= rhs
    )
    lift = cb / nb - ca / na
    pbar = c_ / nn
    se = _m.sqrt(pbar * (1 - pbar) * (1.0 / na + 1.0 / nb))
    out = queries["stats_tost_equivalence"](spark, sf_dir).collect()[0]
    assert (out.n_a, out.conv_a, out.n_b, out.conv_b) == (na, ca, nb, cb)
    assert out.z_lower == (lift + 0.03) / se
    assert out.z_upper == (lift - 0.03) / se
    assert out.equivalent == equiv
    # the integer decision must agree with the float z's it mirrors
    assert equiv == (out.z_lower >= 1.644854 and out.z_upper <= -1.644854)


def test_mrr_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"SELECT user_id, event_id, value FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    by_user = {}
    for u, e, v in rows:
        by_user.setdefault(u, []).append((v, e))
    firsts = {}
    for u, lst in by_user.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        for r, (_, e) in enumerate(lst, start=1):
            if det_hash_py(e) % 3 == 2:
                firsts[u] = r
                break
    out = queries["ml_eval_mrr"](spark, sf_dir).collect()[0]
    assert out.n_users == len(firsts)
    assert out.n_hit_at_10 == sum(1 for r in firsts.values() if r <= 10)
    assert out.mrr == sum(round(1e9 / r) for r in firsts.values()) / len(firsts) / 1e9
