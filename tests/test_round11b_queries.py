"""Independent Python replications of the round-11 session-2 novelty
queries: t-closeness, log-rank, Mantel-Haenszel, corpus BLEU-4,
ROUGE-N, and the Youden-J threshold — each recomputed from the raw
parquet with plain Python ints/floats and compared exactly (the
test_round10_queries discipline)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import duckdb

from conftest import det_hash_py


def round_half_up_nano(x: float) -> int:
    # Spark F.round / DuckDB round: half away from zero; inputs here
    # are non-negative so floor(x+0.5) matches
    return math.floor(x * 1e9 + 0.5)


def test_t_closeness_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"SELECT lang, source, n_chars FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    per = Counter()
    dom = Counter()
    cls = Counter()
    for lang, src, n_chars in rows:
        b = n_chars // 200
        per[(lang, src, b)] += 1
        dom[b] += 1
        cls[(lang, src)] += 1
    n_total = sum(dom.values())
    m = len(dom)
    order = sorted(dom)
    want = {}
    for (lang, src), n_g in cls.items():
        cum_p = cum_q = 0
        num = 0
        for b in order:
            cum_p += per.get((lang, src, b), 0)
            cum_q += dom[b]
            num += abs(n_total * cum_p - n_g * cum_q)
        emd = num / (n_g * n_total * (m - 1)) if m > 1 else 0.0
        want[(lang, src)] = (n_g, emd, emd > 0.15)
    got = queries["privacy_t_closeness"](spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        n_g, emd, viol = want[(r["lang"], r["source"])]
        assert r["group_size"] == n_g
        assert r["emd"] == emd
        assert r["t_violation"] == viol


def _km_fixture(sf_dir):
    rows = duckdb.sql(
        f"""SELECT o_custkey,
               min(year(CAST(o_orderdate AS DATE)) * 12
                   + month(CAST(o_orderdate AS DATE))),
               max(year(CAST(o_orderdate AS DATE)) * 12
                   + month(CAST(o_orderdate AS DATE)))
        FROM read_parquet('{sf_dir}/orders.parquet') GROUP BY o_custkey"""
    ).fetchall()
    data_end = max(r[2] for r in rows)
    obs = [
        (
            det_hash_py(ck) % 2,
            last - first,
            1 if data_end - last > 6 else 0,
        )
        for ck, first, last in rows
    ]
    return obs


def test_logrank_matches_python(spark, sf_dir, queries):
    obs = _km_fixture(sf_dir)
    n_all = len(obs)
    n1_all = sum(a for a, _, _ in obs)
    at_t = defaultdict(lambda: [0, 0, 0, 0])  # d, d1, c, c1
    for arm, dur, churned in obs:
        e = at_t[dur]
        e[0] += churned
        e[1] += churned if arm == 1 else 0
        e[2] += 1
        e[3] += arm
    o1 = e1_nano = v_nano = n_times = 0
    cum_c = cum_c1 = 0
    for dur in sorted(at_t):
        d, d1, c, c1 = at_t[dur]
        n = n_all - cum_c
        n1 = n1_all - cum_c1
        cum_c += c
        cum_c1 += c1
        if d == 0:
            continue
        n_times += 1
        o1 += d1
        e1_nano += (2 * d * n1 * 10**9 + n) // (2 * n)
        if n > 1:
            v = (((d * n1) * (n - n1)) * (n - d)) / ((n * n) * (n - 1))
            v_nano += round_half_up_nano(v)
    got = queries["stats_logrank_test"](spark, sf_dir).collect()[0]
    assert got["n_arm1"] == n1_all and got["n_arm0"] == n_all - n1_all
    assert got["n_event_times"] == n_times
    assert got["o1"] == o1
    assert got["e1"] == e1_nano / 1e9
    assert got["v"] == v_nano / 1e9
    dev = o1 - e1_nano / 1e9
    chi2 = (dev * dev) / (v_nano / 1e9) if v_nano > 0 else 0.0
    assert got["chi2"] == chi2
    assert got["reject_05"] == (chi2 > 3.841458820694124)


def test_mantel_haenszel_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"SELECT event_type, user_id, value FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    cells = defaultdict(lambda: [0, 0, 0, 0])
    for et, uid, v in rows:
        exposed = uid % 2 == 1
        pos = v >= 60.0
        cells[et][0 if (exposed and pos) else 1 if (exposed and not pos)
                  else 2 if pos else 3] += 1
    sum_a = r_nano = s_nano = e_nano = v_nano = 0
    for a, b, c, d in cells.values():
        n = a + b + c + d
        if n == 0:
            continue
        sum_a += a
        r_nano += (2 * a * d * 10**9 + n) // (2 * n)
        s_nano += (2 * b * c * 10**9 + n) // (2 * n)
        e_nano += (2 * (a + b) * (a + c) * 10**9 + n) // (2 * n)
        if n > 1:
            v = (((a + b) * (c + d)) * (a + c)) * (b + d) / ((n * n) * (n - 1))
            v_nano += round_half_up_nano(v)
    got = queries["stats_mantel_haenszel"](spark, sf_dir).collect()[0]
    assert got["n_strata"] == len(cells)
    assert got["sum_a"] == sum_a
    assert got["expected_a"] == e_nano / 1e9
    assert got["or_mh"] == (r_nano / s_nano if s_nano > 0 else None)
    dev = sum_a - e_nano / 1e9
    chi2 = (dev * dev) / (v_nano / 1e9) if v_nano > 0 else 0.0
    assert got["cmh_chi2"] == chi2


def _doc_tokens(sf_dir):
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    out = []
    for _d, t in rows:
        toks = t.split(" ")
        clen = max(len(toks) * 4 // 5, 1)
        cand = [
            "UNK" if (i + 1) % 7 == 0 else toks[i] for i in range(clen)
        ]
        out.append((cand, toks))
    return out


def test_bleu_corpus_matches_python(spark, sf_dir, queries):
    docs = _doc_tokens(sf_dir)
    m = [0] * 5
    t = [0] * 5
    cand_tokens = ref_tokens = 0
    for cand, ref in docs:
        cand_tokens += len(cand)
        ref_tokens += len(ref)
        for n in (1, 2, 3, 4):
            cg = Counter(
                " ".join(cand[i : i + n]) for i in range(len(cand) - n + 1)
            )
            rg = Counter(
                " ".join(ref[i : i + n]) for i in range(len(ref) - n + 1)
            )
            m[n] += sum(min(c, rg.get(g, 0)) for g, c in cg.items())
            t[n] += max(len(cand) - n + 1, 0)
    bp = 1.0 if cand_tokens >= ref_tokens else math.exp(
        1.0 - ref_tokens / cand_tokens
    )
    got = queries["ml_eval_bleu_corpus"](spark, sf_dir).collect()[0]
    for n in (1, 2, 3, 4):
        assert got[f"m{n}"] == m[n]
        assert got[f"t{n}"] == t[n]
        assert m[n] < t[n]  # UNK substitution makes clipping bind
    assert got["cand_tokens"] == cand_tokens
    assert got["ref_tokens"] == ref_tokens
    assert got["brevity_penalty"] == round_half_up_nano(bp) / 1e9
    if all(m[n] > 0 for n in (1, 2, 3, 4)):
        logsum = 0.25 * (
            (
                (math.log(m[1] / t[1]) + math.log(m[2] / t[2]))
                + math.log(m[3] / t[3])
            )
            + math.log(m[4] / t[4])
        )
        bleu = bp * math.exp(logsum)
        assert got["bleu4"] == round_half_up_nano(bleu) / 1e9
        assert 0.0 < got["bleu4"] < 1.0


def test_rouge_n_matches_python(spark, sf_dir, queries):
    docs = _doc_tokens(sf_dir)
    got = {
        r["n"]: r for r in queries["ml_eval_rouge_n"](spark, sf_dir).collect()
    }
    for n in (1, 2):
        matches = total_ref = 0
        for cand, ref in docs:
            cg = Counter(
                " ".join(cand[i : i + n]) for i in range(len(cand) - n + 1)
            )
            rg = Counter(
                " ".join(ref[i : i + n]) for i in range(len(ref) - n + 1)
            )
            matches += sum(min(r, cg.get(g, 0)) for g, r in rg.items())
            total_ref += sum(rg.values())
        assert got[n]["matches"] == matches
        assert got[n]["total_ref"] == total_ref
        assert got[n]["rouge_n_recall"] == matches / total_ref
        assert got[n]["rouge_n_recall"] < 1.0  # truncation guarantees misses


def test_youden_j_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"SELECT event_id, user_id, value FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    scored = sorted(
        ((v, eid, det_hash_py(uid) % 2) for eid, uid, v in rows),
        key=lambda r: (-r[0], r[1]),
    )
    n_pos = sum(lab for _, _, lab in scored)
    n_neg = len(scored) - n_pos
    tp = 0
    best = None
    for k, (score, _eid, lab) in enumerate(scored, start=1):
        tp += lab
        fp = k - tp
        j_num = n_neg * tp - n_pos * fp
        if best is None or j_num > best[0]:
            best = (j_num, k, score, tp, fp)
    j_num, k, score, tp, fp = best
    got = queries["ml_eval_youden_j_threshold"](spark, sf_dir).collect()[0]
    assert got["best_k"] == k
    assert got["threshold"] == score
    assert got["tp"] == tp and got["fp"] == fp
    assert got["fn"] == n_pos - tp and got["tn"] == n_neg - fp
    assert got["youden_j"] == j_num / (n_pos * n_neg)


def test_sax_symbols_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"SELECT user_id, ts, event_id, value FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    series = defaultdict(list)
    for uid, ts, eid, v in rows:
        series[uid].append((ts, eid, math.floor(v * 1e6 + 0.5)))
    hist = Counter()
    for uid, evs in series.items():
        n = len(evs)
        if n < 8:
            continue
        evs.sort(key=lambda r: (r[0], r[1]))
        vals = [v for _, _, v in evs]
        s = sum(vals)
        q = sum(v * v for v in vals)
        dd = float(n * q - s * s)
        segs = defaultdict(list)
        for i, v in enumerate(vals):
            segs[(i * 8) // n].append(v)
        word = []
        for sg in range(8):
            a_d = float(sum(segs[sg]) * n - len(segs[sg]) * s)
            c_d = float(len(segs[sg]))
            if dd == 0.0:
                word.append("c")
            elif a_d < -0.6745 * c_d * math.sqrt(dd):
                word.append("a")
            elif a_d < 0.0:
                word.append("b")
            elif a_d < 0.6745 * c_d * math.sqrt(dd):
                word.append("c")
            else:
                word.append("d")
        hist["".join(word)] += 1
    got = queries["events_sax_symbols"](spark, sf_dir).collect()
    assert {r["sax_word"]: r["n_users"] for r in got} == dict(hist)
    assert all(len(w) == 8 for w in hist)


def test_fd_violations_matches_python(spark, sf_dir, queries):
    got = {
        r["fd"]: r
        for r in queries["profiling_fd_violations"](spark, sf_dir).collect()
    }
    assert len(got) == 4
    # the true FDs hold with zero repair cost
    for fd in (
        "nation: n_nationkey -> n_regionkey",
        "customer: c_nationkey -> n_regionkey",
    ):
        assert got[fd]["fd_holds"] and got[fd]["rows_to_fix"] == 0
    # user -> event_type: replicate g3 exactly
    rows = duckdb.sql(
        f"SELECT user_id, event_type FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    pairs = Counter(rows)
    grp = defaultdict(list)
    for (uid, et), c in pairs.items():
        grp[uid].append(c)
    r = got["events: user_id -> event_type"]
    assert r["n_rows"] == len(rows)
    assert r["n_groups"] == len(grp)
    viol = sum(1 for cs in grp.values() if len(cs) > 1)
    assert r["violating_groups"] == viol
    assert r["rows_to_fix"] == len(rows) - sum(max(cs) for cs in grp.values())
    assert r["violation_ratio"] == viol / len(grp)
    assert not r["fd_holds"]


def test_cliffs_delta_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"SELECT user_id, value FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    a = sorted(v for uid, v in rows if uid % 2 == 0)
    b = sorted(v for uid, v in rows if uid % 2 == 1)
    import bisect

    gt = sum(bisect.bisect_left(b, x) for x in a)
    lt = sum(len(b) - bisect.bisect_right(b, x) for x in a)
    ties = len(a) * len(b) - gt - lt
    got = queries["stats_cliffs_delta"](spark, sf_dir).collect()[0]
    assert got["na"] == len(a) and got["nb"] == len(b)
    assert got["pairs_gt"] == gt and got["pairs_lt"] == lt
    assert got["ties"] == ties
    assert got["cliffs_delta"] == (gt - lt) / (len(a) * len(b))
    mag = abs(gt - lt) / (len(a) * len(b))
    want = (
        "negligible" if mag < 0.147 else "small" if mag < 0.33
        else "medium" if mag < 0.474 else "large"
    )
    assert got["magnitude"] == want


def test_spearman_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"SELECT event_id, value, length(props) FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    r1 = {
        eid: i + 1
        for i, (_, eid) in enumerate(
            sorted(((v, eid) for eid, v, _ in rows))
        )
    }
    r2 = {
        eid: i + 1
        for i, (_, eid) in enumerate(
            sorted(((ln, eid) for eid, _, ln in rows))
        )
    }
    n = len(rows)
    sum_d2 = sum((r1[eid] - r2[eid]) ** 2 for eid, _, _ in rows)
    got = queries["ml_eval_spearman_rho"](spark, sf_dir).collect()[0]
    assert got["n"] == n and got["sum_d2"] == float(sum_d2)
    assert got["spearman_rho"] == 1.0 - (6 * sum_d2) / (
        float(n) * (float(n) * float(n) - 1.0)
    )


def test_recs_coverage_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"SELECT DISTINCT l_orderkey, l_partkey FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchall()
    baskets = defaultdict(set)
    for ok, pk in rows:
        baskets[ok].add(pk)
    ic = Counter(pk for _, pk in rows)
    co = Counter()
    for items in baskets.values():
        its = sorted(items)
        for i, x in enumerate(its):
            for y in its[i + 1 :]:
                co[(x, y)] += 1
    sim = defaultdict(list)
    for (x, y), c in co.items():
        if c < 3:
            continue
        cs = c / math.sqrt(float(ic[x]) * ic[y])
        sim[x].append((cs, y))
        sim[y].append((cs, x))
    freq = Counter()
    for x, lst in sim.items():
        for _, y in sorted(lst, key=lambda t: (-t[0], t[1]))[:5]:
            freq[y] += 1
    got = queries["recs_catalog_coverage"](spark, sf_dir).collect()[0]
    assert got["n_items"] == len(ic)
    assert got["n_recommended"] == len(freq)
    assert got["coverage"] == len(freq) / len(ic)
    rec_slots = sum(freq.values())
    assert got["rec_slots"] == rec_slots
    assert got["max_item_freq"] == max(freq.values())
    pop_rec_w = sum(ic[y] * f for y, f in freq.items())
    assert got["avg_pop_recommended"] == pop_rec_w / rec_slots
    assert got["avg_pop_catalog"] == sum(ic.values()) / len(ic)


def test_hits_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"SELECT DISTINCT l_suppkey, l_partkey FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchall()
    by_s = defaultdict(list)
    by_p = defaultdict(list)
    for s, p in rows:
        by_s[s].append(p)
        by_p[p].append(s)
    a = {p: len(ss) for p, ss in by_p.items()}
    for _ in range(2):
        h = {s: sum(a[p] for p in ps) for s, ps in by_s.items()}
        a = {p: sum(h[s] for s in ss) for p, ss in by_p.items()}
    h = {s: sum(a[p] for p in ps) for s, ps in by_s.items()}
    top_h = sorted(h.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    top_a = sorted(a.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    want = [("hub", f"s:{s}", float(v)) for s, v in top_h] + [
        ("authority", f"p:{p}", float(v)) for p, v in top_a
    ]
    got = [
        (r["node_type"], r["node"], r["score"])
        for r in queries["graph_hits_scores"](spark, sf_dir).collect()
    ]
    assert got == want


def test_class_balanced_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"SELECT doc_id, lang, n_chars FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    by_lang = defaultdict(list)
    for did, lang, nc in rows:
        by_lang[lang].append((det_hash_py(did), did, nc))
    n_min = min(len(v) for v in by_lang.values())
    got = {
        r["lang"]: r
        for r in queries["sample_class_balanced_docs"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(by_lang)
    for lang, docs in by_lang.items():
        kept = sorted(docs)[:n_min]
        r = got[lang]
        assert r["n_kept"] == n_min
        assert r["chars_kept"] == sum(nc for _, _, nc in kept)
        assert r["min_rank"] == 1 and r["max_rank"] == n_min


def test_tokenizer_fertility_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"SELECT doc_id, lang, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    # train 8 merges exactly like operators.textstats.bpe_train_merges
    vocab = Counter()
    for _, _, t in rows:
        for w in t.split(" "):
            if w:
                vocab[tuple(w)] += 1
    merges = []
    voc = dict(vocab)
    for _ in range(8):
        pairs = Counter()
        for syms, n in voc.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        nxt = {}
        for syms, n in voc.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            nxt[key] = nxt.get(key, 0) + n
        voc = nxt
    ranks = {p: i for i, p in enumerate(merges)}

    def encode_len(word):
        syms = list(word)
        while len(syms) > 1:
            best_i, best_rank = -1, len(ranks)
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]), len(ranks))
                if r < best_rank:
                    best_i, best_rank = i, r
            if best_i < 0:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        return len(syms)

    per_lang = defaultdict(lambda: [0, 0, 0])  # docs, tokens, words
    for _, lang, t in rows:
        ws = [w for w in t.split(" ") if w]
        e = per_lang[lang]
        e[0] += 1
        e[1] += sum(encode_len(w) for w in ws)
        e[2] += len(ws)
    got = {
        r["lang"]: r
        for r in queries["text_tokenizer_fertility"](spark, sf_dir).collect()
    }
    assert set(got) == set(per_lang)
    for lang, (nd, nt, nw) in per_lang.items():
        r = got[lang]
        assert r["n_docs"] == nd
        assert r["n_bpe_tokens"] == nt and r["n_words"] == nw
        assert r["fertility"] == nt / nw


def test_cross_source_matrix_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"SELECT doc_id, source, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    sh = {}
    src = {}
    for did, source, t in rows:
        w = t.split(" ")
        sh[did] = (
            {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
            if len(w) >= 3
            else set()
        )
        src[did] = source
    cells = defaultdict(lambda: [0, 0])  # n, j_nano_sum
    total = 0
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            u = sh[a] | sh[b]
            if not u:
                continue
            j = len(sh[a] & sh[b]) / len(u)
            if j < 0.5:
                continue
            total += 1
            lo, hi = sorted((src[a], src[b]))
            c = cells[(lo, hi, src[a] != src[b])]
            c[0] += 1
            c[1] += math.floor(j * 1e9 + 0.5)
    got = queries["dedup_cross_source_matrix"](spark, sf_dir).collect()
    assert len(got) == len(cells)
    for r in got:
        n, jsum = cells[(r["source_lo"], r["source_hi"], r["cross_source"])]
        assert r["n_pairs"] == n
        assert r["mean_jaccard"] == jsum / (n * 1e9)
        assert r["pair_share"] == n / total


def test_auc_delong_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"SELECT user_id, value FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    vals = defaultdict(lambda: [0, 0])
    for uid, v in rows:
        vals[v][0 if det_hash_py(uid) % 2 == 1 else 1] += 1
    order = sorted(vals)
    npos = sum(c[0] for c in vals.values())
    nneg = sum(c[1] for c in vals.values())
    neg_below = 0
    psi_sum = psi_sq = 0
    for v in order:
        cpos, cneg = vals[v]
        p2 = 2 * neg_below + cneg
        psi_sum += cpos * p2
        psi_sq += cpos * p2 * p2
        neg_below += cneg
    pos_above = 0
    phi_sum = phi_sq = 0
    for v in reversed(order):
        cpos, cneg = vals[v]
        f2 = 2 * pos_above + cpos
        phi_sum += cneg * f2
        phi_sq += cneg * f2 * f2
        pos_above += cpos
    auc = psi_sum / (2.0 * npos * nneg)
    var10 = (npos * psi_sq - psi_sum * psi_sum) / (
        npos * (npos - 1.0) * 4.0 * nneg * nneg
    )
    var01 = (nneg * phi_sq - phi_sum * phi_sum) / (
        nneg * (nneg - 1.0) * 4.0 * npos * npos
    )
    got = queries["ml_eval_auc_delong_ci"](spark, sf_dir).collect()[0]
    assert got["npos"] == npos and got["nneg"] == nneg
    assert got["auc"] == auc
    assert got["var10"] == var10 and got["var01"] == var01
    se = math.sqrt(var10 / npos + var01 / nneg)
    assert got["se"] == se
    assert got["ci_lo"] == auc - 1.959963984540054 * se
    assert got["ci_hi"] == auc + 1.959963984540054 * se
    assert got["ci_lo"] < 0.5 < got["ci_hi"]  # null holds by design


def test_g_test_matches_python(spark, sf_dir, queries):
    rows = duckdb.sql(
        f"""SELECT event_type,
               (epoch(CAST(date_trunc('day', ts) AS DATE)) // 86400) % 7,
               count(*)
        FROM read_parquet('{sf_dir}/events.parquet') GROUP BY 1, 2"""
    ).fetchall()
    rt = Counter()
    ct = Counter()
    n = 0
    for et, dow, o in rows:
        rt[et] += o
        ct[dow] += o
        n += o
    g_nano = 0
    for et, dow, o in rows:
        if o > 0:
            x = 2.0 * o * math.log((o * n) / (float(rt[et]) * ct[dow]))
            # F.round is half-away-from-zero; terms can be negative
            g_nano += int(math.copysign(math.floor(abs(x) * 1e9 + 0.5), x))
    got = queries["stats_g_test_type_dow"](spark, sf_dir).collect()[0]
    assert got["n_events"] == n
    assert got["dof"] == (len(rt) - 1) * (len(ct) - 1)
    assert got["g_stat"] == g_nano / 1e9
