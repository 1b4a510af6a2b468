"""Seeded input generator for the benchmark.

Three inputs, each a pure function of ``(seed, size)``:

* ``corpus``  — a pseudo-XML Wikipedia dump, one ``<doc ...>body</doc>``
  per line, with a Zipfian vocabulary, log-normal document lengths,
  case and punctuation noise and a seeded share of exact and near
  duplicates. A ``documents.parquet`` beside it holds the ground truth
  ``(doc_id, text)`` the DuckDB oracles read.
* ``small``   — the ten-table star + text schema of the engine's test
  data at its 0.01 scale (lineitem ~60k rows), drawn from the seed.
* ``star``    — the same schema drawn at the 0.1 scale, then replicated
  N times with ``tools/make_benchdata.replicate`` (fact keys shifted per
  replica, dimensions copied), so fact tables grow N-fold.

Nothing outside the benchmark's data directory is read. Writes are
deterministic (fixed row groups, no timestamps in files), so the same
seed gives byte-identical files. Each built input is cached under
``<data_dir>/<kind>-s<seed>-<size>-<parameter digest>`` with a ``props.json`` that records
its properties; older entries of a kind are evicted so the cache stays
bounded while every run uses a fresh seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEEP_PER_KIND = 2

# --- corpus -----------------------------------------------------------------

CORPUS_SIZES = {
    # docs, vocabulary types, log-normal (mu, sigma) of body tokens
    "tiny": (600, 8_000, 4.2, 0.6),
    "full": (3_000, 60_000, 5.0, 0.7),
}
ZIPF_S = 1.07
EXACT_DUP_SHARE = 0.03
NEAR_DUP_SHARE = 0.04
NEAR_DUP_EDIT = 0.04  # share of tokens replaced in a near duplicate
MIN_TOKENS, MAX_TOKENS = 12, 2_500
_SYLLABLES = [
    a + b
    for a in ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t", "v", "w", "z", "br", "st", "tr"]
    for b in ["a", "e", "i", "o", "u", "ai", "ou", "ea"]
]
_PUNCT = np.array(["", ",", ".", ";", ":", "!", "?", ")", "'s", "-"])
_PUNCT_P = np.array([0.80, 0.07, 0.06, 0.015, 0.01, 0.005, 0.005, 0.01, 0.015, 0.01])


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase pseudo-words; shorter words get the
    lower (more frequent) ranks, as in natural text."""
    out, seen = [], set()
    n_syl = len(_SYLLABLES)
    while len(out) < n:
        k = 1 + min(len(out) // 400, 1) + min(len(out) // 12_000, 1) + int(rng.integers(0, 2))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, n_syl, k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.array(out, dtype=object)


def _zipf_ranks(rng: np.random.Generator, n_types: int, n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n_types + 1) ** ZIPF_S
    cdf = np.cumsum(p / p.sum())
    return np.minimum(np.searchsorted(cdf, rng.random(n)), n_types - 1)


def _noisy(rng: np.random.Generator, words: np.ndarray) -> np.ndarray:
    """Case and punctuation noise the tokenizer must normalize away."""
    out = words.copy()
    n = len(out)
    case = rng.random(n)
    cap = np.flatnonzero(case < 0.08)
    out[cap] = [w.capitalize() for w in out[cap]]
    upper = np.flatnonzero(case > 0.995)
    out[upper] = [w.upper() for w in out[upper]]
    punct = _PUNCT[np.searchsorted(np.cumsum(_PUNCT_P), rng.random(n))]
    marked = np.flatnonzero(punct != "")
    out[marked] = [w + p for w, p in zip(out[marked], punct[marked])]
    return out


def build_corpus(seed: int, size: str, out: str) -> dict:
    n_docs, n_types, mu, sigma = CORPUS_SIZES[size]
    rng = np.random.default_rng([seed, 1])
    vocab = _words(rng, n_types)
    lens = np.clip(rng.lognormal(mu, sigma, n_docs).astype(np.int64), MIN_TOKENS, MAX_TOKENS)
    # duplicates copy an EARLIER original; originals are drawn fresh
    kind = rng.random(n_docs)
    is_exact = kind < EXACT_DUP_SHARE
    is_near = (kind >= EXACT_DUP_SHARE) & (kind < EXACT_DUP_SHARE + NEAR_DUP_SHARE)
    is_exact[:10] = is_near[:10] = False
    ranks = _zipf_ranks(rng, n_types, int(lens.sum()))
    tokens = _noisy(rng, vocab[ranks])
    starts = np.concatenate([[0], np.cumsum(lens)])
    doc_ids = rng.choice(np.arange(10_000, 10_000 + 50 * n_docs), n_docs, replace=False)
    bodies: list[str] = []
    for i in range(n_docs):
        if is_exact[i] or is_near[i]:
            src = int(rng.integers(0, i))
            toks = bodies[src].split(" ")
            if is_near[i]:
                edits = rng.random(len(toks)) < NEAR_DUP_EDIT
                edits[0] = True  # a near duplicate always differs
                repl = _noisy(rng, vocab[_zipf_ranks(rng, n_types, int(edits.sum()))])
                for j, w in zip(np.flatnonzero(edits), repl):
                    toks[j] = w
            bodies.append(" ".join(toks))
        else:
            bodies.append(" ".join(tokens[starts[i] : starts[i + 1]]))
    titles = [" ".join(vocab[r] for r in _zipf_ranks(rng, 2_000, 2)).title() for _ in range(n_docs)]
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "corpus.txt"), "w", encoding="utf-8") as fh:
        for d, t, b in zip(doc_ids, titles, bodies):
            fh.write(f'<doc id="{d}" url="https://en.wikipedia.org/wiki?curid={d}" title="{t}">{b}</doc>\n')
    truth = pa.table({"doc_id": [str(d) for d in doc_ids], "text": bodies})
    pq.write_table(truth, os.path.join(out, "documents.parquet"), row_group_size=1 << 20)
    n_tok = np.array([b.count(" ") + 1 for b in bodies])
    return {
        "docs": n_docs,
        "vocab_types": n_types,
        "zipf_s": ZIPF_S,
        "tokens": int(n_tok.sum()),
        "doc_tokens_quartiles": [float(q) for q in np.percentile(n_tok, [25, 50, 75])],
        "exact_dup_share": round(float(is_exact.mean()), 4),
        "near_dup_share": round(float(is_near.mean()), 4),
        "distinct_texts": len(set(bodies)),
        "corpus_bytes": os.path.getsize(os.path.join(out, "corpus.txt")),
    }


# --- star schema ---------------------------------------------------------------

# rows at the 0.01 scale; ``documents`` and ``embeddings`` do not scale
# with sf in the engine's test data (500/500 at 0.01, 5000/2000 at 0.1)
_BASE_ROWS = {"customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000, "lineitem": 60_000, "events": 10_000}
_TEXT_ROWS = {"small": (500, 500), "base": (5_000, 2_000), "tiny": (200, 200)}
STAR_REPLICAS = {"tiny": 1, "full": 2}
_DOC_WORDS = np.array(
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window".split()
)
_ADJ = ["blue", "cold", "green", "hot", "red", "small", "large", "shiny"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 9131 * _US_PER_DAY  # 1995-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int, scale: int, text: str) -> dict[str, pa.Table]:
    """The engine's test schema at ``scale`` × the 0.01 row counts:
    independent uniform columns, as in the engine's own test data."""
    rng = np.random.default_rng([seed, 2, scale])
    n = {k: v * scale for k, v in _BASE_ROWS.items()}
    n_docs, n_vecs = _TEXT_ROWS[text]
    c = rng.choice
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": c(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": np.char.add(np.char.add(c(_ADJ, n["part"]), " "), c(_NOUN, n["part"])),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n["part"]).astype(str)),
        "p_type": c(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n["part"]) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": c(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n["orders"]) * _US_PER_DAY),
        "o_orderpriority": c(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"]),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": np.sort(rng.integers(0, n["orders"], nl)),
        "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": c(["A", "N", "R"], nl),
        "l_linestatus": c(["F", "O"], nl),
        "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, nl)) * _US_PER_DAY),
    })
    ne = n["events"]
    jan_2024 = 19723 * _US_PER_DAY
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(jan_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, ne))),
        "user_id": rng.integers(0, max(ne // 66, 2), ne),
        "event_type": c(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    lens = rng.integers(10, 100, n_docs)
    texts = ["".join(w + " " for w in c(_DOC_WORDS, k)) for k in lens]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": c(["en", "de", "es", "fr", "zh"], n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    return t


def _write_tables(tables: dict[str, pa.Table], out: str) -> None:
    os.makedirs(out, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out, f"{name}.parquet"), row_group_size=1 << 17)


def _table_props(d: str) -> dict:
    props = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            props[f[:-8]] = {
                "rows": pq.read_metadata(os.path.join(d, f)).num_rows,
                "bytes": os.path.getsize(os.path.join(d, f)),
            }
    return props


def build_small(seed: int, size: str, out: str) -> dict:
    _write_tables(star_tables(seed, 1, "tiny" if size == "tiny" else "small"), out)
    return {"scale_of_0.01": 1, "tables": _table_props(out)}


def build_star(seed: int, size: str, out: str) -> dict:
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from make_benchdata import replicate

    base = out + ".base"
    n = STAR_REPLICAS[size]
    scale = 1 if size == "tiny" else 10
    _write_tables(star_tables(seed, scale, "tiny" if size == "tiny" else "base"), base)
    try:
        replicate(base, out, n)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    tables = _table_props(out)
    # decoded (in-memory, Arrow) size of the three fact tables the
    # workload scans — compared with Spark's storage memory in the result
    decoded = sum(
        pq.read_table(os.path.join(out, f"{t}.parquet")).nbytes for t in ("lineitem", "orders", "events")
    )
    return {"scale_of_0.01": scale, "replicas": n, "tables": tables, "fact_decoded_mb": round(decoded / 2**20, 1)}


BUILDERS = {"corpus": build_corpus, "small": build_small, "star": build_star}


def ensure(kind: str, seed: int, size: str, data_dir: str) -> tuple[str, dict, float]:
    """Build (or reuse) one input; returns (dir, props, seconds spent)."""
    t0 = time.perf_counter()
    out = os.path.join(data_dir, f"{kind}-s{seed}-{size}-{_params_digest(kind, size)}")
    marker = os.path.join(out, "props.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            return out, json.load(fh), time.perf_counter() - t0
    _evict(kind, data_dir)
    shutil.rmtree(out, ignore_errors=True)
    props = BUILDERS[kind](seed, size, out)
    with open(marker, "w") as fh:
        json.dump(props, fh, sort_keys=True)
    return out, props, time.perf_counter() - t0


def _params_digest(kind: str, size: str) -> str:
    """Digest of the size parameters, so a changed size never reuses
    an input cached under the old one."""
    params = {
        "corpus": (CORPUS_SIZES[size], ZIPF_S, EXACT_DUP_SHARE, NEAR_DUP_SHARE, NEAR_DUP_EDIT),
        "small": (_BASE_ROWS, _TEXT_ROWS),
        "star": (_BASE_ROWS, _TEXT_ROWS, STAR_REPLICAS[size]),
    }[kind]
    return hashlib.sha1(repr(params).encode()).hexdigest()[:8]


def _evict(kind: str, data_dir: str) -> None:
    if not os.path.isdir(data_dir):
        return
    entries = sorted(
        (os.path.join(data_dir, e) for e in os.listdir(data_dir) if e.startswith(kind + "-")),
        key=os.path.getmtime,
    )
    for old in entries[: max(len(entries) - KEEP_PER_KIND + 1, 0)]:
        shutil.rmtree(old, ignore_errors=True)


if __name__ == "__main__":
    # python3 gen.py KIND SEED SIZE DATA_DIR -> {"dir", "props"} on stdout
    kind, seed, size, data_dir = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
    d, p, _ = ensure(kind, seed, size, data_dir)
    print(json.dumps({"dir": d, "props": p}))
