"""Golden-corpus replay (SURVEY.md §5.2, VERDICT.md round-1 item 2).

The reference's only executable spec is its committed output corpus:
``/root/reference/TF-IDF-Docs/*.csv`` — 1000 docs, 33,563 rows of
``word, count, tf, tf_idf`` produced by a real run over an input corpus
that is NOT in the repo.  These tests replay the pipeline against that
spec bit-for-bit anyway, by reconstructing the stage inputs from the
outputs:

* **Stage C replay (all 1000 docs)** — TF_IDFWorker.java:29-46 joined
  ``docs/<id>.csv`` ``(word, count, tf)`` with ``idf.csv`` ``(word,
  idf)`` and emitted ``round(tf*idf, 2)``.  The golden corpus IS the
  join output, so columns 1-3 reconstruct the left input exactly, and a
  per-word idf is solved from the data: the unique-enough value v
  (2-decimal grid) with ``round_half_up(tf*v, 2) == tf_idf`` for EVERY
  (tf, tf_idf) pair of that word, additionally required to be of the
  reference's form ``round(log10(1000/df), 2)`` for an integer df ≤
  1000 (DocInfo.java:114-117, N = 1000 docs).  Driving
  ``operators.tfidf.tfidf_join`` over the reconstructed inputs must
  reproduce all 33,563 golden rows bit-for-bit.

* **Stage A replay (730 synthesizable docs + the artifact doc)** —
  DocInfo.java:22-91 parsed a pseudo-XML line, split on single spaces,
  normalized, counted, and divided by the RAW token count.  For every
  golden doc where a consistent raw count >= 201 exists (so the
  dangling-``</doc`` token's tf rounds to 0 and drops, as it did in the
  real run) we synthesize an input line with each golden word repeated
  ``count`` times plus numeric padding tokens, parse it with the
  compat parser, and require ``operators.tfidf.doc_tf`` to reproduce
  ``(word, count, tf)`` exactly.  Docs excluded: the ones whose true
  raw count was < 201 (tiny docs where the artifact survived — covered
  instead by the handcrafted 418298 case), docs containing the word
  ``doc`` (the padding token's merged remnant would collide), and docs
  whose dropped-word gaps leave no consistent raw in range.

* **Artifact replay (doc 418298)** — the merged-last-token artifact
  (``include`` + ``</doc`` → ``includedoc``, SURVEY.md §1.1) and the
  single-token word-merge (``maag,maag`` → ``maagmaag``) reproduced
  exactly through ``parse_wiki_lines_compat``.
"""

from __future__ import annotations

import math
from pathlib import Path

import pytest

from wikipedia_data_pipeline_spark.operators.text import parse_wiki_lines_compat
from wikipedia_data_pipeline_spark.operators.tfidf import doc_tf, tfidf_join

GOLDEN_DIR = Path("/root/reference/TF-IDF-Docs")

pytestmark = pytest.mark.skipif(
    not GOLDEN_DIR.is_dir(), reason="reference golden corpus not present"
)


def round_half_up_2(x: float) -> float:
    """Java ``Math.round(x*100d)/100d`` for the non-negative values here."""
    return math.floor(x * 100 + 0.5) / 100


def load_golden() -> dict[str, list[tuple[str, int, float, float]]]:
    docs: dict[str, list[tuple[str, int, float, float]]] = {}
    for p in sorted(GOLDEN_DIR.glob("*.csv")):
        rows = []
        for line in p.read_text(encoding="utf-8", errors="replace").splitlines():
            w, c, tf, ti = line.split(", ")
            rows.append((w, int(c), float(tf), float(ti)))
        docs[p.stem] = rows
    return docs


def solve_idf(docs: dict[str, list[tuple[str, int, float, float]]]) -> dict[str, float]:
    """Per-word idf consistent with every (tf, tf_idf) pair, of df-form."""
    pairs: dict[str, set[tuple[float, float]]] = {}
    for rows in docs.values():
        for w, _, tf, ti in rows:
            pairs.setdefault(w, set()).add((tf, ti))
    df_form = {round_half_up_2(math.log10(1000 / df)) for df in range(1, 1001)}
    solved = {}
    for w, ps in pairs.items():
        cands = [
            v
            for v in (k / 100 for k in range(1, 301))
            if v in df_form
            and all(round_half_up_2(tf * v) == ti for tf, ti in ps)
        ]
        assert cands, f"no reference-form idf consistent with golden data for {w!r}"
        solved[w] = cands[0]
    return solved


def solve_raw_token_count(rows: list[tuple[str, int, float, float]]) -> int | None:
    """Smallest raw count >= max(201, total+1) with round(c/raw,2)==tf ∀w."""
    total = sum(c for _, c, _, _ in rows)
    lo, hi = max(201, total + 1), 100_000
    for _, c, tf, _ in rows:
        lo = max(lo, math.floor(c / (tf + 0.005)) + 1)
        if tf > 0.005:
            hi = min(hi, math.floor(c / (tf - 0.005)))
    for raw in range(lo, hi + 1):
        if all(round_half_up_2(c / raw) == tf for _, c, tf, _ in rows):
            return raw
    return None


@pytest.fixture(scope="module")
def golden():
    return load_golden()


def test_stage_c_join_replays_all_golden_rows(spark, golden):
    idf_map = solve_idf(golden)
    left = [
        (did, w, c, tf) for did, rows in golden.items() for w, c, tf, _ in rows
    ]
    doc_tf_rel = spark.createDataFrame(left, "doc_id string, word string, count long, tf double")
    idf_rel = spark.createDataFrame(
        list(idf_map.items()), "word string, idf double"
    )
    got = {
        (r.doc_id, r.word): (r["count"], r.tf, r.tf_idf)
        for r in tfidf_join(doc_tf_rel, idf_rel).collect()
    }
    want = {
        (did, w): (c, tf, ti)
        for did, rows in golden.items()
        for w, c, tf, ti in rows
    }
    assert len(got) == len(want) == 33_563
    mismatches = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not mismatches, f"{len(mismatches)} rows diverge, e.g. {list(mismatches.items())[:3]}"


def _synth_line(doc_id: str, rows: list[tuple[str, int, float, float]], raw: int) -> str:
    words = [w for w, c, _, _ in rows for _ in range(c)]
    pad = ["1"] * (raw - len(words))  # normalize to empty; last one eats </doc
    body = " ".join(words + pad)
    return f'<doc id="{doc_id}" url="u" title="t">{body}</doc>'


def test_stage_a_synth_replay_bulk(spark, golden):
    lines, want = [], {}
    skipped = 0
    for did, rows in golden.items():
        if any(w == "doc" for w, _, _, _ in rows):
            skipped += 1
            continue
        raw = solve_raw_token_count(rows)
        if raw is None:
            skipped += 1
            continue
        lines.append(_synth_line(did, rows, raw))
        for w, c, tf, _ in rows:
            want[(did, w)] = (c, tf)
    assert len(lines) >= 700, f"only {len(lines)} synthesizable docs"
    parsed = parse_wiki_lines_compat(spark.createDataFrame([(l,) for l in lines], "value string"))
    got = {
        (r.doc_id, r.word): (r["count"], r.tf)
        for r in doc_tf(parsed).collect()
    }
    assert len(got) == len(want)
    mismatches = {k: (got.get(k), want[k]) for k in want if got.get(k) != want[k]}
    assert not mismatches, f"{len(mismatches)} rows diverge, e.g. {list(mismatches.items())[:3]}"


def test_artifact_doc_418298_replay(spark):
    """The dangling-</doc merged token and in-token word merge, bit-exact."""
    golden = {
        w: (c, tf)
        for w, c, tf, _ in (
            load_golden()["418298"] if GOLDEN_DIR.is_dir() else []
        )
    }
    # 10 raw tokens; 'include' last so the parser's dangling </doc merges
    # into it; 'maag,maag' is ONE token whose normalization fuses the pair.
    body = "persons with that a maag,maag surname name notable is include"
    line = f'<doc id="418298" url="u" title="t">{body}</doc>'
    parsed = parse_wiki_lines_compat(
        spark.createDataFrame([(line,)], "value string")
    )
    got = {r.word: (r["count"], r.tf) for r in doc_tf(parsed).collect()}
    assert got == golden
    assert got["includedoc"] == (1, 0.1)
    assert got["maagmaag"] == (1, 0.1)
