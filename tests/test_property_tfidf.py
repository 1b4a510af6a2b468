"""Property test: the Spark TF-IDF pipeline must equal an independent
Python reimplementation of the reference's formulas (SURVEY.md §2.4) on
arbitrary generated corpora — including the traps: raw-token TF
denominators (tokens that normalize to empty still count), half-up
2-decimal rounding, TF>0 / IDF>0 drops, and inner-join word loss.

Generated texts deliberately include punctuation runs, digits, repeated
spaces, and empty documents.
"""

from __future__ import annotations

import math
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from wikipedia_data_pipeline_spark.operators.tfidf import tfidf

ALPHABET = "ab zB.,1-  "  # few letters → frequent cross-doc collisions


def round2(x: float) -> float:
    """The reference's ``Math.round(x*100)/100`` for the non-negative
    values here: scale the double, then round half-up."""
    return math.floor(x * 100 + 0.5) / 100


def reference_tfidf(texts: list[str]) -> set[tuple]:
    """The reference semantics, restated independently in plain Python."""
    n_docs = len(texts)
    per_doc: list[dict[str, int]] = []
    raw_counts: list[int] = []
    for text in texts:
        raw = text.split(" ")
        raw_counts.append(len(raw))
        counts: dict[str, int] = {}
        for tok in raw:
            w = re.sub("[^a-zA-Z]", "", tok).lower()
            if w:
                counts[w] = counts.get(w, 0) + 1
        per_doc.append(counts)

    df: dict[str, int] = {}
    for counts in per_doc:
        for w in counts:
            df[w] = df.get(w, 0) + 1
    idf = {
        w: round2(math.log10(n_docs / d))
        for w, d in df.items()
        if round2(math.log10(n_docs / d)) > 0
    }

    out = set()
    for doc_id, counts in enumerate(per_doc):
        for w, c in counts.items():
            tf = round2(c / raw_counts[doc_id])
            if tf > 0 and w in idf:
                out.add((doc_id, w, c, tf, round2(tf * idf[w])))
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        st.text(alphabet=ALPHABET, min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    )
)
def test_tfidf_matches_reference_semantics(spark, texts):
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        (r.doc_id, r.word, r["count"], r.tf, r.tf_idf)
        for r in tfidf(docs).collect()
    }
    assert got == reference_tfidf(texts)
