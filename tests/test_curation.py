"""Curation operator tests: PII scrub rule ordering, the end-to-end
pipeline on a corpus with actual duplicates (driver testdata has no
byte-identical dups, so the keep-step is exercised here), and a
hypothesis property check of merge_upsert against a dict model."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.curation import curate, scrub_pii


def test_scrub_pii_rule_order_and_coverage(spark):
    rows = [
        (1, "mail me at jane.doe+x@sub.example.org today"),
        (2, "server 192.168.001.1 then call +44 (0) 1234-567890 now"),
        (3, "a1234567890@x.com is an email not a phone"),
        (4, "clean text stays clean"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.c for r in df.select("doc_id", scrub_pii(F.col("text")).alias("c")).collect()}
    assert got[1] == "mail me at <EMAIL> today"
    assert got[2] == "server <IP> then call <PHONE> now"
    assert got[3] == "<EMAIL> is an email not a phone"
    assert got[4] == "clean text stays clean"


def test_curate_gates_dedups_and_scrubs(spark):
    long_txt = "the same long duplicate text contact bob@x.io ok"
    rows = [
        (1, long_txt, "en"),
        (2, long_txt, "en"),            # exact dup → dropped (keep doc 1)
        (3, "short", "en"),             # length gate
        (4, long_txt, "zh"),            # language gate
        (5, "another unique en doc with no pii", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: r for r in curate(docs, languages=["en"]).collect()}
    assert set(got) == {1, 5}
    assert got[1].text_clean == "the same long duplicate text contact <EMAIL> ok"
    assert got[1].n_chars == len(long_txt)


@st.composite
def cdc_case(draw):
    keys = st.integers(0, 5)
    vals = st.integers(0, 100)
    base = draw(st.dictionaries(keys, vals, max_size=6))
    ups = draw(st.lists(st.tuples(keys, vals, st.integers(0, 50)), max_size=8))
    return base, ups


@given(cdc_case())
@settings(max_examples=12, deadline=None)
def test_merge_upsert_matches_dict_model(spark, case):
    """merge_upsert(order_by=[seq]) ≡ apply updates in seq order (max
    seq wins; among equal seqs the winner is stable but unspecified —
    model only checks keys where seqs are unambiguous)."""
    from wikipedia_data_pipeline_spark.operators.upsert import merge_upsert

    base, ups = case
    base_df = spark.createDataFrame(
        [(k, v, -1) for k, v in base.items()] or [(99, 0, -1)],
        "k long, v long, seq long",
    )
    if not base:
        base_df = base_df.filter("k < 0")
    ups_df = spark.createDataFrame(
        ups or [(99, 0, 0)], "k long, v long, seq long"
    )
    if not ups:
        ups_df = ups_df.filter("k < 0")
    got = {r.k: r.v for r in merge_upsert(base_df, ups_df, ["k"], order_by=["seq"]).collect()}
    model = dict(base)
    best_seq: dict[int, int] = {}
    ambiguous = set()
    for k, v, seq in ups:
        if k in best_seq and seq == best_seq[k]:
            ambiguous.add(k)
        if k not in best_seq or seq > best_seq[k]:
            best_seq[k] = seq
            model[k] = v
            ambiguous.discard(k)
    assert set(got) == set(model)
    for k, v in model.items():
        if k not in ambiguous:
            assert got[k] == v


def test_segment_dedup_drops_repeats_and_reassembles(spark):
    from wikipedia_data_pipeline_spark.operators.curation import segment_dedup

    seg_a = "a b c"          # 3-word segments
    seg_b = "d e f"
    seg_c = "g h i"
    rows = [
        (1, f"{seg_a} {seg_b}"),          # both segments first seen here
        (2, f"{seg_a} {seg_c}"),          # seg_a is a repeat → dropped
        (3, f"{seg_c} {seg_c}"),          # repeat of doc2's seg + self-repeat
        (4, "j k"),                       # short doc, single partial segment
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in segment_dedup(docs, seg_words=3).collect()}
    assert got[1].text_clean == f"{seg_a} {seg_b}"
    assert (got[1].n_segs, got[1].n_kept) == (2, 2)
    assert got[2].text_clean == seg_c       # seg_a deduped away
    assert (got[2].n_segs, got[2].n_kept) == (2, 1)
    assert got[3].text_clean == ""          # every segment already seen
    assert (got[3].n_segs, got[3].n_kept) == (2, 0)
    assert got[4].text_clean == "j k"
    assert (got[4].n_segs, got[4].n_kept) == (1, 1)


def test_quality_percentile_gate_drops_bottom_decile_per_lang(spark):
    from wikipedia_data_pipeline_spark.operators.curation import (
        quality_percentile_gate,
    )

    rows = []
    # lang 'aa': 10 docs with increasing TTR (repetition decreasing)
    for i in range(10):
        uniq = ["w%d" % j for j in range(i + 1)]
        text = " ".join((uniq * 10)[:10])  # 10 tokens, i+1 distinct
        rows.append((i, "aa", text))
    # lang 'bb': uniform high quality, nothing should drop but rank 0
    for i in range(10, 15):
        rows.append((i, "bb", "all distinct tokens here %d ok fine" % i))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    kept = quality_percentile_gate(docs, 0.1).collect()
    kept_aa = {r.doc_id for r in kept if r.lang == "aa"}
    # doc 0 (lowest ttr, percent_rank 0) is the only aa casualty
    assert kept_aa == set(range(1, 10))
    for r in kept:
        assert 0.0 <= r.pctl <= 1.0


def test_cap_per_group_keeps_top_rows_deterministically(spark):
    rows = [("a", i, 100 - i) for i in range(10)] + [("b", 100, 5)]
    df = spark.createDataFrame(rows, "grp string, doc_id long, score long")
    from wikipedia_data_pipeline_spark.operators.curation import cap_per_group

    got = cap_per_group(
        df, "grp", [F.desc("score"), F.asc("doc_id")], 3
    ).collect()
    by_grp = {}
    for r in got:
        by_grp.setdefault(r.grp, []).append((r.score, r.doc_id))
    assert sorted(by_grp["a"], reverse=True) == [(100, 0), (99, 1), (98, 2)]
    assert by_grp["b"] == [(5, 100)]  # under-cap group passes through


def test_curation_funnel_covers_every_gate(spark):
    from wikipedia_data_pipeline_spark.operators.curation import curation_funnel

    long_text = "x" * 30
    docs = spark.createDataFrame(
        [
            (1, long_text, "en", 30),          # kept (dup representative)
            (2, long_text, "en", 30),          # duplicate of 1
            (3, "short", "en", 5),             # too_short
            (4, "y" * 2_000_000, "en", 2_000_000),  # too_long
            (5, long_text, "fr", 30),          # lang_rejected
        ],
        "doc_id long, text string, lang string, n_chars long",
    )
    got = {r.reason: (r.n_docs, r.n_chars_total) for r in curation_funnel(docs).collect()}
    assert got == {
        "kept": (1, 30),
        "duplicate": (1, 30),
        "too_short": (1, 5),
        "too_long": (1, 2_000_000),
        "lang_rejected": (1, 30),
    }
