"""TF-IDF pipeline tests: fixture-exact semantics + invariants
(SURVEY.md §5; FIXTURES.md A1/A3).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators import tfidf as T
from wikipedia_data_pipeline_spark.operators.text import parse_wiki_lines, tokenize
from wikipedia_data_pipeline_spark.sources.tables import load_table


def fixture_corpus(spark):
    """Hand-computable corpus exercising the tricky semantics:
    raw-token TF denominator, empty-normalizing tokens, TF-rounding drop,
    IDF=0 vanishing word, ties."""
    rows = [
        # doc 1: 8 raw tokens; '123' normalizes to empty (still in denominator)
        (1, "apple apple banana cherry cherry cherry 123 dog"),
        # doc 2: 4 raw tokens
        (2, "apple banana banana dog"),
        # doc 3: 2 raw tokens
        (3, "apple dog"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_tokenize_normalizes_and_drops_empty(spark):
    df = spark.createDataFrame([(1, "Hello, WORLD!! 42  x-y")], ["doc_id", "text"])
    toks = [r.word for r in tokenize(df).collect()]
    # '42' → empty → dropped; '' from double space dropped; 'x-y' → 'xy'
    assert sorted(toks) == ["hello", "world", "xy"]


def test_tf_uses_raw_token_denominator(spark):
    # doc 1 has 8 raw tokens though only 7 survive normalization:
    # tf(cherry) = round(3/8, 2) = 0.38 (not 3/7)
    tf = {
        (r.doc_id, r.word): (r["count"], r.tf)
        for r in T.doc_tf(fixture_corpus(spark)).collect()
    }
    assert tf[(1, "cherry")] == (3, 0.38)
    assert tf[(1, "apple")] == (2, 0.25)
    assert tf[(2, "banana")] == (2, 0.5)
    assert tf[(3, "apple")] == (1, 0.5)


def test_idf_formula_and_zero_drop(spark):
    idf = {r.word: r.idf for r in T.idf(fixture_corpus(spark)).collect()}
    # apple and dog appear in all 3 docs → idf = round(log10(1),2) = 0 → dropped
    assert "apple" not in idf and "dog" not in idf
    assert idf["banana"] == round(math.log10(3 / 2), 2) == 0.18
    assert idf["cherry"] == round(math.log10(3 / 1), 2) == 0.48


def test_tfidf_join_drops_zero_idf_words(spark):
    out = T.tfidf(fixture_corpus(spark)).collect()
    words = {r.word for r in out}
    assert words == {"banana", "cherry"}
    row = {(r.doc_id, r.word): r.tf_idf for r in out}
    assert row[(1, "cherry")] == round(0.38 * 0.48, 2) == 0.18
    assert row[(2, "banana")] == round(0.5 * 0.18, 2) == 0.09


def test_tfidf_rounds_like_the_reference_at_binary_near_ties(spark):
    """0.05 * 2.3 is the double 0.11499999999999999; the reference's
    Math.round(x*100)/100 (and DuckDB's round) scale it to 11.5 and give
    0.12, where rounding its decimal expansion gives 0.11."""
    doc_tf = spark.createDataFrame(
        [(1, "w", 1, 0.05)], "doc_id long, word string, count long, tf double"
    )
    idf = spark.createDataFrame([("w", 2.3)], "word string, idf double")
    (row,) = T.tfidf_join(doc_tf, idf).collect()
    assert 0.05 * 2.3 == 0.11499999999999999
    assert row.tf_idf == 0.12


def test_task1_dictionary_rank_and_upper(spark):
    d = T.task1_dictionary(fixture_corpus(spark)).collect()
    by_rank = {r.rank: (r.word, r["count"]) for r in d}
    # counts: apple 4, banana 3, cherry 3, dog 3 → ties broken word-asc
    assert by_rank[0] == ("APPLE", 4)
    assert by_rank[1] == ("BANANA", 3)
    assert by_rank[2] == ("CHERRY", 3)
    assert by_rank[3] == ("DOG", 3)


def test_invariants_on_testdata(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = T.tfidf(docs).cache()
    assert out.count() > 0
    assert out.filter((F.col("tf") <= 0) | (F.col("tf") > 1)).count() == 0
    # (doc_id, word) unique
    assert (
        out.groupBy("doc_id", "word").count().filter(F.col("count") > 1).count() == 0
    )
    idf_rows = T.idf(docs)
    assert idf_rows.filter(F.col("idf") < 0.01).count() == 0
    out.unpersist()


def test_parse_wiki_lines(spark):
    lines = spark.createDataFrame(
        [
            ('<doc id="42" url="http://x" title="T">hello <b>world</b> end</doc>',),
            ("garbage line without doc tag",),
        ],
        ["value"],
    )
    out = parse_wiki_lines(lines).collect()
    assert len(out) == 1
    assert out[0].doc_id == "42"
    assert out[0].text == "hello world end"
