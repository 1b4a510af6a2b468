"""Round-14 tests: the operator-internal equivalences the r14 rewrites
rely on. The persist guard lives with the cache owner, in
tests/test_ranks.py; the Hodges-Lehmann job count with its other
tests, in tests/test_statsnonparam.py.
"""

from __future__ import annotations

import pytest

from wikipedia_data_pipeline_spark.operators.ranks import pin


# ---------------------------------------------------------------------------
# Focused tests for the r14 rewrites (each flip also has an exact DuckDB
# oracle, so the full gate re-proves end-to-end equality; these pin the
# operator-internal equivalences the rewrites rely on)
# ---------------------------------------------------------------------------


def test_span_stats_window_form_equals_joined_form(spark, sf_dir):
    """duplicate_span_stats r14 form (token-hash fingerprints +
    (g, doc) pair dedup + windowed gram-doc count) must equal the r13
    joined form (slice-hash fingerprints + count_distinct + occ join)
    row-for-row."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from wikipedia_data_pipeline_spark.operators.dedup import (
        duplicate_span_stats,
    )
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = 8
    grams = F.expr(
        f"""
        element_at(transform(array(split(text, ' ')), ts ->
          CASE WHEN size(ts) >= {n} THEN
            transform(sequence(1, size(ts) - {n - 1}),
                      i -> xxhash64(slice(ts, i, {n})))
          ELSE array() END), 1)
        """
    )
    occ = docs.select(
        "doc_id", F.explode(grams.cast("array<bigint>")).alias("g")
    )
    gram_docs = occ.groupBy("g").agg(F.count_distinct("doc_id").alias("nd"))
    old = (
        occ.join(gram_docs, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias(
                "n_dup_spans"
            ),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            (
                F.col("n_dup_spans").cast("double") / F.col("n_spans")
            ).alias("dup_ratio"),
        )
    )
    a = sorted(tuple(r) for r in old.collect())
    b = sorted(tuple(r) for r in duplicate_span_stats(docs, n).collect())
    assert a == b and len(a) > 0


def test_span_stats_rejects_wide_n(spark, sf_dir):
    from wikipedia_data_pipeline_spark.operators.dedup import (
        duplicate_span_stats,
    )
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    with pytest.raises(ValueError, match="unsupported"):
        duplicate_span_stats(load_table(spark, sf_dir, "documents"), 9)


def test_coreset_matrix_walks_identical_greedy_path(spark, sf_dir):
    """The r14 precomputed-matrix coreset must emit the exact rows of
    the r13 per-step greedy loop (Catalyst fold + per-step persist) —
    pinning both the NumPy/accumulate cosine bit-identity and the
    argmax path."""
    from pyspark.sql import functions as F

    from wikipedia_data_pipeline_spark.functions import cosine_similarity
    from wikipedia_data_pipeline_spark.queries.similarity_queries import (
        _FL_CAND_MAX,
        _FL_K,
        curation_coreset_facility_location,
    )
    from wikipedia_data_pipeline_spark.sources.tables import fan_out, load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cand = emb.filter(F.col("vec_id") < _FL_CAND_MAX).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    simq = F.round(
        cosine_similarity(F.col("cemb"), F.col("embedding"))
        * 1_000_000_000.0
    ).cast("long")
    cover = pin(
        fan_out(emb)
        .select("vec_id", "embedding", F.lit(0).cast("long").alias("cov"))
    )
    selected: list = []
    out = []
    total = 0
    for step in range(1, _FL_K + 1):
        pool = (
            cand.filter(~F.col("cid").isin(selected)) if selected else cand
        )
        gains = (
            cover.crossJoin(F.broadcast(pool))
            .select(
                "cid",
                (F.greatest(simq, F.col("cov")) - F.col("cov")).alias("g"),
            )
            .groupBy("cid")
            .agg(F.sum("g").cast("long").alias("gain"))
        )
        best = (
            gains.orderBy(F.desc("gain"), F.asc("cid")).limit(1).collect()[0]
        )
        selected.append(int(best.cid))
        total += int(best.gain)
        out.append((step, int(best.cid), int(best.gain), total))
        if step < _FL_K:
            ch = cand.filter(F.col("cid") == int(best.cid)).select("cemb")
            cover = pin(
                cover.crossJoin(F.broadcast(ch))
                .select(
                    "vec_id",
                    "embedding",
                    F.greatest(F.col("cov"), simq).alias("cov"),
                )
            )
    got = sorted(
        tuple(r)
        for r in curation_coreset_facility_location(spark, sf_dir).collect()
    )
    assert got == sorted(out)


def test_quantile_summary_weights_sum_to_exact_count(spark, sf_dir):
    """The r14 nrel-from-summary rewrite rests on this invariant:
    stride rows carry s, the block's last row carries m % s, so
    sum(weight) == count(*) exactly — checked on real data AND on
    crafted frames hitting the m < s and m % s == 0 edges."""
    from pyspark.sql import functions as F

    from wikipedia_data_pipeline_spark.operators import profiling as P
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    n = ev.count()
    s = P.quantile_summary(ev, "value", "event_id", blocks=32, eps=0.02)
    assert s.agg(F.sum("weight")).collect()[0][0] == n

    # crafted: 1 block; m=3 < 1/eps (s=1, all rows kept, weight 1);
    # then m=100 with eps=0.1 (s=10, m % s == 0 — last row IS a stride
    # row and must carry s, not a 0-weight remainder)
    for m, eps in ((3, 0.02), (100, 0.1)):
        df = spark.range(m).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 7).cast("double").alias("value"),
        )
        sm = P.quantile_summary(df, "value", "event_id", blocks=1, eps=eps)
        assert sm.agg(F.sum("weight")).collect()[0][0] == m
