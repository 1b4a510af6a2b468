"""Round-13 coverage: the chrF numpy-partials kernel's two hashing
modes (injective shift vs multiplier fallback) and the Moran's I
tracked-persist contract."""

from __future__ import annotations

from collections import Counter

import pandas as pd

from wikipedia_data_pipeline_spark.queries.generation_queries import (
    _chrf_partials_kernel,
)


def _brute_partials(pairs):
    """Python Counter brute force of the kernel's per-batch output."""
    match = Counter()
    c_total = Counter()
    r_total = Counter()
    for cstr, rstr in pairs:
        for n in range(1, 7):
            cg = Counter(cstr[i : i + n] for i in range(len(cstr) - n + 1))
            rg = Counter(rstr[i : i + n] for i in range(len(rstr) - n + 1))
            match[n] += sum(min(c, rg[g]) for g, c in cg.items())
            c_total[n] += max(len(cstr) - n + 1, 0)
            r_total[n] += max(len(rstr) - n + 1, 0)
    return match, c_total, r_total


def _run_kernel(pairs):
    pdf = pd.DataFrame(
        {"cstr": [c for c, _ in pairs], "rstr": [r for _, r in pairs]}
    )
    out = list(_chrf_partials_kernel(iter([pdf])))
    assert len(out) == 1
    return {
        int(row["n"]): (
            int(row["matches"]),
            int(row["c_total"]),
            int(row["r_total"]),
        )
        for _, row in out[0].iterrows()
    }


def _assert_matches_brute(pairs):
    got = _run_kernel(pairs)
    match, c_total, r_total = _brute_partials(pairs)
    for n in range(1, 7):
        assert got[n] == (match[n], c_total[n], r_total[n]), f"n={n}"


def test_chrf_kernel_ascii_injective_mode():
    # 7-bit codepoints -> injective shift codes (exact, no collisions)
    _assert_matches_brute(
        [
            ("the cat sat", "the cat sat on the mat"),
            ("aaaaaa", "aaa"),
            ("", "nonempty"),
            ("x", ""),
            ("abcdef", "fedcba"),
        ]
    )


def test_chrf_kernel_wide_alphabet_fallback():
    # CJK / emoji codepoints need >10 bits, so 6*bits > 64 forces the
    # multiplier-fallback branch; repeated and overlapping grams keep
    # the multiset clipping non-trivial.
    _assert_matches_brute(
        [
            ("文書の重複文書", "文書の重複"),
            ("\U0001f600\U0001f601\U0001f600\U0001f600", "\U0001f600\U0001f600"),
            ("文abc書", "abc文書"),  # mixed width, same doc
        ]
    )


def test_chrf_kernel_mixed_batch_modes():
    # one batch containing both an ASCII doc (shift mode) and a wide
    # doc (fallback mode): M is chosen per doc, so both must be exact
    _assert_matches_brute(
        [
            ("plain ascii text", "plain ascii"),
            ("重複重複", "重複"),
        ]
    )


def test_moran_cells_persist_is_tracked(spark, sf_dir, queries):
    from wikipedia_data_pipeline_spark.operators import ranks

    ranks.unpersist_all()
    rows = queries["spatial_moran_i_events"](spark, sf_dir).collect()
    assert len(rows) == 1
    # the grid-cell relation must be registered for shared release
    assert ranks.unpersist_all() >= 1


def test_ann_trunc_accumulate_matches_catalyst_fold(spark):
    """The r13 ann_dim_truncation_recall kernel's exactness premise:
    np.add.accumulate is a strictly sequential left fold, bit-identical
    to the Catalyst F.aggregate fold (from 0.0) the previous registered
    form used. Random float32 vectors, all three prefix lengths."""
    import random

    import numpy as np
    from pyspark.sql import functions as F

    rng = random.Random(0xA11)
    rows = [
        (
            i,
            [rng.uniform(-1, 1) for _ in range(64)],
            [rng.uniform(-1, 1) for _ in range(64)],
        )
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<float>, b array<float>"
    )

    def fold(expr_a, expr_b, start, off, ln):
        return F.aggregate(
            F.zip_with(
                F.expr(f"slice({expr_a}, {off}, {ln})"),
                F.expr(f"slice({expr_b}, {off}, {ln})"),
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            start,
            lambda acc, x: acc + x,
        )

    got = (
        df.select(
            "id",
            fold("a", "b", F.lit(0.0), 1, 16).alias("d16"),
            fold("a", "b", F.lit(0.0), 1, 32).alias("d32"),
            fold("a", "b", F.lit(0.0), 1, 64).alias("d64"),
        )
        .orderBy("id")
        .collect()
    )
    for r, (_, a, b) in zip(got, rows):
        av = np.array(a, dtype=np.float32).astype(np.float64)
        bv = np.array(b, dtype=np.float32).astype(np.float64)
        cum = np.add.accumulate(av * bv)
        assert r["d16"] == cum[15]
        assert r["d32"] == cum[31]
        assert r["d64"] == cum[63]


def test_ann_trunc_batch_size_invariance(spark, sf_dir, queries):
    """Per-batch top-10 partials are a superset of the global top-10
    under the strict (cos DESC, vec_id ASC) order, so the result must
    not depend on Arrow batch boundaries: force tiny batches and
    compare against the default."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    fn = queries["ann_dim_truncation_recall"]
    base = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        tiny = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    finally:
        spark.conf.set(key, old)
    assert base == tiny and len(base) > 0
