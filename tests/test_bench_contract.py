"""The bench headline set and the query registry are maintained
independently; a rename in either silently drops a bench query
(VERDICT.md round-1 item 10). Pin them together."""

from __future__ import annotations

import bench
from wikipedia_data_pipeline_spark import registry


def test_every_headline_query_is_registered():
    missing = [q for q in bench.HEADLINE if q not in registry.spark_queries()]
    assert not missing, f"bench names not registered: {missing}"


def test_headline_set_spans_engine_areas():
    assert {"tfidf_full", "dedup_minhash_lsh", "ann_cosine_topk_brute"} <= set(
        bench.HEADLINE
    )


def test_no_eager_query_in_any_timing_set():
    """Eager queries run Spark jobs at BUILD time, so timing their
    final action under-measures them; the registry tags them and the
    bench must exclude them mechanically (round-5 verdict item 7)."""
    eager = registry.eager_queries()
    assert not eager & set(bench.HEADLINE), eager & set(bench.HEADLINE)


def test_ratio_set_is_oracle_backed_and_excludes_quadratic_twin():
    oracles = registry.oracle_queries()
    twins = [
        n
        for n in bench.HEADLINE
        if n in oracles and n not in bench.RATIO_EXCLUDE
    ]
    # every twin the ratio cites is proven equivalent by the gate
    assert all(n in oracles for n in twins)
    assert "dedup_minhash_lsh" in bench.RATIO_EXCLUDE


def test_scaled100_block_names_are_registered_oracle_twins():
    """The 100x decimal-tax block (round 7) cites DuckDB twins, so every
    name must be registered AND oracle-backed — including the cents A/B
    pair the block's decimal_tax field depends on."""
    import inspect

    src = inspect.getsource(bench.main)
    start = src.index("names100 = [")
    names = eval(src[start + len("names100 = ") : src.index("]", start) + 1])
    oracles = registry.oracle_queries()
    assert {"q1_pricing_summary", "q1_pricing_summary_cents"} <= set(names)
    assert all(n in oracles for n in names), [n for n in names if n not in oracles]


def test_steal_guard_marks_runs_above_the_limit(monkeypatch):
    """(steal, total) jiffy pairs as _cpu_ticks reads them from the
    aggregate cpu line of /proc/stat: 1% steal passes, 5% is marked."""
    monkeypatch.delenv("SPARK_GRAFT_STEAL_MAX", raising=False)
    assert bench.steal_guard((100, 10_000), (110, 11_000)) == {"steal_pct": 1.0}
    assert bench.steal_guard((100, 10_000), (150, 11_000)) == {
        "steal_pct": 5.0,
        "contaminated": True,
    }
    assert bench.steal_guard((None, None), (None, None)) == {}
