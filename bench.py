#!/usr/bin/env python
"""Benchmark harness with built-in baseline evidence. Prints ONE JSON
line; the primary fields keep their historical meaning so rounds stay
comparable (`value` = best-of-5 headline total at $SPARK_GRAFT_SF_DIR,
default /root/testdata/sf0.1, on local[$SPARK_GRAFT_CPUS]):

  {"metric": "headline_queries_total", "value": <sec>, "unit": "sec",
   "queries": {...}, "sf": 0.1,
   "duckdb":   {...},      # same-machine DuckDB oracle-twin timings
   "ratio":    <x>,        # spark/duckdb over the twin-comparable set
   "floor":    {...},      # per-query fixed overhead (sf0.001 runs)
   "adjusted_ratio": <x>,  # floor-subtracted (both engines) ratio
   "scaled":   {...}}      # 10x-replica (~sf1) run, where the floor
                           # amortizes — the provable form of the bar

Rationale: at sf0.1 every sub-second Spark query pays a ~0.2-0.3s
scheduling/codegen floor, so raw sf0.1 ratios measure the floor, not
the plans (round-5 verdict). Two floor-free views are emitted: (a)
`adjusted_ratio` subtracts each engine's own sf0.001 time for the same
query — the same plan at negligible data, i.e. the per-query fixed
cost; (b) `scaled` re-times everything on a 10x replica of the driver's
own sf0.1 data (tools/make_benchdata.py — keys shifted, distributions
identical), where per-query work dominates the floor.

Each query is forced end-to-end with a noop-format write (full
computation, no driver-side result transfer) — collect() would make
the driver the bottleneck and measure pickling, not the engine.

`dedup_minhash_lsh` is excluded from every ratio: its oracle is the
DELIBERATELY quadratic brute-force twin (it times out DuckDB at sf0.1),
so a ratio there measures the oracle's design, not the engines.

Hypervisor-steal guard (round-12 verdict #1): this VM shares a host,
and a contended window once shipped a headline number inflated ~25%
by 9-12% CPU steal. The run now samples /proc/stat steal%/total
around the whole measurement; the result always carries `steal_pct`,
and if it exceeds $SPARK_GRAFT_STEAL_MAX (default 2.0%) the artifact
is marked `"contaminated": true` and the full JSON is diverted to
BENCH_full_contaminated.json so a noisy number can never overwrite
the last clean BENCH_full_latest.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FLOOR_SF_DIR = os.environ.get(
    "SPARK_GRAFT_FLOOR_SF_DIR", "/root/testdata/sf0.001"
)
RUN_DUCKDB = os.environ.get("SPARK_GRAFT_BENCH_DUCKDB", "1") != "0"
RUN_SCALED = os.environ.get("SPARK_GRAFT_BENCH_SCALED", "1") != "0"
RUN_SCALED100 = os.environ.get("SPARK_GRAFT_BENCH_SCALED100", "1") != "0"

# Headline set: one per major engine area (TF-IDF pipeline, relational
# agg/join/window, events/time-series, dedup, similarity, text analysis).
HEADLINE = [
    "tfidf_full",
    "task1_dictionary",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "window_rank_orders",
    "events_hourly_rollup",
    "sessionization",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk_brute",
    "text_quality_scores",
]
RATIO_EXCLUDE = {"dedup_minhash_lsh"}


def run_spark(spark, queries, sf_dir, names, warmups=2, iters=5, eager=None):
    """The one Spark timing loop: end-to-end noop-write times of
    ``queries[name](spark, sf_dir)`` for each name, returned as
    ``(best, median, runs)`` dicts keyed by name.

    Warm-ups run every plan at the SAME sf so JVM/JIT codegen (C2 needs
    repeat executions), Python/Arrow worker startup, and page cache
    don't land in the timed run — steady-state is what a long-lived
    cluster sees. Iterations interleave across names (a,b,a,b,...), so
    a noisy window on a shared host lands on every name alike
    instead of on whichever ran during it. Best-of-N is the engine's
    actual cost (the standard defense against neighbor noise); the
    median of the same N ships beside it so run selection is
    answerable from one artifact.

    Names in ``eager`` (default: ``registry.eager_queries()``) run Spark
    jobs while the DataFrame is CONSTRUCTED, so their timer starts
    before construction; for lazy names construction (plan building,
    ms) stays outside the window.

    Every cache in the package that outlives its function is made with
    ranks.pin, so the unpersist_all after each run releases
    ALL plan-internal caches — otherwise Spark's plan-canonicalized
    cache lookup would serve run 1's cached subtrees to runs 2..N and
    silently exclude them from the timing."""
    import statistics

    from wikipedia_data_pipeline_spark import registry
    from wikipedia_data_pipeline_spark.operators import ranks

    if eager is None:
        eager = registry.eager_queries()

    def once(name):
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        if name not in eager:
            t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        ranks.unpersist_all()
        return dt

    for _ in range(warmups):
        for name in names:
            once(name)
    runs: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(iters):
        for name in names:
            runs[name].append(round(once(name), 3))
    best = {name: min(r) for name, r in runs.items()}
    median = {name: round(statistics.median(r), 3) for name, r in runs.items()}
    return best, median, runs


def run_duckdb(oracles, sf_dir, names, warmups=1, iters=5):
    """Best-of-N DuckDB timings of the SAME queries via their oracle
    SQL (the exact statements the correctness gate proves equivalent),
    on the same machine with all cores. Results are fetched (DuckDB has
    no noop sink); the result sets here are small aggregates, so fetch
    cost is negligible either way."""
    from wikipedia_data_pipeline_spark.sources.tables import duckdb_catalog

    con = duckdb_catalog(sf_dir)
    timings: dict[str, float] = {}
    for name in names:
        sql = oracles[name]
        for _ in range(warmups):
            con.execute(sql).fetchall()
        best = float("inf")
        for _ in range(iters):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    con.close()
    return timings


def _cpu_ticks():
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat.
    Returns (None, None) where /proc/stat is unavailable (non-Linux)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except Exception:
        return None, None


def steal_guard(t0, t1) -> dict:
    """CPU steal between two ``_cpu_ticks()`` samples as
    ``{"steal_pct": pct}``, plus ``"contaminated": True`` above
    $SPARK_GRAFT_STEAL_MAX% (default 2.0): a neighbor VM then ate a
    material slice of this host's CPU, so the timings measure
    contention, not the engine. Empty where /proc/stat is unavailable.
    bench.py, tools/ab.py and tools/scale_probe.py all mark their
    artifacts with it."""
    s0, tot0 = t0
    s1, tot1 = t1
    if s0 is None or s1 is None or tot1 <= tot0:
        return {}
    steal = round(100.0 * (s1 - s0) / (tot1 - tot0), 3)
    out = {"steal_pct": steal}
    if steal > float(os.environ.get("SPARK_GRAFT_STEAL_MAX", "2.0")):
        out["contaminated"] = True
    return out


def _ratio(spark_t, duck_t, names):
    s = sum(spark_t[n] for n in names)
    d = sum(duck_t[n] for n in names)
    return round(s / d, 2) if d > 0 else None


def main() -> None:
    from wikipedia_data_pipeline_spark.session import get_spark

    # The engine's own session (session.get_spark): the bench measures
    # the configs the engine ships — 4 MB splits, the 64 MB broadcast
    # threshold, Arrow — not a look-alike copy that drifts from them.
    spark = get_spark("wikipedia-data-pipeline-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from wikipedia_data_pipeline_spark import registry

    queries = registry.spark_queries()
    oracles = registry.oracle_queries()
    twin_names = [
        n for n in HEADLINE if n in oracles and n not in RATIO_EXCLUDE
    ]

    out: dict = {"metric": "headline_queries_total", "unit": "sec"}
    ticks0 = _cpu_ticks()
    timings, medians, _ = run_spark(spark, queries, SF_DIR, HEADLINE)
    out["queries"] = timings
    out["value"] = round(sum(timings.values()), 3)
    # additions-only fields (r13 verdict #8): median of the same 5
    # iterations, beside the historical best-of-5
    out["queries_median"] = medians
    out["value_median"] = round(sum(medians.values()), 3)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        out["sf"] = float(sf)
    except ValueError:
        out["sf"] = sf

    if RUN_DUCKDB:
        duck = run_duckdb(oracles, SF_DIR, twin_names)
        out["duckdb"] = duck
        out["ratio"] = _ratio(timings, duck, twin_names)
        # Floor decomposition: the same plans at sf0.001 cost almost
        # pure fixed overhead (scheduling, codegen, parse) in each
        # engine; subtracting each engine's own floor isolates the
        # data-dependent plan time the 2x bar is about.
        floor_s, _, _ = run_spark(
            spark, queries, FLOOR_SF_DIR, twin_names, warmups=1, iters=3
        )
        floor_d = run_duckdb(oracles, FLOOR_SF_DIR, twin_names, iters=3)
        out["floor"] = {"spark": floor_s, "duckdb": floor_d}
        adj_s = {n: max(timings[n] - floor_s[n], 0.0) for n in twin_names}
        adj_d = {n: max(duck[n] - floor_d[n], 1e-4) for n in twin_names}
        out["adjusted_ratio"] = _ratio(adj_s, adj_d, twin_names)

    if RUN_SCALED:
        from tools.make_benchdata import ensure

        scaled_dir = ensure(
            SF_DIR,
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "benchdata", "sf1r"),
            10,
        )
        sc_spark, _, _ = run_spark(
            spark, queries, scaled_dir, HEADLINE, warmups=1, iters=3
        )
        scaled: dict = {
            "dir": "10x replica of " + SF_DIR,
            "queries": sc_spark,
            "value": round(sum(sc_spark.values()), 3),
        }
        if RUN_DUCKDB:
            sc_duck = run_duckdb(oracles, scaled_dir, twin_names, iters=3)
            scaled["duckdb"] = sc_duck
            scaled["ratio"] = _ratio(sc_spark, sc_duck, twin_names)
        out["scaled"] = scaled

    if RUN_SCALED100:
        # 100x replica (~sf10 facts: 60M lineitem): the view where the
        # scheduling floor is fully amortized — the r6 verdict's ask for
        # a DuckDB-twin ratio on the micro-aggregate family, plus the
        # dec_sum-vs-BIGINT-cents A/B that decomposes the DECIMAL
        # exactness tax on q1. Query set kept small: this block exists
        # to price the decimal tax, not to re-run the whole headline.
        from tools.make_benchdata import ensure

        dir100 = ensure(
            SF_DIR,
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "benchdata", "sf10r"),
            100,
        )
        names100 = [
            "q1_pricing_summary",
            "q1_pricing_summary_cents",
            "q3_shipping_priority",
            "q5_region_revenue",
            "events_hourly_rollup",
            "tfidf_full",
        ]
        sc100_spark, _, _ = run_spark(
            spark, queries, dir100, names100, warmups=1, iters=2
        )
        block: dict = {
            "dir": "100x replica of " + SF_DIR,
            "queries": sc100_spark,
        }
        if RUN_DUCKDB:
            sc100_duck = run_duckdb(oracles, dir100, names100, iters=2)
            block["duckdb"] = sc100_duck
            block["ratio_per_query"] = {
                n: round(sc100_spark[n] / sc100_duck[n], 2)
                for n in names100
                if sc100_duck.get(n)
            }
            dec, cents = (
                sc100_spark["q1_pricing_summary"],
                sc100_spark["q1_pricing_summary_cents"],
            )
            block["decimal_tax"] = {
                "q1_dec_sum_sec": dec,
                "q1_bigint_cents_sec": cents,
                "dec_over_cents": round(dec / cents, 2) if cents else None,
            }
        out["scaled100"] = block

    # The steal covers the whole measured span (every timed block
    # above); a contaminated artifact is kept away from
    # BENCH_full_latest.json below.
    out.update(steal_guard(ticks0, _cpu_ticks()))

    print(json.dumps(out))
    # The driver captures only a 2,000-char tail of stdout, which has
    # truncated the raw block two rounds running — always persist the
    # full artifact beside the repo so it can be committed per round.
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_full_latest.json",
        ),
    )
    if out.get("contaminated") and "SPARK_GRAFT_BENCH_OUT" not in os.environ:
        full_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_full_contaminated.json",
        )
    with open(full_path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
