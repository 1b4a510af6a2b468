"""operators.ranks — hierarchical global rank / running aggregates /
ntile. Reference semantics come from a plain unpartitioned window over
the same data (fine at test size), so any decomposition bug shows up as
a row-level diff, and a repeat run catches block-boundary
nondeterminism (the repartitionByRange sampling hazard the persist in
ordered_scan exists to kill)."""

from __future__ import annotations

import ast
import glob
import os
import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import (
    global_ntile,
    ordered_scan,
    pin,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def rows():
    rng = random.Random(20260814)
    # duplicate-heavy first key so ties straddle block boundaries
    return [
        (i, rng.randint(0, 40), rng.randint(-1000, 10**9))
        for i in range(2003)
    ]


@pytest.fixture(scope="module")
def df(spark, rows):
    return spark.createDataFrame(rows, ["id", "k", "v"]).repartition(16)


def _order():
    # built lazily: F.desc() needs an active SparkContext
    return [F.desc("k"), F.asc("id")]


def _reference(df):
    w = Window.orderBy(*_order())
    wr = w.rowsBetween(Window.unboundedPreceding, 0)
    return {
        r["id"]: (r["rnk"], r["rs"], r["rm"])
        for r in df.select(
            "id",
            F.row_number().over(w).cast("long").alias("rnk"),
            F.sum("v").over(wr).alias("rs"),
            F.max("v").over(wr).alias("rm"),
        ).collect()
    }


def test_ordered_scan_matches_global_window(spark, df, rows):
    got = {
        r["id"]: (r["rnk"], r["rs"], r["rm"])
        for r in ordered_scan(
            df,
            _order(),
            rank_col="rnk",
            running=[("rs", "v", "sum"), ("rm", "v", "max")],
        ).collect()
    }
    assert got == _reference(df)


def test_ordered_scan_totals_from_blocks(spark, df, rows):
    tot = (
        ordered_scan(
            df,
            _order(),
            rank_col="rnk",
            running=[("rs", "v", "sum"), ("rm", "v", "max")],
            with_totals=True,
        )
        .select("rnk_total", "rs_total", "rm_total")
        .distinct()
        .collect()
    )
    assert len(tot) == 1
    assert tuple(tot[0]) == (
        len(rows),
        sum(v for _, _, v in rows),
        max(v for _, _, v in rows),
    )


def test_ordered_scan_deterministic_across_runs(spark, df):
    def run():
        return sorted(
            tuple(r)
            for r in ordered_scan(
                df, _order(), rank_col="rnk", running=[("rm", "v", "max")]
            ).collect()
        )

    assert run() == run()


def test_running_max_on_shuffled_arrival(spark):
    """The lateness-audit shape: arrival offsets whose event times are
    OUT of order, so the running watermark max is nontrivial (the
    sf-testdata events table is ts-sorted, where any bug that returns
    `ts` itself would pass silently)."""
    rng = random.Random(7)
    ts = list(range(0, 5000, 5))
    rng.shuffle(ts)
    data = [(i, t) for i, t in enumerate(ts)]
    df = spark.createDataFrame(data, ["offset", "ts"]).repartition(16)
    got = {
        r["offset"]: r["wm"]
        for r in ordered_scan(
            df, ["offset"], running=[("wm", "ts", "max")]
        ).collect()
    }
    run_max, expect = -1, {}
    for i, t in enumerate(ts):
        run_max = max(run_max, t)
        expect[i] = run_max
    assert got == expect


@pytest.mark.parametrize("n", [4, 7, 10])
def test_global_ntile_matches_builtin(spark, df, n):
    ref = {
        r["id"]: r["t"]
        for r in df.select(
            "id", F.ntile(n).over(Window.orderBy(*_order())).cast("long").alias("t")
        ).collect()
    }
    got = {
        r["id"]: r["t"] for r in global_ntile(df, _order(), n, "t").collect()
    }
    assert got == ref


def test_global_ntile_fewer_rows_than_tiles(spark):
    small = spark.createDataFrame([(i, i * 3) for i in range(4)], ["id", "k"])
    ref = {
        r["id"]: r["t"]
        for r in small.select(
            "id",
            F.ntile(9).over(Window.orderBy("k", "id")).cast("long").alias("t"),
        ).collect()
    }
    got = {
        r["id"]: r["t"]
        for r in global_ntile(small, ["k", "id"], 9, "t").collect()
    }
    assert got == ref


def test_ordered_scan_requires_work(spark, df):
    with pytest.raises(ValueError):
        ordered_scan(df, _order())


def test_ordered_scan_exclusive_prefix_max(spark, df):
    """Exclusive frame: NULL on the global first row, max of strict
    predecessors elsewhere — the sort-filter skyline's primitive."""
    w = Window.orderBy(*_order()).rowsBetween(Window.unboundedPreceding, -1)
    ref = {
        r["id"]: r["xm"]
        for r in df.select("id", F.max("v").over(w).alias("xm")).collect()
    }
    got = {
        r["id"]: r["xm"]
        for r in ordered_scan(
            df, _order(), running=[("xm", "v", "max", "exclusive")]
        ).collect()
    }
    assert got == ref


def test_ordered_scan_rejects_exclusive_sum(spark, df):
    with pytest.raises(ValueError):
        ordered_scan(df, _order(), running=[("s", "v", "sum", "exclusive")])


def test_unpersist_all_releases_and_results_stay_correct(spark):
    """Plan-internal caches are tracked and releasable; a result
    collected AFTER release still matches (recompute reuses the same
    RDD lineage, so block bounds stay consistent)."""
    from wikipedia_data_pipeline_spark.operators import ranks

    small = spark.createDataFrame(
        [(i, (i * 37) % 101) for i in range(500)], ["id", "v"]
    )
    scanned = ordered_scan(small, ["v", "id"], rank_col="r")
    before = sorted(tuple(x) for x in scanned.collect())
    released = ranks.unpersist_all()
    assert released >= 1
    after = sorted(tuple(x) for x in scanned.collect())
    assert before == after


def test_persist_release_longevity(spark):
    """A long-lived service building many scans must be able to release
    every plan-internal cache deterministically (r6 verdict #8): 24
    scans -> unpersist_all after each batch -> JVM-reported cached-RDD
    count returns to the pre-loop level, and results stay correct after
    release (lineage recompute)."""
    from wikipedia_data_pipeline_spark.operators import ranks

    def cached_rdds():
        return len([
            i for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        ])

    ranks.unpersist_all()  # clean slate (other tests may have pinned)
    base = cached_rdds()
    small = spark.range(500).select(
        F.col("id"), (F.col("id") * 37 % 101).alias("v")
    )
    for batch in range(8):
        outs = []
        for j in range(3):  # 3 scans per batch, 24 total
            r = ordered_scan(
                small,
                [F.asc("v"), F.asc("id")],
                rank_col="rnk",
                running=[("rv", F.col("v"), "sum")],
            )
            outs.append(r)
        # materialize, then release every pinned relation
        totals = [o.agg(F.max("rnk"), F.sum("v")).collect()[0] for o in outs]
        assert all(t[0] == 500 for t in totals)
        released = ranks.unpersist_all()
        assert released >= 3
        assert len(ranks._PERSISTED) == 0
        # storage returns to baseline — no monotone cache growth
        assert cached_rdds() <= base + 1, (batch, cached_rdds(), base)
    # released results are still queryable (recompute from lineage)
    last = outs[-1].filter(F.col("rnk") == 500).collect()
    assert len(last) == 1


def test_exact_quantiles_matches_rank_everything(spark, df, rows):
    """Selection route == rank-everything route on edge ranks (1, N),
    interior ranks, and two targets close enough to share a block."""
    from wikipedia_data_pipeline_spark.operators.ranks import (
        exact_quantiles,
    )

    n = len(rows)
    ks = [1, 2, n // 3, n // 3 + 1, n // 2, n]  # adjacent pair -> same block
    ref = {
        r["rnk"]: (r["id"], r["k"], r["v"])
        for r in ordered_scan(
            df, _order(), rank_col="rnk"
        )
        .filter(F.col("rnk").isin(ks))
        .collect()
    }
    probes = spark.createDataFrame([(k,) for k in ks], ["k"])
    got = {
        r["k"]: (r["id"], r["k_"], r["v"])
        for r in exact_quantiles(
            df.withColumnRenamed("k", "k_"),
            [F.desc("k_"), F.asc("id")],
            probes,
            num_partitions=16,
        ).collect()
    }
    assert len(got) == len(ks)
    for k in ks:
        assert got[k] == ref[k], k


def test_exact_quantiles_single_partition_degenerate(spark):
    """num_partitions=1: every target lands in the one block; still
    exact, and an out-of-range rank (k > N) yields no row, not a crash."""
    from wikipedia_data_pipeline_spark.operators.ranks import (
        exact_quantiles,
    )

    small = spark.range(1, 101).select(
        F.col("id"), (F.col("id") * 7 % 13).alias("v")
    )
    probes = spark.createDataFrame([(1,), (50,), (100,), (999,)], ["k"])
    out = exact_quantiles(
        small, [F.asc("v"), F.asc("id")], probes, num_partitions=1
    ).collect()
    assert len(out) == 3  # k=999 silently absent
    byk = {r["k"]: (r["v"], r["id"]) for r in out}
    ordered = sorted(
        [(i * 7 % 13, i) for i in range(1, 101)]
    )
    for k in (1, 50, 100):
        assert byk[k] == ordered[k - 1]


def test_exact_quantiles_duplicate_k(spark):
    """r7 advisory repro: duplicate k targets [(a,5),(b,5)] over rows
    1..5 must yield two rows with v=5 (one per payload), not a single
    interleaved wrong row — selection runs per DISTINCT rank, payload
    re-joins on k."""
    from wikipedia_data_pipeline_spark.operators.ranks import (
        exact_quantiles,
    )

    small = spark.range(1, 6).select(F.col("id").alias("v"))
    probes = spark.createDataFrame(
        [("a", 5), ("b", 5), ("c", 3)], ["tag", "k"]
    )
    out = exact_quantiles(
        small, [F.asc("v")], probes, num_partitions=4
    ).collect()
    got = sorted((r["tag"], r["k"], r["v"]) for r in out)
    assert got == [("a", 5, 5), ("b", 5, 5), ("c", 3, 3)]


@pytest.mark.parametrize("nrows", [1, 2, 5, 300])
def test_grouped_exact_quantiles_matches_window(spark, nrows):
    """Grouped selection == per-group window rank-match row-for-row,
    including tiny groups where probe ranks collide (n=1: p50, p90 and
    p99 all resolve to rank 1 — three output rows, one per tag)."""
    from wikipedia_data_pipeline_spark.operators.ranks import (
        grouped_exact_quantiles,
    )
    from pyspark.sql import Window

    df = spark.range(nrows).select(
        (F.col("id") % 3).cast("string").alias("g"),
        ((F.col("id") * 37) % 101).alias("v"),
        F.col("id"),
    )
    fracs = [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)]
    got = sorted(
        (r["g"], r["tag"], r["v"], r["id"])
        for r in grouped_exact_quantiles(
            df, ["g"], [F.asc("v"), F.asc("id")], fracs, num_partitions=8
        ).collect()
    )
    w = Window.partitionBy("g").orderBy(F.asc("v"), F.asc("id"))
    wn = Window.partitionBy("g")
    ranked = df.select(
        "g", "v", "id",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    ref = []
    for tag, num, den in fracs:
        ref += [
            (r["g"], tag, r["v"], r["id"])
            for r in ranked.filter(
                F.col("rn") == F.expr(f"({num} * n + {den - 1}) div {den}")
            ).collect()
        ]
    assert got == sorted(ref)


def test_grouped_exact_quantiles_rejects_bad_args(spark):
    from wikipedia_data_pipeline_spark.operators.ranks import (
        grouped_exact_quantiles,
    )

    df = spark.range(5).select(
        F.lit("a").alias("g"), F.col("id").alias("v")
    )
    with pytest.raises(ValueError, match="group_cols is empty"):
        grouped_exact_quantiles(df, [], ["v"], [("p50", 1, 2)])
    with pytest.raises(ValueError, match="collides"):
        grouped_exact_quantiles(
            df, ["g"], ["v"], [("p50", 1, 2)], tag_col="v"
        )
    with pytest.raises(ValueError, match="non-positive"):
        grouped_exact_quantiles(df, ["g"], ["v"], [("p0", 0, 2)])
    # r9 advisory: same reserved-name / fraction guards exact_quantiles
    # grew — internal working names, >1 fractions, duplicate tags
    bad = df.withColumn("_gq_k", F.lit(1))
    with pytest.raises(ValueError, match="internal working names"):
        grouped_exact_quantiles(bad, ["g"], ["v"], [("p50", 1, 2)])
    with pytest.raises(ValueError, match="past the group's end"):
        grouped_exact_quantiles(df, ["g"], ["v"], [("p200", 2, 1)])
    with pytest.raises(ValueError, match="duplicate tag"):
        grouped_exact_quantiles(
            df, ["g"], ["v"], [("p50", 1, 2), ("p50", 1, 4)]
        )


def test_exact_quantiles_rejects_name_collisions(spark):
    """r8 advisory: 'k' is reserved and df/ranks_rel payload names must
    be disjoint — violations raise up front, not as ambiguous output
    columns."""
    from wikipedia_data_pipeline_spark.operators.ranks import (
        exact_quantiles,
    )

    df = spark.range(1, 6).select(F.col("id").alias("v"))
    with pytest.raises(ValueError, match="must have a 'k' column"):
        exact_quantiles(df, [F.asc("v")], df.select("v"), num_partitions=2)
    with pytest.raises(ValueError, match="reserved"):
        exact_quantiles(
            df.withColumn("k", F.lit(1)),
            [F.asc("v")],
            spark.createDataFrame([(1,)], ["k"]),
            num_partitions=2,
        )
    with pytest.raises(ValueError, match="share column name"):
        exact_quantiles(
            df,
            [F.asc("v")],
            spark.createDataFrame([(1, 1.0)], ["k", "v"]),
            num_partitions=2,
        )


def test_pin_caches_deserialized_and_registers(spark):
    from wikipedia_data_pipeline_spark.operators import ranks

    ranks.unpersist_all()
    df = spark.range(10)
    assert pin(df) is df and ranks._PERSISTED == [df]
    lvl = df.storageLevel
    assert (lvl.useMemory, lvl.useDisk, lvl.deserialized) == (True, True, True)
    assert ranks.unpersist_all() == 1
    assert not df.is_cached


# Cache hygiene. A relation cached by a raw .persist() is worse than a
# leak: Spark's CacheManager matches relations by canonicalized logical
# plan, so an identical re-run silently reads the prior run's cache and
# best-of-N timing measures a partly cached plan. So every cache in the
# package and tools/ is made by ranks.pin (released by unpersist_all),
# or sits in one of these functions, which release it with .unpersist()
# before returning.
_PIN = ("wikipedia_data_pipeline_spark/operators/ranks.py", "pin")
ALLOWED = {
    # graph fixpoints: per-round relations are released as the loop
    # advances, the edge view once the result is materialized
    ("wikipedia_data_pipeline_spark/operators/graph.py", "kcore_peel"),
    ("wikipedia_data_pipeline_spark/operators/graph.py", "bfs_hops"),
    ("wikipedia_data_pipeline_spark/operators/graph.py", "connected_components"),
    # edges persisted for the label loop, released before returning
    ("wikipedia_data_pipeline_spark/operators/dedup.py", "near_dup_clusters"),
    # persist -> write index -> unpersist
    ("wikipedia_data_pipeline_spark/operators/similarity.py", "build_pq_index"),
    ("wikipedia_data_pipeline_spark/operators/similarity.py", "build_ivf_index"),
    # edge relation materialized once, released after connected_components
    ("wikipedia_data_pipeline_spark/queries/dedup_queries.py",
     "dedup_connected_components"),
}


def _persist_sites():
    """Yield (relpath, enclosing function name, lineno, function node)
    for every .persist()/.cache() call in the package and tools/."""

    def walk(node, rel, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, rel, child)
                continue
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in ("persist", "cache")):
                yield rel, fn.name if fn else "<module>", child.lineno, fn
            yield from walk(child, rel, fn)

    for sub in ("wikipedia_data_pipeline_spark", "tools"):
        for path in glob.glob(os.path.join(ROOT, sub, "**", "*.py"),
                              recursive=True):
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read())
            yield from walk(tree, os.path.relpath(path, ROOT), None)


def _releases(fn) -> bool:
    return any(
        isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr == "unpersist"
        for n in ast.walk(fn)
    )


def test_no_unpinned_persists():
    bad = [
        f"{rel}:{lineno} in {name}"
        for rel, name, lineno, fn in _persist_sites()
        if (rel, name) != _PIN
        and not ((rel, name) in ALLOWED and _releases(fn))
    ]
    assert not bad, (
        "cache with ranks.pin, or release with .unpersist() in the same "
        "function and allowlist it:\n  " + "\n  ".join(bad)
    )


def test_allowlist_entries_exist():
    """Every allowlist entry still persists: stale entries are removed,
    not accumulated."""
    live = {(rel, name) for rel, name, _l, _f in _persist_sites()}
    assert not ALLOWED - live, sorted(ALLOWED - live)
