#!/usr/bin/env python
"""Interleaved A/B runner for the experiments in tools/ab_<name>.py.

Usage: python tools/ab.py NAME [rounds]   (default 3 rounds)

An experiment is a module ``tools/ab_<name>.py`` that holds:

- its rationale and decision rule, as the module docstring;
- the variant query function(s), each ``fn(spark, sf_dir) -> DataFrame``
  returning exactly the registered query's rows;
- ``ARTIFACT``, the JSON file it writes under artifacts/ab/;
- ``PAIRS``, its ``(registered query, variant)`` tuples.

``tools/ab_hourly_twostep.py`` is the worked example: one variant of
``events_hourly_rollup`` in ~30 lines. Once a question is decided,
record it as one row of ``artifacts/ab/DECISIONS.md`` (forms, best,
median and spread, session config, decision, commit) and delete the
module: the table keeps the decision citable, the module would only
copy a registered query's code.

This runner owns everything else:

1. equivalence — every pair's sorted rows are compared exactly (float
   bits, Decimal scale and column names included) at sf0.01 before any
   timing; a mismatch aborts the run, so no variant is ever timed
   against a query it does not reproduce. So does a variant whose
   optimized plan is the registered query's: after a decision is
   applied, the module's other form is a copy and timing it compares
   the query with itself;
2. timing — every form is warmed once, then timed interleaved through
   ``bench.run_spark`` at the 100x replica (tools/make_benchdata.py)
   and at sf0.1, on the engine's own session (``session.get_spark``);
3. the artifact — per-form runs, best, median and quartile spread per
   scale, the host's CPU steal over the timed span (marked
   ``contaminated`` above the bench's limit, ``bench.steal_guard``),
   and the session's effective cores, split size and driver memory.
"""

from __future__ import annotations

import importlib
import json
import os
import re
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from tools.scale_probe import SRC_SF  # noqa: E402

CHECK_SF = os.path.join(os.path.dirname(SRC_SF), "sf0.01")
ARTIFACTS = os.path.join(ROOT, "artifacts", "ab")


def sorted_rows(df) -> tuple[list[str], list[str]]:
    """Column names and the repr of every row, sorted: exact (repr
    round-trips doubles and keeps Decimal scale and Python types) and
    NaN/None-safe, unlike sorting the tuples themselves."""
    return df.columns, sorted(repr(tuple(r)) for r in df.collect())


# Expression and plan ids differ between two builds of the same query.
_PLAN_IDS = re.compile(r"#\d+|plan_id=\d+")


def _rows_and_plan(fn, spark, sf_dir) -> tuple[tuple, str]:
    from wikipedia_data_pipeline_spark.operators import ranks

    df = fn(spark, sf_dir)
    rows = sorted_rows(df)
    plan = _PLAN_IDS.sub("", df._jdf.queryExecution().optimizedPlan().toString())
    ranks.unpersist_all()
    return rows, plan


def check_pair(spark, registered_fn, variant, sf_dir) -> dict:
    """Compare one pair's rows exactly at ``sf_dir``, and their
    optimized plans with expression and plan ids stripped."""
    a, plan_a = _rows_and_plan(registered_fn, spark, sf_dir)
    b, plan_b = _rows_and_plan(variant, spark, sf_dir)
    return {"equivalent": a == b, "same_plan": plan_a == plan_b,
            "rows": len(a[1])}


def _spread(runs: list[float]) -> float:
    """Interquartile range of one form's runs."""
    if len(runs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(runs, n=4, method="inclusive")
    return round(q3 - q1, 3)


def session_info(spark) -> dict:
    sc = spark.sparkContext
    return {
        "cores": sc.defaultParallelism,
        "max_partition_bytes": spark.conf.get("spark.sql.files.maxPartitionBytes"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
    }


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    name = sys.argv[1]
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from tools.make_benchdata import ensure
    from wikipedia_data_pipeline_spark import registry
    from wikipedia_data_pipeline_spark.session import get_spark

    exp = importlib.import_module(f"tools.ab_{name}")
    queries = registry.spark_queries()
    spark = get_spark(f"ab-{name}")
    spark.sparkContext.setLogLevel("ERROR")

    forms: dict = {}
    pairs = []
    for reg, variant in exp.PAIRS:
        forms[reg] = queries[reg]
        forms[variant.__name__] = variant
        res = check_pair(spark, queries[reg], variant, CHECK_SF)
        print(f"equivalence {reg} vs {variant.__name__} at sf0.01: {res}",
              flush=True)
        if not res["equivalent"] or res["same_plan"]:
            spark.stop()
            why = "has the plan of" if res["same_plan"] else "diverges from"
            sys.exit(f"{variant.__name__} {why} {reg} at {CHECK_SF}")
        pairs.append({"registered": reg, "variant": variant.__name__, **res})

    dir100 = ensure(SRC_SF, os.path.join(ROOT, "benchdata", "sf10r"), 100)
    # Variants declare no eagerness and several collect while they are
    # constructed, so every form is timed from construction: one
    # convention for both arms, and a lazy form pays only its plan
    # building (ms).
    ticks0 = bench._cpu_ticks()
    scales = {}
    for label, sf_dir in (("100x", dir100), ("sf0.1", SRC_SF)):
        best, median, runs = bench.run_spark(
            spark, forms, sf_dir, list(forms), warmups=1, iters=rounds,
            eager=set(forms),
        )
        scales[label] = {
            f: {"runs": runs[f], "best": best[f], "median": median[f],
                "iqr": _spread(runs[f])}
            for f in forms
        }
        print(label, {f: (best[f], median[f]) for f in forms}, flush=True)

    out = {
        "experiment": name,
        "rounds": rounds,
        "pairs": pairs,
        "scales": scales,
        **bench.steal_guard(ticks0, bench._cpu_ticks()),
        "session": session_info(spark),
    }
    print(json.dumps(out))
    with open(os.path.join(ARTIFACTS, exp.ARTIFACT), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
