#!/usr/bin/env python
"""Registry-wide single-partition-window audit.

Walks the executed JVM plan tree of EVERY registered query (plan
strings truncate nested subtrees; the tree walk does not) and triages
each WindowExec with an empty partition spec by what sits below it:

  blockid   — aggregate keyed by operators.ranks' _os_pid: the
              hierarchical scan's driver-sized offsets relation. Safe
              at any scale by construction.
  limit     — a Limit/TakeOrderedAndProject below: input is k rows.
  agg[...]  — some other aggregate; SAFE only if its grouping keys are
              low-cardinality (month spines, event types, A/B cells).
              Keys matching entity-id patterns (custkey, user_id,
              doc_id, word, ...) are flagged ENTITY-AGG: at 100 TB that
              relation is 1e8+ rows through ONE task.
  NONE      — nothing reduces the input: flagged UNGUARDED.

This is the sweep that caught parts_skyline_price_size,
corpus_heaps_growth, events_kl_user_vs_global, and key_skew_events in
round 6 after the round-5 review had missed them. Run it after adding
queries; ENTITY-AGG/UNGUARDED findings should be migrated to
operators/ranks.py (see tests/test_scale_plans.py's
test_no_unguarded_global_windows for the frozen regressions).

Usage: python tools/audit_windows.py [sf_dir]   # default sf0.001
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# value/score/v cover the distinct-VALUE lineage (KS/MWU/Cliff's/
# DeLong): a per-distinct-score relation is fact-sized when the score
# column is a near-unique DOUBLE, so a global window keyed on it is as
# unsafe as one keyed on an entity id (round-11 verdict's blind spot).
ENTITY = re.compile(
    r"custkey|user_id|partkey|suppkey|doc_id|vec_id|word|event_id"
    r"|orderkey|token|shingle|value|score|\bv#|duration"
)


def main() -> int:
    from wikipedia_data_pipeline_spark import registry
    from wikipedia_data_pipeline_spark.plans.inspect import _walk_plan
    from wikipedia_data_pipeline_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("window-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.spark_queries()
    eager = registry.eager_queries()
    n_flagged = 0
    for name, fn in qs.items():
        if name in eager or name.startswith("streaming_"):
            continue
        try:
            root = fn(spark, sf)._jdf.queryExecution().executedPlan()
        except Exception as e:
            print(f"ERR         {name}: {str(e)[:80]}")
            n_flagged += 1
            continue
        for node in _walk_plan(root):
            if (
                node.getClass().getSimpleName() != "WindowExec"
                or node.partitionSpec().size() != 0
            ):
                continue
            tag = "NONE"
            for s in list(_walk_plan(node))[1:]:
                sn = s.getClass().getSimpleName()
                if "Limit" in sn or "TakeOrdered" in sn:
                    tag = "limit"
                    break
                if "Aggregate" in sn:
                    head = s.toString().split("\n", 1)[0]
                    keys = (
                        head.split("keys=[", 1)[1].split("]", 1)[0]
                        if "keys=[" in head
                        else ""
                    )
                    tag = "blockid" if "_os_pid" in keys else f"agg[{keys[:60]}]"
                    break
            if tag == "NONE":
                print(f"UNGUARDED   {name}")
                n_flagged += 1
            elif tag.startswith("agg") and ENTITY.search(tag):
                print(f"ENTITY-AGG  {name}: {tag}")
                n_flagged += 1
    print(f"flagged: {n_flagged}")
    return 1 if n_flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
