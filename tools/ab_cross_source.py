"""Interleaved A/B: registered dedup_cross_source_matrix vs a
pinned-intermediates form (guide §5 — the multiply-referenced-
intermediate rule).

The honest r14 probe (post persist-tracking) read 18.1 s at 100× —
the r13 4.15 s row was almost entirely cache-served. Reference
counting in the registered DAG: `tmap` (reps ⋈ ts — BOTH are full
groupBys over 500k full texts) feeds FOUR subtrees (a, b, tsa, tsb),
and `lab` (the union of cross-text and within-text weights) is
evaluated TWICE (the n_total aggregate + the final group-by), so the
text-collapse work runs up to 8 times per execution (Spark does no
cross-subtree CSE).

Candidate:
1. pin `tmap` — text-count-sized, no text payload;
2. pin the GROUPED matrix (≤ |sources|² rows) and
   derive n_total = Σ n_pairs from it (the quantile-summary N trick),
   so `lab` — and the prefix-filter pair join under it — runs once.

Same integers, same output (Σ of per-group sums == the global sum).
Both forms are built from the registered query's own pieces
(``dedup_queries._cross_source_*``); only the two pins and the source
of n_total differ.

Usage: python tools/ab.py cross_source [rounds]
Flip iff >20% at the 100x replica. Open: row AB_CROSS_SOURCE_r14 of
artifacts/ab/DECISIONS.md has the pinned form ahead under the shipped
session config.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin
from wikipedia_data_pipeline_spark.queries import dedup_queries as DQ


def cross_source_pinned(spark, sf_dir):
    tmap, pairs = DQ._cross_source_texts(spark, sf_dir)
    lab = DQ._cross_source_weights(pin(tmap), pairs)
    cells = pin(DQ._cross_source_cells(lab))
    tot = cells.agg(F.sum("n_pairs").cast("long").alias("n_total"))
    return DQ._cross_source_matrix(cells, tot)


ARTIFACT = "AB_CROSS_SOURCE_r14.json"
PAIRS = [("dedup_cross_source_matrix", cross_source_pinned)]
