"""Interleaved A/B: registered market_basket_pairs and
recs_item_item_cosine (plain distinct over (l_orderkey, l_partkey),
then the basket self-join) vs the repartition-before-distinct form that
ships on recs_catalog_coverage: hash-partition the scanned pairs on
l_orderkey first, so the distinct aggregates co-located behind one
plain shuffle instead of a map-side partial agg that reduces nothing on
near-unique pairs.

Each variant is the registered query itself, built while its module's
``load_table`` hands it the lineitem pairs already repartitioned: the
registered ``.select(...).distinct()`` then runs on top, so the forms
differ only by that one exchange.

Kept at 18-19% (row AB_BASKET_REPART_r14 of artifacts/ab/DECISIONS.md,
inside the 20% band). Open: the re-run under the shipped session config
has the repartitioned form ahead of both registered queries.

Usage: python tools/ab.py basket_repart [rounds]
Flip iff >20% at the 100x replica.
"""

from __future__ import annotations

from wikipedia_data_pipeline_spark.queries import graph_queries as GQ
from wikipedia_data_pipeline_spark.sources.tables import load_table


def _lineitem_pairs_by_orderkey(spark, sf_dir, name):
    assert name == "lineitem", name
    return (
        load_table(spark, sf_dir, name)
        .select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
    )


def _repartitioned(query):
    def form(spark, sf_dir):
        GQ.load_table = _lineitem_pairs_by_orderkey
        try:
            return query(spark, sf_dir)
        finally:
            GQ.load_table = load_table

    form.__name__ = f"{query.__name__}_repart"
    return form


market_basket_pairs_repart = _repartitioned(GQ.market_basket_pairs)
recs_item_item_cosine_repart = _repartitioned(GQ.recs_item_item_cosine)

ARTIFACT = "AB_BASKET_REPART_r14.json"
PAIRS = [
    ("market_basket_pairs", market_basket_pairs_repart),
    ("recs_item_item_cosine", recs_item_item_cosine_repart),
]
