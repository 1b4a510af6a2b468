"""Isolated A/B: q3/q5 revenue aggregate as DECIMAL vs BIGINT-cents vs
integer-products (q1_cents form) on the 100x replica — diagnosis for
the round-9 probe's q3/q5 slowdown after the cents flip (Round(double)
codegen routes through BigDecimal.valueOf, which may exceed the DECIMAL
cast it replaced). The registered q3/q5 ARE the BIGINT-cents arm since
that flip; the variants rebuild the same plan with the DECIMAL and the
integer-products revenue aggregate.

Usage: python tools/ab.py q3q5_cents [rounds]
"""

from __future__ import annotations

from pyspark.sql import functions as F


def q3_variant(spark, sf_dir, agg):
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-01-01"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "o_orderkey",
            F.to_date("o_orderdate").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(agg)
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q5_variant(spark, sf_dir, agg):
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    dims = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(dims), o.o_custkey == dims.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(agg)
    )


def _dec():
    from wikipedia_data_pipeline_spark.functions import dec_sum

    return dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")


def _intprod():
    # integer-products form (q1_cents style): two cheap rounds on the
    # SOURCE columns (cent / percent quanta), then a pure long product
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_b = F.round(F.col("l_discount") * 100).cast("long")
    return (
        (F.sum(price_c * (100 - disc_b)).cast("double") / 10_000)
        .alias("revenue")
    )


def q3_dec(spark, sf_dir):
    return q3_variant(spark, sf_dir, _dec())


def q3_intprod(spark, sf_dir):
    return q3_variant(spark, sf_dir, _intprod())


def q5_dec(spark, sf_dir):
    return q5_variant(spark, sf_dir, _dec())


def q5_intprod(spark, sf_dir):
    return q5_variant(spark, sf_dir, _intprod())


ARTIFACT = "AB_Q3Q5_CENTS.json"
PAIRS = [
    ("q3_shipping_priority", q3_dec),
    ("q3_shipping_priority", q3_intprod),
    ("q5_region_revenue", q5_dec),
    ("q5_region_revenue", q5_intprod),
]
