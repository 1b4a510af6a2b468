"""Spatial + storage-layout operators: grid-cell-bucketed distance
join (the bounded-candidate spatial-join shape) and Z-order/Morton
interleave layout keys with footer-stats pruning evidence. Split out
of profiling_queries (round 7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators import dedup as D
from wikipedia_data_pipeline_spark.operators import profiling as P
from wikipedia_data_pipeline_spark.operators.ranks import pin
from wikipedia_data_pipeline_spark.operators.sampling import SQL_DET_HASH
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table


def _zvalue_sql(xe: str, ye: str) -> str:
    """Unrolled 16-bit Morton interleave in ANSI/DuckDB bit arithmetic —
    the oracle twin of operators.profiling.zorder_key (bit i of column j
    at position i * n_cols + j, x first)."""
    terms = []
    for i in range(16):
        terms.append(f"((({xe}) >> {i}) & 1) << {2 * i}")
        terms.append(f"((({ye}) >> {i}) & 1) << {2 * i + 1}")
    return " | ".join(f"({t})" for t in terms)


@register(
    "layout_zorder_key_events",
    oracle=f"""
SELECT event_id,
       (user_id & 65535) AS x,
       ((epoch_us(ts) // 3600000000) & 65535) AS y,
       ({_zvalue_sql("user_id & 65535",
                     "(epoch_us(ts) // 3600000000) & 65535")}) AS zval
FROM events
""",
)
def layout_zorder_key_events(spark, sf_dir):
    """Z-value (Morton) clustering key over events on (user_id, event
    hour) — the write-side key a lakehouse OPTIMIZE ZORDER layout sorts
    by so file min/max stay tight on BOTH dimensions. Pure shift/mask
    arithmetic inside whole-stage codegen (no UDF, no shuffle); the
    16-bit masks make the key a pure per-row function so the unrolled
    SQL twin checks the interleave bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    x = F.col("user_id").bitwiseAND(F.lit(65535))
    y = F.expr("(ts div 3600000000) & 65535")
    return ev.select(
        "event_id",
        x.alias("x"),
        y.alias("y"),
        P.zorder_key([x, y], bits=16).alias("zval"),
    )


@register("layout_zorder_pruning_report", eager=True)
def layout_zorder_pruning_report(spark, sf_dir):
    """Data-skipping evidence for the Z-order layout: events written
    round-robin vs linearly sorted by hour vs Z-ordered on (user, hour),
    then each layout's parquet footers are asked how many files a box
    predicate on EACH dimension must read. Expected: round-robin prunes
    nothing, the linear sort prunes only its own column, Z-order prunes
    both. Rows-only by design (file counts depend on the parquet
    writer, asserted directionally in tests/test_profiling.py); EAGER:
    writes 3x16 temp files and reads their footers (metadata only)."""
    import shutil
    import tempfile

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            F.col("user_id").bitwiseAND(F.lit(65535)).alias("x"),
            F.expr("ts div 3600000000").alias("h"),
            "value",
        )
    )
    lo_hi = ev.agg(
        F.min("h").alias("h0"),
        F.max("h").alias("h1"),
        F.min("x").alias("x0"),
        F.max("x").alias("x1"),
    ).collect()[0]
    hspan = int(lo_hi["h1"] - lo_hi["h0"])
    xspan = int(lo_hi["x1"] - lo_hi["x0"])
    rebased = (
        ev.withColumn("y", (F.col("h") - F.lit(int(lo_hi["h0"]))).cast("long"))
        .select("event_id", "x", "y", "value")
    )
    tmp = tempfile.mkdtemp(prefix="wdp_zorder_")
    try:
        report = P.zorder_skipping_report(
            rebased,
            "x",
            "y",
            (int(lo_hi["x0"]) + xspan // 4, int(lo_hi["x0"]) + xspan // 2),
            (hspan // 4, hspan // 2),
            tmp,
            n_files=16,
        )
        report = pin(report)
        report.count()  # materialize before the temp files are removed
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return report


_GEO_X = f"(({SQL_DET_HASH.format(col='user_id')}) % 1000) / 10.0"
_GEO_Y = f"(({SQL_DET_HASH.format(col='event_id')}) % 1000) / 10.0"


@register(
    "spatial_grid_join_events",
    oracle=f"""
WITH pts AS (
  SELECT event_id, {_GEO_X} AS x, {_GEO_Y} AS y
  FROM events WHERE event_id < 3000
),
cells AS (
  SELECT event_id, x, y,
         CAST(floor(x) AS BIGINT) AS cx, CAST(floor(y) AS BIGINT) AS cy
  FROM pts
),
probes AS (
  SELECT event_id, x, y, cx + dx AS cx, cy + dy AS cy
  FROM cells, (SELECT unnest([-1, 0, 1]) AS dx),
              (SELECT unnest([-1, 0, 1]) AS dy)
)
SELECT a.event_id AS event_a, b.event_id AS event_b,
       (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
FROM probes a JOIN cells b ON a.cx = b.cx AND a.cy = b.cy
WHERE a.event_id < b.event_id
  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 1.0
""",
)
def spatial_grid_join_events(spark, sf_dir):
    """Spatial self-join by uniform grid — the distance-join shape
    Spark has no native operator for, done the scalable way: quantize
    each point to its r-sized grid cell, expand ONE side to its 3×3
    cell neighborhood (constant fan-out), equi-join on cell id, then
    exact-distance filter — candidate generation is an equi-join a
    shuffle can hash, never a cross join, and per-cell density bounds
    the work per key (the same decomposition LSH uses for cosine and
    the pruning report uses for file skipping). Coordinates are
    synthesized deterministically from the portable hash (0.1-degree
    lattice), so both engines compute bit-identical doubles and the
    pair set replays exactly. The a<b guard dedups the symmetric pair
    and self-match in one shot."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 3000)
        .select("event_id", "user_id")
    )
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    pts = ev.select(
        "event_id",
        ((det_hash("user_id") % 1000) / 10.0).alias("x"),
        ((det_hash("event_id") % 1000) / 10.0).alias("y"),
    )
    cells = pts.select(
        "event_id",
        "x",
        "y",
        F.floor("x").cast("long").alias("cx"),
        F.floor("y").cast("long").alias("cy"),
    )
    offs = spark.range(1).select(
        F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dx")
    ).crossJoin(
        spark.range(1).select(
            F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dy")
        )
    )
    probes = cells.crossJoin(F.broadcast(offs)).select(
        F.col("event_id").alias("event_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        (F.col("cx") + F.col("dx")).alias("cx"),
        (F.col("cy") + F.col("dy")).alias("cy"),
    )
    d2 = (F.col("xa") - F.col("x")) * (F.col("xa") - F.col("x")) + (
        F.col("ya") - F.col("y")
    ) * (F.col("ya") - F.col("y"))
    return (
        probes.join(cells, ["cx", "cy"])
        .filter(F.col("event_a") < F.col("event_id"))
        .filter(d2 <= 1.0)
        .select(
            "event_a",
            F.col("event_id").alias("event_b"),
            d2.alias("dist2"),
        )
    )


# ---------------------------------------------------------------------------
# Moran's I spatial autocorrelation over the event grid (r12s6)
# ---------------------------------------------------------------------------
# The global clustering statistic for gridded data: with cell counts
# c_i, binary rook-neighbor weights over occupied cells,
#   I = (n/W) * sum_ij w_ij (c_i - cbar)(c_j - cbar) / sum_i (c_i - cbar)^2
# I > E[I] = -1/(n-1) means hot cells neighbor hot cells (spatial
# clustering a uniform-hash lattice should NOT show — the null audit).
# Cross-multiplied exactness: every centered product scales by n to
# (n*c_i - S)(n*c_j - S), summed as DECIMAL; the normality z uses the
# standard S1 = 2W / S2 = 4*sum(deg^2) moments, all exact integers,
# one fixed double expression. Scale shape: one fact hash agg to the
# grid-bounded cell relation, a 4-offset broadcast neighbor equi-join
# (never a cell cross join), grid-bounded everything after.

_MORAN_ORACLE = f"""
WITH pts AS (
  SELECT CAST(floor({_GEO_X}) AS BIGINT) AS cx,
         CAST(floor({_GEO_Y}) AS BIGINT) AS cy
  FROM events
),
cells AS (
  SELECT cx, cy, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY 1, 2
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s
  FROM cells
),
pairs AS (
  SELECT a.c AS ca, b.c AS cb
  FROM cells a
  JOIN (SELECT unnest([-1, 0, 0, 1]) AS dx, unnest([0, -1, 1, 0]) AS dy) o
    ON true
  JOIN cells b ON a.cx + o.dx = b.cx AND a.cy + o.dy = b.cy
),
deg AS (
  SELECT a.cx, a.cy, CAST(count(*) AS BIGINT) AS d
  FROM cells a
  JOIN (SELECT unnest([-1, 0, 0, 1]) AS dx, unnest([0, -1, 1, 0]) AS dy) o
    ON true
  JOIN cells b ON a.cx + o.dx = b.cx AND a.cy + o.dy = b.cy
  GROUP BY 1, 2
),
mo AS (
  SELECT t.n, t.s,
         (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS w,
         (SELECT CAST(sum(CAST(t2.n * ca - t2.s AS DECIMAL(38,0))
                          * (t2.n * cb - t2.s)) AS DECIMAL(38,0))
          FROM pairs, tot t2) AS num,
         (SELECT CAST(sum(CAST(t2.n * c - t2.s AS DECIMAL(38,0))
                          * (t2.n * c - t2.s)) AS DECIMAL(38,0))
          FROM cells, tot t2) AS den,
         (SELECT CAST(sum(4 * d * d) AS BIGINT) FROM deg) AS s2
  FROM tot t
)
SELECT n AS n_cells, w AS w_pairs,
       (CAST(n AS DOUBLE) / w) * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
         AS moran_i,
       -1.0 / (n - 1) AS e_i_null,
       ((CAST(n AS DOUBLE) / w) * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
        - (-1.0 / (n - 1)))
       / sqrt((CAST(n AS DOUBLE) * n * (2.0 * w) - CAST(n AS DOUBLE) * s2
               + 3.0 * CAST(w AS DOUBLE) * w)
              / (CAST(w AS DOUBLE) * w * (CAST(n AS DOUBLE) * n - 1))
              - (1.0 / (n - 1)) * (1.0 / (n - 1))) AS z_normality
FROM mo
"""


@register("spatial_moran_i_events", oracle=_MORAN_ORACLE)
def spatial_moran_i_events(spark, sf_dir):
    """Global Moran's I over per-grid-cell event counts with rook
    neighbors — the spatial-autocorrelation audit beside the grid
    distance join (same deterministic 0.1-degree lattice). See the
    section comment; the statistic, its null mean, and the normality z
    are fixed double expressions over exact DECIMAL cross-products."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.floor(F.expr(_GEO_X)).cast("long").alias("cx"),
        F.floor(F.expr(_GEO_Y)).cast("long").alias("cy"),
    )
    # The cell relation is referenced eight times downstream (tot twice
    # via crossJoins, both sides of the neighbor join twice — pstats and
    # s2 — and den); Spark does no cross-subtree CSE, so without a
    # persist every reference re-runs the full fact scan + hash agg.
    # Persist the grid-bounded relation (≤ lattice cells, not events)
    # so the fact is scanned once — the same multiply-referenced-
    # intermediate rule as the Cramér's V cube (statsparam_queries).
    cells = pin(pts.groupBy("cx", "cy").agg(F.count(F.lit(1)).cast("long").alias("c")))
    tot = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
    )
    offsets = ev.sparkSession.createDataFrame(
        [(-1, 0), (0, -1), (0, 1), (1, 0)], "dx long, dy long"
    )
    a = cells.select(
        F.col("cx").alias("ax"), F.col("cy").alias("ay"),
        F.col("c").alias("ca"),
    )
    b = cells.select(
        F.col("cx").alias("bx"), F.col("cy").alias("by"),
        F.col("c").alias("cb"),
    )
    pairs = a.crossJoin(F.broadcast(offsets)).join(
        F.broadcast(b),
        (F.col("ax") + F.col("dx") == F.col("bx"))
        & (F.col("ay") + F.col("dy") == F.col("by")),
    )
    dec = "decimal(38,0)"
    pstats = pairs.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).cast("long").alias("w"),
        F.sum(
            (F.col("n") * F.col("ca") - F.col("s")).cast(dec)
            * (F.col("n") * F.col("cb") - F.col("s"))
        )
        .cast(dec)
        .alias("num"),
    )
    den = cells.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            (F.col("n") * F.col("c") - F.col("s")).cast(dec)
            * (F.col("n") * F.col("c") - F.col("s"))
        )
        .cast(dec)
        .alias("den")
    )
    s2 = (
        pairs.groupBy("ax", "ay")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .agg(F.sum(4 * F.col("d") * F.col("d")).cast("long").alias("s2"))
    )
    mo = (
        tot.crossJoin(F.broadcast(pstats))
        .crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(s2))
    )
    nd = F.col("n").cast("double")
    wd = F.col("w").cast("double")
    i_stat = (nd / F.col("w")) * (
        F.col("num").cast("double") / F.col("den").cast("double")
    )
    e_null = -1.0 / (F.col("n") - 1)
    var_i = (
        nd * F.col("n") * (2.0 * F.col("w"))
        - nd * F.col("s2")
        + 3.0 * wd * F.col("w")
    ) / (wd * F.col("w") * (nd * F.col("n") - 1)) - (
        1.0 / (F.col("n") - 1)
    ) * (1.0 / (F.col("n") - 1))
    return mo.select(
        F.col("n").alias("n_cells"),
        F.col("w").alias("w_pairs"),
        i_stat.alias("moran_i"),
        e_null.alias("e_i_null"),
        ((i_stat - e_null) / F.sqrt(var_i)).alias("z_normality"),
    )
