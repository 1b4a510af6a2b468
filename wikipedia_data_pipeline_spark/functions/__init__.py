"""Shared column-expression helpers.

``dec_sum`` exists for cross-engine determinism: double summation is
order-dependent, and Spark's parallel partial aggregation will not sum
in the same order as a single-threaded oracle. Routing the sum through
DECIMAL makes it exact (associative), so the result is bit-identical no
matter the partitioning — which also means the answer is stable across
cluster sizes, a property worth having at 100 TB, not just for tests.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"


def dec_sum(col: Column | str, alias: str) -> Column:
    """Order-independent SUM of a double column, returned as DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def dec_avg(col: Column | str, alias: str) -> Column:
    """Order-independent AVG (decimal sum / count) as DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def sql_dec_sum(expr: str, alias: str) -> str:
    """DuckDB twin of ``dec_sum``."""
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) AS {alias}"


UNIT = 1_000_000  # micro-dollar quantum of cents_sum (10^-6)


def cents_sum(col: Column | str, alias: str) -> Column:
    """Order-independent SUM of a micro-unit-quantized double column by
    exact BIGINT accumulation — ``dec_sum``'s fast twin.

    Equivalence: for any double whose true value is a multiple of 1e-6
    (money columns are cent-quantized by the data contract; derived
    prices like extendedprice*(1-discount) are 1e-4-quantized),
    ``round(x*1e6)`` recovers the exact integer micro-units — the same
    quantity DECIMAL(18,6) casting extracts (verified row-for-row on
    every money/value column in the testdata) — so the sum is the same
    exact rational and the final double is bit-identical to dec_sum's.
    What changes is the aggregation buffer: a 64-bit long instead of a
    precision-28 decimal, which Spark boxes into JVM BigDecimal on
    every row (measured 4.5x on q1 at the 100x replica, BASELINE.md
    §d).

    Headroom — two distinct bounds PER GROUP:
    - bit-identity to dec_sum holds while the group sum stays within
      2^53 micro-units (~$9.0e9): beyond that the final long->double
      cast rounds to the nearest representable double, so the result
      can differ from dec_sum's decimal->double conversion by 1 ulp
      (the DuckDB twin shares the same rounding, so the oracle gate
      would NOT surface it — hence this documented bound);
    - exactness of the integer accumulation itself holds to the long
      wrap at 2^63 micro-units (~$9.2e12) — ~60x the total revenue of
      the 100x replica; under ANSI mode (the engine default) overflow
      raises rather than wrapping silently.
    Past 2^53 per group, keep dec_sum (or sum the same rounded longs
    as DECIMAL(38,0)). Not the default for arbitrary doubles: on
    sub-quantum values binary round() and decimal-string casting
    legitimately disagree."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(F.round(c * UNIT).cast("long")).cast("double") / UNIT
    ).alias(alias)


def cents_units(col: Column | str) -> Column:
    """Per-row exact micro-units (BIGINT) of a quantized double — the
    raw accumulator cents_sum sums; exposed for running-sum operators
    (ordered_scan) that must carry the exact integer, not the double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * UNIT).cast("long")


def sql_cents_sum(expr: str, alias: str) -> str:
    """DuckDB twin of ``cents_sum``. The inner BIGINT cast pins the
    hugeint sum back to the exact 64-bit integer Spark accumulates
    before the (shared, correctly-rounded) double conversion."""
    return (
        f"CAST(CAST(sum(CAST(round(({expr}) * {UNIT}) AS BIGINT)) AS BIGINT)"
        f" AS DOUBLE) / {UNIT} AS {alias}"
    )


def sql_dec_avg(expr: str, alias: str) -> str:
    """DuckDB twin of ``dec_avg``."""
    return (
        f"CAST(sum(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"
        f" / count({expr}) AS {alias}"
    )


def round2(col: Column) -> Column:
    """Two-decimal rounding as the reference computes it,
    ``Math.round(x * 100) / 100`` (DuckDB's ``round(x, 2)`` agrees):
    scale the double first, then round half-up. ``F.round(x, 2)``
    instead rounds the decimal expansion of x itself, so at binary
    near-ties it lands one cent lower: 0.05 * 2.3 = 0.11499999999999999
    gives 0.11 there, while the scaled 11.5 rounds to the reference's
    0.12."""
    return F.round(col * 100, 0) / 100


# The engine's 30-minute event-time window: the gap of the batch and
# streaming session windows and the slide of the 1-hour sliding rollups,
# as epoch-µs for SQL and Column arithmetic and as a Spark interval.
EVENT_WINDOW_US = 30 * 60 * 1_000_000
EVENT_WINDOW = f"{EVENT_WINDOW_US // 60_000_000} minutes"


def ts_us() -> Column:
    """events.ts in the engine's event-time domain: BIGINT µs since the
    epoch. ``sources.tables.load_table`` / ``streaming.pipeline.read_events_stream``
    normalize the parquet column (whatever its physical encoding — BIGINT
    ns, TIMESTAMP, TIMESTAMP_NTZ) to that domain at scan time, so this is
    a plain column reference. Kept as the single named accessor so the
    domain can move again without touching 17 call sites."""
    return F.col("ts")


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float|double> columns using
    higher-order functions — stays JVM-side, no UDF. Sequential left
    fold → deterministic, engine-independent result in double."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    dot = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    na = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    nb = F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    return dot / (F.sqrt(na) * F.sqrt(nb))
