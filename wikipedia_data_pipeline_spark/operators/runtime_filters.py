"""Runtime join filters: a distributed-build Bloom filter that prunes
the fact side of a join BEFORE its shuffle.

Spark's own runtime bloom filter (`bloom_filter_agg` /
`might_contain`) is optimizer-internal and not in the public function
registry, so this is the same idea expressed with public DataFrame
ops: the build side's join keys are hashed into an m-bit array
distributively (explode k probe positions -> one tiny `bit_or`
aggregation over m/64 words), the finished sketch rides to the probe
side as a one-row broadcast array<long>, and the membership test is
pure built-in bit arithmetic inside whole-stage codegen.

Why it matters at 100 TB: a dim side too big to BROADCAST as a hash
relation still compresses to a few MB of Bloom bits. Prefiltering the
fact with those bits cuts the shuffle write of the subsequent
sort-merge join by the join selectivity (false positives only add a
small overshoot, p ~= (1 - e^{-kn/m})^k); the final exact join removes
them, so results are exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["build_bloom_bits", "bloom_might_contain", "bloom_prefilter_join"]

# The sketch bloom_prefilter_join builds: m = 2^20 bits (128 KB), k = 5.
BLOOM_BITS = 1 << 20
BLOOM_HASHES = 5


def _positions(key: Column, n_hashes: int, n_bits: int) -> list[Column]:
    # Double hashing: pos_i = (h1 + i*h2) mod m, from two independent
    # xxhash64 seeds (the seed is the extra hashed column). The same
    # construction on both sides guarantees build/probe agreement.
    # Reduce both hashes mod m first so the i*h2 mixing arithmetic
    # stays far below 2^63 (ANSI mode makes long overflow an error).
    h1 = F.pmod(F.xxhash64(key, F.lit(0x9E3779B9)), F.lit(n_bits))
    h2 = F.pmod(F.xxhash64(key, F.lit(0x85EBCA6B)), F.lit(n_bits))
    return [
        F.pmod(h1 + F.lit(i) * h2, F.lit(n_bits)) for i in range(n_hashes)
    ]


_MASKS = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]


def _pow2(exponent: Column) -> Column:
    """Single-bit long mask 2^e for e in [0, 63]. `shiftleft` only takes
    a literal shift amount, so look the mask up in a 64-entry constant
    array (bit 63 as its wrapped negative long — ANSI-safe: no runtime
    arithmetic can overflow)."""
    masks = F.array(*[F.lit(m).cast("long") for m in _MASKS])
    return F.element_at(masks, exponent.cast("int") + F.lit(1))


def build_bloom_bits(
    keys: DataFrame,
    key_col: str,
    n_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> list[int]:
    """Distributed Bloom build: returns the m-bit array as m/64 longs.

    One narrow projection exploding each key into its k bit positions,
    then a single hash aggregation over at most m/64 word indexes
    (tiny: 16K rows for m = 2^20) — the collect ships only the sketch,
    never keys. Words with no bits set are filled with 0 driver-side.
    """
    n_words = n_bits // 64
    pos = F.explode(
        F.array(*_positions(F.col(key_col), n_hashes, n_bits))
    ).alias("pos")
    words = (
        keys.select(pos)
        .select(
            (F.col("pos") / 64).cast("long").alias("w"),
            _pow2(F.col("pos") % 64).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    bits = [0] * n_words
    for r in words:
        bits[r.w] = r.word
    return bits


def bloom_might_contain(
    key: Column, bits_col: Column, n_bits: int, n_hashes: int
) -> Column:
    """Membership predicate against an array<long> Bloom sketch — all k
    probe bits set. Pure built-ins (element_at + bit arithmetic), no
    UDF, so the fact-side filter stays inside whole-stage codegen."""
    cond = F.lit(True)
    for p in _positions(key, n_hashes, n_bits):
        word = F.element_at(bits_col, (p / 64).cast("int") + F.lit(1))
        cond = cond & (word.bitwiseAND(_pow2(p % 64)) != 0)
    return cond


def bloom_prefilter_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
) -> DataFrame:
    """Exact inner join with a Bloom prefilter on the fact side.

    Build the ``BLOOM_BITS``/``BLOOM_HASHES`` sketch from the dim keys
    (one tiny aggregation), ship it as a one-row broadcast array<long>,
    drop fact rows whose key
    cannot be in dim BEFORE the join shuffle, then run the ordinary
    exact join — false positives vanish there, so the result equals
    ``fact.join(dim, ...)`` exactly.
    """
    spark = fact.sparkSession
    bits = build_bloom_bits(dim, dim_key)
    bloom = spark.createDataFrame(
        [(bits,)], schema="_bloom_bits array<bigint>"
    )
    pref = (
        fact.crossJoin(F.broadcast(bloom))
        .where(
            bloom_might_contain(
                F.col(fact_key), F.col("_bloom_bits"), BLOOM_BITS, BLOOM_HASHES
            )
        )
        .drop("_bloom_bits")
    )
    return pref.join(dim, pref[fact_key] == dim[dim_key], "inner")
