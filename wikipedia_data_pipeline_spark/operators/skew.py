"""Skew-resistant join: salting recipe for hot keys.

AQE's skew-join split handles most skew at runtime, but it only splits
the SHUFFLE side of a sort-merge join — a hot key that is too large for
one task on *both* sides, or a skewed join that must stay shuffled
(right side too big to broadcast), needs salting: replicate the
small(er) side S ways and scatter the big side's hot keys across the
S sub-partitions. Result is identical to the plain join; the hot key's
work is spread over S tasks instead of one straggler.

Cost model: the salted join shuffles big_side once (unchanged) and
S copies of small_side — choose S ≈ (hot-key rows / rows-per-task);
16-64 covers most real skew. Salting is wasted work when no key is hot,
so it's an explicit operator here, not a default.

DECISION RULE (measured, SCALE_PROBE_r10:skew_join_ab and
SCALE_PROBE_r11:skew_join_ab — 10M-row fact with 90% of rows on one
key joining a ~1M-row non-broadcastable dim):

1. DEFAULT: leave AQE skew-join enabled and do nothing. When both join
   inputs arrive through shuffle stages, the runtime split wins —
   0.82 s vs 2.50 s for the 32-salt join (salting pays a 32× dim
   replication whether or not it was needed).
2. SALT when the runtime split CANNOT fire, i.e. when either side's
   shuffle stage is absent at planning time, because OptimizeSkewedJoin
   requires shuffle stages on BOTH sides:
     * a cached/persisted relation already hash-partitioned on the
       join key (ensureRequirements reuses its partitioning — the
       *_cache_suppressed probe rows measure exactly this);
     * a bucketed scan on the join key;
     * non-SMJ/shuffled-hash physical shapes AQE does not split.
   Salting changes the join key to (key, salt), which no existing
   partitioning satisfies, so both sides exchange again and the hot
   key spreads over S tasks.
3. SALT also when BOTH sides are skewed on the same key (AQE splits
   only the oversized shuffle partitions it can replicate the other
   side against; mutual skew needs the explicit scatter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Join types where the replicated small side can never emit an unmatched
# row: right/full would surface each unmatched small row num_salts times.
SAFE_SALTED_HOWS = {"inner", "left", "left_outer", "leftouter", "left_semi",
                    "leftsemi", "left_anti", "leftanti"}


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    num_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big ⋈ small`` on ``big_key == small_key`` with the
    big side scattered over ``num_salts`` sub-keys and the small side
    replicated to match. Output columns = both inputs' columns (salt
    columns are internal).

    Only big-side-preserving join types are allowed (``inner``, ``left``,
    ``left_semi``, ``left_anti``): a right/full outer would emit every
    unmatched small-side row once per salt replica. Raises ValueError
    otherwise.

    The salt is ``xxhash64`` of ALL big-side columns — stable row
    content, so the assignment is identical across runs and task
    retries (``monotonically_increasing_id``/``rand`` would not be;
    any assignment yields the same join *result*, but a content hash
    makes the intermediate state reproducible too). Rows that are
    full duplicates share a salt; hot keys whose rows are literal
    copies of one row don't spread — real skew (same key, varying
    payload) does."""
    if how not in SAFE_SALTED_HOWS:
        raise ValueError(
            f"salted_join supports big-side-preserving joins only, not {how!r}: "
            "the replicated small side would duplicate unmatched rows "
            f"{num_salts}x under right/full outer semantics"
        )
    big_salted = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(num_salts)).cast(
            "int"
        ),
    )
    small_replicated = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    )
    out = big_salted.join(
        small_replicated,
        (F.col(big_key) == F.col(small_key))
        & (big_salted["_salt"] == small_replicated["_salt"]),
        how,
    )
    return out.drop(big_salted["_salt"]).drop(small_replicated["_salt"])
