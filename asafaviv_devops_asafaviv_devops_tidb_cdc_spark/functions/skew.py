"""Skew mitigation: salting patterns for hot keys (SURVEY §4.2 /
BASELINE north-star "100 TB-scale design").

AQE's skew handling only splits oversized sort-merge-join partitions;
it does not help a groupBy whose state concentrates on one hot key, nor
a shuffled join against a replicated-dim pattern. ``salted_join`` is the
standard salting shape, kept semantics-identical to the naive join
(tests assert equality): fact rows get a salt in [0, n); the (small)
build side is replicated once per salt and the join key becomes
(key, salt) — a hot fact key now spreads over n reducer partitions.

Plain ``groupBy().count()/sum()`` needs no salting — map-side partial
aggregation already collapses hot keys before the shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

DEFAULT_SALTS = 16


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str],
    n_salts: int = DEFAULT_SALTS,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the fact side salted and the dim side replicated
    n_salts times. The salt is random per fact row — results are
    invariant because every dim key exists under every salt."""
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "left_anti"}
    if how.lower() not in allowed:
        # right/full would emit each unmatched REPLICATED dim row once
        # per salt — silently wrong; refuse rather than multiply rows
        raise ValueError(f"salted_join supports fact-preserving joins only, not {how!r}")
    on = list(on)
    # deterministic salt from the full row, NOT rand(): an unseeded salt
    # in a shuffle key means task retries re-salt rows after shuffle
    # files were already fetched — rows duplicate or vanish. Identical
    # rows share a salt, which still spreads any non-degenerate hot key.
    fact_s = fact.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in fact.columns]), F.lit(n_salts))
    )
    dim_s = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return fact_s.join(dim_s, on + ["_salt"], how).drop("_salt")
