"""Streaming KMV distinct sketch (the stream twin of
queries/advanced_ops.py::q_kmv_distinct).

The KMV / bottom-k sketch is a commutative, idempotent, BOUNDED-SIZE
monoid: bottom-K(S1 ∪ S2) = bottom-K(bottom-K(S1) ∪ bottom-K(S2)), so
each micro-batch folds its per-group local bottom-K (<= groups x K
tiny rows) into the committed sketch state (a retried batch is a
no-op and cannot corrupt the fold) — EXACTLY the batch sketch,
hash-matching the batch oracle. Same recipe as streaming/sample.py,
with a cardinality sketch instead of a sample as the folded monoid.

At 100 TB/day this is the always-current distinct-count dashboard:
the state is bounded by the sketch (not the member count), and merging
group sketches answers union cardinalities without touching the raw
stream again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import kmv as KMV


def _hashed(df: DataFrame) -> DataFrame:
    # the SAME member hash as the batch query and its oracle
    # (functions/kmv.py) — the twin contract cannot drift
    return df.select(
        F.col("l_returnflag").alias("member_set"),
        KMV.hash_key(F.col("l_partkey")).alias("hv"),
    ).distinct()


def _base_sketch(parts: DataFrame) -> DataFrame:
    """The KMV state monoid: global per-group bottom-K over any union
    of partial sketches (rank column dropped — the state is itself a
    partial)."""
    return KMV.bottom_k(
        parts.select("member_set", "hv").distinct()
    ).select("member_set", "hv")
