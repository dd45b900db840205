"""Streaming fixed-size sampling (the stream twin of
queries/training_io.py::q_sample_fixed).

Bottom-k by a salted sha key is a COMMUTATIVE, IDEMPOTENT fold:
bottom-k(S1 ∪ S2) = bottom-k(bottom-k(S1) ∪ bottom-k(S2)), so folding
each micro-batch's local bottom-k (<= k tiny rows) into the committed
k-row state per epoch (a retried batch is a no-op) yields EXACTLY the
batch answer — the streamed sample hash-matches the batch oracle. This
is the classical distributed-reservoir replacement that stays
deterministic: membership is a pure function of doc_id, so re-running
the stream, reordering batches, or re-sharding the source cannot
change the sample.

At 100 TB the state is k rows (streaming/delta.py), and each batch's
work is a local TakeOrderedAndProject — no shuffle of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.sampling import SAMPLE_K, SAMPLE_SALT, salted_key


def _keyed(df: DataFrame) -> DataFrame:
    # the SAME draw key as q_sample_fixed and its oracle
    # (functions/sampling.py) — the twin contract cannot drift
    return df.select("doc_id", "source", salted_key(SAMPLE_SALT).alias("h"))


def _bottom_k(parts: DataFrame) -> DataFrame:
    """The sample family's state monoid."""
    return parts.orderBy("h").limit(SAMPLE_K).select("doc_id", "source", "h")
