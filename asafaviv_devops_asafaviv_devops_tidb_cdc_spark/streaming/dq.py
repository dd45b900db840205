"""Streaming data-quality monitoring (the stream twin of
functions/dq.py's row-level checks).

Row-level DQ violations are SUM-DECOMPOSABLE: a not_null /
accepted_values / range violation is a property of one row, so
per-micro-batch violation counts fold into the exact batch totals by
addition — which makes the streamed suite hash-comparable against the
batch SQL oracle (the same stream/batch-equivalence contract as
streaming/delta.py, whose state commits once per epoch: a retried
micro-batch is a no-op, never double-counts). Uniqueness /
referential integrity are NOT sum-decomposable (they compare rows
across batches) — at scale those run against the serving state table
(streaming/merge.py), not per micro-batch; this module deliberately
accepts only row-level kinds and raises otherwise.

Why stream DQ at all: a 100 TB ingest pipeline wants violation
counters BEFORE the corpus lands (alerting on a poisoned source within
one micro-batch), not from a nightly scan after the damage is merged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.dq import _ROW_KINDS, _row_predicate


def _check_batch(batch: DataFrame, checks: list[dict]) -> DataFrame:
    aggs = [
        F.sum(F.when(_row_predicate(ch), 1).otherwise(0))
        .cast("long")
        .alias(ch["id"])
        for ch in checks
    ]
    wide = batch.agg(*aggs)
    stack = ", ".join(f"'{ch['id']}', {ch['id']}" for ch in checks)
    return wide.selectExpr(
        f"stack({len(checks)}, {stack}) AS (check_id, violations)"
    )


def violation_counts(checks: list[dict]):
    """The per-batch fold for ``delta.fold_stream``: one row of
    violation counts per check. Refuses non-row kinds here, before any
    stream starts."""
    bad = [c["id"] for c in checks if c["kind"] not in _ROW_KINDS]
    if bad:
        raise ValueError(
            f"stream DQ accepts only row-level kinds; not decomposable: {bad}"
        )
    return lambda b: _check_batch(b, checks)
