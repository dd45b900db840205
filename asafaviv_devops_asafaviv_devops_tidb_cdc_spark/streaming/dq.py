"""Streaming data-quality monitoring (the stream twin of
functions/dq.py's row-level checks).

Row-level DQ violations are SUM-DECOMPOSABLE: a not_null /
accepted_values / range violation is a property of one row, so
per-micro-batch violation counts fold into the exact batch totals by
addition — which makes the streamed suite hash-comparable against the
batch SQL oracle (the same stream/batch-equivalence contract as
streaming/delta.py, and the same idempotent ``epoch=<id>`` partials
recipe: a retried micro-batch overwrites its own partial, never
double-counts). Uniqueness / referential integrity are NOT
sum-decomposable (they compare rows across batches) — at scale those
run against the serving state table (streaming/merge.py) per
compaction, not per micro-batch; this module deliberately accepts only
row-level kinds and raises otherwise.

Why stream DQ at all: a 100 TB ingest pipeline wants violation
counters BEFORE the corpus lands (alerting on a poisoned source within
one micro-batch), not from a nightly scan after the damage is merged.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.dq import _ROW_KINDS, _row_predicate
from . import delta as D, ingest


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


def run_dq_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: str,
    checks: list[dict],
    partials_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    fresh: bool = True,
) -> None:
    """Drain a file backlog, folding each micro-batch's row-level
    violation counts into an idempotent ``epoch=<id>`` partial (ONE
    tiny row per check per batch). ``fresh=False`` resumes from the
    existing checkpoint (the resumable-workdir posture)."""
    bad = [c["id"] for c in checks if c["kind"] not in _ROW_KINDS]
    if bad:
        raise ValueError(
            f"stream DQ accepts only row-level kinds; not decomposable: {bad}"
        )
    if fresh:
        for d in (partials_dir, checkpoint_dir):
            shutil.rmtree(Path(d), ignore_errors=True)
    fold = D.epoch_partials(partials_dir, lambda b: _check_batch(b, checks))
    ingest.drain(
        spark,
        source_dir,
        source_schema,
        lambda s: s.writeStream.foreachBatch(fold).option(
            "checkpointLocation", checkpoint_dir
        ),
        max_files_per_trigger,
    )
    # the fold is a pure integer-sum monoid: compact the epoch
    # partials into one crash-safe base (no-op when nothing new)
    D.compact_generic(spark, partials_dir, ["check_id"], ["violations"])


def folded_violations(spark: SparkSession, partials_dir: str) -> DataFrame:
    """Serving view: per-check violation totals over the live partials
    (base + epochs past it)."""
    return D.folded_generic(spark, partials_dir, ["check_id"], ["violations"])
