"""Streaming distribution-drift monitoring (the stream twin of
queries/profiling.py::q_event_drift).

Per-(day, event_type) counts are SUM-DECOMPOSABLE: each micro-batch's
counts fold into the exact batch totals by addition, so the streamed
census hash-matches the batch SQL oracle (the stream/batch-equivalence
contract of streaming/dq.py and streaming/delta.py, with the same
idempotent ``epoch=<id>`` partials recipe — a retried micro-batch
overwrites its own partial and never double-counts).

Why stream it: distribution shift is most damaging in the hours before
anyone looks at a nightly report. Folding counts per micro-batch gives
the detector one-batch latency, and the per-epoch state is ONE tiny row
per (day, type) key seen in that batch — state tracks the key grid, not
the event volume, so at 100 TB/day the partials stay kilobytes.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import delta as D, ingest


def run_drift_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: str,
    partials_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    fresh: bool = True,
) -> None:
    """Drain a file backlog, folding each micro-batch's (day, type)
    counts into an idempotent ``epoch=<id>`` partial."""
    if fresh:
        for d in (partials_dir, checkpoint_dir):
            shutil.rmtree(Path(d), ignore_errors=True)

    def counts(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                F.expr("unix_millis(ts) div 86400000")
                .cast("long")
                .alias("day_num"),
                "event_type",
            )
            .groupBy("day_num", "event_type")
            .agg(F.count("*").cast("long").alias("o"))
        )

    fold = D.epoch_partials(partials_dir, counts)
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
    D.compact_generic(spark, partials_dir, ["day_num", "event_type"], ["o"])


def folded_counts(spark: SparkSession, partials_dir: str) -> DataFrame:
    """Serving view: the (day_num, event_type, o) obs frame summed
    across all epochs — feed to queries.profiling.drift_census."""
    return D.folded_generic(spark, partials_dir, ["day_num", "event_type"], ["o"])
