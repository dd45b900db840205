"""Streaming daily-series maintenance for the OLS trend detector (the
stream twin of queries/advanced_ops.py::q_trend_slope).

Per-(event_type, day) cent-sums are SUM-DECOMPOSABLE: micro-batch sums
fold into the exact batch totals by addition, so the regression served
from the folded series — slope, direction, all of it — hash-matches
the batch SQL oracle (the streaming/drift.py recipe: idempotent
``epoch=<id>`` partials; a retried batch overwrites its own partial).

At 100 TB/day the per-epoch state is one row per (type, day) key seen
in that batch; the OLS assembly reruns over the bounded type x day
grid each refresh — a continuously-updated trend/trajectory alert
without ever rescanning events.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import delta as D, ingest


def run_trend_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: str,
    partials_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    fresh: bool = True,
) -> None:
    """Drain a file backlog, folding each micro-batch's (type, day)
    cent-sums into an idempotent ``epoch=<id>`` partial."""
    if fresh:
        for d in (partials_dir, checkpoint_dir):
            shutil.rmtree(Path(d), ignore_errors=True)
    # the SAME aggregation as the batch query (one definition — the
    # twin contract cannot drift)
    from ..queries.advanced_ops import _daily_obs

    fold = D.epoch_partials(partials_dir, _daily_obs)
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
    D.compact_generic(spark, partials_dir, ["event_type", "day_num"], ["y"])


def folded_daily(spark: SparkSession, partials_dir: str) -> DataFrame:
    """Serving view: the (event_type, day_num, y) daily frame summed
    across epochs — feed to queries.advanced_ops.trend_from_daily."""
    return D.folded_generic(spark, partials_dir, ["event_type", "day_num"], ["y"])
