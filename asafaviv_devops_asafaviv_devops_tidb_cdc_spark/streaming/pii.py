"""Streaming PII compliance monitor (the stream twin of
queries/training_io.py::q_pii_census).

Every census statistic is a per-source SUM over disjoint doc sets
(functions/pii.py::rollup — flagged-doc counts included, since each
doc lands in exactly one micro-batch), so the monitor folds each
micro-batch's partial census into an idempotent ``epoch=<id>`` partial
and serves the exact batch census by addition — hash-matching the
batch oracle (the streaming/dq.py / streaming/drift.py contract).

Why stream it: PII exposure is an ingest-time property — a feed that
starts leaking contact data should be flagged within one micro-batch,
not at the next corpus-wide audit. Per-epoch state is ONE row per
source seen in that batch; state tracks the source grid, never the
document volume.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..functions import pii as P
from . import delta as D, ingest


def run_pii_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: str,
    partials_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    fresh: bool = True,
) -> None:
    """Drain a documents backlog, folding each micro-batch's per-source
    PII census into an idempotent ``epoch=<id>`` partial.
    ``fresh=False`` resumes from the existing checkpoint: an
    already-drained backlog is an empty availableNow pass and the
    committed partials keep serving (the resumable-workdir posture)."""
    if fresh:
        for d in (partials_dir, checkpoint_dir):
            shutil.rmtree(Path(d), ignore_errors=True)
    fold = D.epoch_partials(
        partials_dir, lambda b: P.rollup(P.doc_metrics(P.with_planted_pii(b)))
    )
    ingest.drain(
        spark,
        source_dir,
        source_schema,
        lambda s: s.writeStream.foreachBatch(fold).option(
            "checkpointLocation", checkpoint_dir
        ),
        max_files_per_trigger,
    )
    # bound the serving read at O(sources): the census is a pure sum
    # monoid, so the shared crash-safe compaction folds the epoch
    # partials into one base (no-op when no new epochs landed)
    D.compact_with(spark, partials_dir, P.fold_rollups)


def folded_census(spark: SparkSession, partials_dir: str) -> DataFrame:
    """Serving view: the exact per-source census summed over the live
    partials (base + epochs past it)."""
    return D.folded_with(spark, partials_dir, P.fold_rollups)
