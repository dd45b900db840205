"""Streaming KMV distinct sketch (the stream twin of
queries/advanced_ops.py::q_kmv_distinct).

The KMV / bottom-k sketch is a commutative, idempotent, BOUNDED-SIZE
monoid: bottom-K(S1 ∪ S2) = bottom-K(bottom-K(S1) ∪ bottom-K(S2)), so
each micro-batch keeps its per-group local bottom-K as an
``epoch=<id>`` partial (<= groups x K tiny rows; a retried batch
overwrites its own partial and cannot corrupt the fold) and serving
takes bottom-K over the union of partials — EXACTLY the batch sketch,
hash-matching the batch oracle. Same recipe as streaming/sample.py,
with a cardinality sketch instead of a sample as the folded monoid.

At 100 TB/day this is the always-current distinct-count dashboard:
per-epoch state is bounded by the sketch (not the member count), the
partials compact like streaming/delta.py, and merging group sketches
answers union cardinalities without touching the raw stream again.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import kmv as KMV
from . import delta as D, ingest


def _hashed(df: DataFrame) -> DataFrame:
    # the SAME member hash as the batch query and its oracle
    # (functions/kmv.py) — the twin contract cannot drift
    return df.select(
        F.col("l_returnflag").alias("member_set"),
        KMV.hash_key(F.col("l_partkey")).alias("hv"),
    ).distinct()


def run_kmv_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: str,
    partials_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    fresh: bool = True,
) -> None:
    """Drain a file backlog, folding each micro-batch's per-group
    local bottom-K into an idempotent ``epoch=<id>`` partial.
    ``fresh=False`` resumes from the existing checkpoint: an
    already-drained backlog is an empty availableNow pass and the
    committed partials keep serving (the resumable-workdir posture)."""
    if fresh:
        for d in (partials_dir, checkpoint_dir):
            shutil.rmtree(Path(d), ignore_errors=True)
    fold = D.epoch_partials(
        partials_dir,
        lambda b: KMV.bottom_k(_hashed(b)).select("member_set", "hv"),
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
    # bound the serving read at O(groups x K): bottom-K is a
    # refold-idempotent monoid, so the shared crash-safe compaction
    # folds the epoch partials into one base sketch (no-op when no
    # new epochs landed)
    D.compact_with(spark, partials_dir, _base_sketch)


def _base_sketch(parts: DataFrame) -> DataFrame:
    """The KMV compaction/serving monoid: global per-group bottom-K
    over any union of partial sketches (rank column dropped — a base
    is itself a partial)."""
    return KMV.bottom_k(
        parts.select("member_set", "hv").distinct()
    ).select("member_set", "hv")


def folded_sketch(spark: SparkSession, partials_dir: str) -> DataFrame:
    """Serving view: the exact global per-group bottom-K sketch over
    the live partials (base + epochs past it; distinct absorbs epoch
    overlap — the fold is idempotent)."""
    parts = D.folded_with(
        spark,
        partials_dir,
        lambda df: df.select("member_set", "hv").distinct(),
    )
    return KMV.bottom_k(parts)
