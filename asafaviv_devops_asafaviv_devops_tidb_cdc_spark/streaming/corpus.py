"""Streaming training-corpus ingest (E1 stream form): maintain the
exact-dedup survivor set while documents arrive in micro-batches.

A naive streaming ``dropDuplicates(content_hash)`` keeps the FIRST
ARRIVAL per hash — which copy that is depends on shuffle timing, so
the survivor set is not deterministic under retries. This maintainer
keeps the MIN-doc_id survivor instead (the batch dedup's rule): each
micro-batch folds into per-hash state via min-by-id — commutative and
idempotent, so any batch split / delivery order / retry converges to
the same survivors, and the streamed result hash-matches the BATCH
oracle (q_dedup_exact's SQL).

Durability follows streaming/merge.py: hash-bucketed copy-on-write
state committed by one manifest per epoch; a retried epoch is a no-op.

Scale posture: state is one row per DISTINCT document (the deduped
corpus itself — the thing you're building anyway); each batch costs
one hash-key shuffle of (touched-bucket state ∪ batch), and only the
buckets the batch's content hashes land in are rewritten
(``merge.apply_bucketed_fold``) — per-batch I/O bounded by batch key
spread, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import ingest
from .merge import apply_bucketed_fold, read_state


def apply_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    epoch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold one micro-batch of documents into the survivor state."""

    def fold(existing: DataFrame | None, batch: DataFrame) -> DataFrame:
        combined = batch if existing is None else existing.unionByName(batch)
        # min-by-id per hash: commutative across batches, so arrival
        # order cannot change the survivor set
        w_cols = [c for c in combined.columns if c != "_h"]
        return (
            combined.groupBy("_h")
            .agg(F.min(F.struct(id_col, *[c for c in w_cols if c != id_col])).alias("_s"))
            .select("_h", "_s.*")
        )

    batch = batch_df.withColumn("_h", F.sha2(F.col(text_col), 256))
    # bucket on the content hash — the fold's grouping key, so every row
    # of one group lands in exactly one bucket
    apply_bucketed_fold(spark, batch, state_dir, epoch_id, ["_h"], fold)


def run_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema: str,
) -> None:
    """Drain a document backlog maintaining min-id-per-content-hash
    survivor state, resuming from the existing checkpoint (the
    resumable-workdir posture)."""

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        apply_dedup_batch(spark, batch_df, state_dir, epoch_id)

    ingest.drain(
        spark,
        source_dir,
        schema,
        lambda s: s.writeStream.foreachBatch(apply).option(
            "checkpointLocation", checkpoint_dir
        ),
        2,
    )


def survivors(spark: SparkSession, state_dir: str) -> DataFrame:
    return read_state(spark, state_dir).drop("_h")
