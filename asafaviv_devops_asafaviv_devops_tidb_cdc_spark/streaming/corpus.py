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

q_stream_doc_dedup drains the documents through
``streaming/delta.py::fold_stream`` with ``with_hash`` as the stream
transform and ``survivor_fold`` bucketed on ``_h``: hash-bucketed
copy-on-write state committed by one manifest per epoch; a retried
epoch is a no-op.

Scale posture: state is one row per DISTINCT document (the deduped
corpus itself — the thing you're building anyway); each batch costs
one hash-key shuffle of (touched-bucket state ∪ batch), and only the
buckets the batch's content hashes land in are rewritten
(``merge.apply_bucketed_fold``) — per-batch I/O bounded by batch key
spread, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .merge import read_state


def with_hash(docs: DataFrame) -> DataFrame:
    """The documents with ``_h``, their content hash: the survivor
    fold's grouping key and the state's bucket key, so every row of one
    group lands in exactly one bucket."""
    return docs.withColumn("_h", F.sha2(F.col("text"), 256))


def survivor_fold(existing: DataFrame | None, batch: DataFrame) -> DataFrame:
    """(survivors ∪ batch) -> min-doc_id row per content hash:
    commutative across batches, so arrival order cannot change the
    survivor set."""
    combined = batch if existing is None else existing.unionByName(batch)
    rest = [c for c in combined.columns if c not in ("_h", "doc_id")]
    return (
        combined.groupBy("_h")
        .agg(F.min(F.struct("doc_id", *rest)).alias("_s"))
        .select("_h", "_s.*")
    )


def survivors(spark: SparkSession, state_dir: str) -> DataFrame:
    return read_state(spark, state_dir).drop("_h")
