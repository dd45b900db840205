"""Streaming SCD2 maintenance (J9 stream form): keep the full
[valid_from, valid_to) version history current while change events
arrive in micro-batches.

Incrementality is KEYED RECOMPUTE — the standard streaming recipe for
order-sensitive per-key state (same family as the merge path's
last-writer-wins): each micro-batch touches only the keys it contains;
their version chains are rebuilt from (existing state ∪ batch) while
every untouched key's rows are carried over verbatim. Late or
out-of-order events therefore SPLICE into the affected key's history
correctly — an interval that a late event lands inside is re-cut, which
no append-only scheme can do.

State rows are COMPUTED version rows (intervals materialized), with
delete events persisted alongside them — a delete is not a version but
it CLOSES one, so the tombstone must survive exactly like the merge
path's; the rebuild uses the same ``operators/replay.py::scd2_versions``
the batch query uses — one code path, two execution modes, which is
why the streamed result can hash-match the batch oracle. Serving is a
tombstone filter over precomputed intervals, no window at read time.

``rebuild_state`` is the fold q_stream_scd2 hands to
``streaming/delta.py::fold_stream`` (bucketed on ``SCD2_KEYS``), so
the state is committed by one manifest per epoch
(``merge.apply_bucketed_fold``): an epoch is visible once and whole,
and a retried epoch is a no-op — the fold is order-sensitive, and
folding a batch twice would double every touched key's version rows.

Scale posture: the recompute cost per batch is O(events of touched
keys), not O(state), and the rewrite is partition-pruned
(``merge.apply_bucketed_fold``): only buckets the batch's keys hash
into are read and rewritten — the carry-over copy of untouched keys is
bounded by the touched buckets, and untouched buckets' files are not
touched at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.replay import scd2_versions
from .merge import read_state

SCD2_KEYS = ["table_name", "row_id"]
_INTERVAL_COLS = ["valid_from_ms", "valid_to_ms", "is_current"]


def rebuild_state(existing: DataFrame | None, batch: DataFrame) -> DataFrame:
    """One keyed-recompute step: untouched keys carry their COMPUTED
    intervals verbatim; keys present in the batch strip intervals and
    rebuild their chains from (their persisted events ∪ the batch) —
    a late event splices in correctly because the closing tombstone is
    still in state."""
    if existing is None:
        return scd2_versions(batch, drop_deletes=False)
    touched = batch.select(*SCD2_KEYS).distinct()
    carried = existing.join(touched, SCD2_KEYS, "left_anti")
    rebuilt_events = (
        existing.join(touched, SCD2_KEYS, "left_semi")
        .drop(*_INTERVAL_COLS)
        .unionByName(batch)
    )
    return carried.unionByName(scd2_versions(rebuilt_events, drop_deletes=False))


def history(spark: SparkSession, state_dir: str) -> DataFrame:
    """Serving view: the maintained SCD2 version table — intervals are
    PRE-COMPUTED in state, so serving is a tombstone filter, O(rows
    read), no window. The interval semantics come from the same
    ``scd2_versions`` operator the batch query uses — one code path,
    two execution modes."""
    return read_state(spark, state_dir).filter(F.col("operation") != "delete")
