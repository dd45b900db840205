"""Streaming maintained JOIN view (A10b stream form).

``V = live(left_table) |><| live(right_table) ON user_id`` kept fresh
per micro-batch — the join-view counterpart of the CDC current-state
merge. The reference has no equivalent (its dashboards re-join on
every panel refresh); this is the Flink/Materialize capability of
serving an always-fresh join without replaying either side.

Design — co-bucketed partial refresh, pruned end to end:

- BOTH side states and the view hash-bucket on the JOIN key
  (``user_id``) — ``apply_merge_batch(bucket_keys=["user_id"])``. The
  merge key stays (table_name, user_id): bucketing is a pure function
  of a key subset, so a row's bucket never moves.
- Per micro-batch: (1) MERGE the batch into the side-state table
  (touched buckets only, the copy-on-write fold); (2) refresh the
  view for exactly the user-buckets the batch touched — read THOSE
  buckets of the side state's just-committed manifest (a path-level
  prune, not a filter over a full scan), re-join left x right within
  them, and rewrite THOSE view buckets. Untouched view buckets keep
  byte-identity. Both tables commit through their own manifest, so a
  reader of the view (``merge.read_state``) sees whole epochs only.
- Correctness does not depend on batch boundaries: the side-state
  merge is total-ordered (late events converge), and each refresh
  recomputes its buckets from the post-merge state, so the final view
  equals the batch join of the final states — which is exactly what
  the DuckDB oracle pins at the gate (q_stream_join_view).

At 100 TB the per-batch cost is O(touched buckets), i.e. bounded by
the batch's key spread — never the size of either accumulated side.
Updates and deletes need no retraction machinery: a bucket refresh is
a deterministic function of current side state, so a tombstoned user
simply drops out of the rejoined bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import parse as P
from .merge import (
    apply_bucketed_fold,
    apply_merge_batch,
    live_state,
    read_state,
    touched_buckets,
)

VIEW_N_BUCKETS = 8
LEFT_TABLE = "click"
RIGHT_TABLE = "purchase"


def _view_rows(
    side_state: DataFrame, left_table: str, right_table: str
) -> DataFrame:
    """The join view over (a subset of) the side state: one live row
    per (table, user) on each side -> at most one pair per user."""
    live = live_state(side_state)
    lft = live.filter(F.col("table_name") == left_table).select(
        "user_id",
        F.col("row_id").alias("left_row_id"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias(
            "left_value_cents"
        ),
    )
    rgt = live.filter(F.col("table_name") == right_table).select(
        "user_id",
        F.col("row_id").alias("right_row_id"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias(
            "right_value_cents"
        ),
    )
    return lft.join(rgt, "user_id")


def apply_join_view_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    view_dir: str,
    epoch_id: int,
    left_table: str = LEFT_TABLE,
    right_table: str = RIGHT_TABLE,
    n_buckets: int = VIEW_N_BUCKETS,
) -> None:
    """One micro-batch: MERGE into the co-bucketed side state, then
    refresh exactly the view buckets this batch touched. The batch is
    persisted ONCE and its touched-bucket set computed ONCE (one scalar
    driver action), shared by both folds — state and view bucket on the
    same key, so their touched sets are identical by construction."""
    own_cache = not batch_df.is_cached
    if own_cache:
        batch_df = batch_df.persist()
    try:
        touched = touched_buckets(batch_df, ["user_id"], n_buckets)
        if not touched:
            return

        # 1. side-state MERGE, bucketed on the JOIN key
        apply_merge_batch(
            spark,
            batch_df,
            state_dir,
            epoch_id,
            n_buckets=n_buckets,
            bucket_keys=["user_id"],
            touched=touched,
        )

        # 2. partial view refresh: recompute exactly the user-buckets
        # this batch touched, from the post-merge side state. The fold
        # ignores `existing` — a refreshed bucket is a deterministic
        # function of current side state, which is what makes
        # update/delete handling retraction-free.
        def refresh(existing: DataFrame | None, batch: DataFrame) -> DataFrame:
            side = read_state(spark, state_dir, buckets=touched)
            return _view_rows(side, left_table, right_table)

        apply_bucketed_fold(
            spark,
            batch_df,
            view_dir,
            epoch_id,
            ["user_id"],
            refresh,
            n_buckets=n_buckets,
            touched=touched,
        )
    finally:
        if own_cache:
            batch_df.unpersist()


def run_join_view_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    view_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
) -> None:
    """Drain the envelope backlog, maintaining side state AND the
    materialized join view per micro-batch, resuming from existing
    state/view/checkpoint (see merge.run_replay_stream)."""

    from . import ingest

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        apply_join_view_batch(spark, batch_df, state_dir, view_dir, epoch_id)

    ingest.drain(
        spark,
        source_dir,
        ingest.SOURCE_SCHEMA,
        lambda s: P.typed_rows(P.normalized_events(s))
        .filter(F.col("table_name").isin(LEFT_TABLE, RIGHT_TABLE))
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir),
        max_files_per_trigger,
        "json",
    )

