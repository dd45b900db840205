"""Streaming maintained JOIN view (A10b stream form).

``V = live(left_table) |><| live(right_table) ON user_id`` kept fresh
per micro-batch — the join-view counterpart of the CDC current-state
merge. The reference has no equivalent (its dashboards re-join on
every panel refresh); this is the Flink/Materialize capability of
serving an always-fresh join without replaying either side.

Design — co-bucketed partial refresh, pruned end to end:

- BOTH the side state and the view hash-bucket on the JOIN key
  (``user_id``). The merge key stays (table_name, user_id): bucketing
  is a pure function of a key subset, so a row's bucket never moves.
- q_stream_join_view runs ``streaming/delta.py::fold_stream`` over
  ``sides`` with ``merge.merge_state`` as the side-state fold and
  ``view_of`` as its ``then``. Per micro-batch, after the side-state
  fold has rewritten the user-buckets the batch touched and before
  its manifest commits, the view is refreshed for exactly those
  buckets: the side rows just written to THOSE buckets are re-joined
  left x right and THOSE view buckets are rewritten. Untouched
  buckets of both tables keep byte-identity. The view's epoch commits
  before the side state's, each through its own manifest, so a reader
  of the view (``merge.read_state``) sees whole epochs only, and a
  replay after a crash between the two commits rewrites the same side
  buckets and finds the view's epoch done.
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

from pyspark.sql import DataFrame, functions as F

from ..operators import parse as P
from .merge import apply_bucketed_fold, live_state

VIEW_N_BUCKETS = 8
LEFT_TABLE = "click"
RIGHT_TABLE = "purchase"


def _view_rows(side_state: DataFrame) -> DataFrame:
    """The join view over (a subset of) the side state: one live row
    per (table, user) on each side -> at most one pair per user."""
    live = live_state(side_state)
    lft = live.filter(F.col("table_name") == LEFT_TABLE).select(
        "user_id",
        F.col("row_id").alias("left_row_id"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias(
            "left_value_cents"
        ),
    )
    rgt = live.filter(F.col("table_name") == RIGHT_TABLE).select(
        "user_id",
        F.col("row_id").alias("right_row_id"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias(
            "right_value_cents"
        ),
    )
    return lft.join(rgt, "user_id")


def view_of(view_dir):
    """The ``then`` of the side-state fold (``delta.epoch_sink``):
    refresh exactly the view buckets the batch touched as the join of
    the side state's rows just written to those buckets. The refresh
    ignores the view's existing rows — a refreshed bucket is a
    deterministic function of current side state, which is what makes
    update/delete handling retraction-free."""

    def then(_old, written: DataFrame, touched: list[int]):
        return lambda batch, epoch_id: apply_bucketed_fold(
            batch.sparkSession,
            batch,
            view_dir,
            epoch_id,
            ["user_id"],
            lambda _existing, _batch: _view_rows(written),
            VIEW_N_BUCKETS,
            touched,
        )

    return then


def sides(stream: DataFrame) -> DataFrame:
    """The typed change rows of the two joined tables."""
    return P.typed_rows(P.normalized_events(stream)).filter(
        F.col("table_name").isin(LEFT_TABLE, RIGHT_TABLE)
    )
