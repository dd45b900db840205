"""The one fold-stream maintainer (the idempotent ``foreachBatch``
exactly-once contract of Structured Streaming).

Every stream maintainer whose state is a commutative fold goes through
:func:`fold_stream`: drain the source (``ingest.drain``), fold each
micro-batch with the family's ``per_batch`` into ONE small partial,
fold that partial into the state the previous epoch committed, and
serve the state. A family supplies only its two folds — the retraction
totals (q_stream_delta_agg), DQ violation counts, KMV and sample
bottom-k, the sustained-alert window counts, the shard manifest and so
on; the drain, checkpoint, state commit and serving read exist here
once.

A census that is a function of each key's whole history (the
transition pairs and the funnel stages, whose answers a late event can
rewire) runs through the same path with ``history=<key columns>``: the
keys' events are kept as bucketed state (``merge.apply_bucketed_fold``)
and each batch's partial is census(H ∪ B) − census(H), where H is the
prior history of the keys the batch holds, so the partials telescope
to the census of the final history.

Idempotence: the state is a one-bucket manifest table committed through
``merge.apply_bucketed_fold`` under the micro-batch's epoch — the same
commit the bucketed maintainers use. An epoch whose manifest exists is
a no-op, so a replay of a committed batch never double-counts, and a
replay of an uncommitted one folds into the same prior state again.
Each epoch's fold reads only the prior state, which the fold keeps at
O(fold size); serving reads the newest manifest with its recorded
schema and starts no job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import ingest, merge


def fold_generic(
    df: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """The commutative integer-sum fold every partial family shares:
    group by the grid columns, SUM the delta columns (kept as int64).
    Using ONE fold expression for the per-batch partial and the
    committed state is what makes the state after any batch split
    equal the fold of all rows."""
    return df.groupBy(*group_cols).agg(
        *[F.sum(c).cast("long").alias(c) for c in sum_cols]
    )


def history_delta(census, group_cols: list[str], sum_cols: list[str]):
    """The ``per_batch`` of a history fold whose census is an integer
    count frame: census(H ∪ B) − census(H) on the grid. Keys the batch
    does not touch are absent from both sides; summed over epochs the
    partials telescope to census(final history)."""

    def per_batch(h: DataFrame, hb: DataFrame) -> DataFrame:
        before = census(h).select(
            *group_cols, *[(-F.col(c)).alias(c) for c in sum_cols]
        )
        return fold_generic(census(hb).unionByName(before), group_cols, sum_cols)

    return per_batch


def epoch_sink(workdir, per_batch, fold, history: list[str] | None = None):
    """The ``foreachBatch`` function of :func:`fold_stream`: fold
    ``per_batch(batch)`` into the state at ``<workdir>/state`` under
    the batch's epoch, as ``fold(state ∪ partial)``. ``fold`` must
    satisfy fold(fold(A) ∪ fold(B)) == fold(A ∪ B) — integer sums
    (fold_generic), bottom-k (KMV and the sample) all do. The state is
    ONE bucket, so its key may be any column of the partial and no
    job computes the touched buckets.

    With ``history`` (key columns) each batch B is first appended to
    the bucketed history at ``<workdir>/history`` under the same epoch,
    and inside that fold ``per_batch(H, H ∪ B)`` is folded into the
    state, H being the prior history of the keys B holds (the touched
    buckets of the manifest committed BEFORE this epoch, narrowed to
    B's keys). The state's epoch commits before the history's: a replay
    after a crash between the two re-reads the same H, and the state
    fold is a no-op because its manifest exists. A batch with no rows
    commits neither."""
    state = f"{workdir}/state"

    def commit(partial: DataFrame, epoch_id: int) -> None:
        merge.apply_bucketed_fold(
            partial.sparkSession,
            partial,
            state,
            epoch_id,
            partial.columns[:1],
            lambda old, new: fold(new if old is None else old.unionByName(new)),
            n_buckets=1,
            touched=[0],
        )

    if history is None:
        return lambda batch_df, epoch_id: commit(per_batch(batch_df), epoch_id)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        def grow(old: DataFrame | None, new: DataFrame) -> DataFrame:
            if old is None:
                h = new.limit(0)
            else:
                k = new.select(*history).distinct()
                h = old.join(k, [old[c].eqNullSafe(k[c]) for c in history], "left_semi")
            commit(per_batch(h, h.unionByName(new)), epoch_id)
            return new if old is None else old.unionByName(new)

        merge.apply_bucketed_fold(
            batch_df.sparkSession, batch_df, f"{workdir}/history", epoch_id, history, grow
        )

    return sink


def fold_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    workdir,
    per_batch,
    fold,
    max_files: int = 2,
    fmt: str = "parquet",
    stream=None,
    history: list[str] | None = None,
) -> DataFrame:
    """Run one fold-stream maintainer and serve its state.

    Drains ``source_dir`` (``stream`` applied to the source first, when
    given) under the checkpoint ``<workdir>/ckpt``, folding each
    micro-batch into the state at ``<workdir>/state`` (see epoch_sink),
    and returns that state. The checkpoint makes every call after the
    first an empty drain over an already-consumed backlog, and a file
    landed later is folded exactly once."""
    ingest.drain(
        spark,
        source_dir,
        schema,
        lambda s: (stream(s) if stream else s)
        .writeStream.foreachBatch(epoch_sink(workdir, per_batch, fold, history))
        .option("checkpointLocation", f"{workdir}/ckpt"),
        max_files,
        fmt,
    )
    return merge.read_state(spark, f"{workdir}/state")
