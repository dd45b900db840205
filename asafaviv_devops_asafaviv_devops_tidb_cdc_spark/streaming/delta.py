"""The one stream maintainer (the offset log plus idempotent
``foreachBatch`` sink of Structured Streaming's exactly-once contract).

Every stream maintainer goes through :func:`fold_stream`: drain the
source (``ingest.drain``) under a checkpoint and fold each micro-batch
into a hash-bucketed state table with ``merge.apply_bucketed_fold``.
A maintainer supplies only its bucket spec (``keys``, ``n_buckets``)
and its fold over (existing, batch):

- a commutative fold (the retraction totals, DQ violation counts, KMV
  and sample bottom-k, the sustained-alert window counts, the shard
  manifest and so on) keeps ONE bucket and folds each batch's partial
  into it (:func:`partial_fold`);
- a keyed fold (the CDC current-state merge, the SCD2 version chains,
  the doc-dedup survivors) rewrites only the buckets the batch's keys
  hash into.

A maintainer whose answer is derived from a second table commits that
table between the first one's bucket write and its manifest commit
(``then``, see :func:`epoch_sink`): the history folds (the transition
pairs and the funnel stages, whose answers a late event can rewire)
keep each key's events as the first table and fold
census(H ∪ B) − census(H) into the census; the join view keeps the
side state first and refreshes the view's buckets from it.

Idempotence: every table commits one manifest per epoch, and an epoch
whose manifest exists is a no-op, so a replay of a committed batch
never double-counts, and a replay of an uncommitted one folds into the
same prior state again. Serving is ``merge.read_state``: it reads the
newest manifest with its recorded schema and starts no job.
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


def union(old: DataFrame | None, new: DataFrame) -> DataFrame:
    """The append fold: existing rows carry over, the batch is added."""
    return new if old is None else old.unionByName(new)


def partial_fold(per_batch, fold):
    """The (existing, batch) fold of a commutative family: ``fold``
    over the state ∪ ``per_batch(batch)``. ``fold`` must satisfy
    fold(fold(A) ∪ fold(B)) == fold(A ∪ B) — integer sums
    (fold_generic), bottom-k (KMV and the sample) all do."""
    return lambda old, new: fold(union(old, per_batch(new)))


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


def history_census(state, census, group_cols: list[str], sum_cols: list[str], keys):
    """The ``then`` of a history fold, whose first table is each key's
    events (``union``, bucketed on ``keys``): fold
    ``history_delta(census)(H, H ∪ B)`` into the integer-sum state at
    ``state``, H and H ∪ B being the history before and after the epoch
    narrowed to the keys B holds."""
    per_batch = history_delta(census, group_cols, sum_cols)

    def then(old: DataFrame | None, written: DataFrame, _touched):
        def partial(batch: DataFrame) -> DataFrame:
            k = batch.select(*keys).distinct()

            def narrow(df: DataFrame) -> DataFrame:
                return df.join(k, [df[c].eqNullSafe(k[c]) for c in keys], "left_semi")

            h = batch.limit(0) if old is None else narrow(old)
            return per_batch(h, narrow(written))

        return epoch_sink(
            state, partial_fold(partial, lambda df: fold_generic(df, group_cols, sum_cols))
        )

    return then


def epoch_sink(state, fold, keys=(), n_buckets: int = 1, then=None):
    """The ``foreachBatch`` function of :func:`fold_stream`: fold each
    micro-batch into the table at ``state``, bucketed on ``keys``, as
    ``fold(existing, batch)`` under the batch's epoch. A one-bucket
    table needs no key and no job computes its touched buckets.

    With ``then``, a second table is maintained from the first:
    ``then(old, written, touched)`` — the first table's rows in the
    buckets the batch touches before this epoch (None if there are
    none) and after it, and those buckets — returns a sink that folds
    the batch into the second table under the same epoch, after the
    first table's bucket write and before its manifest commit. So the
    second epoch commits first: a replay after a crash between the two
    commits rewrites the same buckets from the same prior rows, and the
    second fold is a no-op because its manifest exists."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        merge.apply_bucketed_fold(
            batch_df.sparkSession, batch_df, state, epoch_id, keys, fold, n_buckets,
            then=then and (lambda *tables: then(*tables)(batch_df, epoch_id)),
        )

    return sink


def fold_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    state,
    checkpoint,
    fold,
    keys=(),
    n_buckets: int = 1,
    then=None,
    max_files: int = 2,
    fmt: str = "parquet",
    stream=None,
) -> None:
    """Run one stream maintainer: drain ``source_dir`` (``stream``
    applied to the source first, when given) under the checkpoint
    ``checkpoint``, folding each micro-batch into the table at
    ``state`` (see epoch_sink). The checkpoint makes every call after
    the first an empty drain over an already-consumed backlog, and a
    file landed later is folded exactly once. Serve the result with
    ``merge.read_state``."""
    ingest.drain(
        spark,
        source_dir,
        schema,
        lambda s: (stream(s) if stream else s)
        .writeStream.foreachBatch(epoch_sink(state, fold, keys, n_buckets, then))
        .option("checkpointLocation", str(checkpoint)),
        max_files,
        fmt,
    )


def partial_stream(
    spark: SparkSession, source_dir: str, schema, workdir, per_batch, fold, **drain
) -> DataFrame:
    """Run a commutative family's maintainer (one bucket,
    ``partial_fold(per_batch, fold)``) with its state at
    ``<workdir>/state`` and its checkpoint at ``<workdir>/ckpt``, and
    serve the state. ``drain`` takes fold_stream's ``max_files``,
    ``fmt`` and ``stream``."""
    fold_stream(
        spark, source_dir, schema, f"{workdir}/state", f"{workdir}/ckpt",
        partial_fold(per_batch, fold), **drain,
    )
    return merge.read_state(spark, f"{workdir}/state")
