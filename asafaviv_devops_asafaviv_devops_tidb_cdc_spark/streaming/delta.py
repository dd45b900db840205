"""The one epoch-partial maintainer protocol (the idempotent
``foreachBatch`` exactly-once contract of Structured Streaming).

Every stream maintainer whose state is a commutative fold goes through
:func:`fold_stream`: drain the source (``ingest.drain``), fold each
micro-batch with the family's ``per_batch`` into ONE small partial,
compact the partials into a crash-safe base, and serve the fold. A
family supplies only its two folds — the retraction totals
(q_stream_delta_agg), DQ violation counts, KMV and sample bottom-k, the
sustained-alert window counts, the shard manifest and so on; the drain,
checkpoint, partial layout, compaction and serving read exist here
once.

A census that is a function of each key's whole history (the
transition pairs and the funnel stages, whose answers a late event can
rewire) runs through the same path with ``history=<key columns>``: the
keys' events are kept as bucketed state (``merge.apply_bucketed_fold``)
and each batch's partial is census(H ∪ B) − census(H), where H is the
prior history of the keys the batch holds, so the partials telescope
to the census of the final history.

Idempotence: partials land in an ``epoch=<id>`` directory written with
mode=overwrite, so a micro-batch retry after a crash rewrites its own
partial instead of double-counting. Compaction folds the partials into
a versioned BASE with the same fold that serves them, bounding the
serving read at O(fold size + batches since the last compaction). The
base is copy-on-write (``base_v<epoch>``) and serving ignores epoch
partials at or below the base's version, so a crash anywhere in
compaction — before the base commit, or before the folded epoch dirs
are removed — never double-counts or drops a batch.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import ingest, merge

_BASE_PREFIX = "base_v"


def epoch_partials(partials_dir: str, per_batch):
    """The ``foreachBatch`` function that folds each micro-batch with
    ``per_batch`` (DataFrame -> DataFrame) and writes the result to
    ``<partials_dir>/epoch=<id>`` with overwrite, so a retried batch
    rewrites its own partial instead of double-counting."""

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        per_batch(batch_df).write.mode("overwrite").parquet(
            f"{partials_dir}/epoch={epoch_id}"
        )

    return fold


def history_partials(partials_dir: str, state_dir: str, keys: list[str], per_batch):
    """The ``foreachBatch`` function of a history fold: each batch B is
    appended to the bucketed history through ``merge.apply_bucketed_fold``
    under its epoch, and inside that fold ``per_batch(H, H ∪ B)`` is
    written as the epoch partial, where H is the prior history of the
    keys B holds (the touched buckets of the manifest committed BEFORE
    this epoch, narrowed to B's keys). The partial lands before the
    epoch's manifest commits; a replay of a committed epoch is a no-op
    and leaves that partial in place, and a replay of an uncommitted
    one reads the same H and rewrites the same partial. A batch with no
    rows adds no partial."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        def fold(old: DataFrame | None, new: DataFrame) -> DataFrame:
            if old is None:
                h = new.limit(0)
            else:
                k = new.select(*keys).distinct()
                h = old.join(k, [old[c].eqNullSafe(k[c]) for c in keys], "left_semi")
            per_batch(h, h.unionByName(new)).write.mode("overwrite").parquet(
                f"{partials_dir}/epoch={epoch_id}"
            )
            return new if old is None else old.unionByName(new)

        merge.apply_bucketed_fold(
            batch_df.sparkSession, batch_df, state_dir, epoch_id, keys, fold
        )

    return sink


def _base_version(partials_dir: str) -> tuple[int, Path | None]:
    """(version, path) of the newest COMMITTED base; (-1, None) if none.

    Committed means the rename in ``compact_with`` completed: the
    fold is staged under a ``_tmp`` name and renamed into place only
    after the write job (and its ``_SUCCESS`` marker) finished, so a
    crash mid-write leaves no ``base_v*`` dir at all. The ``_SUCCESS``
    check is belt-and-braces against a base produced by an older writer
    or a copy that raced the marker."""
    root = Path(partials_dir)
    if not root.exists():
        return -1, None
    bases = sorted(
        p
        for p in root.iterdir()
        if p.name.startswith(_BASE_PREFIX) and (p / "_SUCCESS").exists()
    )
    if not bases:
        return -1, None
    newest = bases[-1]
    return int(newest.name[len(_BASE_PREFIX):]), newest


def _epoch_dirs(partials_dir: str) -> list[tuple[int, Path]]:
    root = Path(partials_dir)
    if not root.exists():
        return []
    out = []
    for p in root.iterdir():
        if p.name.startswith("epoch="):
            out.append((int(p.name.split("=", 1)[1]), p))
    return sorted(out)


def _live_paths(partials_dir: str) -> list[str]:
    """The partial set serving must fold: newest base + every epoch
    partial NEWER than the base's version. Epoch dirs at or below the
    base version are already folded in — leftovers from an interrupted
    compaction are ignored, never double-counted."""
    ver, base = _base_version(partials_dir)
    paths = [str(base)] if base is not None else []
    paths += [str(p) for e, p in _epoch_dirs(partials_dir) if e > ver]
    return paths


def fold_generic(
    df: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """The commutative integer-sum fold every partial family shares:
    group by the grid columns, SUM the delta columns (kept as int64).
    Using ONE fold expression for the per-batch partial, the serving
    read, and the compaction base is what makes
    serve(compact(partials)) == serve(partials) an identity instead
    of a hope."""
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


def folded_with(
    spark: SparkSession, partials_dir: str, fold_fn
) -> DataFrame:
    """Serving view under an arbitrary commutative idempotent-on-
    refold monoid: apply ``fold_fn`` to the live partials (newest base
    + epochs above its version). ``fold_fn`` must satisfy
    fold(fold(A) ∪ fold(B)) == fold(A ∪ B) — integer sums
    (fold_generic), bottom-k (KMV and the sample) all do."""
    return fold_fn(spark.read.parquet(*_live_paths(partials_dir)))


def compact_with(
    spark: SparkSession, partials_dir: str, fold_fn
) -> None:
    """Fold every live partial into one new base (copy-on-write,
    versioned by the newest folded epoch), then drop what it folded.
    ``fold_fn`` is the family's serving monoid (see folded_with) —
    using the SAME fold for partials, serving, and the base is what
    makes serve(compact(partials)) == serve(partials) an identity.

    Crash safety without a manifest: the base commit is the atomic
    point. Before it, serving sees the old base + epochs (complete);
    after it, serving sees the new base and IGNORES epoch dirs <= its
    version, so interrupted cleanup leaves garbage, not wrong answers.
    Re-running compaction is idempotent. The same recipe at 100 TB —
    compaction is a background fold, never a correctness event."""
    root = Path(partials_dir)
    if not root.exists():  # zero batches ever folded — nothing to do
        return
    for p in root.iterdir():  # sweep crash debris: staged folds and
        # uncommitted bases (no _SUCCESS) are garbage by construction
        if p.name.startswith("_tmp_") or (
            p.name.startswith(_BASE_PREFIX) and not (p / "_SUCCESS").exists()
        ):
            shutil.rmtree(p, ignore_errors=True)
    epochs = _epoch_dirs(partials_dir)
    old_ver, old_base = _base_version(partials_dir)
    new_ver = max((e for e, _ in epochs), default=old_ver)
    if new_ver <= old_ver:
        return  # nothing newer than the base — no-op
    folded = fold_fn(spark.read.parquet(*_live_paths(partials_dir)))
    # Stage the fold under a _tmp name, then rename into place: the
    # rename is the atomic commit point. A crash during the write
    # leaves only a _tmp dir (invisible to _base_version and cleaned
    # up below on the next run), never a partial base that would make
    # serving skip un-folded epochs.
    tmp = Path(partials_dir) / f"_tmp_{_BASE_PREFIX}{new_ver:09d}"
    shutil.rmtree(tmp, ignore_errors=True)
    folded.write.mode("overwrite").parquet(str(tmp))
    tmp.rename(Path(partials_dir) / f"{_BASE_PREFIX}{new_ver:09d}")
    # post-commit cleanup: anything the new base covers
    for e, p in epochs:
        if e <= new_ver:
            shutil.rmtree(p, ignore_errors=True)
    if old_base is not None:
        shutil.rmtree(old_base, ignore_errors=True)


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
    """Run one epoch-partial maintainer and serve its fold.

    Drains ``source_dir`` (``stream`` applied to the source first, when
    given), writing each micro-batch's ``per_batch`` fold to
    ``<workdir>/partials/epoch=<id>`` under the checkpoint
    ``<workdir>/ckpt``; then compacts the partials under ``fold`` and
    returns ``fold`` over the live partials. ``fold`` must be
    refold-idempotent (see folded_with). The checkpoint makes every
    call after the first an empty drain over an already-consumed
    backlog, and a file landed later is folded exactly once.

    With ``history`` (key columns) the batches are also kept as
    bucketed state at ``<workdir>/history`` and ``per_batch`` gets the
    pair (H, H ∪ B), H being the prior history of the batch's keys (see
    history_partials and history_delta)."""
    partials = f"{workdir}/partials"
    if history is None:
        sink = epoch_partials(partials, per_batch)
    else:
        sink = history_partials(partials, f"{workdir}/history", history, per_batch)
    ingest.drain(
        spark,
        source_dir,
        schema,
        lambda s: (stream(s) if stream else s)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{workdir}/ckpt"),
        max_files,
        fmt,
    )
    compact_with(spark, partials, fold)
    return folded_with(spark, partials, fold)
