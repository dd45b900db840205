"""Incremental CDC current-state materialization (operator J6, stream
form): a MERGE that upserts each micro-batch of typed row events into
a keyed state table — the streaming twin of
``operators/replay.py::current_state`` (reference transports DML but
never materializes it; ES just accumulates one doc per event,
reference node-consumer/index.js:278-281).

Unlike watermarked dedupe, the merge is order-robust: every row carries
its full event-time order key (ts, offset, rownum) and the merge
recomputes last-writer-wins over (existing state ∪ batch), so late or
out-of-order batches converge to the same state.

Scale posture: the state table is hash-partitioned into key buckets
(``b0000/ .. bNNNN/``), each holding copy-on-write versions
``v<epoch>/``, and one JSON manifest per epoch (``_manifest/``) names
the version of every bucket that makes up the state. A micro-batch
rewrites ONLY the buckets its keys hash into — per-batch I/O is bounded
by the batch's key spread, not by total state size — and publishes
them with one atomic manifest rename: exactly the key-partitioned
upsert and commit log a transactional table format (Delta/Iceberg
``MERGE INTO``) productionizes. The semantics — last
writer wins, DELETE tombstones remove the key, tombstones expire after
the source's replay horizon — are what the batch oracle checks.

This module holds the merge fold (``merge_state``) and the commit
point every stream maintainer shares (``apply_bucketed_fold``,
``read_state``); the drain and its ``foreachBatch`` sink are
``streaming/delta.py::fold_stream``'s, which ``run_replay_stream``
calls.

The stream's shuffle domain is sized from its micro-batch bound on the
first run (streaming/ingest.py::stream_domain) and pinned by the
checkpoint; the per-batch bucket write runs at most that many tasks,
so a KB-scale batch folds in one task however many buckets it touches.
The bucket layout does not depend on the domain.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import StructType

from ..operators import parse as P

STATE_KEYS = ["table_name", "user_id"]
STATE_ORDER = ["ts", "offset", "rownum"]
N_STATE_BUCKETS = 16


def bucket_of(keys: Sequence[str] = STATE_KEYS, n_buckets: int = N_STATE_BUCKETS):
    """Deterministic state bucket for a key tuple. Recomputed on read
    (never stored), so bucket files stay pure row data. A one-bucket
    table needs no key."""
    if n_buckets == 1:
        return F.lit(0)
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")


def latest_events(
    events: DataFrame, keys: Sequence[str], order_by: Sequence[str]
) -> DataFrame:
    """Latest event per key — DELETEs retained (they are tombstones the
    merge still needs; ``current_state`` drops them, this keeps them)."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_by])
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_state(
    existing: DataFrame | None,
    batch: DataFrame,
    keys: Sequence[str] = STATE_KEYS,
    order_by: Sequence[str] = STATE_ORDER,
    tombstone_horizon_ms: int | None = None,
    watermark_ms: int | None = None,
) -> DataFrame:
    """(state ∪ batch) -> new state. State rows keep their op + order
    columns so the comparison against late events stays total, and
    DELETE rows are persisted as TOMBSTONES — discarding them would let
    an out-of-order older event in a later batch resurrect a deleted
    key. Readers drop tombstones via ``live_state``.

    Tombstone GC: with ``tombstone_horizon_ms`` + ``watermark_ms`` set,
    tombstones whose event time is older than
    ``watermark_ms - tombstone_horizon_ms`` are dropped. The horizon
    must be >= the source's maximum replay window (checkpoint retention
    / Kafka topic retention): an event older than that can never arrive
    to be wrongly revived, so expiry cannot resurrect a deleted key
    (property-pinned in tests/test_streaming.py)."""
    combined = batch if existing is None else existing.unionByName(batch)
    state = latest_events(combined, keys, order_by)
    if tombstone_horizon_ms is not None and watermark_ms is not None:
        cutoff = watermark_ms - tombstone_horizon_ms
        expired = (F.col("operation") == "delete") & (
            F.unix_millis(F.col(order_by[0])) < F.lit(cutoff)
        )
        state = state.filter(~expired)
    return state


def live_state(
    state: DataFrame, op_col: str = "operation", delete_op: str = "delete"
) -> DataFrame:
    """The queryable view of the state table: tombstones removed."""
    return state.filter(F.col(op_col) != delete_op)


def _manifest_path(state_dir: str, epoch_id: int) -> Path:
    return Path(state_dir) / "_manifest" / f"{epoch_id:09d}.json"


def _manifests(state_dir: str) -> list[Path]:
    """Committed manifests, oldest first (names are zero-padded epochs;
    an uncommitted ``.tmp`` never matches)."""
    mdir = Path(state_dir) / "_manifest"
    return sorted(mdir.glob("*.json")) if mdir.is_dir() else []


def _load(
    state_dir: str, before_epoch: int | None = None
) -> tuple[StructType | None, dict[int, str]]:
    """(schema, bucket -> version dir) of the newest manifest, or of the
    newest one older than ``before_epoch``; (None, {}) if there is none."""
    ms = _manifests(state_dir)
    if before_epoch is not None:
        ms = [m for m in ms if int(m.stem) < before_epoch]
    if not ms:
        return None, {}
    m = json.loads(ms[-1].read_text())
    versions = {int(b): v for b, v in m["buckets"].items()}
    return StructType.fromJson(m["schema"]), versions


def read_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The state the newest manifest commits (tombstones included —
    wrap with ``live_state`` for the queryable view), read with the
    schema the manifest records, so no inference job runs."""
    schema, versions = _load(state_dir)
    if schema is None:
        raise FileNotFoundError(f"no committed state under {state_dir}")
    paths = [str(Path(state_dir) / v) for _, v in sorted(versions.items())]
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def _commit(
    state_dir: str, epoch_id: int, schema: StructType, versions: dict[int, str]
) -> None:
    """Publish an epoch: its manifest's rename is the one point at which
    the whole epoch becomes visible. Then keep the two newest manifests
    (the new state, and the one a reader that started before this
    commit may still be reading) and delete every manifest and bucket
    version neither of them lists."""
    path = _manifest_path(state_dir, epoch_id)
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    buckets = {str(b): versions[b] for b in sorted(versions)}
    tmp.write_text(json.dumps({"schema": schema.jsonValue(), "buckets": buckets}))
    os.replace(tmp, path)
    manifests = _manifests(state_dir)
    live = {
        v for m in manifests[-2:] for v in json.loads(m.read_text())["buckets"].values()
    }
    for m in manifests[:-2]:
        m.unlink()
    base = Path(state_dir)
    for v in base.glob("b*/v*"):
        if v.relative_to(base).as_posix() not in live:
            shutil.rmtree(v, ignore_errors=True)


def touched_buckets(
    batch_df: DataFrame, keys: Sequence[str], n_buckets: int = N_STATE_BUCKETS
) -> list[int]:
    """Bucket ids a batch's keys hash into: ONE scalar driver action,
    <= n_buckets ints; a one-bucket table needs none."""
    if n_buckets == 1:
        return [0]
    b = batch_df.select(bucket_of(keys, n_buckets).alias("_b"))
    return sorted(b.agg(F.collect_set("_b")).collect()[0][0])


def apply_bucketed_fold(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    epoch_id: int,
    keys: Sequence[str],
    fold,
    n_buckets: int = N_STATE_BUCKETS,
    touched: list[int] | None = None,
    then=None,
) -> None:
    """Generic partition-pruned state maintenance: fold one micro-batch
    into the hash-bucketed state table, reading and rewriting ONLY the
    buckets the batch's keys hash into (``bucket_of(keys, n_buckets)``)
    — every other bucket's files are untouched (byte-identity pinned in
    tests/test_streaming.py). ``fold(existing, batch)`` -> the new
    state for the touched buckets (must be commutative/total-ordered so
    late batches converge).

    Epoch contract: one JSON manifest per epoch (``_manifest/<epoch>
    .json``: the state schema and bucket -> ``b<NNNN>/v<epoch>``) is
    the only record of the state. A fold reads its buckets from the
    newest older manifest, with its schema, writes their new versions
    to new directories and renames its manifest into place, so an epoch
    becomes visible once and whole. An epoch whose manifest exists is a
    retry of a committed batch (Spark replays the same batch under the
    same epoch) and is a no-op. A bucket that folds to zero rows leaves
    the manifest. The write job reads old parquet + batch directly
    (different paths, no overwrite-while-read hazard). This is the
    table-format recipe Delta/Iceberg productionize: immutable data
    files + a log of the files that make up each version.

    ``touched`` passes the batch's bucket ids when the caller knows
    them. ``then(existing, written, touched)``, when given, runs after
    the bucket write and before the manifest commit, with the touched
    buckets' prior rows and their new ones: it commits a second table's
    epoch derived from them, so the second table commits first
    (streaming/delta.py::epoch_sink)."""
    if _manifest_path(state_dir, epoch_id).exists():
        return
    # the batch is read twice only when a job computes its buckets; a
    # fold given them by another one's hook reuses that one's cache
    own_cache = touched is None and n_buckets > 1 and not batch_df.is_cached
    if own_cache:
        batch_df = batch_df.persist()
    try:
        if touched is None:
            touched = touched_buckets(batch_df, keys, n_buckets)
        if not touched:
            return
        schema, versions = _load(state_dir, before_epoch=epoch_id)
        prior = [str(Path(state_dir) / versions[b]) for b in touched if b in versions]
        existing = spark.read.schema(schema).parquet(*prior) if prior else None
        merged = fold(existing, batch_df)
        schema = merged.schema
        # one write job for all touched buckets; the partition column is
        # recomputable from the keys so it is never stored in the rows.
        # Each touched bucket lands in exactly one task (one file)
        # instead of |tasks| x |buckets| small files, and no more tasks
        # than the batch's shuffle domain (a stream's, pinned by its
        # checkpoint) run, since every task pays its own conf and
        # parquet-writer set-up; one task needs no shuffle
        domain = int(batch_df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        n_tasks = min(len(touched), domain)
        stage = Path(state_dir) / f"_stage_v{epoch_id:09d}"
        merged = merged.withColumn("_bucket", bucket_of(keys, n_buckets))
        (
            merged.coalesce(1) if n_tasks == 1 else merged.repartition(n_tasks, "_bucket")
        ).write.mode("overwrite").partitionBy("_bucket").parquet(str(stage))
        for b in touched:
            rel = f"b{b:04d}/v{epoch_id:09d}"
            dst = Path(state_dir) / rel
            if dst.exists():  # left by an attempt that died before its commit
                shutil.rmtree(dst)
            src = stage / f"_bucket={b}"
            if src.is_dir():
                dst.parent.mkdir(parents=True, exist_ok=True)
                src.rename(dst)
                versions[b] = rel
            else:  # the bucket folded to zero rows
                versions.pop(b, None)
        if then is not None:
            new = [str(Path(state_dir) / versions[b]) for b in touched if b in versions]
            written = (
                spark.read.schema(schema).parquet(*new)
                if new
                else spark.createDataFrame([], schema)
            )
            then(existing, written, touched)
        _commit(state_dir, epoch_id, schema, versions)
        shutil.rmtree(stage, ignore_errors=True)
    finally:
        if own_cache:
            batch_df.unpersist()


def run_replay_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    fresh: bool = True,
) -> None:
    """Drain a canal-json envelope backlog through P1->P6 and MERGE each
    micro-batch into the bucketed state table at ``state_dir``
    (``merge_state`` through ``delta.fold_stream``).

    ``fresh=False`` keeps existing state + checkpoint and RESUMES: an
    already-drained backlog becomes an empty drain (the steady-state
    trigger cost a production stream pays), a crashed one continues
    exactly-once. Callers pass a fingerprint-keyed workdir
    (streaming/ingest.py::resumable_workdir) so stale state can never
    outlive a source or logic change."""
    if fresh:
        for d in (state_dir, checkpoint_dir):
            shutil.rmtree(d, ignore_errors=True)

    from . import delta, ingest

    # no round-robin repartition: each file is its own task
    delta.fold_stream(
        spark,
        source_dir,
        ingest.SOURCE_SCHEMA,
        state_dir,
        checkpoint_dir,
        merge_state,
        STATE_KEYS,
        N_STATE_BUCKETS,
        max_files=max_files_per_trigger,
        fmt="json",
        stream=lambda s: P.typed_rows(P.normalized_events(s)),
    )
