"""The epoch contract of the bucketed fold state
(``streaming/merge.py::apply_bucketed_fold``, which also commits every
``streaming/delta.py::fold_stream`` state): one manifest per epoch is
the only record of the state, so an epoch becomes visible once and
whole, a committed epoch replayed is a no-op, and reading the state
never infers a schema.
"""

from __future__ import annotations

import ast
import json
import os
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators import parse as P
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.plans import closure
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import load_table
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources.ann_store import index_delta
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import (
    alerts,
    corpus,
    delta,
    ingest,
    join_view as JV,
    merge,
    scd2,
)
from tests.conftest import SF_SMOKE
from tests.test_streaming import _jv_batch, _jv_sink, _merge_sink, _typed_batch


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _files(state_dir):
    """{relative path: (bytes, mtime_ns)} for every file of a state."""
    return {
        str(p.relative_to(state_dir)): (p.read_bytes(), p.stat().st_mtime_ns)
        for p in Path(state_dir).rglob("*")
        if p.is_file()
    }


def _manifest(state_dir, epoch):
    return json.loads((Path(state_dir) / "_manifest" / f"{epoch:09d}.json").read_text())


def _epoch1(spark):
    return _typed_batch(
        spark,
        [("t", u, "insert", u * 10, f"2024-01-01 00:00:{u:02d}", u) for u in range(12)],
    )


def _epoch2(spark):
    # updates for every key: the batch touches most of the 8 buckets
    return _typed_batch(
        spark,
        [("t", u, "update", u * 100, f"2024-01-01 00:01:{u:02d}", 100 + u) for u in range(12)],
    )


def _window_sink(workdir):
    """A fold_stream sink (the sustained-alert window counts) and the
    state dir it commits to."""
    state = f"{workdir}/state"
    fold = delta.partial_fold(
        alerts.window_counts,
        lambda df: delta.fold_generic(df, ["window_start"], ["n_total", "n_errors"]),
    )
    return delta.epoch_sink(state, fold), state


def _crash_then_retry(spark, monkeypatch, run, clean, batches, at):
    """``run`` and ``clean`` are (fold(batch, epoch), state dir) pairs.
    Fold epoch 1 into ``run``, crash epoch 2 at the ``at`` = (rename,
    replace) call counts, and check that the prior epoch stays the
    whole visible state and that the retry equals a clean fold of both
    epochs."""
    (fold, state), (e1, e2), (at_rename, at_replace) = run, batches, at
    fold(e1, 1)
    want1 = _rows(merge.read_state(spark, state))

    calls = {"rename": 0, "replace": 0}
    real_rename, real_replace = Path.rename, os.replace

    def rename(self, target):
        calls["rename"] += 1
        if calls["rename"] == at_rename:
            raise OSError("injected: crash between two renames")
        return real_rename(self, target)

    def replace(src, dst):
        calls["replace"] += 1
        if calls["replace"] == at_replace:
            raise OSError("injected: crash at the manifest replace")
        return real_replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(Path, "rename", rename)
        m.setattr(os, "replace", replace)
        with pytest.raises(OSError, match="injected"):
            fold(e2, 2)
    assert _rows(merge.read_state(spark, state)) == want1

    fold(e2, 2)
    clean[0](e1, 1)
    clean[0](e2, 2)
    assert _rows(merge.read_state(spark, state)) == _rows(merge.read_state(spark, clean[1]))
    assert _rows(merge.read_state(spark, clean[1])) != want1


def test_failed_commit_never_shows_a_torn_epoch(spark, tmp_path, monkeypatch):
    """A fold that dies between its bucket renames leaves the previous
    epoch as the whole visible state; its retry equals a clean fold."""
    b2 = _epoch2(spark).select(merge.bucket_of(n_buckets=8).alias("b")).distinct()
    assert b2.count() >= 2

    def merge_into(state):
        return _merge_sink(state, 8), state

    _crash_then_retry(
        spark,
        monkeypatch,
        merge_into(str(tmp_path / "state")),
        merge_into(str(tmp_path / "clean")),
        (_epoch1(spark), _epoch2(spark)),
        (2, 2),
    )


def test_failed_fold_stream_commit_never_shows_a_torn_epoch(spark, tmp_path, monkeypatch):
    """A fold_stream epoch that dies at its manifest commit, after its
    one bucket version was renamed into place, leaves the previous
    epoch's state visible; its retry equals a clean fold."""
    events = load_table(spark, SF_SMOKE, "events")
    _crash_then_retry(
        spark,
        monkeypatch,
        _window_sink(tmp_path / "run"),
        _window_sink(tmp_path / "clean"),
        _halves(events, "event_id"),
        (2, 1),
    )


def test_committed_epoch_replayed_is_a_noop(spark, tmp_path):
    """Spark replays a batch under the same epoch after a crash between
    the fold and its checkpoint commit. Once the epoch's manifest is
    committed, the replay changes no file, even with other rows."""
    state = str(tmp_path / "state")
    _merge_sink(state, 8)(_epoch1(spark), 1)
    _merge_sink(state, 8)(_epoch2(spark), 2)
    files, rows = _files(state), _rows(merge.read_state(spark, state))
    _merge_sink(state, 8)(_epoch1(spark), 2)
    assert _files(state) == files
    assert _rows(merge.read_state(spark, state)) == rows


def test_versions_outside_the_last_two_manifests_are_pruned(spark, tmp_path):
    state = tmp_path / "state"
    for e in (1, 2, 3):
        batch = _typed_batch(spark, [("t", 1, "update", e, f"2024-01-01 00:00:0{e}", e)])
        _merge_sink(str(state), 1)(batch, e)
    assert sorted(p.name for p in (state / "_manifest").iterdir()) == [
        "000000002.json",
        "000000003.json",
    ]
    assert sorted(p.name for p in (state / "b0000").iterdir()) == [
        "v000000002",
        "v000000003",
    ]
    assert _manifest(state, 3)["buckets"] == {"0": "b0000/v000000003"}


def test_bucket_that_folds_to_zero_rows_leaves_the_manifest(spark, tmp_path):
    """Deleting a user's only purchase empties that user's view bucket:
    the bucket is dropped from the view's manifest, no empty version is
    written, and an all-empty state reads as an empty frame."""
    state, view = str(tmp_path / "state"), str(tmp_path / "view")
    b1 = _jv_batch(
        spark,
        [
            ("click", 3, "insert", 103, 1.0, "2024-01-01 00:00:00", 0),
            ("purchase", 3, "insert", 203, 2.0, "2024-01-01 00:00:01", 1),
        ],
    )
    _jv_sink(state, view)(b1, 1)
    b = merge.touched_buckets(b1, ["user_id"], JV.VIEW_N_BUCKETS)[0]
    assert _manifest(view, 1)["buckets"] == {str(b): f"b{b:04d}/v000000001"}

    b2 = _jv_batch(spark, [("purchase", 3, "delete", 203, 2.0, "2024-01-01 00:01:00", 2)])
    _jv_sink(state, view)(b2, 2)
    assert _manifest(view, 2)["buckets"] == {}
    assert not (Path(view) / f"b{b:04d}" / "v000000002").exists()
    empty = merge.read_state(spark, view)
    assert empty.count() == 0
    assert empty.columns == ["user_id", "left_row_id", "left_value_cents",
                             "right_row_id", "right_value_cents"]


def test_read_state_without_a_manifest_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        merge.read_state(spark, str(tmp_path / "nothing"))


def _jobs(spark, fn):
    """Number of Spark jobs ``fn()`` starts on this thread."""
    sc = spark.sparkContext
    group = f"state_manifest_{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _halves(df, col):
    return [df.filter(F.col(col) % 2 == 0), df.filter(F.col(col) % 2 == 1)]


def _maintainer(spark, name, tmp_path):
    """(fold(batch, epoch), the folded state's dir, two batches)."""
    state = str(tmp_path / name)
    if name in ("merge", "scd2", "join_view"):
        src = ingest.write_envelope_files(spark, SF_SMOKE, str(tmp_path / "src"), None, n_files=2)
        raw = spark.read.schema(ingest.SOURCE_SCHEMA).json(src)
        batches = _halves(P.typed_rows(P.normalized_events(raw)), "offset")
    if name == "merge":
        return _merge_sink(state), state, batches
    if name == "scd2":
        sink = delta.epoch_sink(
            state, scd2.rebuild_state, scd2.SCD2_KEYS, merge.N_STATE_BUCKETS
        )
        return sink, state, batches
    if name == "join_view":
        view = str(tmp_path / "view")
        sides = F.col("table_name").isin(JV.LEFT_TABLE, JV.RIGHT_TABLE)
        return (
            lambda b, e: _jv_sink(state, view)(b.filter(sides), e),
            view,
            batches,
        )
    if name == "corpus":
        docs = load_table(spark, SF_SMOKE, "documents")
        sink = delta.epoch_sink(
            state, corpus.survivor_fold, ["_h"], merge.N_STATE_BUCKETS
        )
        return (
            lambda b, e: sink(corpus.with_hash(b), e),
            state,
            _halves(docs, "doc_id"),
        )
    if name == "fold_stream":
        sink, state = _window_sink(tmp_path)
        events = load_table(spark, SF_SMOKE, "events")
        return sink, state, _halves(events, "event_id")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    return (
        lambda b, e: index_delta(spark, b, cents, state, e),
        state,
        _halves(emb, "vec_id"),
    )


# Jobs one warm fold of this setup started before the manifest, when the
# fold inferred the schema of its prior buckets (merge alone passed it)
# and wrote an empty version for each bucket that folded to zero rows.
# A fold_stream epoch committed through its own protocol: it wrote its
# partial (2 jobs), compaction inferred the partials' schema and wrote a
# new base (3), and serving inferred the base's schema (1); the read,
# which now starts no job, is asserted separately.
_JOBS_BEFORE_MANIFEST = {
    "merge": 6, "scd2": 11, "join_view": 12, "corpus": 7, "ann": 9, "fold_stream": 6,
}

# Jobs one warm fold starts now that every stream maintainer runs
# through delta.fold_stream: a one-bucket epoch neither persists its
# batch nor shuffles it into its one write task, and the join view
# refreshes from the side rows it has just written.
_JOBS_ONE_MAINTAINER = {
    "merge": 6, "scd2": 10, "join_view": 9, "corpus": 6, "ann": 8, "fold_stream": 3,
}


@pytest.mark.parametrize("name", sorted(_JOBS_BEFORE_MANIFEST))
def test_fold_and_read_start_no_inference_job(spark, tmp_path, name):
    fold, state, (b1, b2) = _maintainer(spark, name, tmp_path)
    fold(b1, 1)
    warm = _jobs(spark, lambda: fold(b2, 2))
    assert _jobs(spark, lambda: merge.read_state(spark, state)) == 0
    if name == "merge":
        assert warm <= _JOBS_BEFORE_MANIFEST[name]
    else:
        assert warm < _JOBS_BEFORE_MANIFEST[name]
    assert warm <= _JOBS_ONE_MAINTAINER[name]
    assert merge.read_state(spark, state).count() > 0


# the one place each rename may publish data: a write-once artifact
# build, the manifest fold's bucket versions and manifest, and the
# user-facing small-file compaction operator
_COMMIT_POINTS = {
    ("sources/artifact.py", "commit"),
    ("streaming/merge.py", "apply_bucketed_fold"),
    ("streaming/merge.py", "_commit"),
    ("sources/layout.py", "compact"),
}


def _renames(tree):
    """Top-level functions of a module that call ``os.rename``,
    ``os.replace`` or a ``.rename`` method (``Path.rename``)."""
    found = set()
    for top in tree.body:
        for node in ast.walk(top):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            f = node.func
            on_os = isinstance(f.value, ast.Name) and f.value.id == "os"
            if f.attr == "rename" or (on_os and f.attr == "replace"):
                found.add(getattr(top, "name", f"<module line {top.lineno}>"))
    return found


def test_state_is_published_only_through_the_commit_points():
    """No SparkSession: every rename in the package that publishes data
    sits in one of the commit points, so a crash test of those covers
    every build and fold."""
    pkg = Path(closure.ROOT) / closure.PKG
    found = {
        (path.relative_to(pkg).as_posix(), name)
        for path in sorted(pkg.rglob("*.py"))
        for name in _renames(ast.parse(path.read_text()))
    }
    assert found == _COMMIT_POINTS


def _stream_sinks(tree):
    """Top-level functions of a module that call
    ``<frame>.writeStream.foreachBatch(...)``."""
    found = []
    for top in tree.body:
        for node in ast.walk(top):
            f = getattr(node, "func", None)
            if (
                isinstance(node, ast.Call)
                and isinstance(f, ast.Attribute)
                and f.attr == "foreachBatch"
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "writeStream"
            ):
                found.append(getattr(top, "name", f"<module line {top.lineno}>"))
    return found


def test_every_stream_maintainer_runs_through_one_foreachbatch_sink():
    """No SparkSession: the package opens exactly one ``foreachBatch``
    sink, in ``delta.fold_stream``, so the merge, SCD2, doc-dedup,
    join-view and fold-stream maintainers share one drain, checkpoint
    and epoch commit."""
    pkg = Path(closure.ROOT) / closure.PKG
    found = [
        (path.relative_to(pkg).as_posix(), name)
        for path in sorted(pkg.rglob("*.py"))
        for name in _stream_sinks(ast.parse(path.read_text()))
    ]
    assert found == [("streaming/delta.py", "fold_stream")]


def test_join_view_crash_between_its_two_commits_resumes_exactly_once(
    spark, tmp_path, monkeypatch
):
    """A join-view epoch commits the view, then the side state. A crash
    between the two commits leaves the view one epoch ahead; the
    restarted drain replays the epoch, whose view fold is a no-op (its
    manifest exists) and whose side fold commits. The served view and
    side state then equal an uninterrupted drain's, and the view's
    files of the replayed epoch are the ones the first attempt wrote."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.streaming_checks import (
        _join_view,
    )

    src = ingest.write_envelope_files(spark, SF_SMOKE, str(tmp_path / "src"), None, n_files=4)
    run, clean = tmp_path / "run", tmp_path / "clean"
    real_commit = merge._commit

    def crash(state_dir, epoch_id, *a):
        if Path(state_dir) == run / "state" and epoch_id == 1:
            raise OSError("injected: crash between the view and side-state commits")
        return real_commit(state_dir, epoch_id, *a)

    with monkeypatch.context() as m:
        m.setattr(merge, "_commit", crash)
        with pytest.raises(Exception, match="injected"):
            _join_view(spark, src, run)
    assert [p.name for p in sorted((run / "view" / "_manifest").glob("*.json"))][-1] == (
        f"{1:09d}.json"
    )
    assert _manifest(run / "state", 0) and not (run / "state" / "_manifest" / f"{1:09d}.json").exists()
    view_files = _files(run / "view")

    served = _rows(_join_view(spark, src, run))
    assert _files(run / "view") == view_files
    assert served == _rows(_join_view(spark, src, clean)) and served
    assert _rows(merge.read_state(spark, str(run / "state"))) == _rows(
        merge.read_state(spark, str(clean / "state"))
    )
    for table in ("state", "view"):
        assert sorted(p.name for p in (run / table / "_manifest").glob("*.json")) == sorted(
            p.name for p in (clean / table / "_manifest").glob("*.json")
        )
    commits = [sorted(p.name for p in (d / "ckpt" / "commits").glob("[0-9]*")) for d in (run, clean)]
    assert commits[0] == commits[1] == ["0", "1"]
