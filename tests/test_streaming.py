"""Streaming semantics: stream-equals-batch, exactly-once dedupe, and
the stream folds' agreement with their batch queries."""

from __future__ import annotations

import contextlib
import json

import pytest
from pyspark.sql import functions as F

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark import registry
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import load_table
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import (
    alerts,
    delta,
    join_view as JV,
    merge,
)

from tests.conftest import SF_SMOKE

registry.load_all()


def _counts(df):
    return {
        (r["table_name"], r["operation"]): r["n"]
        for r in df.collect()
    }


def test_stream_matches_batch(spark):
    batch = registry.QUERIES["q_ops_by_table_op"](spark, SF_SMOKE)
    stream = registry.QUERIES["q_stream_ingest_counts"](spark, SF_SMOKE)
    assert _counts(stream) == _counts(batch)


def test_stream_dedupe_is_exactly_once(spark):
    batch = registry.QUERIES["q_ops_by_table_op"](spark, SF_SMOKE)
    deduped = registry.QUERIES["q_stream_dedupe"](spark, SF_SMOKE)
    assert _counts(deduped) == _counts(batch)


def test_stream_merge_equals_batch_replay(spark):
    """Final MERGEd state after out-of-order multi-batch replay must
    equal the batch last-writer-wins replay row-for-row."""
    import tempfile
    from pathlib import Path

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators import parse as P
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators.replay import (
        current_state,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import (
        envelopes_from_events,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest, merge

    base = Path(tempfile.gettempdir()) / "tidb_cdc_spark_stream" / "merge_check"
    src = ingest.write_envelope_files(spark, SF_SMOKE, str(base / "src"), None, n_files=8)
    merge.run_replay_stream(
        spark, src, str(base / "state"), str(base / "ckpt"), max_files_per_trigger=2
    )
    streamed = merge.live_state(merge.read_state(spark, str(base / "state")))

    typed = P.typed_rows(
        P.normalized_events(envelopes_from_events(load_table(spark, SF_SMOKE, "events")))
    )
    batch = current_state(
        typed, keys=merge.STATE_KEYS, order_by=merge.STATE_ORDER
    )

    def rows(df):
        return sorted(
            (r["table_name"], r["user_id"], str(r["value"]), str(r["ts"]))
            for r in df.select("table_name", "user_id", "value", "ts").collect()
        )

    assert rows(streamed) == rows(batch)


def test_windowed_agg_stream_matches_batch(spark):
    """W-operators as real streaming: tumbling-window counts computed
    by Structured Streaming over a replayed event log must equal the
    batch windowed aggregation (complete output mode — every window)."""
    import shutil
    import tempfile
    from pathlib import Path

    events = load_table(spark, SF_SMOKE, "events")
    work = Path(tempfile.gettempdir()) / "tidb_cdc_spark_stream" / "winagg_check"
    if work.exists():
        shutil.rmtree(work)
    events.write.mode("overwrite").parquet(str(work / "src"))

    stream = spark.readStream.schema(events.schema).parquet(str(work / "src"))
    q = (
        stream.groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .count()
        .writeStream.format("memory")
        .queryName("winagg_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["w"]["start"], r["event_type"]): r["count"]
        for r in spark.sql("SELECT * FROM winagg_stream").collect()
    }
    batch = {
        (r["w"]["start"], r["event_type"]): r["count"]
        for r in events.groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .count()
        .collect()
    }
    assert streamed == batch


def test_sustained_alert_stream_matches_batch(spark, tmp_path):
    """The streamed window counts equal the batch counts, and so do the
    alerts over them. sf0.001 spreads its events thinly (no three
    consecutive windows hold an error), so the alerts compare at one
    window and 1 ppm."""
    events = load_table(spark, SF_SMOKE, "events")
    # replay events as 4 files (2 micro-batches) through the streamed
    # window-count fold
    src = str(tmp_path / "src")
    events.repartition(4).write.parquet(src)
    counts = alerts.stream_window_counts(spark, src, events.schema, tmp_path / "work")
    assert sorted(tuple(r) for r in counts.collect()) == sorted(
        tuple(r) for r in alerts.window_counts(events).collect()
    )
    stream = sorted(
        tuple(r) for r in alerts.sustained_windows(counts, 1, 1).collect()
    )
    batch = sorted(tuple(r) for r in alerts.sustained_alerts(events, 1, 1).collect())
    assert stream == batch and len(batch) > 0


from pathlib import Path  # noqa: E402  (used by the bucket-layout tests)


def _typed_batch(spark, rows):
    """rows = [(table, user_id, op, value, ts_s, offset)] -> typed-row
    frame with the merge state schema."""
    return spark.createDataFrame(
        [(t, u, op, float(v), ts, o, 0) for (t, u, op, v, ts, o) in rows],
        "table_name string, user_id long, operation string, value double, "
        "ts_s string, offset long, rownum int",
    ).selectExpr(
        "table_name",
        "user_id",
        "operation",
        "cast(value as decimal(18,2)) as value",
        "cast(ts_s as timestamp) as ts",
        "offset",
        "rownum",
    )


def _bucket_files(state_dir):
    """{relative file path: bytes} for every committed bucket file."""
    out = {}
    for p in Path(state_dir).rglob("*"):
        if p.is_file() and "_stage" not in str(p) and "_manifest" not in str(p):
            out[str(p.relative_to(state_dir))] = p.read_bytes()
    return out


def _merge_sink(state, n_buckets=merge.N_STATE_BUCKETS):
    """The CDC merge maintainer's foreachBatch sink (q_stream_cdc_replay's
    fold) over the state at ``state``."""
    return delta.epoch_sink(state, merge.merge_state, merge.STATE_KEYS, n_buckets)


def _jv_sink(state, view):
    """The join-view maintainer's foreachBatch sink (q_stream_join_view's
    folds): the side state at ``state`` and its view at ``view``."""
    return delta.epoch_sink(
        state, merge.merge_state, ["user_id"], JV.VIEW_N_BUCKETS, JV.view_of(view)
    )


@pytest.mark.parametrize("domain", ["session", "one_partition"])
def test_merge_rewrites_only_touched_buckets(spark, domain):
    """Partition-pruned MERGE: a micro-batch whose keys hash into one
    bucket must leave every other bucket's files byte-identical (same
    paths, same contents) — per-batch state I/O is bounded by the
    batch's key spread, not total state size. The layout must not
    depend on the shuffle domain: a 1-partition domain writes every
    touched bucket from one task, still one version dir per bucket."""
    import tempfile

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.plans.scale import (
        scoped_shuffle_partitions,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import merge

    def scope():
        if domain == "session":
            return contextlib.nullcontext()
        return scoped_shuffle_partitions(spark, 1)

    state = str(Path(tempfile.mkdtemp()) / "state")
    batch1 = _typed_batch(
        spark,
        [("t", u, "insert", u * 10, f"2024-01-01 00:00:{u:02d}", u) for u in range(12)],
    )
    with scope():
        _merge_sink(state, 8)(batch1, 1)
    before = _bucket_files(state)
    assert before, "batch1 wrote no state"
    # one version dir per touched bucket, one data file in each
    for bdir in Path(state).glob("b*"):
        assert [v.name for v in bdir.iterdir()] == ["v000000001"]
        assert len(list((bdir / "v000000001").glob("part-*.parquet"))) == 1

    batch2 = _typed_batch(spark, [("t", 3, "update", 999, "2024-01-01 00:01:00", 100)])
    b3 = batch2.select(merge.bucket_of(n_buckets=8).alias("b")).collect()[0]["b"]
    with scope():
        _merge_sink(state, 8)(batch2, 2)
    after = _bucket_files(state)

    untouched_before = {p: c for p, c in before.items() if not p.startswith(f"b{b3:04d}/")}
    untouched_after = {p: c for p, c in after.items() if not p.startswith(f"b{b3:04d}/")}
    assert untouched_before == untouched_after
    # ... and the touched bucket did advance to a new version
    assert any(p.startswith(f"b{b3:04d}/v000000002") for p in after)
    # final state is still the correct LWW fold
    got = {
        r["user_id"]: int(r["value"])
        for r in merge.live_state(merge.read_state(spark, state)).collect()
    }
    assert got == {u: (999 if u == 3 else u * 10) for u in range(12)}


def _offset_log_partitions(ckpt) -> set[str]:
    """``spark.sql.shuffle.partitions`` recorded by every batch of a
    checkpoint's offset log."""
    out = set()
    for f in (Path(ckpt) / "offsets").iterdir():
        if f.name.isdigit():
            meta = json.loads(f.read_text().splitlines()[1])
            out.add(meta["conf"]["spark.sql.shuffle.partitions"])
    return out


def _merge_equals_batch_replay(spark, src, state_dir):
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators import parse as P
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators.replay import (
        current_state,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest, merge

    raw = spark.read.schema(ingest.SOURCE_SCHEMA).json(str(src))
    want = current_state(
        P.typed_rows(P.normalized_events(raw)),
        keys=merge.STATE_KEYS,
        order_by=merge.STATE_ORDER,
    )

    def rows(df):
        return sorted(
            (r["table_name"], r["user_id"], str(r["value"]), str(r["ts"]))
            for r in df.select("table_name", "user_id", "value", "ts").collect()
        )

    got = merge.live_state(merge.read_state(spark, str(state_dir)))
    return rows(got) == rows(want) and len(rows(want)) > 0


def test_kb_drain_pins_one_partition_in_both_consumer_checkpoints(spark, tmp_path):
    """The ingest and merge consumers size their shuffle domain from
    the micro-batch bound: a KB-scale backlog runs in ONE partition
    (one dedupe state store, one sink write task), and the offset log
    records that count for every later trigger."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest, merge

    src = ingest.write_envelope_files(spark, SF_SMOKE, str(tmp_path / "src"), None, n_files=4)
    ingest.run_ingest(spark, src, str(tmp_path / "sink"), str(tmp_path / "ckpt_i"))
    merge.run_replay_stream(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt_m"),
        max_files_per_trigger=2,
    )
    assert _offset_log_partitions(tmp_path / "ckpt_i") == {"1"}
    assert _offset_log_partitions(tmp_path / "ckpt_m") == {"1"}
    assert [p.name for p in (tmp_path / "ckpt_i" / "state" / "0").iterdir()
            if p.name.isdigit()] == ["0"]
    assert _merge_equals_batch_replay(spark, src, tmp_path / "state")


_TRANSITIONS_SCHEMA = "user_id bigint, event_id bigint, ts timestamp, event_type string"


def _transition_counts(spark, src, schema, workdir):
    """The q_stream_transitions maintainer over ``src``: served
    (from_type, to_type, n) rows with n > 0."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.profiling import (
        stream_transition_counts,
    )

    return stream_transition_counts(spark, str(src), schema, workdir)


def _delta_epochs(spark, src, workdir):
    """Drain ``src`` through the retraction fold (the registered
    q_stream_delta_agg maintainer) into the state at
    ``<workdir>/state`` and return the served totals, sorted."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.corpus_ops import (
        _streamed_delta_totals,
    )

    return sorted(
        (r["table_name"], r["net_rows"], r["net_sum_micro"])
        for r in _streamed_delta_totals(spark, src, workdir).collect()
    )


def _batch_delta_totals(spark, src):
    """The retraction totals of every envelope at ``src`` in one batch."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators import parse as P
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators.replay import (
        retraction_totals,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.corpus_ops import (
        _delta_totals,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest

    raw = spark.read.schema(ingest.SOURCE_SCHEMA).json(str(src))
    return sorted(
        (r["table_name"], r["net_rows"], r["net_sum_micro"])
        for r in _delta_totals(
            retraction_totals(P.typed_rows(P.normalized_events(raw)))
        ).collect()
    )


def _manifest_names(state_dir):
    return sorted(p.name for p in (Path(state_dir) / "_manifest").glob("*.json"))


@pytest.mark.parametrize("consumer", ["merge", "transitions"])
def test_checkpoint_from_eight_partitions_resumes(
    spark, tmp_path, monkeypatch, consumer
):
    """A checkpoint created under the old fixed 8-partition domain keeps
    its count when resumed by the data-sized code (Spark reads it back
    from the offset log), folds the new files in, and serves the same
    answer: the batch last-writer-wins replay for the merge fold, a
    one-shot drain of the whole source for the transitions history
    fold."""
    import shutil

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import (
        ingest,
        merge,
    )

    if consumer == "merge":
        landing = Path(ingest.envelope_files(spark, SF_SMOKE, None, n_files=4))

        def run(src, base):
            merge.run_replay_stream(
                spark, str(src), str(base / "state"), str(base / "ckpt"),
                max_files_per_trigger=1, fresh=False,
            )

        def served(src, base):
            return _merge_equals_batch_replay(spark, src, base / "state")
    else:
        landing = tmp_path / "landing"
        load_table(spark, SF_SMOKE, "events").select(
            "user_id", "event_id", "ts", "event_type"
        ).repartition(4).write.parquet(str(landing))

        def run(src, base):
            return sorted(
                tuple(r)
                for r in _transition_counts(
                    spark, src, _TRANSITIONS_SCHEMA, base
                ).collect()
            )

        want = run(landing, tmp_path / "one_shot")

        def served(src, base):
            return run(src, base) == want and len(want) > 0

    files = sorted(p for p in landing.iterdir() if p.name.startswith("part-"))
    assert len(files) == 4
    src = tmp_path / "src"
    src.mkdir()
    for p in files[:2]:
        shutil.copy(p, src / p.name)
    with monkeypatch.context() as m:
        m.setattr(ingest, "stream_domain", lambda *a: 8)
        run(src, tmp_path)
    assert _offset_log_partitions(tmp_path / "ckpt") == {"8"}
    for p in files[2:]:
        shutil.copy(p, src / p.name)
    run(src, tmp_path)
    assert _offset_log_partitions(tmp_path / "ckpt") == {"8"}
    assert len(list((tmp_path / "ckpt" / "commits").glob("[0-9]*"))) == 4
    assert served(src, tmp_path)


@pytest.mark.parametrize("consumer", ["dq", "funnel", "stream_stream_join"])
def test_moved_drains_record_the_data_sized_domain(
    spark, tmp_path, monkeypatch, consumer
):
    """Every file-source stream starts through ``ingest.drain``, which
    sizes the shuffle domain from the stream's read bound: over a KB
    source a stateless foreachBatch fold, the funnel's history fold
    and the two-sided stream-stream join each record ONE partition in
    their offset log instead of a fixed count."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import (
        delta,
        dq,
        ingest,
    )

    events = load_table(spark, SF_SMOKE, "events")
    src = str(tmp_path / "src")
    events.repartition(3).write.parquet(src)
    if consumer == "dq":
        from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.profiling import (
            STREAM_DQ_CHECKS,
        )

        delta.partial_stream(
            spark, src, events.schema, tmp_path,
            dq.violation_counts(STREAM_DQ_CHECKS),
            lambda df: delta.fold_generic(df, ["check_id"], ["violations"]),
        )
        ckpt = tmp_path / "ckpt"
    elif consumer == "funnel":
        monkeypatch.setattr(ingest, "resumable_workdir", lambda *a: tmp_path / "funnel")
        assert registry.QUERIES["q_stream_funnel"](spark, SF_SMOKE).count() == 3
        ckpt = tmp_path / "funnel" / "ckpt"
    else:
        monkeypatch.setattr(ingest, "resumable_workdir", lambda *a: tmp_path / "ssjoin")
        assert registry.QUERIES["q_stream_stream_join"](spark, SF_SMOKE).count() > 0
        ckpt = tmp_path / "ssjoin" / "ckpt"
    assert _offset_log_partitions(ckpt) == {"1"}


def test_ingest_dedupe_state_is_evicted_by_watermark(spark, tmp_path):
    """The ingest dedupe keys on ``ts`` too, so its 1-hour watermark
    evicts state: with event time jumping 2 h per file, the state
    store holds only the newest file's keys instead of every key ever
    seen, and the sink still holds every row exactly once."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators import parse as P
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import (
        envelopes_from_events,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest

    n_files, per_file = 4, 100
    events = spark.range(n_files * per_file).selectExpr(
        "id AS event_id",
        f"timestamp_seconds(1704067200 + (id div {per_file}) * 7200 + id % {per_file}) AS ts",
        "id % 7 AS user_id",
        "'click' AS event_type",
        "CAST(id AS DOUBLE) AS value",
        "'{}' AS props",
    )
    env = envelopes_from_events(events).orderBy("offset").collect()
    src = tmp_path / "src"
    src.mkdir()
    state_rows = []
    for k in range(n_files):
        chunk = env[k * per_file : (k + 1) * per_file]
        (src / f"part-{k:05d}.json").write_text(
            "".join(json.dumps(r.asDict()) + "\n" for r in chunk)
        )
        ingest.run_ingest(
            spark, str(src), str(tmp_path / "sink"), str(tmp_path / "ckpt"),
            fresh=k == 0,
        )
        state_rows.append(spark.read.format("statestore").load(str(tmp_path / "ckpt")).count())

    raw = spark.read.schema(ingest.SOURCE_SCHEMA).json(str(src))
    n_rows = P.normalized_events(raw).count()
    assert spark.read.parquet(str(tmp_path / "sink")).count() == n_rows
    # without eviction the store grows by one file's keys per drain;
    # with it, each drain's no-data batch leaves only the newest file's
    assert 0 < state_rows[-1] <= state_rows[0] < n_rows, state_rows


def test_delta_partials_compaction_preserves_totals(spark, tmp_path):
    """A10 fold: folding each epoch's retraction partial into the
    manifest-committed state preserves the totals — the served state
    over several micro-batches equals the batch fold of every event,
    at most two manifests stay — and a replay of the committed epoch
    (Spark's retry after a crash before its checkpoint commit) is a
    no-op, even when handed other rows."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators import parse as P
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators.replay import (
        retraction_totals,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.corpus_ops import (
        _delta_totals,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import delta, ingest

    src = ingest.write_envelope_files(spark, SF_SMOKE, str(tmp_path / "src"), None, n_files=4)
    served = _delta_epochs(spark, src, tmp_path)
    assert served == _batch_delta_totals(spark, src) and served
    # multiple micro-batches actually ran, and only two manifests remain
    assert len(list((tmp_path / "ckpt" / "commits").glob("[0-9]*"))) >= 2
    manifests = _manifest_names(tmp_path / "state")
    assert len(manifests) == 2, manifests

    sink = delta.epoch_sink(
        tmp_path / "state",
        delta.partial_fold(lambda b: retraction_totals(P.typed_rows(b)), _delta_totals),
    )
    raw = spark.read.schema(ingest.SOURCE_SCHEMA).json(src)
    sink(P.normalized_events(raw), int(manifests[-1].split(".")[0]))  # the replay
    assert _manifest_names(tmp_path / "state") == manifests
    assert _delta_epochs(spark, src, tmp_path) == served


def test_tombstone_gc_drops_expired_without_resurrection(spark):
    """Replay-horizon tombstone expiry: once the watermark passes
    ts(delete) + horizon, the tombstone is physically dropped from any
    bucket the next batch rewrites — and the deleted key stays deleted,
    because no event older than the horizon can arrive."""
    import tempfile

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import merge

    horizon = 60_000  # 1 minute
    state = str(Path(tempfile.mkdtemp()) / "state")
    # one bucket for everything: all keys rewrite together
    batch1 = _typed_batch(
        spark,
        [
            ("t", 1, "insert", 10, "2024-01-01 00:00:00", 0),
            ("t", 1, "delete", 10, "2024-01-01 00:00:01", 1),
            ("t", 2, "insert", 20, "2024-01-01 00:00:02", 2),
        ],
    )
    def expiring(existing, batch):
        # the watermark is the batch's newest event time
        wm = batch.agg(F.max(F.unix_millis("ts"))).collect()[0][0]
        return merge.merge_state(
            existing, batch, tombstone_horizon_ms=horizon, watermark_ms=wm
        )

    sink = delta.epoch_sink(state, expiring)  # one bucket
    sink(batch1, 1)
    # tombstone still within horizon: retained
    ops1 = {
        (r["user_id"], r["operation"])
        for r in merge.read_state(spark, state).collect()
    }
    assert (1, "delete") in ops1

    # watermark advances past ts(delete) + horizon -> tombstone expires
    batch2 = _typed_batch(spark, [("t", 2, "update", 21, "2024-01-01 00:02:30", 3)])
    sink(batch2, 2)
    final = merge.read_state(spark, state)
    ops2 = {(r["user_id"], r["operation"]) for r in final.collect()}
    assert (1, "delete") not in ops2  # physically gone
    got = {
        r["user_id"]: int(r["value"]) for r in merge.live_state(final).collect()
    }
    assert got == {2: 21}  # key 1 deleted, not resurrected


def test_rules_as_data_evaluator_matches_specialized_operator(spark):
    """W7 generalized: the rules-as-data evaluator restricted to the
    error-rate rule must reproduce sustained_alerts exactly, and an
    absence rule must fire on a crafted event gap (the liveness
    semantics the hardcoded operator cannot express)."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import load_table
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import alerts

    events = load_table(spark, SF_SMOKE, "events")
    rules = [
        {
            "name": "error_rate",
            "metric": "error_ppm",
            "op": ">=",
            "threshold": 1,
            "for_windows": alerts.DEFAULT_FOR_WINDOWS,
        },
        {
            "name": "liveness",
            "metric": "n_total",
            "op": "<=",
            "threshold": 0,
            "for_windows": 2,
        },
    ]
    got = alerts.evaluate_rules(events, rules)
    specialized = {
        (r["window_start"], r["error_ppm"], r["streak"])
        for r in alerts.sustained_alerts(events, threshold_ppm=1).collect()
    }
    generic = {
        (r["window_start"], r["value"], r["streak"])
        for r in got.filter(F.col("rule") == "error_rate").collect()
    }
    assert generic == specialized

    # liveness ground truth, recomputed independently in python:
    # every grid window with zero events whose silent streak >= 2
    wms = alerts.WINDOW_MS
    occupied = {
        r[0]
        for r in events.select(
            (F.unix_millis("ts") - F.unix_millis("ts") % wms).alias("w")
        )
        .distinct()
        .collect()
    }
    lo, hi = min(occupied), max(occupied)
    expected = set()
    streak = 0
    for w in range(lo, hi + wms, wms):
        streak = streak + 1 if w not in occupied else 0
        if streak >= 2:
            expected.add(w)
    fired = {
        int(r["window_start"].timestamp() * 1000)
        for r in got.filter(F.col("rule") == "liveness").collect()
    }
    assert fired == expected
    assert all(
        r["value"] == 0
        for r in got.filter(F.col("rule") == "liveness").collect()
    )


def test_stateful_stream_under_rocksdb_provider(spark, tmp_path):
    """The 100 TB state posture (plans/scale.py::streaming_conf): the
    same watermarked stateful query produces the identical result set
    under the RocksDB state store provider as under the default
    provider — provider choice is an ops decision, never a semantics
    one. Runs a real availableNow dropDuplicates stream twice."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.plans import scale

    conf = scale.streaming_conf()
    assert "RocksDBStateStoreProvider" in conf[
        "spark.sql.streaming.stateStore.providerClass"
    ]

    src = str(tmp_path / "src")
    spark.range(0, 1000).selectExpr(
        "id % 100 AS k", "CAST(id AS STRING) AS payload"
    ).repartition(4).write.mode("overwrite").json(src)

    def run(provider: str | None, tag: str):
        key = "spark.sql.streaming.stateStore.providerClass"
        old = spark.conf.get(key, None)
        if provider:
            spark.conf.set(key, provider)
        try:
            stream = spark.readStream.schema("k long, payload string").option(
                "maxFilesPerTrigger", 1
            ).json(src)
            out = str(tmp_path / f"sink_{tag}")
            q = (
                stream.dropDuplicates(["k"])
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return {
                r["k"] for r in spark.read.parquet(out).select("k").collect()
            }
        finally:
            if old is not None:
                spark.conf.set(key, old)
            elif provider:
                spark.conf.unset(key)

    default_keys = run(None, "default")
    rocksdb_keys = run(conf["spark.sql.streaming.stateStore.providerClass"], "rocks")
    assert rocksdb_keys == default_keys == set(range(100))


def test_stream_dq_retry_idempotent_and_refuses_nonrow_kinds(spark, tmp_path):
    """Streaming DQ: a retried micro-batch folds into the state once
    (the sink called twice with one epoch commits once, so totals never
    double-count), and non-sum-decomposable kinds are refused up
    front."""
    import pytest as _pytest

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import (
        delta as D,
        dq as SDQ,
    )

    def fold(df):
        return D.fold_generic(df, ["check_id"], ["violations"])

    src = str(tmp_path / "src")
    spark.range(0, 100).selectExpr(
        "id", "CASE WHEN id % 10 = 0 THEN NULL ELSE 'v' END AS s"
    ).repartition(4).write.mode("overwrite").parquet(src)
    checks = [{"id": "nn_s", "table": "t", "kind": "not_null", "column": "s"}]
    before = D.partial_stream(
        spark, src, "id long, s string", tmp_path,
        SDQ.violation_counts(checks), fold, max_files=1,
    ).collect()
    assert {r["check_id"]: r["violations"] for r in before} == {"nn_s": 10}
    # simulate a micro-batch RETRY: the whole source once more, twice
    # under one new epoch
    epoch = int(_manifest_names(tmp_path / "state")[-1].split(".")[0]) + 1
    sink = D.epoch_sink(
        tmp_path / "state", D.partial_fold(SDQ.violation_counts(checks), fold)
    )
    for _ in range(2):
        sink(spark.read.parquet(src), epoch)
    again = merge.read_state(spark, str(tmp_path / "state")).collect()
    assert {r["check_id"]: r["violations"] for r in again} == {"nn_s": 20}

    with _pytest.raises(ValueError, match="not decomposable"):
        D.partial_stream(
            spark, src, "id long, s string", tmp_path / "w2",
            SDQ.violation_counts(
                [{"id": "u", "table": "t", "kind": "unique", "columns": ["id"]}]
            ),
            fold,
        )


def _jv_batch(spark, rows):
    """rows = [(table, user_id, op, row_id, value, ts_s, offset)] ->
    typed-row frame with the join-view maintainer's schema."""
    return spark.createDataFrame(
        [
            (t, u, op, r, float(v), ts, o, 0)
            for (t, u, op, r, v, ts, o) in rows
        ],
        "table_name string, user_id long, operation string, row_id long, "
        "value double, ts_s string, offset long, rownum int",
    ).selectExpr(
        "table_name",
        "user_id",
        "operation",
        "row_id",
        "value",
        "cast(ts_s as timestamp) as ts",
        "offset",
        "rownum",
    )


def test_join_view_maintained_through_updates_and_deletes(spark):
    """The maintained view must track inserts, updates AND deletes on
    either side without retraction machinery — a refreshed bucket is a
    pure function of current side state."""
    import tempfile

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import join_view as JV

    base = Path(tempfile.mkdtemp())
    state, view = str(base / "state"), str(base / "view")

    b1 = _jv_batch(
        spark,
        [("click", u, "insert", 100 + u, 10.0 + u, f"2024-01-01 00:00:{u:02d}", u) for u in range(6)]
        + [("purchase", u, "insert", 200 + u, 50.0 + u, f"2024-01-01 00:00:{u:02d}", 50 + u) for u in (1, 3, 5)],
    )
    _jv_sink(state, view)(b1, 1)
    v1 = {r["user_id"]: r for r in merge.read_state(spark, view).collect()}
    assert set(v1) == {1, 3, 5}
    assert v1[3]["left_value_cents"] == 1300 and v1[3]["right_value_cents"] == 5300

    # update the click side of user 3, delete the purchase of user 5,
    # insert a purchase for user 0
    b2 = _jv_batch(
        spark,
        [
            ("click", 3, "update", 103, 99.0, "2024-01-01 00:01:00", 100),
            ("purchase", 5, "delete", 205, 55.0, "2024-01-01 00:01:01", 101),
            ("purchase", 0, "insert", 300, 77.0, "2024-01-01 00:01:02", 102),
        ],
    )
    _jv_sink(state, view)(b2, 2)
    v2 = {r["user_id"]: r for r in merge.read_state(spark, view).collect()}
    assert set(v2) == {0, 1, 3}, "delete must drop the pair, insert must add it"
    assert v2[3]["left_value_cents"] == 9900, "update must propagate into the view"
    assert v2[0]["right_value_cents"] == 7700


def test_join_view_refresh_rewrites_only_touched_buckets(spark):
    """A batch touching one user's bucket must leave every other VIEW
    bucket byte-identical: the refresh is partition-pruned end to end
    (state read AND view write)."""
    import tempfile

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import join_view as JV
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import merge

    base = Path(tempfile.mkdtemp())
    state, view = str(base / "state"), str(base / "view")

    b1 = _jv_batch(
        spark,
        [("click", u, "insert", u, 1.0, f"2024-01-01 00:00:{u:02d}", u) for u in range(12)]
        + [("purchase", u, "insert", 50 + u, 2.0, f"2024-01-01 00:00:{u:02d}", 50 + u) for u in range(12)],
    )
    _jv_sink(state, view)(b1, 1)
    before = _bucket_files(view)
    assert before

    b2 = _jv_batch(spark, [("click", 7, "update", 7, 9.0, "2024-01-01 00:01:00", 999)])
    b7 = b2.select(
        merge.bucket_of(["user_id"], JV.VIEW_N_BUCKETS).alias("b")
    ).collect()[0]["b"]
    _jv_sink(state, view)(b2, 2)
    after = _bucket_files(view)

    untouched_b = {p: c for p, c in before.items() if not p.startswith(f"b{b7:04d}/")}
    untouched_a = {p: c for p, c in after.items() if not p.startswith(f"b{b7:04d}/")}
    assert untouched_b == untouched_a
    assert any(p.startswith(f"b{b7:04d}/v000000002") for p in after)
    got = {r["user_id"]: r["left_value_cents"] for r in merge.read_state(spark, view).collect()}
    assert got[7] == 900 and got[0] == 100


def test_join_view_invariant_to_batch_boundaries(spark):
    """Replaying the same rows in 1 batch vs 3 batches must converge to
    the identical view (merge is total-ordered; refresh is a pure
    function of state)."""
    import tempfile

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import join_view as JV

    rows = (
        [("click", u, "insert", u, 5.0 + u, f"2024-01-01 00:00:{u:02d}", u) for u in range(8)]
        + [("purchase", u, "insert", 80 + u, 6.0 + u, f"2024-01-01 00:00:{30+u:02d}", 80 + u) for u in range(0, 8, 2)]
        + [("click", 2, "update", 2, 42.0, "2024-01-01 00:02:00", 200),
           ("purchase", 4, "delete", 84, 10.0, "2024-01-01 00:02:01", 201)]
    )

    def run(chunks):
        base = Path(tempfile.mkdtemp())
        state, view = str(base / "state"), str(base / "view")
        for i, chunk in enumerate(chunks, start=1):
            _jv_sink(state, view)(_jv_batch(spark, chunk), i)
        return sorted(
            tuple(r) for r in merge.read_state(spark, view).collect()
        )

    one = run([rows])
    # out-of-order split: the late update/delete epoch lands first
    three = run([rows[10:], rows[:5], rows[5:10]])
    assert one == three and len(one) > 0


def _funnel_events(spark, rows):
    """rows = [(event_id, user_id, event_type, ms)] -> event rows."""
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ms long"
    ).select(
        "event_id", F.timestamp_millis("ms").alias("ts"), "user_id", "event_type"
    )


def _served_funnel(spark, monkeypatch, src, workdir):
    """q_stream_funnel's served {stage: n_users} over the files at ``src``."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import artifact
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest

    monkeypatch.setattr(artifact, "materialized_path", lambda *a: str(src))
    monkeypatch.setattr(ingest, "resumable_workdir", lambda *a: workdir)
    rows = registry.QUERIES["q_stream_funnel"](spark, SF_SMOKE).collect()
    return {r["stage"]: (r["n_users"], r["conv_ppm"]) for r in rows}


def test_funnel_state_requalifies_on_late_earlier_view(spark, tmp_path, monkeypatch):
    """The funnel's strictly-after semantics are non-monotone: a late
    EARLIER view must requalify an old click, and that a purchase.
    Two files, the late views landing second: after the first file no
    user has a stage past the view; after the second the served stages
    equal the batch q_funnel_stages over the same rows."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries import metrics

    first = [
        (1, 1, "click", 10), (2, 1, "purchase", 20),  # no view yet
        (3, 2, "view", 15), (4, 2, "click", 10), (5, 2, "purchase", 20),
    ]
    # user 1's view@5 and user 2's earlier view@3 qualify both clicks
    second = [(6, 1, "view", 5), (7, 2, "view", 3)]
    src = tmp_path / "src"
    _funnel_events(spark, first).coalesce(1).write.parquet(str(src))
    served = _served_funnel(spark, monkeypatch, src, tmp_path / "work")
    assert {k: n for k, (n, _) in served.items()} == {
        "1_view": 1, "2_click": 0, "3_purchase": 0
    }
    _funnel_events(spark, second).coalesce(1).write.mode("append").parquet(str(src))
    served = _served_funnel(spark, monkeypatch, src, tmp_path / "work")
    batch = metrics.funnel_report(
        metrics.funnel_stage_counts(_funnel_events(spark, first + second))
    )
    assert served == {r["stage"]: (r["n_users"], r["conv_ppm"]) for r in batch.collect()}
    assert served["3_purchase"][0] == 2


def test_stream_funnel_matches_batch(spark):
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark import registry

    registry.load_all()
    got = {
        r["stage"]: (r["n_users"], r["conv_ppm"])
        for r in registry.QUERIES["q_stream_funnel"](spark, SF_SMOKE).collect()
    }
    want = {
        r["stage"]: (r["n_users"], r["conv_ppm"])
        for r in registry.QUERIES["q_funnel_stages"](spark, SF_SMOKE).collect()
    }
    assert got == want and len(want) == 3


def test_join_view_retry_idempotent(spark):
    """foreachBatch may retry an epoch: re-applying the same batch with
    the same epoch_id must leave state AND view byte-identical in
    content (the copy-on-write fold overwrites its own version)."""
    import tempfile

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import join_view as JV

    base = Path(tempfile.mkdtemp())
    state, view = str(base / "state"), str(base / "view")
    b1 = _jv_batch(
        spark,
        [("click", u, "insert", u, 1.0 + u, f"2024-01-01 00:00:{u:02d}", u) for u in range(5)]
        + [("purchase", u, "insert", 50 + u, 9.0, f"2024-01-01 00:00:{u:02d}", 50 + u) for u in (0, 2)],
    )
    _jv_sink(state, view)(b1, 1)
    first = sorted(tuple(r) for r in merge.read_state(spark, view).collect())
    _jv_sink(state, view)(b1, 1)  # retry
    again = sorted(tuple(r) for r in merge.read_state(spark, view).collect())
    assert first == again and len(first) == 2


def test_join_view_bounded_io_under_zipf_skew(spark):
    """Skew stress (r5 verdict item 7): a real 100 TB corpus has
    Zipf-distributed keys, so plant one — hot user 0 owns half of all
    events, a ~50-user tail shares the rest — and prove the join-view
    maintainer's two scale claims hold under it: (1) the final view is
    still exactly the batch join of the final side states (skew never
    bends correctness), and (2) a micro-batch touching only the hot
    key rewrites exactly ONE state bucket and ONE view bucket, every
    other bucket byte-identical — per-batch I/O is bounded by the
    batch's key spread even when one key dominates the corpus."""
    import tempfile

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import join_view as JV
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import merge

    base = Path(tempfile.mkdtemp())
    state, view = str(base / "state"), str(base / "view")

    # zipf-ish planting: even event index -> the hot user, odd spreads
    # over a 53-user tail; alternating click/purchase rows
    rows = []
    for i in range(120):
        u = 0 if i % 2 == 0 else (i % 53) + 1
        t = "click" if i % 3 else "purchase"
        rows.append(
            (t, u, "insert", 1000 + i, float(i), f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}", i)
        )
    _jv_sink(state, view)(_jv_batch(spark, rows), 1)
    view_before, state_before = _bucket_files(view), _bucket_files(state)
    assert view_before and state_before

    # hot-key-only follow-up batch
    b2 = _jv_batch(
        spark, [("click", 0, "update", 1000, 777.0, "2024-01-01 01:00:00", 999)]
    )
    hot_b = b2.select(
        merge.bucket_of(["user_id"], JV.VIEW_N_BUCKETS).alias("b")
    ).collect()[0]["b"]
    _jv_sink(state, view)(b2, 2)
    view_after, state_after = _bucket_files(view), _bucket_files(state)

    for files_before, files_after in (
        (view_before, view_after),
        (state_before, state_after),
    ):
        untouched_b = {
            p: c for p, c in files_before.items() if not p.startswith(f"b{hot_b:04d}/")
        }
        untouched_a = {
            p: c for p, c in files_after.items() if not p.startswith(f"b{hot_b:04d}/")
        }
        assert untouched_b == untouched_a, "skewed batch widened its I/O"
    assert any(p.startswith(f"b{hot_b:04d}/v000000002") for p in view_after)

    # correctness under the skew: view == batch join of final states
    latest = {}
    for i, (t, u, op, rid, v, ts, off) in enumerate(
        rows + [("click", 0, "update", 1000, 777.0, "2024-01-01 01:00:00", 999)]
    ):
        latest[(t, u)] = (op, rid, v, ts, off)
    expected = {}
    for u in {u for (_, u) in latest}:
        lft = latest.get(("click", u))
        rgt = latest.get(("purchase", u))
        if lft and rgt and lft[0] != "delete" and rgt[0] != "delete":
            expected[u] = (
                lft[1],
                int(lft[2] * 100 + 0.5),
                rgt[1],
                int(rgt[2] * 100 + 0.5),
            )
    got = {
        r["user_id"]: (
            r["left_row_id"],
            r["left_value_cents"],
            r["right_row_id"],
            r["right_value_cents"],
        )
        for r in merge.read_state(spark, view).collect()
    }
    assert got == expected


def test_funnel_under_zipf_skew_matches_batch(spark, tmp_path, monkeypatch):
    """Skew stress for the funnel history fold: one hot user owns half
    of all events (a long per-user history — the state the hot key of
    a real corpus accumulates), a light tail the rest, delivered in 3
    out-of-order micro-batches. The streamed stage counts must equal
    the per-user earliest-qualifying derivation over the same rows,
    regardless of how much of the stream one key owns or how its
    events interleave."""
    types = ("view", "click", "purchase")
    rows = []
    for i in range(180):
        u = 0 if i % 2 == 0 else (i % 31) + 1
        # deliberately non-monotone times so late batches requalify
        rows.append((i, u, types[i % 3], ((i * 37) % 180) * 1000))
    src = str(tmp_path / "skew_src")
    # 3 interleaved files = 3 out-of-order micro-batches
    _funnel_events(spark, rows).withColumn("_f", F.col("event_id") % 3).repartition(
        3, "_f"
    ).drop("_f").write.mode("overwrite").parquet(src)
    got = {
        k: n
        for k, (n, _) in _served_funnel(spark, monkeypatch, src, tmp_path / "w").items()
    }

    # reference: per-user earliest-qualifying recomputation
    hist: dict = {}
    for (_, u, et, ms) in rows:
        hist.setdefault(u, {t: [] for t in types})[et].append(ms)
    v_n = c_n = p_n = 0
    for h in hist.values():
        v = min(h["view"], default=-1)
        c = min((t for t in h["click"] if v != -1 and t > v), default=-1)
        p = min((t for t in h["purchase"] if c != -1 and t > c), default=-1)
        v_n += v >= 0
        c_n += c >= 0
        p_n += p >= 0
    assert got == {"1_view": v_n, "2_click": c_n, "3_purchase": p_n}
    # the hot user really is hot: half the events, full funnel
    assert sum(len(ts) for ts in hist[0].values()) == 90


def test_resumable_workdir_rotates_on_landing_and_maintainer(tmp_path):
    """The resumable checkpoint scaffold is keyed by (landing path,
    maintainer code): same inputs resolve to the same dir (that is
    what makes resume possible), while another landing dir (another
    source fingerprint or artifact root) or another maintainer rotates
    to a fresh dir, so a checkpoint never resumes over files it did
    not record and stale state can never serve a rewritten fold."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries import streaming_checks as SC
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming.ingest import resumable_workdir

    landing = str(tmp_path / "landing_a")
    a = resumable_workdir(landing, SC.q_stream_cdc_replay)
    b = resumable_workdir(landing, SC.q_stream_cdc_replay)
    assert a == b, "same key must resolve to the same workdir"
    assert a.name.startswith("q_stream_cdc_replay_")
    assert a != resumable_workdir(str(tmp_path / "landing_b"), SC.q_stream_cdc_replay)
    assert a != resumable_workdir(landing, SC.q_stream_join_view)
    assert a != resumable_workdir(landing, SC.q_stream_cdc_replay, 2)


def test_doc_dedup_resumes_under_another_artifact_root(spark, tmp_path, monkeypatch):
    """A resumable workdir follows the landing its checkpoint reads.
    q_stream_doc_dedup run under artifact root A, then under root B,
    with one shared stream root, gets one workdir per landing, and both
    calls serve the same rows. Keyed by the source table alone, the
    second call resumed A's checkpoint over B's files and failed with
    ``Wrong basePath``."""
    import shutil

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import artifact
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest

    # a private copy of the source gives a fingerprint no earlier run used
    sf = tmp_path / "sf0.001"
    sf.mkdir()
    shutil.copy(Path(SF_SMOKE) / "documents.parquet", sf / "documents.parquet")
    stream_root = ingest.stream_workdir(str(sf), "probe").parent
    stream_root.mkdir(parents=True, exist_ok=True)
    before = {p.name for p in stream_root.iterdir()}
    rows = []
    try:
        for root in ("a", "b"):
            monkeypatch.setenv(artifact.ARTIFACT_ROOT_ENV, str(tmp_path / root))
            q = registry.QUERIES["q_stream_doc_dedup"](spark, str(sf))
            rows.append(sorted(q.collect()))
    finally:
        new = {p.name for p in stream_root.iterdir()} - before
        for name in new:
            if "dedup" in name:
                shutil.rmtree(stream_root / name, ignore_errors=True)
    assert rows[0], "the dedup stream served no rows"
    assert rows[0] == rows[1]
    assert len([n for n in new if "dedup" in n]) == 2, new


def test_replay_stream_resume_equals_fresh_drain(spark, tmp_path):
    """fresh=False resume semantics: a second drain over an
    already-consumed backlog must be a no-op that serves the identical
    state a single fresh drain produces — and must NOT re-fold the
    backlog (double-merging would double version chains, not counts,
    so compare full state content, not just counts)."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import (
        ingest as I,
        merge,
    )

    src = I.envelope_files(spark, SF_SMOKE, None, n_files=4)

    fresh_base = tmp_path / "fresh"
    merge.run_replay_stream(
        spark, src, str(fresh_base / "state"), str(fresh_base / "ckpt")
    )
    want = sorted(
        tuple(r)
        for r in merge.live_state(
            merge.read_state(spark, str(fresh_base / "state"))
        ).collect()
    )

    res_base = tmp_path / "resumable"
    for _ in range(3):  # first call drains, the next two must no-op
        merge.run_replay_stream(
            spark,
            src,
            str(res_base / "state"),
            str(res_base / "ckpt"),
            fresh=False,
        )
    got = sorted(
        tuple(r)
        for r in merge.live_state(
            merge.read_state(spark, str(res_base / "state"))
        ).collect()
    )
    assert got == want and len(want) > 0


def test_transitions_out_of_order_matches_batch(spark, tmp_path, monkeypatch):
    """Order stress for the transition history fold (X23b): one hot
    user owns half of all events, times are deliberately non-monotone
    and delivered in 3 interleaved micro-batches, so late events land
    BETWEEN already-paired events and must rewire pairs. The streamed
    (from, to) counts must equal the batch lead()-window derivation
    over the same rows. Also pins the EMISSION VOLUME: an inserted
    event rewires at most one pair into two, so summed over the epoch
    partials (``per_batch`` outputs, recorded as they are folded) |n|
    stays <= 3 * n_events however hot a key is — no epoch re-emits a
    key's pair list."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import delta

    types = ["view", "click", "purchase", "signup", "error"]
    rows = []
    for i in range(200):
        u = 0 if i % 2 == 0 else (i % 23) + 1
        et = types[(i * 7) % 5]
        us = ((i * 41) % 200) * 1_000_000  # non-monotone micros
        rows.append((i, u, et, us))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, t_us long"
    ).select(
        "user_id",
        "event_id",
        "event_type",
        F.timestamp_micros(F.col("t_us")).alias("ts"),
    )
    src = str(tmp_path / "trans_src")
    df.withColumn("_f", F.col("event_id") % 3).repartition(3, "_f").drop(
        "_f"
    ).write.mode("overwrite").parquet(src)

    volumes = []
    history_delta = delta.history_delta

    def recording(*args):
        per_batch = history_delta(*args)

        def recorded(h, hb):
            out = per_batch(h, hb)
            volumes.append(out.agg(F.sum(F.abs(F.col("n")))).collect()[0][0] or 0)
            return out

        return recorded

    monkeypatch.setattr(delta, "history_delta", recording)
    got = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in _transition_counts(
            spark,
            src,
            "user_id long, event_id long, event_type string, ts timestamp",
            tmp_path / "work",
        ).collect()
    }

    # batch reference: sorted per-user consecutive pairs
    hist: dict = {}
    for (i, u, et, us) in rows:
        hist.setdefault(u, []).append((us, i, et))
    want: dict = {}
    for seq in hist.values():
        seq.sort()
        for (a, b) in zip(seq, seq[1:]):
            k = (a[2], b[2])
            want[k] = want.get(k, 0) + 1
    assert got == want
    # the hot user really is hot: half the events
    assert len(hist[0]) == 100
    # one partial per batch that holds events (the hash split may leave
    # one of the 3 files empty)
    assert len(volumes) >= 2
    assert sum(volumes) <= 3 * len(rows)


def test_transitions_resumable_incremental_update(spark, tmp_path):
    """The resumable transitions census is genuinely INCREMENTAL: a
    second drain against the same checkpoint picks up only NEW files,
    reads per-user history from the bucketed history state, and
    differences the late events' census in — the folded census after (drain A; drain B) must
    equal the batch census over A+B, and the no-op re-drain between
    them must add zero deltas. This is the history fold's state-restore
    path across SEPARATE query starts, not micro-batches within one
    start."""
    types = ["view", "click", "purchase"]
    rows = []
    for i in range(120):
        u = (i % 7)
        et = types[(i * 5) % 3]
        us = ((i * 31) % 120) * 1_000_000
        rows.append((i, u, et, us))

    def write_chunk(dest, chunk):
        spark.createDataFrame(
            chunk, "event_id long, user_id long, event_type string, t_us long"
        ).select(
            "user_id",
            "event_id",
            "event_type",
            F.timestamp_micros(F.col("t_us")).alias("ts"),
        ).coalesce(1).write.mode("append").parquet(dest)

    src = str(tmp_path / "src")
    schema = "user_id long, event_id long, event_type string, ts timestamp"

    def counts():
        return {
            (r["from_type"], r["to_type"]): r["n"]
            for r in _transition_counts(spark, src, schema, tmp_path).collect()
        }

    write_chunk(src, rows[:70])
    before = counts()
    manifests = _manifest_names(tmp_path / "state")
    # no-op re-drain: no new files -> identical served counts, no commit
    assert counts() == before
    assert _manifest_names(tmp_path / "state") == manifests
    # bounded serving: every epoch folded into ONE bucket of O(grid)
    # rows, of which at most two versions stay
    assert 1 <= len(manifests) <= 2, manifests
    assert len(list((tmp_path / "state" / "b0000").iterdir())) <= 2

    # late chunk: its events land BETWEEN already-spliced ones
    write_chunk(src, rows[70:])
    got = counts()
    hist: dict = {}
    for (i, u, et, us) in rows:
        hist.setdefault(u, []).append((us, i, et))
    want: dict = {}
    for seq in hist.values():
        seq.sort()
        for (a, b) in zip(seq, seq[1:]):
            k = (a[2], b[2])
            want[k] = want.get(k, 0) + 1
    assert got == want


def test_dedup_stream_resume_incremental(spark, tmp_path):
    """The resumable doc-dedup maintainer (r7 conversion) across
    SEPARATE query starts: drain chunk A, no-op re-drain (identical
    survivors), then land chunk B containing a duplicate whose doc_id
    is SMALLER than the already-committed survivor — the state bucket
    must rewrite to the new min-id row, and the final survivor set
    must equal the batch min-id dedup over A ∪ B."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import corpus as C

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def write_chunk(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def drain():
        delta.fold_stream(
            spark, src, schema, state, ckpt,
            C.survivor_fold, ["_h"], merge.N_STATE_BUCKETS, stream=C.with_hash,
        )
        return {
            (r["doc_id"], r["text"])
            for r in C.survivors(spark, state).collect()
        }

    a = [(10 + i, f"t{i % 4}") for i in range(10)]  # texts t0..t3, dups
    write_chunk(a)
    first = drain()
    assert first == {(10, "t0"), (11, "t1"), (12, "t2"), (13, "t3")}
    # no-op re-drain: no new files -> state untouched
    assert drain() == first

    # chunk B: smaller-id duplicates of t0/t1 (survivor must FLIP) +
    # a brand-new text
    b = [(0, "t0"), (1, "t1"), (50, "t9")]
    write_chunk(b)
    want = {}
    for i, t in a + b:
        if t not in want or i < want[t]:
            want[t] = i
    assert drain() == {(i, t) for t, i in want.items()}


def test_alerts_stream_resume_continues_streaks(spark, tmp_path):
    """The resumable sustained-alert stream across SEPARATE query
    starts: the folded window counts carry the open window's partial
    counts through a restart — window 3 straddles the two drains and
    must merge, not double-fire; streaks must continue, not reset.
    Final served alerts == the batch gaps-and-islands evaluator over
    everything."""
    src = str(tmp_path / "src")
    w = alerts.WINDOW_MS // 1000  # 300 s windows

    def write_chunk(secs):
        spark.createDataFrame(
            [(s,) for s in secs], "s long"
        ).select(
            F.timestamp_seconds(F.col("s")).alias("ts"),
            F.lit("error").alias("event_type"),
        ).coalesce(1).write.mode("append").parquet(src)

    def drain():
        counts = alerts.stream_window_counts(
            spark, src, "ts timestamp, event_type string", tmp_path / "work"
        )
        return sorted(
            (int(r["window_start"].timestamp() * 1000), r["error_ppm"], r["streak"])
            for r in alerts.sustained_windows(counts).collect()
        )

    # drain 1: windows 0-2 complete, window 3 partial (one event)
    write_chunk(
        [k * w + off for k in range(3) for off in (0, 60, 120)] + [3 * w]
    )
    first = drain()
    # windows 0,1 below the for: gate; 2 fires at streak 3; 3 fires
    # on its partial-but-all-error counts
    assert [(ms // 1000 // w, st) for ms, _, st in first] == [(2, 3), (3, 4)]
    # no-op re-drain: nothing new -> identical alerts
    assert drain() == first

    # drain 2: rest of window 3 (straddle) + windows 4, 5
    write_chunk([3 * w + 60, 3 * w + 120, 4 * w, 4 * w + 60, 5 * w])
    got = drain()

    events = spark.createDataFrame(
        [(s,) for k in range(6) for s in (
            [k * w, k * w + 60, k * w + 120] if k != 5 else [k * w]
        )],
        "s long",
    ).select(
        F.timestamp_seconds(F.col("s")).alias("ts"),
        F.lit("error").alias("event_type"),
    )
    want = sorted(
        (r["window_start"].timestamp() * 1000, r["error_ppm"], r["streak"])
        for r in alerts.sustained_alerts(events).collect()
    )
    assert got == [(int(ms), ppm, st) for ms, ppm, st in want]
    assert [st for _, _, st in got] == [3, 4, 5, 6]


def _land_in_files(spark, query, dest):
    """The source a fold-stream query drains, landed as 4 files."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest

    if query == "q_stream_delta_agg":
        ingest.write_envelope_files(spark, SF_SMOKE, str(dest), None, n_files=4)
    elif query == "q_stream_sample":
        load_table(spark, SF_SMOKE, "documents").select(
            "doc_id", "source", "text"
        ).repartition(4).write.parquet(str(dest))
    else:
        load_table(spark, SF_SMOKE, "events").repartition(4).write.parquet(str(dest))


@pytest.mark.parametrize(
    "query", ["q_stream_delta_agg", "q_stream_sample", "q_stream_funnel"]
)
def test_fold_stream_serves_one_compacted_base(spark, tmp_path, monkeypatch, query):
    """The fold-stream contract, over an integer-sum (delta), a bottom-k
    (sample) and a history-difference (funnel) maintainer run through their
    registered queries: after every call the state holds at most two
    manifests, a repeated call commits none and serves identical rows,
    and a file landed afterwards is folded exactly once — one new batch,
    one new manifest, and the served rows equal a one-shot drain of
    every file."""
    import shutil

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import artifact
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest

    landing, src = tmp_path / "landing", tmp_path / "src"
    _land_in_files(spark, query, landing)
    files = sorted(p for p in landing.iterdir() if p.name.startswith("part-"))
    assert len(files) == 4
    src.mkdir()
    for p in files[:3]:
        shutil.copy(p, src / p.name)
    work = {"dir": tmp_path / "work"}
    monkeypatch.setattr(ingest, "resumable_workdir", lambda *a: work["dir"])
    if query == "q_stream_delta_agg":
        monkeypatch.setattr(ingest, "envelope_files", lambda *a, **k: str(src))
    elif query == "q_stream_sample":
        monkeypatch.setattr(ingest, "documents_files", lambda *a: str(src))
    else:
        monkeypatch.setattr(artifact, "materialized_path", lambda *a: str(src))

    def run():
        rows = registry.QUERIES[query](spark, SF_SMOKE).collect()
        return sorted(tuple(r) for r in rows)

    def manifests():
        names = _manifest_names(work["dir"] / "state")
        assert 1 <= len(names) <= 2, names
        return names

    def n_commits():
        return len(list((work["dir"] / "ckpt" / "commits").glob("[0-9]*")))

    first = run()
    committed, commits = manifests(), n_commits()
    assert run() == first and len(first) > 0
    assert manifests() == committed and n_commits() == commits

    shutil.copy(files[3], src / files[3].name)
    got = run()
    late = manifests()
    assert late[:-1] == committed[-1:] and late[-1] > committed[-1]
    assert n_commits() == commits + 1
    work["dir"] = tmp_path / "one_shot"
    assert got == run()


def test_compaction_crash_debris_never_corrupts_serving(spark, tmp_path, monkeypatch):
    """The fold's crash point, pinned: a micro-batch that dies after
    renaming its new state version into place but before its manifest
    commit leaves that version as debris. Serving reads the prior
    manifest — the totals of the files folded before, never a torn or
    doubled state — and the restarted drain replays the batch under
    the same epoch and commits the totals of every file."""
    import shutil

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest

    landing, src = tmp_path / "landing", tmp_path / "src"
    ingest.write_envelope_files(spark, SF_SMOKE, str(landing), None, n_files=4)
    files = sorted(p for p in landing.iterdir() if p.name.startswith("part-"))
    assert len(files) == 4
    src.mkdir()
    for p in files[:3]:
        shutil.copy(p, src / p.name)
    work = tmp_path / "work"
    before = _delta_epochs(spark, str(src), work)
    committed = _manifest_names(work / "state")
    versions = sorted(p.name for p in (work / "state" / "b0000").iterdir())

    shutil.copy(files[3], src / files[3].name)

    def crash(*a):
        raise OSError("injected: crash before the manifest commit")

    with monkeypatch.context() as m:
        m.setattr(merge, "_commit", crash)
        with pytest.raises(Exception, match="injected"):
            _delta_epochs(spark, str(src), work)
    assert _manifest_names(work / "state") == committed
    debris = sorted(p.name for p in (work / "state" / "b0000").iterdir())
    assert len(debris) == len(versions) + 1, debris
    assert sorted(
        (r["table_name"], r["net_rows"], r["net_sum_micro"])
        for r in merge.read_state(spark, str(work / "state")).collect()
    ) == before

    assert _delta_epochs(spark, str(src), work) == _batch_delta_totals(spark, src)
    assert _delta_epochs(spark, str(src), work) != before
    assert len(_manifest_names(work / "state")) == 2
    assert not list((work / "state").glob("_stage_*"))


def test_ingest_resumable_second_call_is_empty_pass(spark):
    """The r7 ingest conversion: q_stream_ingest_counts /
    q_stream_dedupe persist sink + checkpoint per (envelope landing,
    drain code), so a SECOND invocation must be an empty availableNow
    pass — identical counts, and not one new file committed to the
    sink's transaction log."""
    from pathlib import Path

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries import streaming_checks as SC
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest

    first = _counts(registry.QUERIES["q_stream_dedupe"](spark, SF_SMOKE))
    src = ingest.envelope_files(spark, SF_SMOKE, 5)
    base = ingest.resumable_workdir(src, SC._run_stream)
    meta = Path(base) / "sink" / "_spark_metadata"
    committed = sorted(p.name for p in meta.iterdir())
    again = _counts(registry.QUERIES["q_stream_dedupe"](spark, SF_SMOKE))
    assert again == first
    assert sorted(p.name for p in meta.iterdir()) == committed


def test_history_fold_replay_is_idempotent(spark, tmp_path):
    """foreachBatch may replay an epoch whose history manifest already
    committed (a crash before Spark's commit log): the replay is a
    no-op, so the census state and the history stay byte-identical and
    the served census is unchanged — and equals the batch census of
    every row. A replay of an epoch that died after its census commit
    but before its history manifest reads the same prior history, and
    its census fold is a no-op because that manifest exists."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.profiling import (
        transition_counts,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import delta

    grid = ["from_type", "to_type"]
    cdir, hdir = tmp_path / "state", tmp_path / "history"
    sink = delta.epoch_sink(
        hdir, delta.union, ["user_id"], merge.N_STATE_BUCKETS,
        delta.history_census(cdir, transition_counts, grid, ["n"], ["user_id"]),
    )
    types = ["view", "click", "purchase"]
    rows = [(i % 5, i, types[(i * 7) % 3], (i * 13) % 40) for i in range(40)]

    def events(part):
        return spark.createDataFrame(
            part, "user_id long, event_id long, event_type string, s long"
        ).select("user_id", "event_id", F.timestamp_seconds("s").alias("ts"), "event_type")

    sink(events(rows[::2]), 0)
    sink(events(rows[1::2]), 1)

    def files(root):
        return {
            p.relative_to(root).as_posix(): p.read_bytes()
            for p in sorted(root.rglob("*"))
            if p.is_file()
        }

    def served():
        return sorted(
            tuple(r)
            for r in merge.read_state(spark, str(cdir)).filter(F.col("n") > 0).collect()
        )

    history, state, census = files(hdir), files(cdir), served()
    sink(events(rows[1::2]), 1)  # the replay
    assert files(hdir) == history
    assert files(cdir) == state
    assert served() == census
    assert census == sorted(tuple(r) for r in transition_counts(events(rows)).collect())

    def history_rows():
        return sorted(tuple(r) for r in merge.read_state(spark, str(hdir)).collect())

    before = history_rows()
    (hdir / "_manifest" / f"{1:09d}.json").unlink()  # died before its commit
    sink(events(rows[1::2]), 1)
    assert files(cdir) == state
    assert history_rows() == before
    assert served() == census


def test_history_fold_reads_only_the_batch_keys(spark, tmp_path, monkeypatch):
    """A late batch of one user differences that user's history only:
    the H handed to ``per_batch`` holds none of the other users that
    share its hash bucket, whose rows would cancel out anyway."""
    seen = []
    history_delta = delta.history_delta

    def recording(*args):
        per_batch = history_delta(*args)

        def recorded(h, hb):
            seen.append(sorted(r["user_id"] for r in h.select("user_id").collect()))
            return per_batch(h, hb)

        return recorded

    monkeypatch.setattr(delta, "history_delta", recording)
    census = delta.history_census(
        tmp_path / "state",
        lambda df: df.groupBy("user_id").count(),
        ["user_id"],
        ["count"],
        ["user_id"],
    )
    sink = delta.epoch_sink(
        tmp_path / "history", delta.union, ["user_id"], merge.N_STATE_BUCKETS, census
    )
    users = range(64)  # 64 users over 16 buckets: every bucket is shared
    sink(spark.createDataFrame([(u, 0) for u in users], "user_id long, t long"), 0)
    sink(spark.createDataFrame([(7, 1)], "user_id long, t long"), 1)
    assert seen == [[], [7]]


@pytest.mark.parametrize("k", [1, 2, 5])
def test_stream_folds_are_batch_boundary_invariant(spark, tmp_path, monkeypatch, k):
    """The sf0.001 events split into ``k`` files by a seeded random
    split: the served stream transitions, funnel and alerts equal their
    batch queries whatever the batch boundaries (pandas
    assert_frame_equal, the grouped-map test pattern)."""
    from pandas.testing import assert_frame_equal

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import artifact
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest

    events = load_table(spark, SF_SMOKE, "events")
    src = tmp_path / "src"
    split = events.withColumn("_f", F.floor(F.rand(seed=k) * k))
    for i in range(k):
        split.filter(F.col("_f") == i).drop("_f").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    assert len(list(src.glob("part-*.parquet"))) == k
    monkeypatch.setattr(artifact, "materialized_path", lambda *a: str(src))
    monkeypatch.setattr(ingest, "events_files", lambda *a: str(src))
    monkeypatch.setattr(
        ingest, "resumable_workdir", lambda _src, fn, *a: tmp_path / fn.__name__
    )

    def frame(df, keys):
        return df.toPandas().sort_values(keys).reset_index(drop=True)

    for stream_q, batch_q, keys in [
        ("q_stream_transitions", "q_event_transitions", ["from_type", "to_type"]),
        ("q_stream_funnel", "q_funnel_stages", ["stage"]),
        ("q_stream_alerts", "q_alert_sustained", ["window_start"]),
    ]:
        assert_frame_equal(
            frame(registry.QUERIES[stream_q](spark, SF_SMOKE), keys),
            frame(registry.QUERIES[batch_q](spark, SF_SMOKE), keys),
        )
    # sf0.001 holds no sustained breach at the default rule, so also
    # compare the window counts q_stream_alerts folded, which its
    # alerts are a function of
    counts = alerts.stream_window_counts(
        spark, str(src), events.schema, tmp_path / "q_stream_alerts"
    )
    assert_frame_equal(
        frame(counts, ["window_start"]),
        frame(alerts.window_counts(events), ["window_start"]),
    )
