"""Operator S7 (snapshot/restore) and S5 (observable metrics): the
source/sink surface that has no query-shaped oracle.
"""

from __future__ import annotations

import tempfile
from pathlib import Path

import pytest
from hypothesis import given, settings, strategies as st

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators import parse as P
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import (
    envelopes_from_events,
    load_table,
    snapshot as snap,
)
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import metrics

from tests.conftest import SF_SMOKE


def _normalized(spark):
    return P.normalized_events(
        envelopes_from_events(load_table(spark, SF_SMOKE, "events"))
    )


def test_salted_join_equals_plain_join(spark):
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import skew

    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(cust, "o_custkey")
    salted = skew.salted_join(orders, cust, ["o_custkey"], n_salts=8)
    assert salted.count() == plain.count()
    assert sorted(salted.columns) == sorted(plain.columns)


def test_snapshot_restore_roundtrip(spark):
    cust = load_table(spark, SF_SMOKE, "customer")
    with tempfile.TemporaryDirectory() as d:
        path = str(Path(d) / "cust_snap")
        manifest = snap.snapshot(cust, path)
        assert manifest["rows"] == cust.count()
        restored = snap.restore(spark, path)
        assert restored.count() == cust.count()
        assert set(restored.columns) == set(cust.columns)


def test_snapshot_restore_detects_corruption(spark):
    cust = load_table(spark, SF_SMOKE, "customer").limit(10)
    with tempfile.TemporaryDirectory() as d:
        path = str(Path(d) / "snap")
        snap.snapshot(cust, path)
        # clobber the manifest to simulate a torn backup
        import json

        mf = Path(path) / snap.MANIFEST
        bad = json.loads(mf.read_text())
        bad["rows"] += 1
        mf.write_text(json.dumps(bad))
        with pytest.raises(ValueError, match="manifest"):
            snap.restore(spark, path)


def test_observe_batch_counters_match_groupby(spark):
    norm = _normalized(spark)
    observed, obs = metrics.observe_normalized(norm)
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    by_op = {r["operation"]: r["n"] for r in norm.groupBy("operation").count().withColumnRenamed("count", "n").collect()}
    assert got[metrics.PROCESSED_TOTAL] == sum(by_op.values())
    assert got[metrics.INSERTS_TOTAL] == by_op.get("insert", 0)
    assert got[metrics.UPDATES_TOTAL] == by_op.get("update", 0)
    assert got[metrics.DELETES_TOTAL] == by_op.get("delete", 0)
    assert got[metrics.LAST_EVENT_MS] > 0


def test_prometheus_exposition_round_trip(spark):
    """S5 transport format: observed batch counters render in the
    Prometheus text exposition format (0.0.4) — HELP/TYPE headers,
    escaped labels, integer values without decimals — the byte contract
    the reference's /metrics endpoint serves (index.js:387-398)."""
    norm = _normalized(spark)
    observed, obs = metrics.observe_normalized(norm)
    observed.write.format("noop").mode("overwrite").save()
    text = metrics.to_prometheus_text(
        obs.get, labels={"job": "cdc", "instance": 'a"b\\c'}
    )
    lines = text.splitlines()
    total = obs.get[metrics.PROCESSED_TOTAL]
    assert f"# TYPE {metrics.PROCESSED_TOTAL} counter" in lines
    assert f"# HELP {metrics.LAST_EVENT_MS} " + "Event-time of the newest processed event (ms)" in lines
    assert (
        f'{metrics.PROCESSED_TOTAL}{{instance="a\\"b\\\\c",job="cdc"}} {total}'
        in lines
    )
    # every sample line parses as <name>{labels} <number>
    samples = [ln for ln in lines if not ln.startswith("#")]
    assert len(samples) == 5
    for ln in samples:
        float(ln.rsplit(" ", 1)[1])  # value is numeric
    assert text.endswith("\n")


def test_streaming_query_listener_lifecycle(spark):
    """§2.9 health/lifecycle parity: the reference exposes /health,
    /ready and a SIGTERM drain (index.js:401-497); the engine-native
    equivalent is StreamingQueryListener events + query.status."""
    import shutil
    from pyspark.sql.streaming import StreamingQueryListener

    events = {"started": 0, "progress": 0, "terminated": 0}

    class L(StreamingQueryListener):
        def onQueryStarted(self, e):
            events["started"] += 1

        def onQueryProgress(self, e):
            events["progress"] += 1

        def onQueryTerminated(self, e):
            events["terminated"] += 1

        def onQueryIdle(self, e):
            pass

    listener = L()
    spark.streams.addListener(listener)
    try:
        base = Path(tempfile.gettempdir()) / "tidb_cdc_spark_stream" / "listener"
        if base.exists():
            shutil.rmtree(base)
        from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest

        src = ingest.write_envelope_files(spark, SF_SMOKE, str(base / "src"), None)
        ingest.run_ingest(spark, src, str(base / "sink"), str(base / "ckpt"))
        import time

        deadline = time.time() + 20
        while events["terminated"] == 0 and time.time() < deadline:
            time.sleep(0.5)  # listener bus is async
        assert events["started"] >= 1
        assert events["progress"] >= 1
        assert events["terminated"] >= 1
    finally:
        spark.streams.removeListener(listener)


def test_batch_insert_gen_shape(spark):
    df = registry_queries()["q_batch_insert_gen"](spark, SF_SMOKE)
    rows = df.collect()
    assert len(rows) == 20
    assert all(r["name"] == f"BatchProduct{i+1}" for i, r in enumerate(rows))
    assert all(20 <= float(r["price"]) < 220 for r in rows)
    assert all(1 <= r["stock"] < 51 for r in rows)


def registry_queries():
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark import registry

    registry.load_all()
    return registry.QUERIES


def test_neardup_clusters_uses_reliable_checkpoint(spark, tmp_path):
    """Cluster-durability regression (round-1 finding): the iterative
    CC loop must truncate lineage with a RELIABLE checkpoint written to
    the configured dir — localCheckpoint blocks die with an executor."""
    import os

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions.dedup import (
        neardup_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    ckpt = str(tmp_path / "cc_ckpt")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in neardup_clusters(pairs, checkpoint_dir=ckpt).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert os.path.isdir(ckpt) and any(os.scandir(ckpt)), "checkpoint dir unused"


def test_scoped_shuffle_restores_conf_when_body_raises(spark):
    """Session conf is restored on every exit path: a scope sized DOWN
    from the session setting flips both shuffle.partitions and
    adaptive.enabled, and an exception inside it must put both back."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.plans.scale import (
        scoped_shuffle_partitions,
    )

    p_key = "spark.sql.shuffle.partitions"
    a_key = "spark.sql.adaptive.enabled"
    old_p, old_a = spark.conf.get(p_key), spark.conf.get(a_key)
    spark.conf.set(p_key, "8")
    spark.conf.set(a_key, "true")
    try:
        with pytest.raises(RuntimeError, match="scope body"):
            with scoped_shuffle_partitions(spark, 2):
                assert spark.conf.get(p_key) == "2"
                assert spark.conf.get(a_key) == "false"
                raise RuntimeError("scope body")
        assert spark.conf.get(p_key) == "8"
        assert spark.conf.get(a_key) == "true"
    finally:
        spark.conf.set(p_key, old_p)
        spark.conf.set(a_key, old_a)


def test_hll_distinct_within_tolerance(spark):
    rows = registry_queries()["q_hll_distinct"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["exact_users"] > 0, r
        assert r["global_within_10pct"] == 1, r
        assert r["merged_within_10pct"] == 1, r


def test_observe_streaming_attaches_named_metrics(spark):
    import shutil

    base = Path(tempfile.gettempdir()) / "tidb_cdc_spark_stream" / "observe_test"
    if base.exists():
        shutil.rmtree(base)
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest

    src = ingest.write_envelope_files(spark, SF_SMOKE, str(base / "src"), None)
    stream = ingest.read_envelope_stream(spark, src)
    norm = P.normalized_events(stream)
    observed, name = metrics.observe_normalized(norm)
    assert name == "cdc_metrics"
    q = (
        observed.writeStream.format("noop")
        .option("checkpointLocation", str(base / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.recentProgress
    seen = {}
    for p in progress:
        om = p["observedMetrics"].get(name) if p.get("observedMetrics") else None
        if om:
            seen[metrics.PROCESSED_TOTAL] = seen.get(metrics.PROCESSED_TOTAL, 0) + om[
                metrics.PROCESSED_TOTAL
            ]
    batch_total = _normalized(spark).count()
    assert seen.get(metrics.PROCESSED_TOTAL) == batch_total


def test_events_format_transparency(spark):
    """S4 extension: the events table read back from JSONL and CSV
    landings is row-for-row identical to the parquet path — format is
    a property of the scan node only, so every downstream operator
    (and every oracle) is format-agnostic by construction."""
    import tempfile

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import formats
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources.tables import (
        load_table,
    )

    def rows(df):
        return sorted(
            tuple(str(v) for v in r)
            for r in df.select(
                "event_id", "ts", "user_id", "event_type", "value", "props"
            ).collect()
        )

    base = tempfile.mkdtemp()
    expected = rows(load_table(spark, SF_SMOKE, "events"))
    for fmt in ("json", "csv"):
        path = formats.dump_events(spark, SF_SMOKE, base, fmt)
        got = rows(formats.read_events(spark, path, fmt))
        assert got == expected, f"{fmt} round-trip diverged"


def test_check_first_names_all_registered():
    """Every name in the check-priority list must be a registered
    query: ordering IS coverage policy (the driver gates a 50-query
    prefix), so a typo here silently burns a verification-window slot
    instead of failing anywhere."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark import registry

    registry.load_all()
    missing = [n for n in registry._CHECK_FIRST if n not in registry.QUERIES]
    assert not missing, f"_CHECK_FIRST names not registered: {missing}"


def test_bench_stdout_line_fits_driver_parse_window():
    """The driver parses bench.py's stdout from its last 2000
    characters; a line that outgrows that window can never parse
    (BENCH_r01/r02 both recorded parsed:null). Simulate the fitting
    logic against the CURRENT registry size with worst-case timing
    widths and assert the emitted line stays under budget."""
    import json

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark import registry

    registry.load_all()
    timings = {name: 123.45 for name in registry.QUERIES}
    total = sum(timings.values())
    budget = 1900
    fitted = {}
    for name in sorted(timings, key=timings.get, reverse=True):
        trial = {
            "metric": "suite_total_wall",
            "value": round(total, 4),
            "unit": "sec",
            "sf": 0.1,
            "queries_total": len(timings),
            "queries_omitted": len(timings) - len(fitted) - 1,
            "queries_full": "BENCH_SELF.json",
            "queries": {**fitted, name: timings[name]},
        }
        if len(json.dumps(trial, separators=(",", ":"))) > budget:
            break
        fitted[name] = timings[name]
    line = json.dumps(
        {
            "metric": "suite_total_wall",
            "value": round(total, 4),
            "unit": "sec",
            "sf": 0.1,
            "queries_total": len(timings),
            "queries_omitted": len(timings) - len(fitted),
            "queries_full": "BENCH_SELF.json",
            "load_avg_1m_at_end": 99.99,
            "queries": fitted,
        },
        separators=(",", ":"),
    )
    assert len(line) < 2000, len(line)
    assert fitted, "line must carry at least one per-query timing"


def test_incremental_ivf_equals_full_rebuild(spark, tmp_path):
    """The q_ivf_incremental growth identity, proven stepwise (the
    query itself serves the grown artifact): folding the corpus in as
    base + two append installments through the bucketed copy-on-write
    state must yield EXACTLY the rows of a one-shot full-corpus
    assignment — cell choice is a pure function of the frozen
    centroids, so growth order cannot matter."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import similarity
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources.ann_store import (
        incremental_index,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    base = emb.filter(F.col("vec_id") % 3 == 0)
    deltas = [
        emb.filter(F.col("vec_id") % 3 == 1),
        emb.filter(F.col("vec_id") % 3 == 2),
    ]
    grown = incremental_index(
        spark, base, deltas, cents, str(tmp_path / "state")
    )
    full = similarity.ivf_assignment(emb, cents)
    g = {(r["vec_id"], r["cid"]) for r in grown.select("vec_id", "cid").collect()}
    f = {(r["vec_id"], r["cid"]) for r in full.select("vec_id", "cid").collect()}
    assert g == f and len(g) == emb.count()


def test_banded_minhash_bounds_boilerplate_buckets(spark):
    """Scale-stress regression (r8): a shingle shared by EVERY doc (the
    boilerplate / planted-mutant-suffix shape) must not key a
    corpus-wide bucket. Under 1-row bands one tiny salted sha made the
    common shingle the corpus minimum and candidates grew
    quadratically (measured 4.3 M candidates at 10x sf0.1); 2-row
    bands collide only when two independent minima BOTH match, and the
    bucket cap bounds pair emission no matter what. True near-dup
    pairs (doc + its suffix mutant) must still be caught."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions.dedup import (
        MAX_BUCKET,
        banded_candidates,
        minhash_band_signatures,
        neardup_pairs,
    )

    n = 300
    # every doc shares the 'common common common' shingle; otherwise
    # disjoint vocab per doc
    rows = [
        (i, f"common common common w{i}a w{i}b w{i}c w{i}d w{i}e")
        for i in range(n)
    ]
    # plus mutants of every 10th doc: a true near-dup pair each
    rows += [
        (i + 10_000, f"common common common w{i}a w{i}b w{i}c w{i}d w{i}e zzz")
        for i in range(0, n, 10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_band_signatures(docs)
    max_bucket = (
        sigs.groupBy("k", "h").count().agg({"count": "max"}).first()[0]
    )
    cand = banded_candidates(sigs)
    n_cand = cand.count()
    # every bucket that feeds pairs is capped, so candidates are
    # bounded by buckets * cap^2 / 2 and far below the ~47k pair space
    assert n_cand < n * 20, f"candidate blowup: {n_cand} (max bucket {max_bucket})"
    verified = {
        (r["doc_a"], r["doc_b"])
        for r in neardup_pairs(docs).collect()
    }
    caught = sum(1 for i in range(0, n, 10) if (i, i + 10_000) in verified)
    # J(doc, mutant) = 6/8; per band p=J^2=0.56, 4 bands -> ~96% catch
    assert caught >= 0.8 * (n // 10), f"only {caught} mutant pairs caught"


def test_oversized_bucket_cluster_keeps_recall_via_star_reps(spark):
    """r9 advice fix: a TRUE-duplicate cluster larger than MAX_BUCKET
    (templated docs — every member shares every shingle, so every band
    signature collides into one bucket of size > 64) must not vanish
    from candidate generation. The star path pairs each member with the
    bucket's OVERSIZE_REPS smallest ids: emission stays LINEAR in
    cluster size, exact-Jaccard verify passes (identical shingle sets),
    and connected components collapse the whole cluster through the
    hubs."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions.dedup import (
        MAX_BUCKET,
        OVERSIZE_REPS,
        banded_candidates,
        minhash_band_signatures,
        neardup_clusters,
        neardup_pairs,
    )

    n = MAX_BUCKET + 16  # one bucket per band, all > MAX_BUCKET
    docs = spark.createDataFrame(
        [(i, "tpl alpha beta gamma delta epsilon") for i in range(n)],
        "doc_id long, text string",
    )
    sigs = minhash_band_signatures(docs)
    cand = banded_candidates(sigs)
    n_cand = cand.count()
    assert n_cand > 0, "oversized true-dup bucket yielded zero candidates"
    # star emission is linear: <= reps * n distinct pairs (4 identical
    # band buckets all dedupe to the same star), never n^2/2
    assert n_cand <= OVERSIZE_REPS * n, f"star emission not linear: {n_cand}"
    verified = neardup_pairs(docs)
    clusters = neardup_clusters(verified).select("cluster_id").distinct()
    assert clusters.count() == 1
    assert clusters.first()[0] == 0  # min-id canonical label


def test_star_pairs_require_band_agreement(spark):
    """The oversized-bucket star is gated on >= MIN_STAR_BANDS (2)
    shared bands (r9): a one-band hub collision is exactly the
    boilerplate-minima coincidence (measured: 6,684 junk candidates
    on the doc-skew stress corpus, all rejected by the verify; the
    gate removes 6,530 of them before any shingle attach). Members
    agreeing with a hub in two bands star; one-band agreement does
    not. Hand-built signatures make the gate deterministic: every
    bucket here is oversized or a singleton, so ONLY the star path
    can emit pairs."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions.dedup import (
        banded_candidates,
    )

    n = 140  # both cohorts > MAX_BUCKET
    rows = []
    for d in range(n):
        rows.append((d, 0, "hot0"))  # everyone collides (oversized)
        # band 1: docs 0..69 collide AGAIN (oversized, 70 > 64);
        # docs 70+ scatter to singletons
        rows.append((d, 1, "hot1" if d < 70 else f"solo1-{d}"))
        rows.append((d, 2, f"solo2-{d}"))  # everyone scatters
        rows.append((d, 3, f"solo3-{d}"))
    sigs = spark.createDataFrame(rows, "doc_id long, k int, h string")
    got = {
        (r["doc_a"], r["doc_b"]) for r in banded_candidates(sigs).collect()
    }
    # docs 0..69 agree with the hubs (0..3) in bands 0 and 1 -> star;
    # docs 70..139 agree in band 0 only -> gated out entirely
    assert (0, 5) in got and (1, 69) in got
    assert not any(a >= 70 or b >= 70 for a, b in got), sorted(got)[-5:]
    # star emission stays linear: <= reps * members
    assert len(got) <= 4 * 70


def test_scale_stress_perturbations_preserve_per_replica_work(spark, monkeypatch):
    """The BASELINE scaling claims rest on the replica construction:
    (a) alphabet rotation is injective, so each replica's exact-dup
    structure equals the base corpus's and nothing matches across
    replicas; (b) the per-replica embedding sign-flip is orthogonal,
    so intra-replica dot products are EXACTLY preserved."""
    import sys as _sys
    from pathlib import Path

    import pyspark.sql.functions as F

    from tests.conftest import SF_SMOKE

    _sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import scale_stress as mod

    monkeypatch.setattr(mod, "SRC_DIR", SF_SMOKE)
    monkeypatch.setattr(
        mod, "STRESS_ROOT", mod.STRESS_ROOT.parent / "scale_stress_test"
    )

    import shutil

    try:
        _run_perturbation_checks(spark, mod, SF_SMOKE, F)
    finally:
        shutil.rmtree(mod.STRESS_ROOT, ignore_errors=True)


def _run_perturbation_checks(spark, mod, SF_SMOKE, F):
    out = mod.build_scaled_dir(spark, 3)
    docs = spark.read.parquet(f"{out}/documents.parquet")
    base = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n_base = base.count()
    assert docs.count() == 3 * n_base

    # (a) per-replica exact-dup group structure == base structure, and
    # no text matches across replicas
    def dup_profile(df):
        return sorted(
            r["c"]
            for r in df.groupBy("text").agg(F.count("*").alias("c"))
            .filter("c > 1").collect()
        )

    base_profile = dup_profile(base)
    for k in range(3):
        rep = docs.filter(
            (F.col("doc_id") >= k * mod.ID_STRIDE)
            & (F.col("doc_id") < (k + 1) * mod.ID_STRIDE)
        )
        assert dup_profile(rep) == base_profile
    cross = (
        docs.groupBy("text")
        .agg(F.countDistinct((F.col("doc_id") / mod.ID_STRIDE).cast("long")).alias("nr"))
        .filter("nr > 1")
        .count()
    )
    assert cross == 0

    # (b) intra-replica dot products preserved exactly: sign-flips are
    # elementwise +-1, so x.y == (s*x).(s*y) for any pair in a replica
    emb = spark.read.parquet(f"{out}/embeddings.parquet")
    base_e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    pairs = [(0, 1), (1, 2), (0, 5)]
    def dot(df, a, b, shift):
        ea = df.filter(F.col("vec_id") == a + shift).first()["embedding"]
        eb = df.filter(F.col("vec_id") == b + shift).first()["embedding"]
        return sum(float(x) * float(y) for x, y in zip(ea, eb))
    for a, b in pairs:
        want = dot(base_e, a, b, 0)
        for k in (1, 2):
            got = dot(emb, a, b, k * mod.ID_STRIDE)
            assert abs(got - want) < 1e-6, (a, b, k, got, want)


def test_doc_skew_plants_shared_boilerplate_on_even_ids(spark, monkeypatch):
    """--doc-skew construction (r9): exactly the even-id half of every
    replica carries the SAME un-rotated boilerplate suffix, so its
    grams are shared ACROSS replicas (the hot-gram corpus skew under
    measurement) while odd-id docs keep the pure rotated text."""
    import shutil
    import sys as _sys
    from pathlib import Path

    import pyspark.sql.functions as F

    from tests.conftest import SF_SMOKE

    _sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import scale_stress as mod

    monkeypatch.setattr(mod, "SRC_DIR", SF_SMOKE)
    monkeypatch.setattr(
        mod, "STRESS_ROOT", mod.STRESS_ROOT.parent / "scale_stress_docskew_test"
    )
    try:
        out = mod.build_scaled_dir(spark, 2, doc_skew=True)
        docs = spark.read.parquet(f"{out}/documents.parquet")
        base_n = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
        assert docs.count() == 2 * base_n
        tagged = docs.withColumn(
            "has_bp", F.col("text").endswith(mod.DOC_SKEW_BOILERPLATE)
        )
        # parity split is exact (ID_STRIDE is even, so shifted parity
        # == original parity)
        wrong = tagged.filter(
            (F.col("doc_id") % 2 == 0) != F.col("has_bp")
        ).count()
        assert wrong == 0
        # the suffix is IDENTICAL across replicas: both replicas carry
        # boilerplate docs, and the suffix string is replica-invariant
        # by construction (appended after rotation)
        per_rep = (
            tagged.filter("has_bp")
            .groupBy((F.col("doc_id") / mod.ID_STRIDE).cast("long").alias("rep"))
            .count()
            .collect()
        )
        assert sorted(r["rep"] for r in per_rep) == [0, 1]
        assert len({r["count"] for r in per_rep}) == 1
    finally:
        shutil.rmtree(mod.STRESS_ROOT, ignore_errors=True)


# ---------------------------------------------------------------------------
# r13: Kraft-exact Huffman length limiting (multimodal._limit_code_lengths)
# ---------------------------------------------------------------------------


@settings(max_examples=300, deadline=None)
@given(
    freqs=st.lists(st.integers(1, 1 << 40), min_size=2, max_size=290),
    cap=st.integers(3, 15),
)
def test_limit_code_lengths_is_kraft_exact(freqs, cap):
    """For ANY frequency profile (Fibonacci-class skews included, via
    the huge weight range) whose alphabet fits the cap at all, the
    repaired lengths must (a) stay within the cap, (b) sum to a
    Kraft-EXACT complete code (deflate decoders reject incomplete
    lit/cl trees), (c) keep every symbol."""
    import heapq

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions.multimodal import (
        _limit_code_lengths,
    )

    if len(freqs) > (1 << cap):
        return  # alphabet cannot fit the cap; the encoder never asks
    fmap = dict(enumerate(freqs))
    # plain Huffman depths (the encoder's own construction)
    items = sorted(fmap.items())
    heap = [(f, i) for i, (_s, f) in enumerate(items)]
    heapq.heapify(heap)
    parent = {}
    nid = len(items)
    while len(heap) > 1:
        f1, i1 = heapq.heappop(heap)
        f2, i2 = heapq.heappop(heap)
        parent[i1] = nid
        parent[i2] = nid
        heapq.heappush(heap, (f1 + f2, nid))
        nid += 1
    depths = {nid - 1: 0}
    for node in range(nid - 2, -1, -1):
        depths[node] = depths[parent[node]] + 1
    depth = {s: depths[i] for i, (s, _f) in enumerate(items)}
    out = _limit_code_lengths(depth, fmap, cap)
    assert set(out) == set(fmap)
    assert max(out.values()) <= cap
    assert all(ln >= 1 for ln in out.values())
    assert sum(1 << (cap - ln) for ln in out.values()) == (1 << cap)
